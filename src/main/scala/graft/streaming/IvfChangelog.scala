package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorExpressions, VectorFunctions}
import graft.operators.IvfIndex

/** CDC-DRIVEN vector index maintenance — [[IvfStream]]'s append-only
  * ingest generalized to a full changelog (Flink row kinds, the same
  * `+I/+U/-U/-D` convention the CDC formats emit): a training-data
  * lake re-embeds updated documents and DELETES contaminated ones,
  * and the ANN index must follow without a rebuild.
  *
  * The design keeps every cell SELF-CONTAINED so probes stay
  * DPP-pruned, which is the whole value of an IVF layout at 100 TB:
  *
  *  - `+I`/`+U` rows carry the after-image vector and write a live
  *    row (ver = batchId, del = false) into its assigned cell.
  *  - `-U`/`-D` rows carry the BEFORE-image vector (exactly what
  *    Canal/Debezium envelopes provide — CanalJson.parseChangelog
  *    emits `-U` with the before fields) and write a TOMBSTONE
  *    (del = true) into the cell the OLD vector lived in. Ingest
  *    therefore never reads index state — no lookup join, no
  *    read-modify-write, replay-trivially-idempotent.
  *  - Probe-time resolution happens per CANDIDATE SET, after the
  *    DPP-pruned cell join: per (query, vec_id) the highest-`ver`
  *    row wins (live beats tombstone at equal ver — an update's
  *    after-image outranks its own `-U`), deleted keys drop. A moved
  *    vector's old cell holds a newer tombstone (old position
  *    invisible), its new cell holds the live row — each cell
  *    resolves correctly IN ISOLATION, so pruning never consults
  *    other cells. Resolution cost is O(candidates), not O(index).
  *  - Compaction folds the complete history below a bound, resolves
  *    globally (latest per vec_id, tombstones dropped — nothing
  *    older remains to resurrect), rewrites one file per cell, and
  *    GC's folded dirs under the [[BatchVersioned]] replay rule.
  *
  * Multiple changes for one key in one micro-batch: pass `seqCol`
  * (the changelog's offset) — the net effect per key is computed
  * over ALL row kinds: a live row is written only when the key's
  * LATEST change (by seq) is itself `+I`/`+U`; a key whose last
  * change is `-U`/`-D` emits tombstones only, so insert-then-delete
  * and update-then-delete inside one batch net to deleted. EVERY
  * tombstone is kept regardless (positional deletes of prior cells
  * are harmless where nothing lives and necessary where something
  * does). Without `seqCol` the caller must feed at most one
  * after-image per key per batch, or same-`ver` ties would resolve
  * nondeterministically.
  *
  * NULL-vector contract: retraction rows (`-U`/`-D`) MUST carry the
  * before-image vector and live rows (`+I`/`+U`) the after-image —
  * real Debezium under `REPLICA IDENTITY DEFAULT` emits NULL
  * `before`, and silently accepting it would drop the tombstone
  * into a null cell, leaving the deleted vector probeable forever.
  * [[processBatch]] rejects NULL vectors LOUDLY (a distributed
  * `raise_error`, naming the vec_id and the fix) instead. */
object IvfChangelog {

  private val Cols = Seq("vec_id", "v", "code", "cell", "ver", "del")

  /** Writer options shared by ALL THREE at-rest write sites (tail
    * ingest, compact, compactRewrite) — one definition so tail files
    * and compacted files can never drift to different bloom geometry.
    * Per-row-group vec_id BLOOMS: the coded-shortlist probe's phase-2
    * fetch pushes its bounded id set as a native parquet In, which
    * parquet-mr evaluates against blooms, not min/max (the
    * searchRanked/ClusterMaintenance mechanism) — row groups holding
    * no shortlisted id never pay their vector pages. ADAPTIVE sizing
    * (parquet-mr 1.13+): candidate blooms sized from the observed
    * ndv, so a micro-batch tail file pays bytes proportional to its
    * rows while a compacted cell file gets a full-size bloom. */
  private def atRestWriter(df: DataFrame): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.mode("overwrite").partitionBy("cell")
      .option("parquet.bloom.filter.enabled#vec_id", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")

  /** Loud NULL-vector reject: [[VectorExpressions.nearestCell]] is
    * nullIntolerant, so a NULL before-image would otherwise assign a
    * NULL cell and the tombstone would silently miss the deleted
    * vector's cell (Debezium `REPLICA IDENTITY DEFAULT` does exactly
    * this). Executor-side `raise_error` names the key and the cure. */
  private def requireVector(v: Column, id: Column, which: String): Column =
    when(v.isNotNull, v).otherwise(raise_error(concat(
      lit(s"IvfChangelog: NULL $which-image vector for vec_id="), id.cast("string"),
      lit(s" — $which-images are required (for Debezium sources set REPLICA IDENTITY FULL," +
        " or pre-join a key->vector lookup before the sink)"))))

  /** Ingest one changelog micro-batch. `batch` carries
    * (vec_id, row_kind, v) — `v` is the after-image for `+I`/`+U`
    * and the BEFORE-image for `-U`/`-D`. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      model: IvfIndex.Model, compactEvery: Int = 0,
      seqCol: Option[String] = None): Unit = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(batch.sparkSession, root, batchId)
    val live = seqCol match {
      case Some(sc) =>
        // net effect per key over ALL row kinds: the key's latest
        // change must itself be +I/+U to yield a live row — a key
        // whose last change is -U/-D nets to deleted (tombstones
        // only), else resolution's live-beats-tombstone tie-break
        // at equal ver would resurrect it. Ties on seq resolve
        // LIVE-first: an update op expands to a -U/+U pair sharing
        // one offset (Debezium's ts_ms, Canal's es), and the
        // after-image outranks its own retraction — the same rule
        // probe-time resolution applies at equal ver. The window
        // runs over ONE micro-batch's rows, not the index.
        BatchVersioned.latestPerKey(batch, Seq("vec_id"),
            col(sc).desc, col("row_kind").isin("+I", "+U").desc)
          .filter(col("row_kind").isin("+I", "+U"))
      case None => batch.filter(col("row_kind").isin("+I", "+U"))
    }
    val liveRows = IvfIndex.assignCells(
        live.select(col("vec_id"), requireVector(col("v"), col("vec_id"), "after").as("v")), model)
      .withColumn("code", VectorExpressions.sq8Encode(col("v")))
      .withColumn("ver", lit(batchId))
      .withColumn("del", lit(false))
    val tombRows = IvfIndex.assignCells(
        batch.filter(col("row_kind").isin("-U", "-D"))
          .select(col("vec_id"), requireVector(col("v"), col("vec_id"), "before").as("v")), model)
      .withColumn("v", lit(null).cast("array<double>"))
      .withColumn("code", lit(null).cast("binary"))
      .withColumn("ver", lit(batchId))
      .withColumn("del", lit(true))
    atRestWriter(liveRows.select(Cols.map(col): _*)
      .unionByName(tombRows.select(Cols.map(col): _*))
      .repartition(col("cell")))
      .parquet(s"$root/b=$batchId")
  }

  /** foreachBatch adapter with a PINNED model (the frozen-model
    * contract [[IvfStream.sink]] documents) — plus an OPT-IN retrain
    * rotation (`rotateSkewAbove` > 0): every compact point first
    * measures [[occupancySkew]]; past the threshold the compaction
    * becomes a [[compactRewrite]] under a model freshly trained on
    * the resolved live set, the new model is persisted over
    * `modelDir`, and the sink keeps ingesting under it.
    *
    * Mid-stream safety — the manual compactRewrite contract says
    * "run while the stream is DOWN", and this does not violate it:
    * foreachBatch serializes, so the rewrite completes before any
    * row of the triggering batch is ingested; nothing is ever
    * written under a model that mismatches the at-rest layout.
    * Crash replay is covered by the ORDER of the two commits: the
    * model persists (atomic rename) BEFORE the rewrite, so a crash
    * between them leaves the OLD (still-skewed) layout on disk — the
    * restarted sink re-measures high skew at the replayed compact
    * point and re-fires, retraining deterministically (same live
    * set → same centroids) and rewriting; a crash after both is a
    * plain idempotent replay. (The reverse order would be a
    * corruption window: rewritten layout + old persisted model reads
    * as LOW skew on replay and never heals.) Probes pick the new
    * model up on their next [[topK]] call ([[IvfIndex.load]] is a
    * plain per-call read).
    *
    * A crash AFTER both commits (before the streaming checkpoint
    * commits) replays the compact point against the REWRITTEN layout,
    * where the plain compaction would rebuild v=batchId from the
    * pre-rotation parts with OLD-model cells. The [[BatchVersioned]]
    * replay rule keeps a committed v=batchId, so both branches are
    * skipped and only the persisted model is re-read. */
  def sink(spark: SparkSession, root: String, modelDir: String,
      compactEvery: Int = 16, seqCol: Option[String] = None,
      rotateSkewAbove: Double = 0.0, rotateTrainIters: Int = 3): (DataFrame, Long) => Unit = {
    var model = IvfIndex.load(spark, modelDir)
    (batch, batchId) => {
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
        if (index(root).committed(spark, batchId)) {
          // replayed compact point: the work (possibly a rotation)
          // committed before the crash — pick up the persisted model
          // (it is the one the at-rest layout was written under) and
          // fall through to re-ingesting the batch rows only
          model = IvfIndex.load(spark, modelDir)
        } else {
        val (skew, live) =
          if (rotateSkewAbove > 0) occupancySkew(spark, root) else (0.0, 0L)
        if (rotateSkewAbove > 0 && skew > rotateSkewAbove && live > 0) {
          val liveVecs = resolve(visible(spark, root), "vec_id").select(col("vec_id"), col("v"))
          val fresh = IvfIndex.train(liveVecs, model.cells, iters = rotateTrainIters,
            memoKey = s"ivf-rotate|$root|$batchId",
            sampleMod = IvfIndex.sampleMod(live, model.cells))
          // persist the model BEFORE the rewrite commits: a crash
          // between the two must leave the rotation RE-FIREABLE, and
          // only this order does — the layout is still old, so the
          // replayed compact point re-measures HIGH skew and retrains
          // (deterministically, same live set → same centroids) before
          // rewriting again. The reverse order leaves a rewritten
          // (low-skew) layout under the OLD persisted model: the
          // replay measures low skew, never re-fires, and every later
          // ingest/probe silently routes by centroids that do not
          // match the at-rest cells.
          IvfIndex.save(fresh, modelDir, spark)
          compactRewrite(spark, root, batchId, fresh)
          model = fresh
        } else compact(spark, root, batchId)
        }
      }
      processBatch(batch, batchId, root, model, compactEvery = 0, seqCol)
    }
  }

  /** Arrival batches `root/b=<batch>/cell=<c>/` and compact versions
    * `root/compact/v=<batch>/cell=<c>/` in the changelog row layout.
    * Read with an explicit schema: an EMPTY committed micro-batch
    * (normal in a quiet stream) writes a dir with `_SUCCESS` but no
    * data files, which schema inference cannot read. */
  private def index(root: String) = BatchVersioned.Store(
    s"$root/compact", root, "b",
    "vec_id BIGINT, v ARRAY<DOUBLE>, code BINARY, cell INT, ver BIGINT, del BOOLEAN",
    schemaOnRead = true)

  private[graft] def visible(spark: SparkSession, root: String): DataFrame = {
    val ps = index(root).parts(spark, None)
    require(ps.nonEmpty, s"no committed changelog batches under $root")
    ps.reduce(_ unionByName _)
  }

  /** Changelog resolution per `keys`: newest `ver` wins, live beats
    * tombstone at equal ver, deleted keys drop, tombstones themselves
    * drop. Over `vec_id` alone it is compaction's rule (the fold covers
    * the COMPLETE history below its bound, so nothing older can
    * resurrect); probes resolve per (query_id, vec_id) candidate. */
  private def resolve(df: DataFrame, keys: String*): DataFrame =
    BatchVersioned.latestPerKey(df, keys, col("ver").desc, col("del").asc)
      .filter(!col("del"))

  /** Rewrite history below `batchId` as compact version v=`batchId`
    * (resolved, one file per cell, `ver` retained so tail batches
    * still outrank it) under the [[BatchVersioned]] replay rule. */
  private[graft] def compact(spark: SparkSession, root: String, batchId: Long): Unit =
    index(root).compact(spark, batchId) { (all, dir) =>
      atRestWriter(resolve(all, "vec_id").repartition(col("cell"))).parquet(dir)
    }

  /** Cell-occupancy skew of the RESOLVED live set — the retrain
    * trigger. The frozen-model contract means sustained cell-moving
    * updates slowly invalidate the centroids: vectors drift into
    * regions the training never saw and crowd into the few nearest
    * cells, so probe candidate volume (the real cost driver — a
    * probed cell is scanned whole) grows with max-cell occupancy even
    * while nprobe stays fixed. max/mean occupancy is that degradation
    * in one cheap number; compute it at compaction time (compaction
    * already resolves the full history — this is one groupBy more)
    * and rotate the model via [[compactRewrite]] when it drifts past
    * the deployment's tolerance (the balanced-training baseline is
    * ~1.5–3; sustained drift pushes it an order of magnitude up).
    * Returns (maxOverMean, liveRows). */
  def occupancySkew(spark: SparkSession, root: String): (Double, Long) = {
    val occ = resolve(visible(spark, root), "vec_id").groupBy(col("cell")).count()
    val r = occ.agg(max(col("count")), avg(col("count")), sum(col("count"))).head
    // a fully purged index (every key tombstoned) is a legal state:
    // the aggregate row is all-NULL, not absent — report zero skew
    // instead of NPEing the monitoring call
    if (r.isNullAt(0)) (0.0, 0L)
    else (r.getLong(0) / r.getDouble(1), r.getLong(2))
  }

  /** Compact the COMPLETE history below `batchId` under a NEW model —
    * the migration half of a retrain rotation. Resolution first (the
    * old model's cells are only needed to fold history), then every
    * live row is REASSIGNED and re-encoded under `model` and written
    * as compact v=`batchId`; tombstones fold away as in [[compact]],
    * so nothing keyed by old cells survives. The caller then persists
    * `model` over the pinned modelDir and restarts the sink/probes on
    * it — the compact version is the natural swap point because it is
    * the only stage that already rewrites everything. Safe ordering:
    * run this while the stream is DOWN (between restarts); a batch
    * ingested under the old model after the rewrite would tombstone
    * into old-model cells that no longer match the at-rest layout. */
  def compactRewrite(spark: SparkSession, root: String, batchId: Long,
      model: IvfIndex.Model): Unit = {
    val wrote = index(root).rewrite(spark, batchId) { (all, dir) =>
      val resolved = resolve(all, "vec_id").select(col("vec_id"), col("v"), col("ver"))
      atRestWriter(IvfIndex.assignCells(resolved, model)
        .withColumn("code", VectorExpressions.sq8Encode(col("v")))
        .withColumn("del", lit(false))
        .select(Cols.map(col): _*)
        .repartition(col("cell")))
        .parquet(dir)
    }
    require(wrote, s"no committed changelog batches under $root")
  }

  /** Probe the maintained index: DPP-pruned cell join FIRST (the
    * broadcast probe side drives dynamic partition pruning exactly
    * like [[IvfIndex.topK]]), then per-(query, vec_id) resolution
    * over the CANDIDATE rows only — newest ver wins, live beats
    * tombstone at equal ver, deleted drop — then exact cosine top-k.
    * The resolution window costs O(candidates); the index is never
    * globally shuffled.
    *
    * `staticCellPushdown` (the streaming-probe path,
    * [[AnnProbeStream]]): Catalyst's DPP rule declines a probe side
    * with no selective predicate — exactly what a micro-batch local
    * relation is — so the probed cell set is collected and pushed as
    * a STATIC partition filter instead. The collect is bounded by
    * |queries| · nprobe cell ids (the micro-batch is
    * admission-controlled), and the pruning becomes deterministic
    * rather than heuristic — the property the probe lives on at
    * 100 TB. */
  def topK(spark: SparkSession, root: String, queries: DataFrame,
      modelDir: String, nprobe: Int, k: Int,
      staticCellPushdown: Boolean = false,
      shortlistR: Int = 0): DataFrame = {
    val model = IvfIndex.load(spark, modelDir)
    val p0 = IvfIndex.probeCells(queries, col("qv"), model, nprobe)
    // the pushdown path reads the probe relation TWICE (cell-set
    // collect + broadcast join side) — localCheckpoint materializes
    // the query-vs-centroid scoring once instead of recomputing it
    val p = if (staticCellPushdown) p0.localCheckpoint(true) else p0
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val vis =
      if (staticCellPushdown) {
        // bounded collect: ≤ |queries| · nprobe ints (see scaladoc)
        val cells = p.select(col("cell")).distinct().collect().map(_.getInt(0))
        visible(spark, root).filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      } else visible(spark, root)
    if (shortlistR <= 0) {
      resolve(vis.join(broadcast(p), Seq("cell")).filter(col("vec_id") =!= col("query_id")),
          "query_id", "vec_id")
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          nanvl(VectorFunctions.cosine(col("qv"), col("v")), lit(-2.0)).as("cos_sim"))
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= k)
    } else {
      // CODED-SHORTLIST mode (the streamed IVF-quantized composition,
      // q59/q70's two-phase shape on the maintained index): phase 1
      // resolves and approx-scores candidates on the STORED int8
      // codes — the projection excludes `v`, so parquet column
      // pruning keeps the 8×-larger full-vector column out of the
      // candidate scan entirely — and keeps the per-query top
      // `shortlistR`; phase 2 fetches `v` for exactly the shortlist:
      // the bounded id set is PUSHED into the scan (native parquet
      // In over the at-rest vec_id blooms) and joined back on the
      // resolved (vec_id, ver) among LIVE rows — unique there: one
      // live write per key per batch, compaction preserves ver —
      // then exact-cosine re-ranks. Changelog resolution runs BEFORE the
      // shortlist, so tombstones/updates are honored identically to
      // the exact path; the only approximation is which candidates
      // reach the re-rank, guarded by [[AnnProbeStream]]'s recall
      // telemetry like nprobe is.
      val short = codedShortlist(vis, p, shortlistR)
        // materialize once: the id-count gate + (maybe) the id collect
        // + the phase-2 join all read it
        .localCheckpoint(true)
      // `!del` is load-bearing: an update pair (+U/-U) legally shares
      // (vec_id, ver = batchId) between its live row and its tombstone
      // (v = null) in the same tail dir — joining without the filter
      // would duplicate the neighbor with a NULL cosine. Among LIVE
      // rows (vec_id, ver) IS unique (one live write per key per
      // batch; compaction preserves vers).
      val live = vis.filter(!col("del"))
      // push the shortlist ids into the vector fetch (native parquet
      // In over the at-rest vec_id blooms — only row groups holding a
      // shortlisted id pay their `v` pages) when the set is BOUNDED:
      // the searchRanked pushdownCap pattern — above the cap (a deep
      // R × large batch) fall back to the plain join, which is the
      // exact path's scan shape, never a driver blowup
      val nShort = short.count()
      val fetch0 =
        if (nShort == 0L) live.where(lit(false))
        else if (nShort <= ShortlistPushdownCap) {
          val ids = short.select(col("neighbor_id")).distinct()
            .collect().map(r => java.lang.Long.valueOf(r.getLong(0)))
          live.filter(col("vec_id").isin(ids: _*))
        } else live
      val fetch = fetch0.select(col("vec_id").as("neighbor_id"), col("ver"), col("v"))
      short
        .join(fetch, Seq("neighbor_id", "ver"))
        .join(broadcast(queries.select(col("query_id"), col("qv"))), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          nanvl(VectorFunctions.cosine(col("qv"), col("v")), lit(-2.0)).as("cos_sim"))
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= k)
    }
  }

  /** Bound on the phase-2 id pushdown (≥ distinct shortlist ids —
    * `short.count()` gates it exactly): the collect and the In
    * expression every task deserializes stay driver-safe; above it
    * the fetch is the plain join (the exact path's scan shape). */
  private val ShortlistPushdownCap = 100000L

  /** Phase 1 of the coded shortlist: resolve the changelog over the
    * candidate cells and approx-score on the STORED int8 codes — the
    * projection excludes `v`, so parquet column pruning keeps the
    * 8×-larger full-vector column out of the candidate scan entirely
    * (AnnProbeSpec pins this on the executed plan). Returns the
    * per-query top `shortlistR` as (query_id, neighbor_id, ver). */
  private[graft] def codedShortlist(vis: DataFrame, p: DataFrame,
      shortlistR: Int): DataFrame = {
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id").asc)
    val qcoded = p.withColumn("qcode", VectorExpressions.sq8Encode(col("qv")))
      .select("query_id", "cell", "qcode")
    resolve(vis.select("vec_id", "code", "cell", "ver", "del")
        .join(broadcast(qcoded), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id")), "query_id", "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("ver"),
        // q59's guard: an all-zero code's 0/0 must sink, not float up
        nanvl(VectorExpressions.sq8Dot(col("qcode"), col("code")).cast("double") /
          (sqrt(VectorExpressions.sq8Dot(col("qcode"), col("qcode")).cast("double")) *
            sqrt(VectorExpressions.sq8Dot(col("code"), col("code")).cast("double"))),
          lit(-2.0)).as("approx_cos"))
      .withColumn("__ar", row_number().over(wShort))
      .filter(col("__ar") <= shortlistR)
      .select("query_id", "neighbor_id", "ver")
  }

  /** EXACT top-k over the current visible index — no cell pruning,
    * full-index candidate set, otherwise the same resolution (newest
    * ver wins, live beats tombstone at equal ver, deleted drop) and
    * cosine rank as [[topK]]. This is the recall GROUND TRUTH for
    * [[AnnProbeStream]]'s per-batch telemetry: cost is
    * O(|queries| · index), so call it on a BOUNDED probe sample only
    * (the telemetry caps it at `recallSample` queries per batch). */
  def bruteTopK(spark: SparkSession, root: String, queries: DataFrame,
      k: Int): DataFrame = {
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    resolve(visible(spark, root)
        .crossJoin(broadcast(queries.select(col("query_id"), col("qv"))))
        .filter(col("vec_id") =!= col("query_id")), "query_id", "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        nanvl(VectorFunctions.cosine(col("qv"), col("v")), lit(-2.0)).as("cos_sim"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
  }
}
