package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.IvfIndex

/** Streaming SemDeDup — the micro-batch twin of batch q53, closing the
  * same batch/stream asymmetry [[ClusterMaintenance]] closed for the
  * shingle-cluster family: batch jobs SemDeDup a corpus once; this
  * maintains the keep/drop verdict table as embeddings arrive.
  *
  * The cell model is the PERSISTED q53 k-means ([[IvfIndex.load]] from
  * `modelDir` — a pure driver-side file read, ZERO jobs over the
  * embeddings table; training happened once, offline, exactly like the
  * at-rest IVF index). Per micro-batch, against two batch-versioned
  * at-rest tables under `root/` (per-cell corpus deltas
  * `corpus/b=<batch>` and verdict DELTAS `verdicts/v=<batch>`):
  *
  *  1. assign the batch's vectors to (cell, sub) via the loaded
  *     model's codegen kernel (+ the same second-level sign-LSH
  *     sub-bucket q53 uses past the centroid cap) — shuffle-free;
  *  2. candidate pairs = batch × prior corpus on (cell, sub) plus
  *     intra-batch pairs, filtered to cos ≥ tau; each unordered
  *     qualifying pair {u, w} is seen exactly ONCE, in the batch where
  *     its later-arriving member lands;
  *  3. orient pairs to (u = smaller vec_id, w = larger) and take
  *     min(u) per w — a LATE-arriving low id can lower an EXISTING
  *     vector's dup_of, so prior verdicts merge via least(): dup_of is
  *     a minimum over the pair set, min is associative, and therefore
  *     the final table equals batch q53's output for ANY arrival
  *     order (the [[graft.operators.Dedup.foldPairsIntoClusters]]
  *     min-label argument, applied to dup_of);
  *  4. write the verdict DELTA `verdicts/v=<batch>` — the batch's own
  *     rows plus only the RETRO-TOUCHED old rows (w ∈ the batch's
  *     pair set), never the whole table — and the corpus delta
  *     `corpus/b=<batch>`. [[loadVerdicts]] resolves
  *     latest-version-per-vector.
  *
  * Replay-safe by the [[BatchVersioned]] replay rule.
  *
  * ==Compaction — per-batch cost flat in stream history==
  *
  * Without it, step 2 re-read the ENTIRE corpus history and the
  * verdict merge re-read (and REWROTE) the entire verdict table every
  * micro-batch — both linear in corpus history, the scale-killer the
  * round-6 verdict flagged on ClusterMaintenance's postings (cured
  * there by [[ClusterMaintenance.compact]]; same cure here, on both
  * tables). Every `compactEvery` batches:
  *
  *  - the corpus history rewrites ONCE as a compact version sorted by
  *    the packed bucket key `ck = cell·2²⁰ + sub` with a per-row-group
  *    bloom on ck. The per-batch pair join then pushes the batch's
  *    distinct ck set into the scan as a parquet In-filter: only
  *    row-groups holding a bucket the batch actually touches are
  *    read — per-batch input from deep history is O(batch buckets ×
  *    row-group granule), flat in history depth, while the
  *    uncompacted tail stays bounded by compactEvery batches.
  *  - the verdict history (previous compact + deltas) resolves
  *    latest-per-vector ONCE into a compact version sorted by vec_id
  *    with a bloom on vec_id; the per-batch retro-touch lookup pushes
  *    the touched vec_id set the same way. Both tables are
  *    [[BatchVersioned.Store]]s: reads see newest-compact + delta
  *    tail, and compaction follows the store's replay rule.
  */
object SemDeDupStream {
  import BatchVersioned.writeSorted

  /** Packed bucket key (cell·2²⁰ + sub) — one sortable/bloomable
    * column for row-group pruning; subBits ≤ 20 by far (q53 uses
    * ≤ 12), so the pack is collision-free. */
  private[graft] def ck(cell: org.apache.spark.sql.Column, sub: org.apache.spark.sql.Column) =
    cell.cast("long") * lit(1L << 20) + sub

  /** Per-cell corpus deltas (`corpus/b=<batch>`); the compact version
    * is ck-sorted with a ck bloom, so the pair join prunes to the
    * batch's buckets. */
  private[graft] def corpus(root: String) = BatchVersioned.Store(
    s"$root/corpus_compact", s"$root/corpus", "b", "vec_id BIGINT, cell INT, sub INT, v ARRAY<DOUBLE>")

  /** Verdict deltas (`verdicts/v=<batch>`), latest per vector; the
    * compact version is vec_id-sorted with a vec_id bloom. */
  private def verdicts(root: String) = BatchVersioned.Store(
    s"$root/verdicts_compact", s"$root/verdicts", "v", "vec_id BIGINT, cell INT, sub INT, dup_of BIGINT",
    key = Some("vec_id"))

  /** Compact both stores at batch `batchId`. `bloomNdv` sizes the
    * corpus's per-row-group ck bloom ([[BatchVersioned.writeSorted]]). */
  private[graft] def compact(spark: SparkSession, root: String, batchId: Long,
      targetRows: Long, bloomNdv: Long = 0L): Unit = {
    corpus(root).compact(spark, batchId) { (all, dir) =>
      writeSorted(all.withColumn("ck", ck(col("cell"), col("sub"))), dir, Seq("ck"), targetRows, bloomNdv)
    }
    verdicts(root).compact(spark, batchId)(writeSorted(_, _, Seq("vec_id"), targetRows))
  }

  /** Latest committed verdict table: (vec_id, cell, keep, dup_of) —
    * the exact q53 schema, resolved latest-version-per-vector over
    * newest-compact + deltas. */
  def loadVerdicts(spark: SparkSession, root: String): DataFrame = {
    val vs = verdicts(root)
    vs.latest(vs.union(spark, None))
      .select(col("vec_id"), col("cell"), col("dup_of").isNull.as("keep"), col("dup_of"))
  }

  // ---- per-batch pipeline --------------------------------------------------

  /** One micro-batch; `batch` must carry (vec_id BIGINT,
    * v ARRAY<DOUBLE>). Wire via
    * `emb.writeStream.foreachBatch(sink(spark, root, modelDir)).start()`. */
  def processBatch(batch: DataFrame, batchId: Long, root: String, modelDir: String,
      tau: Double = 0.92, subBits: Int = 0, compactEvery: Int = 0): Unit =
    processBatch(batch, batchId, root,
      IvfIndex.load(batch.sparkSession, modelDir), tau, subBits, compactEvery,
      compactTargetRows = 4000000L, maxPushdownKeys = 100000)

  /** Same, against an already-loaded (pinned) model (no default args —
    * Scala allows them on one overload only; the modelDir overload
    * carries them). `compactEvery` > 0 compacts both at-rest tables
    * every that many batches; `maxPushdownKeys` bounds the
    * driver-collected key sets for scan pruning (an over-limit batch
    * reads un-pruned — correctness never depends on the pushdown). */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      model: IvfIndex.Model, tau: Double, subBits: Int,
      compactEvery: Int, compactTargetRows: Long,
      maxPushdownKeys: Int): Unit = {
    val spark = batch.sparkSession
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      compact(spark, root, batchId, compactTargetRows)
    }
    val assigned = IvfIndex.assignCells(batch.select(col("vec_id"), col("v")), model)
      .withColumn("sub", graft.queries.SimilarityQ.semdedupSubKey(col("v"), subBits))
      .select(col("vec_id"), col("cell"), col("sub"), col("v"))
      .persist()
    try {
      // the batch's distinct bucket keys, bounded, for corpus-scan
      // pruning (limit(max+1): over-limit yields None, never a
      // truncated push set)
      val ckRows = assigned.select(ck(col("cell"), col("sub")).as("ck")).distinct()
        .limit(maxPushdownKeys + 1).collect()
      val pushCk = if (ckRows.length > maxPushdownKeys) None
        else Some(ckRows.map(_.getLong(0)))
      val prior = corpus(root).union(spark, Some(batchId), Seq("ck" -> pushCk))
      // cross pairs: both orientations matter (an old lower id drops a
      // new vector; a NEW lower id retro-drops an old one) — orient by
      // least/greatest so min(u) per w is well-defined
      val cross = prior.as("a")
        .join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
            col("a.vec_id") =!= col("b.vec_id") &&
            VectorFunctions.cosine(col("a.v"), col("b.v")) >= tau)
        .select(least(col("a.vec_id"), col("b.vec_id")).as("u"),
          greatest(col("a.vec_id"), col("b.vec_id")).as("w"))
      val intra = assigned.as("a")
        .join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
            col("a.vec_id") < col("b.vec_id") &&
            VectorFunctions.cosine(col("a.v"), col("b.v")) >= tau)
        .select(col("a.vec_id").as("u"), col("b.vec_id").as("w"))
      val minUp = cross.unionByName(intra)
        .groupBy(col("w")).agg(min(col("u")).as("cand"))
        .persist()
      try {
        // touched OLD vectors (retro-drops): bounded by the batch's
        // pair set, pushed into the verdict compact's vec_id bloom
        val wRows = minUp.select(col("w")).limit(maxPushdownKeys + 1).collect()
        val pushW = if (wRows.length > maxPushdownKeys) None
          else Some(wRows.map(_.getLong(0)))
        val vs = verdicts(root)
        val prev = vs.latest(vs.union(spark, Some(batchId), Seq("vec_id" -> pushW)))
        // merge: least() skips NULLs, so a touched verdict takes the
        // smaller of old and new. Untouched old verdicts are NOT
        // rewritten — the delta carries only batch rows + retro-touches
        val updatedOld = prev
          .join(minUp, prev("vec_id") === minUp("w"))
          .select(prev("vec_id"), col("cell"), col("sub"),
            least(col("dup_of"), col("cand")).as("dup_of"))
        val newRows = assigned.select(col("vec_id"), col("cell"), col("sub"))
          .join(minUp, assigned("vec_id") === minUp("w"), "left")
          .select(assigned("vec_id"), col("cell"), col("sub"), col("cand").as("dup_of"))
        updatedOld.unionByName(newRows)
          .select(col("vec_id"), col("cell"), col("sub"),
            col("dup_of").isNull.as("keep"), col("dup_of"))
          .write.mode("overwrite").parquet(s"$root/verdicts/v=$batchId")
        assigned.write.mode("overwrite").parquet(s"$root/corpus/b=$batchId")
      } finally minUp.unpersist(blocking = false)
    } finally assigned.unpersist(blocking = false)
  }

  /** foreachBatch adapter. The model is loaded ONCE and pinned for
    * the sink's lifetime (the [[IvfStream.sink]] argument: a
    * mid-stream retrain must swap in a new root, never re-cell a
    * live verdict table). */
  def sink(spark: SparkSession, root: String, modelDir: String,
      tau: Double = 0.92, subBits: Int = 0,
      compactEvery: Int = 16): (DataFrame, Long) => Unit = {
    val model = IvfIndex.load(spark, modelDir)
    (batch, batchId) =>
      processBatch(batch, batchId, root, model, tau, subBits, compactEvery,
        compactTargetRows = 4000000L, maxPushdownKeys = 100000)
  }
}
