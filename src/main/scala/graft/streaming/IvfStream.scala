package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IvfIndex

/** Streaming maintenance of the at-rest IVF index — the micro-batch
  * twin of [[IvfIndex.build]], completing the ANN family's
  * batch/stream story the way [[ClusterMaintenance]] (q41) and
  * [[SemDeDupStream]] (q53) did for the dedup family: the index is
  * built once offline, and this keeps it current as embeddings
  * arrive.
  *
  * Per micro-batch: load the persisted centroid model
  * ([[IvfIndex.load]] — driver-side file read, ZERO jobs over the
  * embeddings table), assign the batch's vectors with the codegen
  * kernel (shuffle-free scan), and write them under
  * `root/b=<batchId>/cell=<c>/` — the same `cell` partition layout as
  * the batch index, nested under an arrival-batch dir so a replayed
  * batch overwrites exactly its own output ([[BatchVersioned]]
  * replay contract; `b` and `cell` are BOTH partition columns, so
  * probe-time dynamic partition pruning still reads only the probed
  * cells' directories across every arrival batch).
  *
  * Centroids are FROZEN between retrains, exactly like a production
  * IVF deployment (FAISS's add-after-train): assignment stays
  * consistent for every probe, and a periodic offline retrain +
  * reindex (the batch [[IvfIndex.build]]) swaps in a new root when
  * drift warrants it. [[topK]] is the batch probe run against the
  * streamed layout.
  */
object IvfStream {

  /** One micro-batch of index ingest against an already-loaded
    * model; `batch` carries (vec_id, v). `compactEvery` > 0 compacts
    * the arrival history every that many batches (see [[compact]]). */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      model: IvfIndex.Model, compactEvery: Int = 0): Unit = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(batch.sparkSession, root, batchId)
    IvfIndex.assignCells(batch.select(col("vec_id"), col("v")), model)
      // same row layout as the batch build: SQ8 codes ride alongside
      // the vectors so the streamed index serves topKSq8 too
      .withColumn("code", graft.functions.VectorExpressions.sq8Encode(col("v")))
      // and the same cell co-location before the partitioned write:
      // without it every batch task writes a sliver into every cell
      // dir, and the file count grows as batches × tasks × cells
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/b=$batchId")
  }

  /** Convenience: load-then-ingest in one call (tests / one-shot
    * use). Long-lived streams should use [[sink]], which PINS the
    * model. */
  def processBatch(batch: DataFrame, batchId: Long, root: String, modelDir: String): Unit =
    processBatch(batch, batchId, root, IvfIndex.load(batch.sparkSession, modelDir))

  /** foreachBatch adapter. The model is loaded ONCE and pinned for
    * the sink's lifetime: per-batch reloads would let a retrain
    * mid-stream assign different batches under different centroid
    * spaces INSIDE ONE ROOT — the probe then prunes wrong cells for
    * every pre-retrain batch. A retrain swaps in a whole new root
    * (see the class doc), never mutates a live one.
    *
    * Compaction GC deletes arrival dirs already folded into a compact
    * version, so every READER of the root must resolve through
    * [[topK]]/[[visible]] (which read compact + tail) before a writer
    * with compaction enabled starts — a reader listing only `b=` dirs
    * would silently lose the compacted history. Upgrade readers
    * first, or pass compactEvery = 0. */
  def sink(spark: SparkSession, root: String, modelDir: String,
      compactEvery: Int = 16): (DataFrame, Long) => Unit = {
    val model = IvfIndex.load(spark, modelDir)
    (batch, batchId) => processBatch(batch, batchId, root, model, compactEvery)
  }

  // ---- index compaction ---------------------------------------------------
  // Without it a probe opens nprobe cell files PER ARRIVAL BATCH —
  // footer I/O linear in stream history, the postings-history disease
  // [[ClusterMaintenance.compact]] cured, in index form. Every
  // `compactEvery` batches the committed history is rewritten ONCE
  // into a single cell-partitioned compact version (one file per
  // cell, the batch build's exact layout); probes read the newest
  // compact version plus the uncompacted tail, so per-probe file
  // count is O(nprobe × (1 + compactEvery)), flat in history depth.
  // The rewrite is sequential columnar I/O amortized over
  // compactEvery batches.

  /** Arrival batches `root/b=<batch>/cell=<c>/` and compact versions
    * `root/compact/v=<batch>/cell=<c>/`; both carry `cell` as a
    * partition column, so probe-side cell pruning survives the union. */
  private def index(root: String) = BatchVersioned.Store(
    s"$root/compact", root, "b", "vec_id BIGINT, v ARRAY<DOUBLE>, code BINARY, cell INT")

  /** Rewrite arrival batches older than `batchId` (plus the previous
    * compact version) as compact version v=`batchId` under the
    * [[BatchVersioned]] replay rule (replayed ingest batches write
    * identical rows — the frozen-model contract). */
  private[graft] def compact(spark: SparkSession, root: String, batchId: Long): Unit =
    index(root).compact(spark, batchId) { (all, dir) =>
      all.repartition(col("cell")).write.mode("overwrite").partitionBy("cell").parquet(dir)
    }

  /** All index rows a probe may read: the newest committed compact
    * version plus committed arrival batches at-or-after it. A
    * replayed pre-compaction batch recommits rows already inside the
    * compact version and stays invisible here — no double counting. */
  private def visible(spark: SparkSession, root: String): DataFrame = {
    val ps = index(root).parts(spark, None)
    require(ps.nonEmpty, s"no committed index batches under $root")
    ps.reduce(_ unionByName _)
  }

  /** Probe the streamed index: identical semantics and plan shape to
    * [[IvfIndex.topK]] over a batch-built index — broadcast probe
    * cells, DPP-pruned scan of only the probed `cell=` directories
    * (over [[visible]]: newest compact version + committed arrival
    * tail, `_SUCCESS`-gated so a crashed batch's or compaction's
    * partial directory is invisible until its replay commits), exact
    * cosine top-k.
    *
    * RETENTION LEASE (concurrent compaction contract): a probe that
    * begins just before compaction N commits resolves the previous
    * assembly (compact version M + arrival batches ≥ M). Compaction N
    * GC's only what sits BELOW version M, so every path in that
    * assembly survives N's commit — the probe is safe for as long as
    * exactly ONE newer compaction can land (one-version lease). A
    * probe must therefore finish within one compaction interval
    * (`compactEvery` micro-batches) of when it listed the root;
    * longer-running consumers (exports, backfills) should either copy
    * the assembly's file list up front or pause compaction. The
    * ConcurrentCompactionSpec race drives probe and compact on
    * separate threads against this contract. */
  def topK(spark: SparkSession, root: String, queries: DataFrame,
      modelDir: String, nprobe: Int, k: Int): DataFrame =
    IvfIndex.topK(visible(spark, root), queries, IvfIndex.load(spark, modelDir), nprobe, k)
}
