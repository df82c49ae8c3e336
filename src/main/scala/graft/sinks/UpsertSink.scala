package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BatchVersioned

/** Keyed UPSERT sink with log compaction — the at-rest shape of
  * Flink's `upsert-kafka` connector (a compacted topic: per key, the
  * LAST record wins; a null-value record is a tombstone), re-expressed
  * as parquet segments (ref: the reference's Kafka2Kafka/Kafka2ES
  * upsert-by-id sinks).
  *
  * Write side (one call per micro-batch, exactly the upsert-kafka
  * record rules):
  *  - `-U` (UPDATE_BEFORE) rows are DROPPED — upsert topics carry
  *    only the after-state (Flink's upsert-kafka sink ignores them);
  *  - per pk, the batch reduces to its LAST change by `(ver, op
  *    rank)` (the shared CDC rule) — a compacted topic would fold
  *    the intermediate writes anyway, so the sink never writes them;
  *  - `+I`/`+U` become value records, `-D` becomes a TOMBSTONE row
  *    (`dead = true`) — it must be WRITTEN, not skipped: readers and
  *    compaction need the marker to kill older base records.
  * Each batch lands in its own `seg=<batchId>` directory, overwritten
  * on replay (idempotent — the PartitionCommit rule) and committed by
  * `_SUCCESS`.
  *
  * Read side ([[read]]): latest record per pk across base +
  * committed segments, tombstoned pks dropped — the materialized
  * "current table" a compacted topic serves a bootstrapping consumer.
  * It is two parquet scans, both with the sink's own fixed schema (no
  * inference job): the base, and ONE scan over every committed
  * segment above it in which `seg` is the directory's partition value
  * (the compact-plus-tail read of `BatchVersioned.Store`). Which
  * segments count is a directory-listing decision; then ONE pk
  * shuffle folds both scans.
  * Cross-segment conflicts resolve by the SAME `(ver, op-rank)` rule
  * as intra-batch reduction (see [[fold]]) — where the batch split
  * falls never changes the result.
  *
  * Compaction ([[compact]]): folds the base and all committed
  * segments into a new `base=<maxSeg>` holding one record per pk.
  * Tombstones are RETAINED in the base for `tombstoneRetainSegs`
  * segments before they drop (Kafka's `delete.retention.ms`: a
  * tombstone must stay visible long enough for every downstream
  * consumer to observe the delete; dropping it instantly would
  * resurrect the pk for a reader still holding an older base).
  * Idempotent under replay: a committed `base=<maxSeg>` short-circuits
  * (the IvfChangelog rule), and GC removes only segments the new base
  * provably covers.
  *
  * Scale: segments are append-only writes of batch size; read and
  * compaction are one pk-keyed shuffle over the base + segment scans,
  * so compaction rewrites the whole base each time (the base is not
  * bucketed or partitioned by pk). State lives entirely at rest; the
  * sink holds NO driver or executor state between batches.
  */
object UpsertSink {

  /** One changelog row about `pk`; `-U`/`-D` carry before-images. */
  case class UpsertChange(op: String, pk: Long, value: String, ver: Long)

  private val segSchema = "pk BIGINT, value STRING, ver BIGINT, rk INT, dead BOOLEAN"
  /** What both scans yield: a base file stores `seg` per row, a
    * segment scan takes it from its `seg=` directory. */
  private val rowSchema = s"$segSchema, seg BIGINT"

  private def segDir(root: String, batchId: Long) = s"$root/seg=$batchId"

  /** One listing of the committed `base=` and `seg=` dirs. */
  private final case class Listing(bases: Seq[(Long, String)], segs: Seq[(Long, String)]) {
    def baseAt: Long = bases.lastOption.map(_._1).getOrElse(-1L)
    /** Committed segments above the newest base. */
    def tail: Seq[(Long, String)] = segs.filter(_._1 > baseAt)
  }
  private def list(spark: SparkSession, root: String): Listing =
    Listing(BatchVersioned.versions(spark, root, prefix = "base"),
      BatchVersioned.versions(spark, root, prefix = "seg"))

  /** Reduce one micro-batch to upsert-kafka records and land it in an
    * idempotent per-batch segment. Call from `foreachBatch`. */
  def writeBatch(df: Dataset[UpsertChange], batchId: Long, root: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val reduced = df
      .filter($"op" =!= "-U") // after-state only — the upsert-kafka rule
      .withColumn("rk", graft.operators.Cdc.opRankCol($"op"))
      .groupBy($"pk")
      .agg(max(struct($"ver", $"rk", $"value", ($"op" === "-D").as("dead"))).as("last"))
      .select($"pk", $"last.value".as("value"), $"last.ver".as("ver"),
        $"last.rk".as("rk"), $"last.dead".as("dead"))
    reduced.write.mode("overwrite").parquet(segDir(root, batchId))
  }

  /** foreachBatch adapter: `changes.writeStream.foreachBatch(
    * UpsertSink.sink(root))`. */
  def sink(root: String): (Dataset[UpsertChange], Long) => Unit =
    (df, batchId) => writeBatch(df, batchId, root)

  /** All committed record sources: the newest base, if any, and ONE
    * scan over the segments above it, both read with [[rowSchema]] (the
    * sink wrote every file with [[segSchema]], so nothing is inferred).
    * Segment rows take `seg` from their directory's batch id; base rows
    * KEEP the per-row `seg` they carried when folded — the
    * tombstone-retention clock must survive compaction (a tombstone's
    * age is when it was WRITTEN, not when it was last folded). */
  private def sources(spark: SparkSession, root: String, l: Listing): DataFrame = {
    val base = l.bases.lastOption.map { case (_, d) => spark.read.schema(rowSchema).parquet(d) }
    val tail = if (l.tail.isEmpty) None
      else Some(spark.read.schema(rowSchema).option("basePath", root).parquet(l.tail.map(_._2): _*))
    (base ++ tail).reduceOption(_ unionByName _)
      .getOrElse(BatchVersioned.emptyDf(spark, rowSchema))
  }

  /** Latest record per pk across base + segments. Tombstones kept
    * (`dead = true`) — [[read]] drops them, [[compact]] retains them
    * through the retention horizon.
    *
    * Ordered by `(ver, rk, seg)` — the shared CDC last-writer-wins
    * rule FIRST, arrival (segment) order only as the tiebreak. The
    * r13 review caught the old `(seg, ver, ...)` order making
    * conflict resolution batch-boundary-dependent: an older-ver
    * change landing in a later micro-batch overrode a newer-ver
    * record, so the same disordered changelog read differently
    * depending on where the batch split fell. Ver-first matches
    * `Cdc.changelogWins` / `cdcUpsertStream` exactly, and the
    * winner's `seg` still rides along as the tombstone-retention
    * clock. */
  private def fold(all: DataFrame): DataFrame =
    all.groupBy(col("pk"))
      .agg(max(struct(col("ver"), col("rk"), col("seg"), col("value"), col("dead"))).as("last"))
      .select(col("pk"), col("last.value").as("value"), col("last.ver").as("ver"),
        col("last.rk").as("rk"), col("last.dead").as("dead"), col("last.seg").as("seg"))

  /** The materialized current table: one live row per pk. */
  def read(spark: SparkSession, root: String): DataFrame =
    fold(sources(spark, root, list(spark, root)))
      .filter(!col("dead")).select(col("pk"), col("value"), col("ver"))

  /** Fold base + segments into `base=<maxSeg>`; drop tombstones older
    * than `tombstoneRetainSegs` segments behind the fold point. No-op
    * (idempotent replay) if no segment landed above the newest base.
    * The fold point, the short-circuit and the GC all come from one
    * listing of the root, taken before any frame is built. */
  def compact(spark: SparkSession, root: String, tombstoneRetainSegs: Long = 2L): Unit = {
    val l = list(spark, root)
    val f = BatchVersioned.fs(spark, root)
    // GC: covered segments and superseded bases — nothing a replay
    // can reach (a replayed batch overwrites ITS OWN seg dir only)
    def gc(upTo: Long): Unit =
      (l.segs.filter(_._1 <= upTo) ++ l.bases.filter(_._1 < upTo))
        .foreach { case (_, d) => f.delete(new org.apache.hadoop.fs.Path(d), true) }
    if (l.tail.isEmpty) {
      // replay short-circuit (base=<at> is committed) or nothing new —
      // but still sweep leftovers a crash between the base write and
      // the GC below left behind (they are invisible to reads, which
      // take only segments above the base, yet they would otherwise
      // linger on disk forever)
      gc(l.baseAt)
      return
    }
    val at = l.tail.last._1 // the fold point: the newest committed segment
    val folded = fold(sources(spark, root, l))
      // a tombstone survives until every reader of base <= its seg is
      // provably gone (the retention window — measured from the seg
      // that WROTE it, which base rows preserve); live rows always stay
      .filter(!col("dead") || col("seg") >= lit(at - tombstoneRetainSegs))
    folded.write.mode("overwrite").parquet(s"$root/base=$at")
    gc(at)
  }
}
