package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.UpsertSink
import graft.sinks.UpsertSink.UpsertChange

/** Keyed upsert sink with log compaction (the upsert-kafka at-rest
  * shape): -U dropped / last-change-per-pk reduction, tombstones kill
  * older records but survive the retention window, compaction folds
  * without changing the read, replay overwrites its own segment
  * idempotently, and a checkpointed restart loses nothing. */
class UpsertSinkSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("upsert_sink").toString

  /** Drive batches through the sink; `from` continues the batchId
    * sequence (a fresh MemoryStream restarts at 0, so later calls
    * against the same root must offset to keep segment ids moving). */
  private def runBatches(root: String, batches: Seq[Seq[UpsertChange]],
      from: Long = 0L): Unit = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[UpsertChange]
    val q = in.toDS().writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[UpsertChange], id: Long) =>
        UpsertSink.writeBatch(df, from + id, root))
      .queryName("upsert_sink_spec").start()
    try batches.foreach { b => if (b.nonEmpty) in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
  }

  private def readMap(root: String): Map[Long, (String, Long)] = {
    import spark.implicits._
    UpsertSink.read(spark, root).as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("upsert sink: -U dropped, last change per pk wins, tombstone kills, read serves the current table") {
    val root = tmp()
    runBatches(root, Seq(
      Seq(UpsertChange("+I", 1L, "a", 1), UpsertChange("+I", 2L, "b", 1),
        UpsertChange("+I", 3L, "c", 1)),
      // update with its retraction half in the SAME batch: the -U is
      // dropped, the +U is pk 1's last change
      Seq(UpsertChange("-U", 1L, "a", 2), UpsertChange("+U", 1L, "a2", 2)),
      // intra-batch churn: pk 2 updated twice then deleted — the
      // reduction writes ONLY the tombstone
      Seq(UpsertChange("-U", 2L, "b", 2), UpsertChange("+U", 2L, "b2", 2),
        UpsertChange("-U", 2L, "b2", 3), UpsertChange("+U", 2L, "b3", 3),
        UpsertChange("-D", 2L, "b3", 4))))
    assert(readMap(root) === Map(1L -> (("a2", 2L)), 3L -> (("c", 1L))))
  }

  test("upsert sink: compaction folds without changing the read; tombstones survive the retention window then drop") {
    import spark.implicits._
    val root = tmp()
    runBatches(root, Seq(
      Seq(UpsertChange("+I", 1L, "a", 1), UpsertChange("+I", 2L, "b", 1)),
      Seq(UpsertChange("-D", 2L, "b", 2)), // tombstone at seg 1
      Seq(UpsertChange("+I", 3L, "c", 3))))
    val before = readMap(root)
    assert(before === Map(1L -> (("a", 1L)), 3L -> (("c", 3L))))
    // the read is ONE pk shuffle (partial agg below a single
    // exchange), never a join or a sort of the segment union
    val plan = UpsertSink.read(spark, root).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, s"read must shuffle once:\n$plan")
    assert(!plan.contains("Join"), s"read must not join:\n$plan")
    UpsertSink.compact(spark, root, tombstoneRetainSegs = 2L)
    assert(readMap(root) === before, "compaction changed the read")
    // the tombstone (written at seg 1, fold point 2) is INSIDE the
    // retention window — it must still sit in the base
    val baseRows = spark.read.parquet(s"$root/base=2")
      .as[(Long, String, Long, Int, Boolean, Long)].collect()
    assert(baseRows.exists(r => r._1 == 2L && r._5), s"tombstone dropped early: ${baseRows.toSeq}")
    // two more segments age it past the window; recompact drops it
    runBatches(root, Seq(
      Seq(UpsertChange("+I", 4L, "d", 5)),
      Seq(UpsertChange("+I", 5L, "e", 6))), from = 3L)
    UpsertSink.compact(spark, root, tombstoneRetainSegs = 2L)
    val base2 = spark.read.parquet(s"$root/base=4")
      .as[(Long, String, Long, Int, Boolean, Long)].collect()
    assert(!base2.exists(_._5), s"tombstone survived past retention: ${base2.toSeq}")
    assert(readMap(root) === before ++ Map(4L -> (("d", 5L)), 5L -> (("e", 6L))))
    // compaction is idempotent under replay: same fold point short-circuits
    UpsertSink.compact(spark, root, tombstoneRetainSegs = 2L)
    assert(readMap(root).size === 4)
  }

  test("upsert sink: a replayed batch overwrites its own segment — no dupes; a restart with traffic while down loses nothing") {
    import spark.implicits._
    // simulate a replay by writing the same batchId twice directly
    val replayRoot = tmp()
    val b0 = Seq(UpsertChange("+I", 1L, "a", 1)).toDS()
    UpsertSink.writeBatch(b0, 0L, replayRoot)
    UpsertSink.writeBatch(b0, 0L, replayRoot)
    assert(readMap(replayRoot) === Map(1L -> (("a", 1L))))
    // restart loop on its OWN root (checkpointed batchIds own the
    // segment namespace): run a batch, stop, land more data, restart
    val root = tmp()
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[UpsertChange]
    val ckpt = tmp()
    def start() = in.toDS().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(UpsertSink.sink(root))
      .queryName("upsert_restart").start()
    val q1 = start()
    try {
      in.addData(UpsertChange("+I", 2L, "b", 1)); q1.processAllAvailable()
    } finally q1.stop()
    // traffic lands while the query is down
    in.addData(UpsertChange("+U", 2L, "b2", 2), UpsertChange("+I", 3L, "c", 1))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(readMap(root) === Map(2L -> (("b2", 2L)), 3L -> (("c", 1L))))
  }

  test("upsert sink: cross-batch disorder resolves by ver (the shared CDC rule), not by arrival order") {
    // the same disordered changelog must read identically however the
    // batch split falls: an OLDER-ver change landing in a LATER
    // micro-batch must lose to the newer-ver record already written
    val root = tmp()
    runBatches(root, Seq(
      Seq(UpsertChange("+U", 1L, "new", 5)),
      Seq(UpsertChange("+U", 1L, "stale", 3)), // late arrival, older ver
      // disorder across the delete too: pk 2's insert arrives AFTER
      // its tombstone — the ver-5 tombstone must keep fencing it
      Seq(UpsertChange("-D", 2L, "x", 5)),
      Seq(UpsertChange("+I", 2L, "resurrect", 4))))
    assert(readMap(root) === Map(1L -> (("new", 5L))))
    // and compaction folds under the same rule
    UpsertSink.compact(spark, root, tombstoneRetainSegs = 10L)
    assert(readMap(root) === Map(1L -> (("new", 5L))))
  }

  test("upsert sink: read builds with no Spark job and scans the base plus ONE segment tail, however many segments") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = tmp()
    runBatches(root, Seq(
      Seq(UpsertChange("+I", 1L, "a", 1), UpsertChange("+I", 2L, "b", 1)),
      Seq(UpsertChange("+U", 1L, "a2", 2))))
    UpsertSink.compact(spark, root) // base=1
    def check(segs: Int, want: Map[Long, (String, Long)]): Unit = {
      val (plan, jobs) = jobsLaunchedBy(UpsertSink.read(spark, root).queryExecution.optimizedPlan)
      assert(jobs === 0, s"building the read over $segs segment(s) launched $jobs job(s)")
      val scans = plan.collect { case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] => r }
      assert(scans.size === 2, s"want base + one tail scan over $segs segment(s):\n$plan")
      assert(readMap(root) === want)
    }
    runBatches(root, Seq(Seq(UpsertChange("+I", 3L, "c", 3))), from = 2L)
    check(1, Map(1L -> (("a2", 2L)), 2L -> (("b", 1L)), 3L -> (("c", 3L))))
    runBatches(root, Seq(
      Seq(UpsertChange("-D", 2L, "b", 4)),
      Seq(UpsertChange("+I", 4L, "d", 5))), from = 3L)
    check(3, Map(1L -> (("a2", 2L)), 3L -> (("c", 3L)), 4L -> (("d", 5L))))
  }
}
