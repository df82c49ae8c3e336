package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Tables.events must normalize `ts` to a microsecond TimestampType
  * column from EVERY annotation the driver's generator has shipped:
  * int64 nanoseconds (TIMESTAMP(NANOS) decoded under nanosAsLong),
  * TIMESTAMP_NTZ (micros, no timezone), and plain TimestampType.
  * Round 9 lost all 11 events queries to exactly this drift — the
  * loader assumed nanos while the regenerated files carried micros.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val wantMicros = Seq(
    1735689600000000L, // 2025-01-01 00:00:00 UTC
    1735689600123456L, // …plus 123456 us: sub-second precision survives
    1735693200000000L) // 2025-01-01 01:00:00 UTC

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    wantMicros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .select($"event_id", tsCol.as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def readBack(dir: String): (String, Seq[Long]) = {
    val df = Tables.events(spark, dir)
    val tpe = df.schema("ts").dataType.typeName
    val got = df.select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).sorted.toSeq
    (tpe, got)
  }

  test("events.ts: int64-nanos, TIMESTAMP_NTZ, and TimestampType files all decode to the same us TimestampType") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_events_ts").toString
    try {
      // branch 1: raw BIGINT nanos — what TIMESTAMP(NANOS) decodes to
      // under spark.sql.legacy.parquet.nanosAsLong
      writeEvents(dir, ($"us" * 1000L).cast("long"))
      assert(readBack(dir) == (("timestamp", wantMicros)))

      // branch 2: TIMESTAMP_NTZ (micros, no timezone) — the r9 drop
      writeEvents(dir, timestamp_micros($"us").cast("timestamp_ntz"))
      assert(readBack(dir) == (("timestamp", wantMicros)))

      // branch 3: already TimestampType — pass-through
      writeEvents(dir, timestamp_micros($"us"))
      assert(readBack(dir) == (("timestamp", wantMicros)))
    } finally graft.tools.FileUtil.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("table schemas: inferred once per unchanged file set; a changed parquet read conf infers again") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_schema_memo").toString
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosWas = spark.conf.getOption(nanosKey)
    try {
      Seq((1L, 10L, 2.5), (2L, 20L, 7.0)).toDF("o_orderkey", "o_custkey", "o_totalprice")
        .coalesce(1).write.parquet(s"$dir/orders.parquet")
      val (first, firstJobs) = jobsLaunchedBy(Tables.orders(spark, dir))
      assert(firstJobs >= 1, "the first load infers the schema with a job")
      val (second, secondJobs) = jobsLaunchedBy(Tables.orders(spark, dir))
      assert(secondJobs === 0, "a second load of unchanged files must reuse the schema")
      assert(second.schema === first.schema)
      assert(second.as[(Long, Long, Double)].collect().sorted.toSeq === Seq((1L, 10L, 2.5), (2L, 20L, 7.0)))

      // a TIMESTAMP(NANOS) events file: decodes under nanosAsLong=true
      // (the session's setting); with the flag off at runtime it must
      // be inferred again and raise the actionable error, not reuse the
      // schema inferred under true
      writeNanosEvents(s"$dir/events.parquet/part-00000.parquet")
      spark.conf.set(nanosKey, "true")
      assert(readBack(dir) == (("timestamp", wantMicros)))
      spark.conf.set(nanosKey, "false")
      val e = intercept[IllegalStateException](Tables.events(spark, dir))
      assert(e.getMessage.contains(s"set $nanosKey=true"), e.getMessage)
    } finally {
      nanosWas match {
        case Some(v) => spark.conf.set(nanosKey, v)
        case None    => spark.conf.unset(nanosKey)
      }
      graft.tools.FileUtil.deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  /** Spark cannot write TIMESTAMP(NANOS); parquet-mr's example writer can. */
  private def writeNanosEvents(file: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf)).withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try wantMicros.zipWithIndex.foreach { case (us, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", us * 1000L))
    } finally w.close()
  }
}
