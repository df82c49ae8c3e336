package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Expected digest of one batch line, from its DuckDB oracle. */
final case class Expected(rows: Long, sumHex: String, cols: Seq[String])

/** Everything a run is told on its command line. */
final case class Params(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    data: String,
    work: String,
    cores: Int,
    small: Boolean,
    // self-test faults: corrupt one line's expected digest / drop one event
    badExpected: Option[String],
    dropEvent: Boolean) {

  lazy val expected: Map[String, Expected] = Main.readExpected(s"$data/expected.tsv")
}

/** Benchmark harness entry. Modes:
  *  - `run --workload W --seed N --seconds S --trace 0|1 --data D --work DIR --cores C`
  *    prints one `metric name value unit n=samples` line per metric and
  *    ends with the result JSON line;
  *  - `oracles OUT` writes every line's DuckDB oracle SQL as TSV
  *    (name, SQL with newlines escaped) for the expected-digest step. */
object Main {

  def readExpected(path: String): Map[String, Expected] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      f(0) -> Expected(f(1).toLong, f(2), f(3).split(",").toSeq)
    }.toMap

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("oracles") =>
      val rows = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, sql) =>
        k + "\t" + sql.replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t")
      }
      Files.write(Paths.get(args(1)), (rows.mkString("\n") + "\n").getBytes("UTF-8"))
    case Some("run") =>
      val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
      val p = Params(
        workload = kv("workload"),
        seed = kv("seed").toLong,
        seconds = kv("seconds").toInt,
        trace = kv.getOrElse("trace", "0") == "1",
        data = kv("data"),
        work = kv("work"),
        cores = kv.getOrElse("cores", Runtime.getRuntime.availableProcessors().toString).toInt,
        small = kv.getOrElse("small", "0") == "1",
        badExpected = kv.get("bad-expected"),
        dropEvent = kv.getOrElse("drop-event", "0") == "1")
      val code = run(p)
      sys.exit(code)
    case _ =>
      System.err.println("usage: perfbench.Main run --workload W ... | oracles OUT")
      sys.exit(2)
  }

  private def run(p: Params): Int = {
    Files.createDirectories(Paths.get(p.work))
    val tr = new Trace(p.trace)
    val res = new Result
    try {
      p.workload match {
        case "flink_surface" | "llm_batch" => BatchWorkload.run(p, tr, res)
        case "cdc_upsert" => CdcWorkload.run(p, tr, res)
        case "dedup_stream" => DedupWorkload.run(p, tr, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.put("heap_peak_mb", Heap.peakMb, "MB")
      res.put("failed_frac", res.failed.toDouble / math.max(1L, res.attempted), "ratio",
        res.attempted.toInt)
    } finally {
      tr.detach()
      if (p.trace) Files.write(Paths.get(p.work, s"trace-${p.workload}-${p.seed}.json"),
        tr.toJson.getBytes("UTF-8"))
      Sessions.stopAll()
    }
    res.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
    res.invalid.foreach(w => System.err.println(s"perfbench: INVALID RUN $w"))
    res.metrics.foreach { case (k, m) =>
      println(s"metric $k ${Json.num(m.value)} ${m.unit} n=${m.samples}")
    }
    println(s"attempted ${res.attempted} failed ${res.failed}")
    val ms = res.metrics.map { case (k, m) =>
      s"${Json.quote(k)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.quote(m.unit)},\"samples\":${m.samples}}"
    }.mkString("{", ",", "}")
    val correct = res.failed == 0 && res.invalid.isEmpty
    println(s"""RESULT {"correct":$correct,"attempted":${res.attempted},"failed":${res.failed},"metrics":$ms}""")
    0
  }
}
