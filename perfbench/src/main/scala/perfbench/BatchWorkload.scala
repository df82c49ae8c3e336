package perfbench

import org.apache.spark.sql.SparkSession

import graft.{CachePool, SparkEntry}

/** flink_surface and llm_batch: one client in a closed loop over a
  * fixed set of catalog lines, each lap in a seeded order. One
  * operation is one line: `SparkEntry.queries(name)(spark, dir)`, its
  * physical planning, and one execution that digests every output
  * row, which is then checked against the line's DuckDB oracle. */
object BatchWorkload {

  val flinkSurface: Seq[String] =
    (1 to 12).map(i => f"q$i%02d") ++
      Seq("q13", "q14", "q15", "q16", "q17", "q51", "q81", "q82", "q92", "q103") ++
      Seq("q18", "q19", "q20", "q21", "q22", "q37", "q75", "q78", "q84", "q91")

  /** q65 (media) is left out: its query writes a hand-off table under a
    * fixed /tmp path, outside the directory the benchmark may write. */
  val llmBatch: Seq[String] =
    Seq("q25", "q26", "q44", "q54", "q56", "q42", "q58", "q60", "q38", "q59", "q70")

  def lines(workload: String): Seq[String] = {
    val short = if (workload == "flink_surface") flinkSurface else llmBatch
    val all = SparkEntry.queries.keys.toSeq
    short.map(s => all.find(_.startsWith(s + "_")).getOrElse(
      throw new IllegalStateException(s"no catalog line $s")))
  }

  /** Seeded order of lap `lap`. */
  def order(lines: Seq[String], seed: Long, lap: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + lap).shuffle(lines)

  final class Runner(p: Params, tr: Trace, res: Result) {
    /** Run one line; returns its wall time in ms (also when it fails). */
    def line(spark: SparkSession, dir: String, name: String): Double = {
      val exp = p.expected.get(name)
      res.attempted += 1
      val t0 = System.nanoTime()
      try {
        tr.span("line", name) {
          val df = tr.span("queries.build", name)(SparkEntry.queries(name)(spark, dir))
          tr.span("planning", name) {
            val qe = df.queryExecution
            qe.executedPlan
            tr.here.foreach { s =>
              qe.tracker.phases.foreach { case (ph, sum) => s.attrs(ph) = sum.durationMs.toDouble }
            }
          }
          val got = tr.span("exec", name)(RowHash.digest(df))
          exp match {
            case None => res.fail(s"$name: no oracle digest")
            case Some(e) =>
              val want = if (p.badExpected.contains(name.takeWhile(_ != '_')))
                f"${java.lang.Long.parseUnsignedLong(e.sumHex, 16) ^ 1L}%016x" else e.sumHex
              if (got.cols != e.cols || got.rows != e.rows || got.sumHex != want)
                res.fail(s"$name@${dir.split('/').last}: got ${got.rows} rows ${got.sumHex} " +
                  s"${got.cols.mkString(",")}; oracle ${e.rows} rows $want ${e.cols.mkString(",")}")
          }
        }
      } catch {
        case e: Exception =>
          res.fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      val ms = (System.nanoTime() - t0) / 1e6
      tr.span("CachePool.drain")(CachePool.drain())
      ms
    }

    /** One pass over `names`; returns (lap ms, per-line ms). */
    def lap(spark: SparkSession, dir: String, names: Seq[String]): (Double, Seq[Double]) = {
      val t0 = System.nanoTime()
      val per = tr.span("lap")(names.map(n => line(spark, dir, n)))
      val ms = (System.nanoTime() - t0) / 1e6
      System.err.println(f"perfbench: lap ${dir.split('/').last} $ms%.0f ms: " +
        names.zip(per).map { case (n, t) => f"${n.takeWhile(_ != '_')}=$t%.0f" }.mkString(" "))
      (ms, per)
    }
  }

  def run(p: Params, tr: Trace, res: Result): Unit = {
    val names = lines(p.workload)
    val r = new Runner(p, tr, res)
    // set-up: a fresh session, the seeded lap orders, and one probe line
    var spark: SparkSession = null
    var orders: Seq[Seq[String]] = Nil
    Setup.repeat(p, res) { _ =>
      spark = Sessions.fresh(p.cores, p.work)
      tr.attach(spark.sparkContext)
      orders = (0 until 64).map(l => order(names, p.seed, l))
      r.line(spark, p.data, names.head)
    }

    // Timed laps start right after set-up: the first lap pays for JIT
    // and for building any per-table artifact, as a fresh job does.
    if (!p.trace) {
      val deadline = System.nanoTime() + p.seconds * 1000000000L
      val laps = Iterator.from(0).map { l =>
        val out = r.lap(spark, p.data, orders(l % orders.size))
        Heap.sample()
        out
      }
      val done = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Double])]
      while (done.isEmpty || System.nanoTime() < deadline) done += laps.next()
      val lapMs = done.map(_._1).toSeq
      val lineMs = done.flatMap(_._2).toSeq
      res.put("pass_s", Stats.median(lapMs) / 1e3, "s", lapMs.size)
      res.put("op_p50_ms", Stats.quantile(lineMs, 0.5), "ms", lineMs.size)
      res.put("op_p90_ms", Stats.quantile(lineMs, 0.9), "ms", lineMs.size)
    } else traced(p, tr, res, r, spark, orders)
  }

  /** Traced run: an untraced lap as the untraced run makes it (cold:
    * `op_p50_ms`, `op_p90_ms`), a traced lap (the layer numbers), then
    * the same untraced lap on `local[1]`. A second untraced lap, to
    * divide the ratios by a warm lap, would not fit the time limit of
    * a run, so `trace.overhead` and `exec.speedup_vs_1core` divide by
    * the cold lap and read low. */
  private def traced(p: Params, tr: Trace, res: Result, r: Runner, spark0: SparkSession,
      orders: Seq[Seq[String]]): Unit = {
    tr.enabled = false
    val (plainMs, coldLines) = r.lap(spark0, p.data, orders(0))
    res.put("op_p50_ms", Stats.quantile(coldLines, 0.5), "ms", coldLines.size)
    res.put("op_p90_ms", Stats.quantile(coldLines, 0.9), "ms", coldLines.size)
    tr.enabled = true
    val (tracedMs, _) = r.lap(spark0, p.data, orders(1))
    Heap.sample()
    tr.settle()
    val lapSpan = tr.allSpans.filter(_.layer == "lap").last
    val all = tr.subtree(lapSpan)
    def self(layer: String) = all.filter(_.layer == layer).map(tr.selfMs).sum
    val builds = all.filter(_.layer == "queries.build")
    res.put("queries.build_ms", self("queries.build"), "ms", builds.size)
    res.put("queries.build_jobs", tr.jobsOf(builds).size.toDouble, "count", builds.size)
    val plans = all.filter(_.layer == "planning")
    Seq("analysis" -> "planning.analysis_ms", "optimization" -> "planning.optimization_ms",
      "planning" -> "planning.physical_ms").foreach { case (ph, k) =>
      res.put(k, plans.map(_.attrs.getOrElse(ph, 0.0)).sum, "ms", plans.size)
    }
    val jobs = tr.jobsOf(all)
    res.put("exec.jobs", jobs.size.toDouble, "count")
    Trace.putTotals(res, tr.stagesOf(jobs))
    val lineSpans = all.filter(_.layer == "line")
    res.put("exec.driver_gap_ms", lineSpans.map(tr.driverGapMs).sum, "ms", lineSpans.size)
    res.put("exec.core_util", res.metrics("exec.task_run_ms").value / (tracedMs * p.cores), "ratio")
    res.put("CachePool.drain_ms", self("CachePool.drain"), "ms")
    res.put("trace.overhead", tracedMs / plainMs, "ratio")
    // the same pass on one core
    tr.enabled = false
    val one = Sessions.fresh(1, p.work)
    tr.attach(one.sparkContext)
    val (oneMs, _) = r.lap(one, p.data, orders(0))
    res.put("exec.speedup_vs_1core", oneMs / plainMs, "ratio")
  }
}
