package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** One metric as printed: value, unit and how many samples made it. */
final case class Metric(value: Double, unit: String, samples: Int)

/** What a run reports: metrics by name plus the operation tally. */
final class Result {
  val metrics: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  /** A run whose load was not what it claims (a late generator). */
  var invalid: Option[String] = None
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = Metric(value, unit, samples)

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
  }
}

/** Peak heap in use right after a full collection. Spark frees
  * broadcast and shuffle blocks from a cleaner thread once a collection
  * has found them unreachable, so the heap is read after a second
  * collection that follows the cleaner's pass. */
object Heap {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Sessions {
  /** A fresh graft session on `local[cores]`, with every file Spark
    * writes kept under `work`. Stops any previous one first. */
  def fresh(cores: Int, work: String): SparkSession = {
    stopAll()
    val spark = graft.GraftSession.tuned(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      shufflePartitions = cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("PERFBENCH_LOG", "ERROR"))
    spark
  }

  def stopAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Set-up, repeated: every set-up is timed the same way, from its own
  * start until the workload could take its first timed operation, and
  * `setup_s` is their median. Tearing the previous one down (`undo`)
  * is not timed. `jvm_start_s` is reported apart: JVM start until the
  * first set-up is done (class loading included). A traced run, whose
  * result holds no `setup_s`, sets up once. */
object Setup {
  val Times = 9

  def repeat(p: Params, res: Result, undo: () => Unit = () => Sessions.stopAll())(one: Int => Unit): Unit = {
    val secs = (0 until (if (p.trace) 1 else Times)).map { i =>
      if (i > 0) undo()
      val t0 = System.nanoTime()
      one(i)
      if (i == 0) res.put("jvm_start_s", (System.currentTimeMillis() - Clock.jvmStartMs) / 1e3, "s")
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(secs.map(s => f"$s%.2f").mkString("perfbench: set-ups ", " ", " s"))
    res.put("setup_s", Stats.median(secs), "s", secs.size)
  }
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
