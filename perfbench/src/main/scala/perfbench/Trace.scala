package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed region around one call into graft, made from the harness. */
final class Span(val id: Int, val layer: String, val name: String, val parent: Int,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
}

final class StageRec(val id: Int, val job: Int) {
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  val durations = ArrayBuffer.empty[Long]
}

final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  var endMs = 0L
  var stages: Seq[Int] = Nil
}

/** Spans (name, start, end, parent, id) kept in memory, plus a
  * SparkListener that ties every job to the span that submitted it
  * through the `perfbench.span` local property. With tracing off,
  * `span` only runs its body: no listener, no property, no record. */
final class Trace(initial: Boolean) {
  import Trace.Key

  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  private var ids = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private var sc: SparkContext = _

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, span, e.time)
      j.stages = e.stageIds
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new StageRec(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach { s =>
        s.submitMs = i.submissionTime.getOrElse(0L)
        s.completeMs = i.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.durations += e.taskInfo.duration
      }
    }
  }

  private var on = initial

  def enabled: Boolean = on

  /** Turn tracing on or off; off removes the listener as well. */
  def enabled_=(v: Boolean): Unit = if (v != on) {
    if (sc != null) {
      if (v) sc.addSparkListener(listener)
      else { settle(); sc.removeSparkListener(listener) }
    }
    on = v
  }

  /** Attach to a (new) SparkContext; the listener moves with it. */
  def attach(ctx: SparkContext): Unit = {
    if (on) {
      if (sc != null) sc.removeSparkListener(listener)
      ctx.addSparkListener(listener)
    }
    sc = ctx
  }

  def detach(): Unit = if (on && sc != null) {
    settle()
    sc.removeSparkListener(listener)
  }

  def span[A](layer: String, name: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val parent = current.get
      val s = synchronized {
        ids += 1
        val s = new Span(ids, layer, name, if (parent == null) 0 else parent.id, System.nanoTime())
        spans += s
        s
      }
      val prevProp = sc.getLocalProperty(Key)
      current.set(s)
      sc.setLocalProperty(Key, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(Key, prevProp)
      }
    }

  /** The innermost open span of this thread (for attributes). */
  def here: Option[Span] = Option(current.get)

  /** Deliver every queued listener event before reading totals. */
  def settle(): Unit = if (sc != null && !sc.isStopped) org.apache.spark.PerfbenchBridge.waitForListeners(sc)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Spans below `root` (inclusive). */
  def subtree(root: Span): Seq[Span] = synchronized {
    val byParent = spans.groupBy(_.parent)
    val out = ArrayBuffer(root)
    var i = 0
    while (i < out.length) { out ++= byParent.getOrElse(out(i).id, Nil); i += 1 }
    out.toList
  }

  /** Time spent in a span minus the time of its child spans. */
  def selfMs(s: Span): Double = synchronized {
    s.ms - spans.filter(c => c.parent == s.id && c.endNs > 0).map(_.ms).sum
  }

  def jobsOf(spanSet: Seq[Span]): Seq[JobRec] = synchronized {
    val ids = spanSet.map(_.id).toSet
    jobs.values.filter(j => ids.contains(j.span)).toList
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => ids.contains(s.job)).toList
  }

  /** Wall time of `s` not covered by any stage of its jobs. */
  def driverGapMs(s: Span): Double = {
    val iv = stagesOf(jobsOf(subtree(s))).filter(st => st.submitMs > 0 && st.completeMs > 0)
      .map(st => (st.submitMs, st.completeMs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.ms - covered)
  }

  /** Spans, jobs and stages as JSON, for the detail file. */
  def toJson: String = synchronized {
    def q(s: String) = Json.quote(s)
    val sp = spans.map { s =>
      val a = s.attrs.map { case (k, v) => q(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"layer":${q(s.layer)},"name":${q(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":$a}"""
    }
    val jb = jobs.values.map(j =>
      s"""{"id":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages.mkString("[", ",", "]")}}""")
    val st = stages.values.map(s =>
      s"""{"id":${s.id},"job":${s.job},"submit_ms":${s.submitMs},"complete_ms":${s.completeMs},""" +
        s""""tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},""" +
        s""""shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead},"spill":${s.spill},"input":${s.input}}""")
    s"""{"spans":${sp.mkString("[", ",\n", "]")},"jobs":${jb.mkString("[", ",\n", "]")},"stages":${st.mkString("[", ",\n", "]")}}"""
  }
}

object Trace {
  val Key = "perfbench.span"

  /** Puts every executor-side total of `st` into `res`. */
  def putTotals(res: Result, st: Seq[StageRec]): Unit = execTotals(st).foreach { case (k, v) =>
    res.put(k, v, if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes"
      else if (k == "exec.task_skew") "ratio" else "count")
  }

  /** Executor-side totals over a set of stages. */
  def execTotals(st: Seq[StageRec]): Map[String, Double] = {
    val skews = st.filter(_.durations.size >= 2).map { s =>
      val d = s.durations.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }
    Map(
      "exec.stages" -> st.size.toDouble,
      "exec.tasks" -> st.map(_.tasks).sum.toDouble,
      "exec.task_run_ms" -> st.map(_.runMs).sum.toDouble,
      "exec.task_cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> st.map(_.gcMs).sum.toDouble,
      "exec.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "exec.input_bytes" -> st.map(_.input).sum.toDouble,
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
  }
}
