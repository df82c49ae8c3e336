package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sinks.UpsertSink
import graft.streaming.Pipelines

/** cdc_upsert: an open loop. A seeded canal-json changelog (INSERT,
  * UPDATE and DELETE over skewed keys, a share of them with an
  * out-of-order `ts`) is offered on a fixed schedule, then in
  * `Bursts` bursts, through a MemoryStream into
  * `Pipelines.canalUpsertPipeline`; `foreachBatch`
  * lands every batch with `UpsertSink.writeBatch`, compacts with
  * `UpsertSink.compact` every `CompactEvery` batches and reads the
  * current table with `UpsertSink.read` every `ReadEvery` batches.
  *
  * Every event is stamped with its scheduled time. An event's commit
  * latency runs from that time until the `writeBatch` of the batch
  * that holds it returns. Every read and the final table are compared
  * with the last-writer-wins state of the events offered so far. */
object CdcWorkload {

  val TriggerMs = 200L
  val CompactEvery = 8L
  val ReadEvery = 4L
  /** Generator wake-up period: a chunk is offered at most this often. */
  val TickMs = 10L
  /** Bursts offered after the fixed-rate phase, each all at once and
    * drained before the next, so each is one batch: eight of them hold
    * exactly one compaction and two reads wherever they start.
    * `pass_s` is the sum of their drain times. */
  val Bursts = 8

  /** One changelog event. kind: 0 INSERT, 1 UPDATE, 2 DELETE. */
  final case class Ev(pk: Long, ts: Long, kind: Int, value: Double, old: Double) {
    def json: String = {
      val data = f"""[{"id":"$pk","amount":"$value%.2f"}]"""
      kind match {
        case 0 => s"""{"data":$data,"type":"INSERT","table":"t","ts":$ts}"""
        case 1 => f"""{"data":$data,"old":[{"amount":"$old%.2f"}],"type":"UPDATE","table":"t","ts":$ts}"""
        case _ => s"""{"data":$data,"type":"DELETE","table":"t","ts":$ts}"""
      }
    }
    /** Rank of the image this event leaves (UPDATE: its +U row). */
    def rank: Int = kind match { case 0 => 1; case 1 => 2; case _ => 3 }
  }

  /** Seeded changelog: keys skewed towards small ids, ~5% of events
    * stamped up to 2000 events in the past; (pk, ts) is unique. */
  def changelog(seed: Long, n: Int, keys: Int): Array[Ev] = {
    val rnd = new java.util.SplittableRandom(seed)
    val live = mutable.HashMap.empty[Long, Double]
    val used = mutable.HashSet.empty[(Long, Long)]
    Array.tabulate(n) { i =>
      val pk = (keys * math.pow(rnd.nextDouble(), 3)).toLong
      val v = math.rint(rnd.nextDouble() * 100000) / 100
      var ts = 1000000L + i * 16L
      if (rnd.nextDouble() < 0.05) {
        val late = 1000000L + (i - 1 - rnd.nextInt(2000)) * 16L + 1 + rnd.nextInt(15)
        if (!used((pk, late))) ts = late
      }
      used += ((pk, ts))
      live.get(pk) match {
        case None => live(pk) = v; Ev(pk, ts, 0, v, 0.0)
        case Some(cur) if rnd.nextDouble() < 0.75 => live(pk) = v; Ev(pk, ts, 1, v, cur)
        case Some(cur) => live.remove(pk); Ev(pk, ts, 2, cur, 0.0)
      }
    }
  }

  /** Last-writer-wins by (ts, rank): pk -> (ts, rank, value, dead). */
  final class Reference {
    val state = mutable.HashMap.empty[Long, (Long, Int, Double, Boolean)]
    def add(e: Ev): Unit = {
      val cand = (e.ts, e.rank, e.value, e.kind == 2)
      state.get(e.pk) match {
        case Some(c) if c._1 > e.ts || (c._1 == e.ts && c._2 > e.rank) =>
        case _ => state(e.pk) = cand
      }
    }
    def live: Map[Long, (Long, Double)] =
      state.collect { case (pk, (ts, _, v, false)) => pk -> (ts, v) }.toMap
  }

  def digest(rows: Iterable[(Long, (Long, Double))]): Long = rows.iterator.map { case (pk, (ts, v)) =>
    scala.util.hashing.MurmurHash3.productHash((pk, ts, v)).toLong * 0x9e3779b97f4a7c15L
  }.sum

  /** One offered chunk: the MemoryStream offset it became, its events
    * [from, until) and the scheduled time of each. */
  final case class Chunk(offset: Long, from: Int, until: Int)

  /** State of one running stream. */
  final class Stream(val spark: SparkSession, val root: String, val tr: Trace, cores: Int) {
    // one input partition per core, however many chunks a batch holds
    val in: MemoryStream[String] = MemoryStream[String](spark, cores)(spark.implicits.newStringEncoder)
    val commitNs = new ConcurrentHashMap[Long, Long]()
    val endOffset = new ConcurrentHashMap[Long, Long]()
    val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double, Int)]()
    val writeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val compactMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

    private val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.durationMs.containsKey("addBatch") && p.sources.nonEmpty) {
          progress.put(p.batchId, p)
          Option(p.sources(0).endOffset).foreach(o => endOffset.put(p.batchId, o.trim.toLong))
        }
      }
    }
    spark.streams.addListener(listener)

    private def sinkBatch(ds: Dataset[Pipelines.Upsert], batchId: Long): Unit = {
      import ds.sparkSession.implicits._
      tr.span("streaming.batch", batchId.toString) {
        val changes = ds.map(u => UpsertSink.UpsertChange(if (u.deleted) "-D" else "+U",
          u.pk, u.value.toString, u.ts))
        val t0 = System.nanoTime()
        tr.span("sinks.write")(UpsertSink.writeBatch(changes, batchId, root))
        commitNs.put(batchId, System.nanoTime())
        writeMs.add(Clock.ms(t0))
        if (batchId % CompactEvery == CompactEvery - 1) {
          val t1 = System.nanoTime()
          tr.span("sinks.compact")(UpsertSink.compact(ds.sparkSession, root))
          compactMs.add(Clock.ms(t1))
        }
        if (batchId % ReadEvery == ReadEvery - 1) {
          val segs = Option(new java.io.File(root).list()).map(_.count(_.startsWith("seg="))).getOrElse(0)
          val t2 = System.nanoTime()
          val rows = tr.span("sinks.read")(UpsertSink.read(ds.sparkSession, root).collect())
          val ms = Clock.ms(t2)
          reads.add((batchId, digest(rows.map(r => r.getLong(0) -> (r.getLong(2), r.getString(1).toDouble))),
            ms, segs))
        }
      }
    }

    val query: StreamingQuery = Pipelines.canalUpsertPipeline(in.toDF().toDF("payload"), "payload", "id", "amount")
      .writeStream
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", root + "_ckpt")
      .foreachBatch((ds: Dataset[Pipelines.Upsert], id: Long) => sinkBatch(ds, id))
      .start()

    def stop(): Unit = {
      query.stop()
      org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
  }

  /** The single generator thread: offers events [from, until) at
    * `rate` events/s from `startNs`, one chunk per wake-up. */
  final class Generator(s: Stream, evs: Array[Ev], sched: Array[Long], skip: Int) {
    val chunks = ArrayBuffer.empty[Chunk]
    val lagMs = ArrayBuffer.empty[Double]
    def offer(from: Int, until: Int, rate: Double, startNs: Long): Unit = {
      var i = from
      while (i < until) {
        val now = System.nanoTime()
        var j = i
        while (j < until && startNs + ((j - from) * 1e9 / rate).toLong <= now) j += 1
        if (j > i) {
          (i until j).foreach(k => sched(k) = startNs + ((k - from) * 1e9 / rate).toLong)
          lagMs += (now - sched(i)) / 1e6
          val batch = (i until j).filter(_ != skip).map(k => evs(k).json)
          val off = s.in.addData(batch).json().trim.toLong
          chunks += Chunk(off, i, j)
          i = j
        } else Thread.sleep(TickMs)
      }
    }
  }

  def run(p: Params, tr: Trace, res: Result): Unit = {
    val scale = if (p.small) 0.1 else 1.0
    val latRate = 2000.0 * scale
    val latSecs = math.max(1.0, p.seconds * 0.45)
    val warmSecs = math.max(0.5, p.seconds * 0.15)
    val burstEvents = (20000 * scale).toInt
    val warmN = (latRate * warmSecs).toInt
    val latN = (latRate * latSecs).toInt
    val n = 500 + warmN + latN + Bursts * burstEvents
    val keys = (20000 * scale).toInt

    var evs: Array[Ev] = null
    var stream: Stream = null
    Setup.repeat(p, res, undo = () => { stream.stop(); Sessions.stopAll() }) { i =>
      val spark = Sessions.fresh(p.cores, p.work)
      tr.attach(spark.sparkContext)
      evs = changelog(p.seed, n, keys)
      stream = new Stream(spark, s"${p.work}/cdc-${p.seed}-$i", tr, p.cores)
      stream.in.addData(evs.take(500).map(_.json).toSeq)
      stream.query.processAllAvailable()
    }
    val s = stream
    val sched = Array.fill(n)(0L)
    val drop = if (p.dropEvent) {
      // the final winning event of the busiest key: dropping it must show
      val last = evs.indices.drop(500).groupBy(i => evs(i).pk).maxBy(_._2.size)._2
      last.maxBy(i => (evs(i).ts, evs(i).rank))
    } else -1
    val gen = new Generator(s, evs, sched, drop)
    (0 until 500).foreach(k => sched(k) = System.nanoTime())
    gen.chunks += Chunk(0L, 0, 500)

    val pre = s.commitNs.keySet().asScala.size
    val bounds = Seq(500, 500 + warmN, 500 + warmN + latN)
    val t0 = System.nanoTime()
    gen.offer(bounds(0), bounds(1), latRate, t0)
    val tLat = System.nanoTime()
    gen.offer(bounds(1), bounds(2), latRate, tLat)
    val tSat = System.nanoTime()
    // drain time of each burst: offered until the stream is idle again
    // (its batch written, compacted or read as due)
    val drainS = (0 until Bursts).map { b =>
      val from = bounds(2) + b * burstEvents
      val t = System.nanoTime()
      gen.offer(from, from + burstEvents, Double.PositiveInfinity, t)
      s.query.processAllAvailable()
      (System.nanoTime() - t) / 1e9
    }
    val tEnd = System.nanoTime()
    Heap.sample()
    s.stop()
    tr.settle()

    // ---- attribute events to the batches that committed them ---------
    val ends = s.endOffset.asScala.toSeq.sortBy(_._1)
    def commitOf(off: Long): Option[Long] =
      ends.find(_._2 >= off).flatMap { case (b, _) => Option(s.commitNs.get(b)).map(_.longValue) }
    val evCommit = Array.fill(n)(-1L)
    gen.chunks.foreach { c =>
      commitOf(c.offset) match {
        case Some(ns) => (c.from until c.until).foreach(k => evCommit(k) = ns)
        case None => (c.from until c.until).foreach(k => if (k != drop) res.fail(s"event $k never committed"))
      }
    }
    val latMs = (bounds(1) until bounds(2)).filter(evCommit(_) > 0).map(k => (evCommit(k) - sched(k)) / 1e6)

    // ---- correctness: every read, then the final table ----------------
    res.attempted += n
    val ref = new Reference
    val chunkEnd = gen.chunks.map(c => c.offset -> c).toMap
    var applied = -1L
    def applyTo(off: Long): Unit = while (applied < off) {
      applied += 1
      chunkEnd.get(applied).foreach(c => (c.from until c.until).foreach(k => ref.add(evs(k))))
    }
    val reads = s.reads.asScala.toSeq.sortBy(_._1)
    reads.foreach { case (b, dg, _, _) =>
      res.attempted += 1
      Option(s.endOffset.get(b)) match {
        case Some(off) =>
          applyTo(off)
          if (digest(ref.live) != dg) res.fail(s"read after batch $b differs from the reference")
        case None => res.fail(s"read after batch $b: batch never reported")
      }
    }
    applyTo(gen.chunks.map(_.offset).max)
    val spark = s.spark
    val got = UpsertSink.read(spark, s.root).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(1).toDouble)).toMap
    val want = ref.live
    res.attempted += 1
    val bad = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    if (bad > 0) res.fail(s"final table: $bad of ${want.size} keys differ from the reference")
    val lag = gen.lagMs.toSeq
    if (lag.nonEmpty && (Stats.quantile(lag, 0.99) > 100 || lag.max > 1000))
      res.invalid = Some(f"generator fell behind its schedule: p99 lag ${Stats.quantile(lag, 0.99)}%.1f ms")

    val readMs = reads.map(_._3)
    System.err.println(drainS.map(d => f"$d%.2f").mkString("perfbench: burst drains ", " ", " s"))
    res.put("pass_s", drainS.sum, "s", drainS.size)
    res.put("op_p50_ms", Stats.quantile(latMs, 0.5), "ms", latMs.size)
    res.put("op_p90_ms", Stats.quantile(latMs, 0.9), "ms", latMs.size)
    res.put("commit_p99_ms", Stats.quantile(latMs, 0.99), "ms", latMs.size)

    // ---- layers ------------------------------------------------------
    res.put("sources.generator_lag_ms", if (lag.isEmpty) 0.0 else Stats.quantile(lag, 0.99), "ms", lag.size)
    // backlog slope over the fixed-rate phase: offered minus committed
    val latBatches = ends.filter { case (b, _) =>
      Option(s.commitNs.get(b)).exists(ns => ns >= tLat && ns < tSat)
    }
    val pts = latBatches.flatMap { case (b, off) =>
      val ns = s.commitNs.get(b)
      val offered = (bounds(1) until bounds(2)).count(k => sched(k) > 0 && sched(k) <= ns)
      val committed = (bounds(1) until bounds(2)).count(k => evCommit(k) > 0 && evCommit(k) <= ns)
      Some(((ns - tLat) / 1e9, (offered - committed).toDouble))
    }
    res.put("sources.backlog_events", slope(pts), "1/s", pts.size)
    val prog = s.progress.asScala.toSeq.sortBy(_._1).map(_._2).filter(_.batchId >= pre)
    def dur(k: String) = prog.map(pp => Option(pp.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    res.put("streaming.trigger_ms", med(dur("triggerExecution")), "ms", prog.size)
    res.put("streaming.add_batch_ms", med(dur("addBatch")), "ms", prog.size)
    res.put("streaming.query_planning_ms", med(dur("queryPlanning")), "ms", prog.size)
    res.put("streaming.wal_commit_ms", med(dur("walCommit")), "ms", prog.size)
    val st = prog.flatMap(_.stateOperators.headOption)
    if (st.nonEmpty) {
      res.put("streaming.state_rows", st.last.numRowsTotal.toDouble, "count")
      res.put("streaming.state_rows_updated", med(st.map(_.numRowsUpdated.toDouble)), "count", st.size)
      res.put("streaming.state_bytes", st.last.memoryUsedBytes.toDouble, "bytes")
      res.put("streaming.state_commit_ms", med(st.map(_.commitTimeMs.toDouble)), "ms", st.size)
    }
    val w = s.writeMs.asScala.toSeq
    val c = s.compactMs.asScala.toSeq
    res.put("sinks.write_ms", med(w), "ms", w.size)
    res.put("sinks.compact_ms", med(c), "ms", c.size)
    res.put("sinks.read_ms", med(readMs), "ms", readMs.size)
    res.put("sinks.segments_per_read", med(reads.map(_._4.toDouble)), "count", reads.size)
    res.put("sinks.store_bytes_per_live_byte", storeRatio(spark, s.root, p.work), "ratio")
    if (p.trace) {
      val batches = tr.allSpans.filter(b => b.layer == "streaming.batch" && b.startNs >= tLat && b.endNs > 0)
      val jobs = tr.jobsOf(batches.flatMap(tr.subtree))
      res.put("exec.jobs", jobs.size.toDouble, "count")
      Trace.putTotals(res, tr.stagesOf(jobs))
      res.put("exec.driver_gap_ms", med(batches.map(tr.driverGapMs)), "ms", batches.size)
      res.put("exec.core_util", res.metrics("exec.task_run_ms").value /
        ((tEnd - tLat) / 1e6 * p.cores), "ratio")
      // the ClusterMaintenance layer (dedup_stream's) has no kept
      // workload of its own; a short fold here measures it
      DedupWorkload.layersOnly(p, tr, res, spark)
    }
  }

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val sxx = pts.map(q => (q._1 - mx) * (q._1 - mx)).sum
      if (sxx == 0) 0.0 else pts.map(q => (q._1 - mx) * (q._2 - my)).sum / sxx
    }

  /** Bytes the sink keeps on disk per byte of its live table written
    * once as parquet. */
  private def storeRatio(spark: SparkSession, root: String, work: String): Double = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    val once = s"$work/cdc-live-once"
    UpsertSink.read(spark, root).coalesce(1).write.mode("overwrite").parquet(once)
    bytes(new java.io.File(root)).toDouble / math.max(1L, bytes(new java.io.File(once)))
  }
}
