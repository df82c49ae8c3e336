package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.streaming.ClusterMaintenance

/** dedup_stream: a closed loop. A seeded sample of the `documents`
  * table is cut into micro-batches and folded one after the other with
  * `ClusterMaintenance.processBatch`, compacting every `CompactEvery`
  * batches, so the stored history grows across at least two
  * compactions. The final `ClusterMaintenance.loadClusters` must equal
  * the batch chain (`Dedup.jaccardPairsHashed` and
  * `Dedup.connectedComponents`) over the same documents. */
object DedupWorkload {

  val CompactEvery = 4
  val Batches = 10

  def run(p: Params, tr: Trace, res: Result): Unit = {
    var spark: SparkSession = null
    var batches: Seq[Seq[(Long, String)]] = Nil
    Setup.repeat(p, res) { _ =>
      spark = Sessions.fresh(p.cores, p.work)
      tr.attach(spark.sparkContext)
      batches = sample(spark, p, if (p.small) 20 else 40, Batches)
    }
    // warm-up: three small batches, one of them compacting, into a
    // throw-away store
    val w0 = System.nanoTime()
    batches.flatten.take(30).grouped(10).zipWithIndex.foreach { case (b, id) =>
      ClusterMaintenance.processBatch(frame(spark, b), id.toLong, s"${p.work}/dedup-warm", "doc_id",
        "text", compactEvery = 2)
    }
    res.put("warmup_s", (System.nanoTime() - w0) / 1e9, "s")

    val root = s"${p.work}/dedup-${p.seed}"
    val t0 = System.nanoTime()
    val times = fold(spark, tr, res, batches, root, CompactEvery)
    val passS = (System.nanoTime() - t0) / 1e9
    Heap.sample()
    check(spark, res, batches, root)

    res.put("pass_s", passS, "s", times.size)
    res.put("op_p50_ms", Stats.quantile(times, 0.5), "ms", times.size)
    res.put("op_p90_ms", Stats.quantile(times, 0.9), "ms", times.size)
    layers(tr, res, times, root, CompactEvery)
    if (p.trace) {
      val spans = tr.allSpans.filter(_.layer == "streaming.cm_batch")
      val jobs = tr.jobsOf(spans)
      res.put("exec.jobs", jobs.size.toDouble, "count")
      Trace.putTotals(res, tr.stagesOf(jobs))
      res.put("exec.driver_gap_ms", spans.map(tr.driverGapMs).sum, "ms", spans.size)
      res.put("exec.core_util", res.metrics("exec.task_run_ms").value / (passS * 1000 * p.cores), "ratio")
    }
  }

  /** The `streaming.cm_*` layer for the traced run of another workload,
    * in its session: five batches of 12 documents, compacting every
    * two, so the fold crosses two compactions. */
  def layersOnly(p: Params, tr: Trace, res: Result, spark: SparkSession): Unit = {
    val batches = sample(spark, p, 12, 5)
    val root = s"${p.work}/dedup-layers-${p.seed}"
    val times = fold(spark, tr, res, batches, root, 2)
    check(spark, res, batches, root)
    layers(tr, res, times, root, 2)
  }

  /** `batches` seeded batches of `perBatch` distinct documents. About a
    * quarter of them come in near-duplicate pairs (a document and its
    * copy plus one word, as `gen_data.py` makes them), so the clusters
    * the fold must maintain are never empty; at random, a few hundred of
    * 5000 documents would hold almost no pair. */
  private def sample(spark: SparkSession, p: Params, perBatch: Int, batches: Int): Seq[Seq[(Long, String)]] = {
    val docs = spark.read.parquet(s"${p.data}/documents.parquet")
      .select(col("doc_id"), col("text")).collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    val rnd = new scala.util.Random(p.seed)
    val n = perBatch * batches
    val byText = docs.groupBy(_._2)
    val paired = rnd.shuffle(docs.filter(_._2.endsWith(" dup")))
      .flatMap(d => byText.get(d._2.stripSuffix(" dup")).map(src => Seq(d, src.head)))
      .take(n / 8).flatten.distinct
    val chosen = (paired ++ rnd.shuffle(docs)).distinct.take(n)
    rnd.shuffle(chosen).grouped(perBatch).toSeq
  }

  /** Folds every batch with `processBatch`; returns each batch's ms. */
  private def fold(spark: SparkSession, tr: Trace, res: Result, batches: Seq[Seq[(Long, String)]],
      root: String, compactEvery: Int): Seq[Double] =
    batches.zipWithIndex.map { case (b, id) =>
      res.attempted += 1
      val df = frame(spark, b)
      val t = System.nanoTime()
      try tr.span("streaming.cm_batch", id.toString) {
        ClusterMaintenance.processBatch(df, id.toLong, root, "doc_id", "text", compactEvery = compactEvery)
      } catch {
        case e: Exception =>
          res.fail(s"batch $id: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      val ms = Clock.ms(t)
      System.err.println(f"perfbench: dedup batch $id ${b.size} docs $ms%.0f ms")
      ms
    }

  /** The maintained clusters against the batch chain. */
  private def check(spark: SparkSession, res: Result, batches: Seq[Seq[(Long, String)]],
      root: String): Unit = {
    res.attempted += 1
    val got = clusterSet(ClusterMaintenance.loadClusters(spark, root))
    val all = frame(spark, batches.flatten)
    val pairs = Dedup.jaccardPairsHashed(
      Dedup.hashedShingleSets(all, col("doc_id"), col("text"), 5), 0.6)
    val want = clusterSet(Dedup.connectedComponents(pairs))
    graft.CachePool.drain()
    if (got != want || want.isEmpty)
      res.fail(s"clusters: ${got.size} maintained rows vs ${want.size} from the batch chain, " +
        s"${(got diff want).size + (want diff got).size} differ")
  }

  private def layers(tr: Trace, res: Result, times: Seq[Double], root: String, compactEvery: Int): Unit = {
    val compacting = times.indices.filter(i => i > 0 && i % compactEvery == 0)
    val firstCompact = compacting.headOption.getOrElse(times.size)
    val pre = times.indices.filter(i => i < firstCompact)
    val post = times.indices.filter(i => i > firstCompact && !compacting.contains(i))
    def med(ix: Seq[Int]) = if (ix.isEmpty) 0.0 else Stats.median(ix.map(times))
    res.put("streaming.cm_batch_pre_ms", med(pre), "ms", pre.size)
    res.put("streaming.cm_batch_post_ms", med(post), "ms", post.size)
    res.put("streaming.cm_compact_batch_ms", med(compacting), "ms", compacting.size)
    res.put("streaming.cm_store_bytes", bytes(new java.io.File(root)).toDouble, "bytes")
    if (tr.enabled) {
      tr.settle()
      val spans = tr.allSpans.filter(_.layer == "streaming.cm_batch")
      val jobs = tr.jobsOf(spans)
      res.put("streaming.cm_jobs_per_batch", jobs.size.toDouble / math.max(1, spans.size), "count")
      res.put("streaming.cm_input_bytes_per_batch",
        Trace.execTotals(tr.stagesOf(jobs))("exec.input_bytes") / math.max(1, spans.size), "bytes")
    }
  }

  private def frame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  private def clusterSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id"), col("cluster_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
