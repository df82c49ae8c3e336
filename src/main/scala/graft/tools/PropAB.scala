package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{CachePool, GraftSession, SparkEntry}

/** Dev profiler: generic paired same-JVM A/B over a system property
  * read at plan-construction time (any toggleable implementation
  * choice — e.g. `graft.tokens` hof vs native). Interleaved pairs cancel this machine's burst drift.
  *
  * Usage: graft.tools.PropAB <prop> <valA> <valB> <q1,q2,...> [pairs]
  */
object PropAB {
  def main(args: Array[String]): Unit = {
    val prop = args(0)
    val valA = args(1)
    val valB = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val pairs = if (args.length > 4) args(4).toInt else 5
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString).toInt
    val spark = GraftSession.heavyBatch(GraftSession.tuned(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-prop-ab"),
      shufflePartitions = cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Unit = name match {
      case "q38_train" =>
        graft.operators.IvfIndex.clearMemo("#ivf|")
        graft.queries.SimilarityQ.ivfModel(spark, d); ()
      case "q53_train" =>
        graft.operators.IvfIndex.clearMemo("#semdedup|")
        graft.queries.SimilarityQ.semdedupModel(spark, d); ()
      case _ =>
        SparkEntry.queries(name)(spark, d).queryExecution.toRdd.count(); ()
    }

    for (name <- names) {
      for (_ <- 1 to 2; v <- Seq(valA, valB)) {
        sys.props(prop) = v
        try runOnce(name) catch { case e: Throwable =>
          System.err.println(s"AB $name warmup($v) FAILED: ${e.getMessage}") }
        CachePool.drain()
      }
      val ta = scala.collection.mutable.ArrayBuffer.empty[Double]
      val tb = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (i <- 1 to pairs; v <- Seq(valA, valB)) {
        sys.props(prop) = v
        val t0 = System.nanoTime()
        runOnce(name)
        val el = (System.nanoTime() - t0) / 1e9
        CachePool.drain()
        (if (v == valA) ta else tb) += el
        println(f"AB $name pair $i $v: $el%.3f s")
      }
      def med(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
      println(f"ABRESULT $name $valA=${med(ta.toSeq)}%.3f $valB=${med(tb.toSeq)}%.3f " +
        f"ratio=${med(tb.toSeq) / med(ta.toSeq)}%.2f")
    }
    spark.stop()
  }
}
