package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", cores = 4)
  val sfDir = "/root/testdata/sf0.001"

  /** `f`'s result and the number of Spark jobs it launched from this
    * thread. Jobs are told apart by a local property set only while `f`
    * runs, so jobs of other threads do not count. Listener delivery is
    * asynchronous but ordered: a fence job tagged after `f` is waited
    * for, and once its start arrives every earlier start has. */
  def jobsLaunchedBy[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobProbe"
    val tag = java.util.UUID.randomUUID.toString
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(starts.put)
    }
    def tagged[A](v: String)(g: => A): A = {
      sc.setLocalProperty(key, v)
      try g finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      val out = tagged(tag)(f)
      tagged(s"$tag/fence")(sc.parallelize(Seq(1), 1).count())
      var n = 0
      var v = ""
      while (v != s"$tag/fence") {
        v = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(v != null, "no job start event within 60 s")
        if (v == tag) n += 1
      }
      (out, n)
    } finally sc.removeSparkListener(listener)
  }
}
