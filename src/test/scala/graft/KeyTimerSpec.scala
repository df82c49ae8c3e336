package graft

import java.sql.Timestamp

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CepRunsStream, OverAggStream}

/** The one-timer-per-key rule ([[graft.streaming.KeyTimer]]) never
  * deletes the timer that is firing: Spark deletes it itself after
  * `handleExpiredTimer` returns, and a handler that deleted it first
  * makes Spark's `TimerStateImpl` log `Failed to delete timer … since
  * it does not exist` once per firing. Runs an OVER aggregation and a
  * CEP runs stream whose keys emit through their timers, and asserts
  * the timer log stays clean.
  */
class KeyTimerSpec extends AnyFunSuite {
  import TestSpark._

  private val timerLog =
    "org.apache.spark.sql.execution.streaming.operators.stateful.transformwithstate.timers.TimerStateImpl"

  /** `f`'s result and the messages `TimerStateImpl` logged meanwhile. */
  private def timerMessages[T](f: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-timer-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    app.start()
    val logger = LogManager.getLogger(timerLog).asInstanceOf[CoreLogger]
    logger.addAppender(app)
    try {
      val out = f
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      logger.removeAppender(app)
      app.stop()
    }
  }

  private def us(u: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(u, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(u, 1000000L) * 1000L).toInt)
    t
  }

  private val flush = Timestamp.valueOf("2030-01-01 00:00:00")

  // rows: (user_id, event_id, ts, event_type)
  private type Ev = (Long, Long, Timestamp, String)

  private def assertNoTimerWarnings(msgs: Seq[String]): Unit = {
    val bad = msgs.filter(m => m.contains("Failed to delete timer") || m.contains("Failed to register timer"))
    assert(bad.isEmpty, s"${bad.size} timer warnings, e.g. ${bad.take(3).mkString("; ")}")
  }

  test("over_agg: keys flushed by their timers log no timer warning") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = OverAggStream.overAgg(
        in.toDF().toDF("user_id", "event_id", "ts", "value"),
        window = java.time.Duration.ofSeconds(1), watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("keytimer_over").start()
    val (got, msgs) = try timerMessages {
      in.addData((1L to 20L).map(k => (k, k * 10, us(1000000L * k), 1.0)))
      q.processAllAvailable()
      // a far-future row on its own key moves the watermark: keys 1-20
      // emit from handleExpiredTimer, which re-arms their cleanup timer
      in.addData(Seq((99L, 990L, flush, 0.0)))
      q.processAllAvailable()
      // and again, so the cleanup timers fire too
      in.addData(Seq((99L, 991L, Timestamp.valueOf("2031-01-01 00:00:00"), 0.0)))
      q.processAllAvailable()
      spark.table("keytimer_over").filter($"key" =!= 99L).select($"id").as[Long].collect().toSet
    } finally q.stop()
    assert(got == (1L to 20L).map(_ * 10).toSet)
    assertNoTimerWarnings(msgs)
  }

  test("cep_runs: runs closed by their timers log no timer warning") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = CepRunsStream.runs(
        in.toDF().toDF("user_id", "event_id", "ts", "event_type"),
        anchorType = "click", gap = java.time.Duration.ofSeconds(10), minLen = 2,
        watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("keytimer_cepruns").start()
    val (got, msgs) = try timerMessages {
      in.addData((1L to 20L).flatMap(k => Seq[Ev](
        (k, k * 10, us(1000000L * k), "click"), (k, k * 10 + 1, us(1000000L * k + 500000L), "click"))))
      q.processAllAvailable()
      // the open runs close by gap from handleExpiredTimer
      in.addData(Seq[Ev]((99L, 990L, flush, "view")))
      q.processAllAvailable()
      spark.table("keytimer_cepruns").select($"key").as[Long].collect().toSet
    } finally q.stop()
    assert(got == (1L to 20L).toSet)
    assertNoTimerWarnings(msgs)
  }
}
