package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming ordered-funnel tracking — q73's micro-batch twin.
  *
  * The batch funnel is a per-user chain of `min(ts)` aggregations
  * with strict-order and anchor-window predicates; its streaming
  * equivalent must fold each user's events IN EVENT-TIME ORDER even
  * though micro-batches deliver them out of order. Exact parity with
  * bounded state comes from the watermark contract: a row older than
  * the current watermark can never arrive (the framework drops it),
  * so any buffered event with `ts < watermark` can be folded into the
  * per-user step machine knowing nothing earlier is still in flight.
  *
  * State per user: the 3-or-fewer reached-step timestamps (the folded
  * machine) plus ONLY the buffered events newer than the watermark —
  * bounded by event rate × watermark delay, independent of stream
  * depth. Folded events leave state immediately; a user who finished
  * the funnel holds 3 longs forever (retire with a TTL if the key
  * space is unbounded).
  *
  * Emits one [[FunnelStream.StepAdvance]] per (user, step) the first
  * time the user reaches that step — an append-only change stream a
  * downstream count per step (or a dashboard upsert sink) consumes.
  * After any prefix of the stream is fully folded, the set of
  * advances equals the batch q73 step memberships over the same rows
  * (pinned in FunnelSpec, with arrival order fully reversed).
  */
object FunnelStream {

  case class FunnelEvent(user_id: Long, etype: String, us: Long, ts: Timestamp)
  case class BufEvent(etype: String, us: Long)
  case class Reached(ts: Seq[Long])
  case class StepAdvance(user_id: Long, step: Int, us: Long, ts: Timestamp)

  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Per-user step machine: `steps(k)` qualifies only strictly after
    * `steps(k-1)`'s recorded time and within `windowUs` of step 1's —
    * the q73 semantics, applied in event-time order. */
  private class FunnelProcessor(steps: Seq[String], windowUs: Long)
      extends StatefulProcessor[Long, FunnelEvent, StepAdvance] {
    @transient private var buf: ListState[BufEvent] = _
    @transient private var reached: ValueState[Reached] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[BufEvent]("buf", Encoders.product[BufEvent], TTLConfig.NONE)
      reached = getHandle.getValueState[Reached]("reached", Encoders.product[Reached], TTLConfig.NONE)
    }

    /** Fold every buffered event with us < `upToUs` into the step
      * machine (in event-time order) and emit the advances. */
    private def fold(key: Long, pending: Seq[BufEvent], upToUs: Long,
        firing: Option[Long]): Iterator[StepAdvance] = {
      val (ready, hold) = pending.partition(_.us < upToUs)
      val st = scala.collection.mutable.ArrayBuffer.empty[Long]
      Option(reached.get()).foreach(r => st ++= r.ts)
      val advances = scala.collection.mutable.ArrayBuffer.empty[StepAdvance]
      ready.sortBy(_.us).foreach { e =>
        val next = st.length
        if (next < steps.length && e.etype == steps(next) &&
            (next == 0 || (e.us > st(next - 1) && e.us <= st(0) + windowUs))) {
          st += e.us
          advances += StepAdvance(key, next + 1, e.us, usToTs(e.us))
        }
      }
      if (advances.nonEmpty) reached.update(Reached(st.toSeq))
      buf.clear()
      if (hold.nonEmpty) buf.appendList(hold.toArray)
      // arm a timer just past the OLDEST held event: it folds the
      // moment the watermark passes it, and this fold re-arms for the
      // rest (anchoring at the newest would withhold already-final
      // advances until the watermark passed a possibly far-future
      // buffered event — producer clock skew)
      KeyTimer.rearm(getHandle, firing, hold.map(_.us).minOption.map(_ / 1000L + 1L))
      advances.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
        timers: TimerValues): Iterator[StepAdvance] = {
      val pending = buf.get().toSeq ++ rows.map(r => BufEvent(r.etype, r.us))
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      fold(key, pending, wmUs, None) // fold arms the hold timer itself
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[StepAdvance] =
      fold(key, buf.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** Append-only (user_id, step, us) advance stream over a streaming
    * events relation. `window` anchors at the user's step-1 time
    * (q73's 7 days); `watermark` bounds both lateness and buffer
    * state. */
  def stepAdvances(events: DataFrame, steps: Seq[String],
      window: java.time.Duration, watermark: String,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts"): Dataset[StepAdvance] = {
    val s = events.sparkSession
    import s.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    events
      .withWatermark(tsCol, watermark)
      .select(col(userCol).as("user_id"), col(typeCol).as("etype"),
        unix_micros(col(tsCol)).as("us"), col(tsCol).as("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        new FunnelProcessor(steps, window.toNanos / 1000L), "ts",
        OutputMode.Append, Encoders.product[StepAdvance])
  }
}
