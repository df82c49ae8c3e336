package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming LOOPING-pattern CEP — q94's micro-batch twin (Flink CEP
  * `begin(anchor).oneOrMore().greedy()` with a per-step gap bound):
  * MAXIMAL runs of consecutive same-key anchor events in (us, id)
  * order over ALL events — any intervening row breaks the run, and a
  * consecutive pair further apart than `gapUs` splits it. A run emits
  * once, when its maximality is PROVEN: a folded breaker/gap-splitting
  * successor, or the watermark passing `last + gap` (no in-flight or
  * future event can extend it — they all sit at us ≥ wm > last+gap).
  * That per-step gap bound is exactly what makes greedy oneOrMore
  * decidable without a terminator row (Flink's within() serves the
  * same role; a pure greedy A+ never closes on a dormant key).
  *
  * Fold discipline (the [[CepNextStream]] rule): events strictly below
  * the watermark are FINAL in position — a late row can only land at
  * or above the watermark — so each trigger folds the decided prefix
  * in (us, id) order through the run machine and buffers the rest.
  * State per key = ONE open-run summary (5 longs — never the run's
  * rows; the measures are running) + the in-flight buffer
  * (rate × delay, independent of run length and stream depth). Timers
  * fire at the earliest decision point (run close-by-gap, else the
  * buffered tail) so dormant keys close without new input.
  */
object CepRunsStream {

  case class RunEvent(key: Long, id: Long, us: Long, anchor: Boolean, ts: Timestamp)
  case class EvRow(id: Long, us: Long, anchor: Boolean)
  case class OpenRun(startId: Long, startUs: Long, lastId: Long, lastUs: Long, n: Long)
  case class CepRun(key: Long, start_id: Long, end_id: Long, n: Long, dur_us: Long)

  private class RunsProcessor(gapUs: Long, minLen: Int)
      extends StatefulProcessor[Long, RunEvent, CepRun] {
    @transient private var evs: ListState[EvRow] = _
    @transient private var run: ValueState[OpenRun] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      evs = getHandle.getListState[EvRow]("evs", Encoders.product[EvRow], TTLConfig.NONE)
      run = getHandle.getValueState[OpenRun]("run", Encoders.product[OpenRun], TTLConfig.NONE)
    }

    private def fold(key: Long, wmUs: Long, firing: Option[Long]): Iterator[CepRun] = {
      val all = evs.get().toArray.sortBy(e => (e.us, e.id))
      val (decided, held) = all.partition(_.us < wmUs)
      val out = Vector.newBuilder[CepRun]
      var open: Option[OpenRun] = if (run.exists()) Some(run.get()) else None
      def close(r: OpenRun): Unit =
        if (r.n >= minLen) out += CepRun(key, r.startId, r.lastId, r.n, r.lastUs - r.startUs)
      decided.foreach { e =>
        if (e.anchor) open match {
          case Some(r) if e.us - r.lastUs <= gapUs =>
            open = Some(r.copy(lastId = e.id, lastUs = e.us, n = r.n + 1))
          case other => // gap split or fresh key: the old run is maximal
            other.foreach(close)
            open = Some(OpenRun(e.id, e.us, e.id, e.us, 1L))
        } else { // breaker: strict contiguity ends the run
          open.foreach(close); open = None
        }
      }
      // close-by-gap: every held/future event sits at us >= wm, so an
      // open run whose window has passed can never be extended
      open.foreach { r => if (wmUs > r.lastUs + gapUs) { close(r); open = None } }
      open match { case Some(r) => run.update(r); case None => run.clear() }
      evs.clear(); if (held.nonEmpty) evs.appendList(held)
      val decisions =
        open.map(_.lastUs + gapUs).toSeq ++
          (if (held.nonEmpty) Seq(held.map(_.us).max) else Seq.empty)
      KeyTimer.rearm(getHandle, firing, decisions.minOption.map(_ / 1000L + 1L))
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[RunEvent],
        timers: TimerValues): Iterator[CepRun] = {
      evs.appendList(rows.map(e => EvRow(e.id, e.us, e.anchor)).toArray)
      fold(key, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[CepRun] =
      fold(key, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** Run stream: one [[CepRun]] per maximal gap-bounded run of
    * `anchorType` events of length >= `minLen`. No type filter on
    * input — every event is a potential breaker. */
  def runs(events: DataFrame, anchorType: String, gap: java.time.Duration,
      minLen: Int, watermark: String,
      keyCol: String = "user_id", typeCol: String = "event_type",
      idCol: String = "event_id", tsCol: String = "ts"): Dataset[CepRun] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"),
        (col(typeCol) === anchorType).as("anchor"),
        col(tsCol).as("ts"))
      .as[RunEvent]
      .groupByKey(_.key)
      .transformWithState(
        new RunsProcessor(gap.toNanos / 1000L, minLen),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
