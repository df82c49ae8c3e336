package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming MATCH_RECOGNIZE V-pattern — q95's micro-batch twin
  * (Flink SQL's canonical `PATTERN (STRT PRICE_DOWN+ PRICE_UP+)`):
  * per key over the value series in (us, id) order, a maximal
  * strictly-decreasing run immediately followed by a maximal strictly
  * increasing run; flat steps and session breaks (consecutive rows
  * further apart than `sessionGapUs`) break the pattern.
  *
  * Fold discipline (the [[CepRunsStream]] rule): below-watermark rows
  * are final in position — fold them through a three-phase machine
  * (NONE / DOWN / UP), buffer the rest. A V emits when the ascent's
  * maximality is PROVEN: a folded non-up step (down step — which also
  * opens the NEXT descent at the shared end row, Flink's SKIP TO LAST
  * UP chaining — flat step, or session break), or the watermark
  * passing `last + gap` (session death: every future row is a session
  * break). State per key = the last folded row + one phase summary
  * (≤ 9 fields — runs are never materialized; measures are running)
  * plus the in-flight buffer (rate × delay). Timers fire at session
  * death so dormant keys emit and fully clear without new input.
  */
object MatchVStream {

  case class VEvent(key: Long, id: Long, us: Long, v: Double, ts: Timestamp)
  case class VRow(id: Long, us: Long, v: Double)
  // phase: 0 = NONE, 1 = DOWN (descending run open), 2 = UP (descent
  // complete, ascending run open). peak/bottom/end legs of the V.
  case class VPhase(phase: Int,
      peakId: Long, peakV: Double, botId: Long, botV: Double, nDown: Long,
      endId: Long, endV: Double, nUp: Long)
  case class VMatch(key: Long, start_id: Long, bottom_id: Long, end_id: Long,
      start_val: Double, bottom_val: Double, end_val: Double,
      n_down: Long, n_up: Long)

  private val None0 = VPhase(0, 0L, 0d, 0L, 0d, 0L, 0L, 0d, 0L)

  private class VProcessor(gapUs: Long)
      extends StatefulProcessor[Long, VEvent, VMatch] {
    @transient private var buf: ListState[VRow] = _
    @transient private var last: ValueState[VRow] = _
    @transient private var ph: ValueState[VPhase] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[VRow]("buf", Encoders.product[VRow], TTLConfig.NONE)
      last = getHandle.getValueState[VRow]("last", Encoders.product[VRow], TTLConfig.NONE)
      ph = getHandle.getValueState[VPhase]("ph", Encoders.product[VPhase], TTLConfig.NONE)
    }

    private def fold(key: Long, wmUs: Long, firing: Option[Long]): Iterator[VMatch] = {
      val all = buf.get().toArray.sortBy(e => (e.us, e.id))
      val (decided, held) = all.partition(_.us < wmUs)
      val out = Vector.newBuilder[VMatch]
      var lst: Option[VRow] = if (last.exists()) Some(last.get()) else None
      var p = if (ph.exists()) ph.get() else None0
      def emit(): Unit =
        out += VMatch(key, p.peakId, p.botId, p.endId, p.peakV, p.botV, p.endV, p.nDown, p.nUp)
      decided.foreach { e =>
        lst match {
          case Some(pr) if e.us - pr.us <= gapUs =>
            if (e.v < pr.v) { // down step
              p.phase match {
                case 1 => p = p.copy(botId = e.id, botV = e.v, nDown = p.nDown + 1)
                case 2 => // ascent closed by a down step: emit, chain
                  emit()
                  p = VPhase(1, pr.id, pr.v, e.id, e.v, 1L, 0L, 0d, 0L)
                case _ => p = VPhase(1, pr.id, pr.v, e.id, e.v, 1L, 0L, 0d, 0L)
              }
            } else if (e.v > pr.v) { // up step
              p.phase match {
                case 1 => p = p.copy(phase = 2, endId = e.id, endV = e.v, nUp = 1L)
                case 2 => p = p.copy(endId = e.id, endV = e.v, nUp = p.nUp + 1)
                case _ => () // ascent with no prior descent
              }
            } else { // flat step breaks both variables
              if (p.phase == 2) emit()
              p = None0
            }
          case _ => // session start (fresh key or gap exceeded)
            if (p.phase == 2) emit()
            p = None0
        }
        lst = Some(e)
      }
      // session death: every held/future row sits at us >= wm, so a
      // last row with wm > last.us + gap can have no in-session successor
      lst.foreach { pr =>
        if (wmUs > pr.us + gapUs) {
          if (p.phase == 2) emit()
          p = None0; lst = None
        }
      }
      lst match { case Some(r) => last.update(r); case None => last.clear() }
      if (p.phase == 0) ph.clear() else ph.update(p)
      buf.clear(); if (held.nonEmpty) buf.appendList(held)
      val decisions =
        lst.map(_.us + gapUs).toSeq ++
          (if (held.nonEmpty) Seq(held.map(_.us).max) else Seq.empty)
      KeyTimer.rearm(getHandle, firing, decisions.minOption.map(_ / 1000L + 1L))
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[VEvent],
        timers: TimerValues): Iterator[VMatch] = {
      buf.appendList(rows.map(e => VRow(e.id, e.us, e.v)).toArray)
      fold(key, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[VMatch] =
      fold(key, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** V-pattern stream: one [[VMatch]] per maximal descent immediately
    * followed by a maximal ascent of the key's value series. */
  def vMatches(events: DataFrame, sessionGap: java.time.Duration, watermark: String,
      keyCol: String = "user_id", valueCol: String = "value",
      idCol: String = "event_id", tsCol: String = "ts"): Dataset[VMatch] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"), col(valueCol).cast("double").as("v"),
        col(tsCol).as("ts"))
      .as[VEvent]
      .groupByKey(_.key)
      .transformWithState(
        new VProcessor(sessionGap.toNanos / 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
