package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming CEP absence detection — q76's micro-batch twin, and the
  * part of Flink CEP that genuinely NEEDS event-time timers: the
  * alert fires because nothing arrived (`notFollowedBy` with a
  * timeout — cart abandonment, missed heartbeat, SLA breach).
  *
  * Semantics identical to the batch operators.Cep.absence: an anchor
  * at `ts` alerts iff no response of the same key lands in
  * `(ts, ts + window]` (strict left bound, inclusive horizon, exact
  * integer µs). Out-of-order safety comes from the watermark
  * contract: an anchor is DECIDED only once the watermark passes
  * `ts + window` — by then every response that could answer it has
  * arrived or never will. A late-but-in-watermark response in an
  * earlier-than-its-anchor micro-batch cancels correctly, because
  * both sides buffer until decision time.
  *
  * State per key is bounded by rate × (window + watermark delay),
  * independent of stream depth: pending anchors leave state the
  * moment they are decided, and a response older than
  * `watermark − window` can no longer answer any live or future
  * anchor (future anchors arrive with `ts >= watermark`), so it is
  * dropped — the CEP analog of Flink's NFA state pruning. Event-time
  * timers fire the pending tail when the watermark advances without
  * new input for the key.
  *
  * Operational note: run with a NONZERO watermark delay (every real
  * deployment does). Alerts carry their anchor's original event
  * time, which is below the watermark by construction at emission;
  * with a 0-second delay an anchor timestamp can coincide EXACTLY
  * with a max-event watermark boundary and trip Spark's
  * output-older-than-watermark validation on the equality edge.
  */
object AbsenceStream {

  case class AbsEvent(key: Long, id: Long, us: Long, is_anchor: Boolean,
      is_response: Boolean, ts: Timestamp)
  case class Pending(id: Long, us: Long)
  case class RespUs(us: Long)
  case class Alert(key: Long, id: Long, us: Long, ts: Timestamp)

  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private class AbsenceProcessor(windowUs: Long)
      extends StatefulProcessor[Long, AbsEvent, Alert] {
    @transient private var anchors: ListState[Pending] = _
    @transient private var responses: ListState[RespUs] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      anchors = getHandle.getListState[Pending]("anchors", Encoders.product[Pending], TTLConfig.NONE)
      responses = getHandle.getListState[RespUs]("responses", Encoders.product[RespUs], TTLConfig.NONE)
    }

    private def fold(key: Long, pending: Seq[Pending], wmUs: Long,
        firing: Option[Long]): Iterator[Alert] = {
      // decided: the full response window is below the watermark
      val (decided, hold) = pending.partition(a => a.us + windowUs < wmUs)
      val resp = responses.get().map(_.us).toArray.sorted
      val out = decided.sortBy(_.us).iterator.collect {
        case a if !resp.exists(r => r > a.us && r <= a.us + windowUs) =>
          Alert(key, a.id, a.us, usToTs(a.us))
      }.toVector
      anchors.clear()
      if (hold.nonEmpty) anchors.appendList(hold.toArray)
      // responses at or below wm − window can answer no live/future
      // anchor (those have us >= wm − window and strict r > a.us)
      val live = resp.filter(_ > wmUs - windowUs)
      responses.clear()
      if (live.nonEmpty) responses.appendList(live.map(RespUs).toArray)
      KeyTimer.rearm(getHandle, firing,
        if (hold.nonEmpty) Some((hold.map(_.us).min + windowUs) / 1000L + 1L)
        // no pending anchors but retained responses: without a timer a
        // key whose last activity is responses-only would hold its
        // pruned list forever (the bounded-state contract breaks
        // across millions of dormant keys) — arm one at the point the
        // newest response becomes unprunable-for-no-one
        else if (live.nonEmpty) Some((live.max + windowUs) / 1000L + 1L)
        else None)
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[AbsEvent],
        timers: TimerValues): Iterator[Alert] = {
      val incoming = rows.toSeq
      val newResp = incoming.filter(_.is_response).map(r => RespUs(r.us))
      if (newResp.nonEmpty) responses.appendList(newResp.toArray)
      val pending = anchors.get().toSeq ++
        incoming.filter(_.is_anchor).map(r => Pending(r.id, r.us))
      fold(key, pending, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Alert] =
      fold(key, anchors.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** Alert stream over a streaming events relation: one [[Alert]] per
    * `anchorType` row with no `responseType` row of the same key in
    * `(ts, ts + window]`. `watermark` is the out-of-orderness budget;
    * alerts for an anchor emit once its window is fully below the
    * watermark. */
  def alerts(events: DataFrame, anchorType: String, responseType: String,
      window: java.time.Duration, watermark: String,
      keyCol: String = "user_id", typeCol: String = "event_type",
      idCol: String = "event_id", tsCol: String = "ts"): Dataset[Alert] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .filter(col(typeCol).isin(anchorType, responseType))
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"),
        (col(typeCol) === anchorType).as("is_anchor"),
        (col(typeCol) === responseType).as("is_response"), col(tsCol).as("ts"))
      .as[AbsEvent]
      .groupByKey(_.key)
      .transformWithState(
        new AbsenceProcessor(window.toNanos / 1000L), "ts",
        OutputMode.Append, Encoders.product[Alert])
  }
}
