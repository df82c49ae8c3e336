package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming STRICT-CONTIGUITY CEP match — q93's micro-batch twin
  * (Flink CEP `begin(anchor).next(response).within(T)`): an anchor
  * matches iff its IMMEDIATELY following same-key event in (us, id)
  * order — over ALL events; any intervening row of any type breaks
  * the pattern — is a response within `windowUs`.
  *
  * Decision rule: the current successor CANDIDATE of an anchor is the
  * (us, id)-minimum retained event above it. A late arrival can only
  * LOWER that minimum, and late rows sit at or above the watermark —
  * so once the candidate's us is STRICTLY below the watermark no
  * displacer can exist and the decision is final (match iff the
  * candidate is a response within T). An anchor with no candidate at
  * `wm > ts + T` decides no-match: any future successor would arrive
  * at us ≥ wm, beyond the window. Matches therefore emit as soon as
  * the watermark allows, not at window end.
  *
  * State is even TIGHTER than [[CepMatchStream]]'s rate × (T + delay):
  * after each fold every held anchor's candidate sits at or above the
  * watermark (below-watermark candidates just decided), so retained
  * events prune to `us ≥ wm` — the in-flight disorder horizon alone,
  * independent of T. Anchors hold at most T + delay. Timers fire at
  * each key's earliest decision point (candidate us, else anchor
  * ts + T) so dormant keys decide without new input.
  */
object CepNextStream {

  case class NxEvent(key: Long, id: Long, us: Long, anchor: Boolean,
      resp: Boolean, ts: Timestamp)
  case class PendingA(id: Long, us: Long)
  case class EvRow(id: Long, us: Long, resp: Boolean)
  case class CepNext(key: Long, anchor_id: Long, response_id: Long, dur_us: Long)

  private class NextProcessor(windowUs: Long)
      extends StatefulProcessor[Long, NxEvent, CepNext] {
    @transient private var anchors: ListState[PendingA] = _
    @transient private var evs: ListState[EvRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      anchors = getHandle.getListState[PendingA]("anchors", Encoders.product[PendingA], TTLConfig.NONE)
      evs = getHandle.getListState[EvRow]("evs", Encoders.product[EvRow], TTLConfig.NONE)
    }

    private def fold(key: Long, pending: Seq[PendingA], wmUs: Long,
        firing: Option[Long]): Iterator[CepNext] = {
      val es = evs.get().toArray.sortBy(e => (e.us, e.id))
      val out = Vector.newBuilder[CepNext]
      val hold = Vector.newBuilder[PendingA]
      val holdCand = Vector.newBuilder[Long] // decision point per held anchor
      pending.foreach { a =>
        // (us, id)-minimum event strictly above the anchor — es is
        // sorted, so the first hit IS the candidate successor
        val cand = es.find(e => e.us > a.us || (e.us == a.us && e.id > a.id))
        cand match {
          case Some(c) if c.us < wmUs =>
            // final: no late row can displace below the watermark
            if (c.resp && c.us - a.us <= windowUs)
              out += CepNext(key, a.id, c.id, c.us - a.us)
          // decided no-match otherwise: contiguity broken or beyond T
          case _ if a.us + windowUs < wmUs =>
            () // any future successor lands at us ≥ wm > ts + T
          case c =>
            hold += a
            holdCand += c.map(_.us).getOrElse(a.us + windowUs)
        }
      }
      val held = hold.result()
      anchors.clear()
      if (held.nonEmpty) anchors.appendList(held.toArray)
      // prune: every held candidate sits at us ≥ wm, so events below
      // the watermark can matter to no held or future anchor
      val live = es.filter(_.us >= wmUs)
      evs.clear(); if (live.nonEmpty) evs.appendList(live)
      KeyTimer.rearm(getHandle, firing,
        if (held.nonEmpty) Some(holdCand.result().min / 1000L + 1L)
        // event-only keys: clean the tail once the watermark passes it
        else if (live.nonEmpty) Some(live.map(_.us).max / 1000L + 1L)
        else None)
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[NxEvent],
        timers: TimerValues): Iterator[CepNext] = {
      val incoming = rows.toSeq
      evs.appendList(incoming.map(e => EvRow(e.id, e.us, e.resp)).toArray)
      val pending = anchors.get().toSeq ++
        incoming.filter(_.anchor).map(a => PendingA(a.id, a.us))
      fold(key, pending, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[CepNext] =
      fold(key, anchors.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** Strict-contiguity match stream: one [[CepNext]] per `anchorType`
    * row whose immediate (ts, id)-successor — over ALL events of the
    * key — is a `responseType` row within `window`. No type filter on
    * input: every event is a potential pattern-breaker, exactly the
    * property that distinguishes `next` from `followedBy`. */
  def nexts(events: DataFrame, anchorType: String, responseType: String,
      window: java.time.Duration, watermark: String,
      keyCol: String = "user_id", typeCol: String = "event_type",
      idCol: String = "event_id", tsCol: String = "ts"): Dataset[CepNext] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"),
        (col(typeCol) === anchorType).as("anchor"),
        (col(typeCol) === responseType).as("resp"),
        col(tsCol).as("ts"))
      .as[NxEvent]
      .groupByKey(_.key)
      .transformWithState(
        new NextProcessor(window.toNanos / 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
