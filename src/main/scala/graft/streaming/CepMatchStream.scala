package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming POSITIVE CEP match — q88's micro-batch twin (Flink CEP
  * `begin(anchor).followedBy(response).within(T)` under AFTER MATCH
  * SKIP TO NEXT ROW, with measures), the complement of
  * [[AbsenceStream]] on the same bounds: every anchor matches the
  * EARLIEST same-key response in `(ts, ts + window]` (strict left,
  * inclusive horizon, (us, id) tie rule), measuring the `isMid` rows
  * strictly between and the match duration.
  *
  * Decision rule (the part absence does not need): a match is final
  * once the watermark STRICTLY passes the matched response's ts — a
  * late row below the watermark can never precede it in (us, id)
  * order (an equal-us smaller-id response, or a mid inside the span,
  * could still arrive while wm == r.us, hence strict). An anchor with
  * NO in-window response is decided at wm > ts + window: [[matches]]
  * drops it silently (q88 emits matches only; the no-match half IS
  * [[AbsenceStream]]), while [[matchesWithTimeouts]] emits it as a
  * "TIMEOUT" outcome with the partial match's measures — Flink CEP's
  * timeout side output. Matches emit as soon as the watermark
  * allows — an anchor answered in seconds does not wait out its
  * 24 h window.
  *
  * State per key is bounded by rate × (window + watermark delay),
  * stream-depth-independent, by the [[AbsenceStream]] pruning rule:
  * pending anchors satisfy ts + window ≥ wm, so responses and mids
  * at or below wm − window can matter to no live or future anchor
  * and drop. Responses are never consumed (SKIP TO NEXT ROW shares
  * them), so retention is purely the watermark horizon. Event-time
  * timers fire at each key's earliest decision point (the matched
  * response's ts, or the window end when no response is known) so
  * dormant keys decide without new input.
  */
object CepMatchStream {

  case class CepEvent(key: Long, id: Long, us: Long, kind: Int, ts: Timestamp)
  case class PendingA(id: Long, us: Long)
  case class SpanRow(id: Long, us: Long) // retained response or mid
  case class CepMatch(key: Long, anchor_id: Long, response_id: Long,
      n_mid: Long, dur_us: Long)

  /** Unified outcome row for [[matchesWithTimeouts]] — Flink's main
    * output + timeout tag as ONE stream the caller splits by
    * `verdict`: "MATCH" carries (response_id, n_mid, dur_us) exactly
    * as [[CepMatch]]; "TIMEOUT" is the timed-out partial match —
    * response_id/dur_us null, n_mid = the mids observed in the full
    * us-window `(ts, ts + window]` before it expired (the batch q99
    * measure; us-only bounds, [[graft.operators.Cep.timeout]]'s
    * rule, vs the match measure's (us, id)-between count). */
  case class CepOutcome(key: Long, verdict: String, anchor_id: Long,
      response_id: java.lang.Long, n_mid: Long, dur_us: java.lang.Long)

  private val KAnchor = 0
  private val KResponse = 1
  private val KMid = 2

  /** Last kept match's response position — the SKIP PAST LAST ROW
    * consumption barrier (anchors at or below it never start). */
  case class Barrier(us: Long, id: Long)

  private class MatchProcessor(windowUs: Long, emitTimeouts: Boolean,
      skipPast: Boolean = false)
      extends StatefulProcessor[Long, CepEvent, CepOutcome] {
    @transient private var anchors: ListState[PendingA] = _
    @transient private var resps: ListState[SpanRow] = _
    @transient private var mids: ListState[SpanRow] = _
    @transient private var barrier: org.apache.spark.sql.streaming.ValueState[Barrier] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      anchors = getHandle.getListState[PendingA]("anchors", Encoders.product[PendingA], TTLConfig.NONE)
      resps = getHandle.getListState[SpanRow]("resps", Encoders.product[SpanRow], TTLConfig.NONE)
      mids = getHandle.getListState[SpanRow]("mids", Encoders.product[SpanRow], TTLConfig.NONE)
      if (skipPast)
        barrier = getHandle.getValueState[Barrier]("barrier", Encoders.product[Barrier], TTLConfig.NONE)
    }

    private def lexLess(aUs: Long, aId: Long, bUs: Long, bId: Long): Boolean =
      aUs < bUs || (aUs == bUs && aId < bId)

    private def fold(key: Long, pending: Seq[PendingA], wmUs: Long,
        firing: Option[Long]): Iterator[CepOutcome] = {
      val rs = resps.get().toArray.sortBy(r => (r.us, r.id))
      val ms = mids.get().toArray.sortBy(m => (m.us, m.id))
      // count of mids lexicographically BELOW (us, id)
      def midsBelow(us: Long, id: Long): Int = {
        var lo = 0; var hi = ms.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (lexLess(ms(mid).us, ms(mid).id, us, id)) lo = mid + 1 else hi = mid
        }
        lo
      }
      // count of mids with us <= bound (id-blind — the timeout
      // measure's us-only window rule)
      def midsAtOrBelowUs(bound: Long): Int = {
        var lo = 0; var hi = ms.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ms(mid).us <= bound) lo = mid + 1 else hi = mid
        }
        lo
      }
      val out = Vector.newBuilder[CepOutcome]
      val hold = Vector.newBuilder[PendingA]
      val ordered = pending.sortBy(a => (a.us, a.id))
      if (!skipPast) ordered.foreach { a =>
        // earliest in-window response by (us, id) — rs is sorted, and
        // within the window the first hit is the lexicographic min
        val r = rs.find(r => r.us > a.us && r.us <= a.us + windowUs)
        r match {
          case Some(m) if m.us < wmUs =>
            // final: nothing below the watermark can still arrive
            out += CepOutcome(key, "MATCH", a.id, m.id,
              (midsBelow(m.us, m.id) - midsBelow(a.us, a.id)).toLong, m.us - a.us)
          case None if a.us + windowUs < wmUs =>
            // decided no-match — Flink's timeout tag: the partial
            // match's measure is the full window's mid count
            if (emitTimeouts)
              out += CepOutcome(key, "TIMEOUT", a.id, null,
                (midsAtOrBelowUs(a.us + windowUs) - midsAtOrBelowUs(a.us)).toLong, null)
          case _ => hold += a
        }
      } else {
        // SKIP PAST LAST ROW: anchors decide strictly in (us, id)
        // order — a kept match's response becomes the consumption
        // barrier, so an undecided anchor BLOCKS every later one (its
        // eventual match could consume them). Timed-out anchors never
        // set the barrier (Flink: an expired partial match consumes
        // nothing).
        var b = Option(barrier.get()).getOrElse(Barrier(Long.MinValue, Long.MinValue))
        var blocked = false
        ordered.foreach { a =>
          if (blocked) hold += a
          else if (!lexLess(b.us, b.id, a.us, a.id)) {
            () // at or below the barrier: consumed, never starts
          } else {
            val r = rs.find(r => r.us > a.us && r.us <= a.us + windowUs)
            r match {
              case Some(m) if m.us < wmUs =>
                out += CepOutcome(key, "MATCH", a.id, m.id,
                  (midsBelow(m.us, m.id) - midsBelow(a.us, a.id)).toLong, m.us - a.us)
                b = Barrier(m.us, m.id)
              case None if a.us + windowUs < wmUs =>
                if (emitTimeouts)
                  out += CepOutcome(key, "TIMEOUT", a.id, null,
                    (midsAtOrBelowUs(a.us + windowUs) - midsAtOrBelowUs(a.us)).toLong, null)
              case _ => hold += a; blocked = true
            }
          }
        }
        barrier.update(b)
      }
      val held = hold.result()
      anchors.clear()
      if (held.nonEmpty) anchors.appendList(held.toArray)
      // prune spans: pending (and future) anchors have us >= wm − T
      val liveR = rs.filter(_.us > wmUs - windowUs)
      val liveM = ms.filter(_.us > wmUs - windowUs)
      resps.clear(); if (liveR.nonEmpty) resps.appendList(liveR)
      mids.clear(); if (liveM.nonEmpty) mids.appendList(liveM)
      KeyTimer.rearm(getHandle, firing,
        if (held.nonEmpty) {
          // earliest decision point across held anchors; under skipPast
          // only the BLOCKER (first held in order) can decide next — a
          // later anchor's earlier response must not re-arm a timer that
          // can make no progress
          val decCandidates = if (skipPast) held.take(1) else held
          val dec = decCandidates.map { a =>
            liveR.find(r => r.us > a.us && r.us <= a.us + windowUs)
              .map(_.us).getOrElse(a.us + windowUs)
          }.min
          Some(dec / 1000L + 1L)
        } else if (liveR.nonEmpty || liveM.nonEmpty)
          // span-only keys: arm cleanup so dormant keys drop their tail
          Some(((liveR.map(_.us) ++ liveM.map(_.us)).max + windowUs) / 1000L + 1L)
        else None)
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[CepEvent],
        timers: TimerValues): Iterator[CepOutcome] = {
      val incoming = rows.toSeq
      val newR = incoming.filter(_.kind == KResponse).map(r => SpanRow(r.id, r.us))
      val newM = incoming.filter(_.kind == KMid).map(m => SpanRow(m.id, m.us))
      if (newR.nonEmpty) resps.appendList(newR.toArray)
      if (newM.nonEmpty) mids.appendList(newM.toArray)
      val pending = anchors.get().toSeq ++
        incoming.filter(_.kind == KAnchor).map(a => PendingA(a.id, a.us))
      fold(key, pending, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[CepOutcome] =
      fold(key, anchors.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** Match stream over a streaming events relation: one [[CepMatch]]
    * per `anchorType` row whose earliest `responseType` row lands in
    * `(ts, ts + window]`, with the count of `midType` rows strictly
    * between (in (ts, id) order) and the duration. `watermark` is the
    * out-of-orderness budget; run it nonzero (the [[AbsenceStream]]
    * operational note). */
  def matches(events: DataFrame, anchorType: String, responseType: String,
      midType: String, window: java.time.Duration, watermark: String,
      keyCol: String = "user_id", typeCol: String = "event_type",
      idCol: String = "event_id", tsCol: String = "ts"): Dataset[CepMatch] = {
    val s = events.sparkSession
    import s.implicits._
    run(events, anchorType, responseType, midType, window, watermark,
      keyCol, typeCol, idCol, tsCol, emitTimeouts = false)
      .map(o => CepMatch(o.key, o.anchor_id, o.response_id, o.n_mid, o.dur_us))
  }

  /** [[matches]] under AFTER MATCH SKIP PAST LAST ROW (Flink's
    * non-overlapping skip strategy; batch twin: q102 /
    * [[graft.operators.Cep.skipPastLastRow]]): a kept match's response
    * becomes the consumption barrier — anchors at or below it never
    * start a match — so anchors must decide strictly in (us, id)
    * order, and an undecided anchor holds every later one (its
    * eventual match could consume them; the cascade is bounded by the
    * decision horizon, rate × (window + delay), because the head
    * always decides by its window end). Timed-out anchors consume
    * nothing, exactly Flink. Output is always a subset of
    * [[matches]]'s. */
  def matchesSkipPast(events: DataFrame, anchorType: String,
      responseType: String, midType: String, window: java.time.Duration,
      watermark: String, keyCol: String = "user_id",
      typeCol: String = "event_type", idCol: String = "event_id",
      tsCol: String = "ts"): Dataset[CepMatch] = {
    val s = events.sparkSession
    import s.implicits._
    run(events, anchorType, responseType, midType, window, watermark,
      keyCol, typeCol, idCol, tsCol, emitTimeouts = false, skipPast = true)
      .map(o => CepMatch(o.key, o.anchor_id, o.response_id, o.n_mid, o.dur_us))
  }

  /** [[matches]] plus Flink CEP's TIMEOUT SIDE OUTPUT
    * (`PatternStream.select(timeoutTag, PatternTimeoutFunction, …)`):
    * one [[CepOutcome]] per anchor — verdict "MATCH" with the q88
    * measures, or "TIMEOUT" once the watermark strictly passes the
    * anchor's window with no in-window response, carrying the partial
    * match's mid count over the full window (batch twin: q99 /
    * [[graft.operators.Cep.timeout]]). Every anchor decides exactly
    * once; the caller splits the one stream by `verdict` (the side
    * output), so no row is silently dropped — the same contract as
    * streamingLateSplit's dead-letter route. */
  def matchesWithTimeouts(events: DataFrame, anchorType: String,
      responseType: String, midType: String, window: java.time.Duration,
      watermark: String, keyCol: String = "user_id",
      typeCol: String = "event_type", idCol: String = "event_id",
      tsCol: String = "ts"): Dataset[CepOutcome] =
    run(events, anchorType, responseType, midType, window, watermark,
      keyCol, typeCol, idCol, tsCol, emitTimeouts = true)

  private def run(events: DataFrame, anchorType: String, responseType: String,
      midType: String, window: java.time.Duration, watermark: String,
      keyCol: String, typeCol: String, idCol: String, tsCol: String,
      emitTimeouts: Boolean, skipPast: Boolean = false): Dataset[CepOutcome] = {
    val s = events.sparkSession
    import s.implicits._
    require(Set(anchorType, responseType, midType).size == 3,
      "cepMatchStream: anchor/response/mid types must be mutually exclusive")
    events
      .withWatermark(tsCol, watermark)
      .filter(col(typeCol).isin(anchorType, responseType, midType))
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"),
        when(col(typeCol) === anchorType, KAnchor)
          .when(col(typeCol) === responseType, KResponse)
          .otherwise(KMid).as("kind"),
        col(tsCol).as("ts"))
      .as[CepEvent]
      .groupByKey(_.key)
      .transformWithState(
        new MatchProcessor(window.toNanos / 1000L, emitTimeouts, skipPast),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
