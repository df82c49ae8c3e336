package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

import graft.functions.Det

/** Streaming event-time OVER aggregation — q81's micro-batch twin
  * (Flink SQL's `SUM(...) OVER (PARTITION BY key ORDER BY ts RANGE
  * INTERVAL 'T' PRECEDING)` on an unbounded stream, the blink
  * OverAggregate operator): for EVERY event, emit the count and exact
  * cents sum of the same key's events in `[ts − T, ts]`.
  *
  * Structured Streaming has no per-event trailing-window operator —
  * windowed aggregation emits per WINDOW, not per event — so this is
  * keyed state: an event is DECIDED (its frame is final) once the
  * watermark passes its timestamp strictly, because only rows at or
  * above the watermark can still arrive and the RANGE frame's upper
  * bound is the event's own ts (equal-ts peers are frame members,
  * hence the strict bound). Decision order is event-time order, and
  * the decided frame equals the batch RANGE frame exactly — parity
  * with q81 is pinned in OverAggSpec under dealt out-of-order arrival.
  *
  * State per key is bounded by rate × (T + watermark delay),
  * independent of stream depth: one list holding (a) undecided
  * events (ts ≥ watermark) and (b) decided events still inside some
  * future event's possible frame (ts ≥ watermark − T, the inclusive
  * frame bound); everything older can never be a frame member again
  * (future events arrive with ts ≥ watermark) and is dropped — the same pruning rule as
  * [[AbsenceStream]]'s responses. Frame sums per decided event come
  * from one sort + prefix sums over the retained list (O(m log m)
  * per touched key per batch, m = retained size, never a rescan of
  * history). Event-time timers flush the pending tail when the
  * watermark advances without new input for the key.
  *
  * Output declares NO event-time column (TimeMode.EventTime timers
  * only — the [[TemporalJoinStream]] rule): Spark validates declared
  * output event-times against the LAGGING late-events watermark, so
  * a decided event landing exactly on the previous batch's watermark
  * boundary could never legally re-emit its own timestamp (the
  * `over_agg_depth_1M` stress corpus reproduced the rejection).
  * Emitted rows keep their original `ts`; downstream windowing
  * re-watermarks explicitly.
  */
object OverAggStream {

  /** State-schema version ([[StateSchemaVer]]): v2 = the round-14
    * shapes (Held with `emitted`; 3-field RunAcc with `lastUs`;
    * idle timers). Bump on any semantic change to the Held/RunAcc/
    * LastImg encodings. */
  private val SchemaV = 2

  case class OverEvent(key: Long, id: Long, us: Long, cents: Long, ts: Timestamp)
  /** Stored event; `emitted` fences re-decision across folds. */
  case class Held(id: Long, us: Long, cents: Long, emitted: Boolean)
  case class OverAgg(key: Long, id: Long, us: Long, n_win: Long,
      cents_win: Long, ts: Timestamp)

  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private class OverProcessor(windowUs: Long)
      extends StatefulProcessor[Long, OverEvent, OverAgg] {
    @transient private var held: ListState[Held] = _
    @transient private var schemaTag: org.apache.spark.sql.streaming.ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      held = getHandle.getListState[Held]("held", Encoders.product[Held], TTLConfig.NONE)
      schemaTag = StateSchemaVer.state(getHandle)
    }

    private def fold(key: Long, events: Seq[Held], wmUs: Long, firing: Option[Long]): Iterator[OverAgg] = {
      // sort once; prefix sums make every frame lookup two binary
      // searches — never a per-event rescan
      val sorted = events.sortBy(e => (e.us, e.id)).toArray
      val us = sorted.map(_.us)
      val pfx = new Array[Long](sorted.length + 1)
      var i = 0
      while (i < sorted.length) { pfx(i + 1) = pfx(i) + sorted(i).cents; i += 1 }
      // lowest index with us(idx) >= bound
      def lower(bound: Long): Int = {
        var lo = 0; var hi = sorted.length
        while (lo < hi) { val mid = (lo + hi) >>> 1; if (us(mid) < bound) lo = mid + 1 else hi = mid }
        lo
      }
      // first index with us(idx) > bound
      def upper(bound: Long): Int = {
        var lo = 0; var hi = sorted.length
        while (lo < hi) { val mid = (lo + hi) >>> 1; if (us(mid) <= bound) lo = mid + 1 else hi = mid }
        lo
      }
      val out = sorted.iterator.filter(e => !e.emitted && e.us < wmUs).map { e =>
        val a = lower(e.us - windowUs)
        val b = upper(e.us)
        OverAgg(key, e.id, e.us, (b - a).toLong, pfx(b) - pfx(a), usToTs(e.us))
      }.toVector
      // retain: frame members of some possible future event — a
      // future event can sit exactly AT the watermark and its frame
      // lower bound [ts − T] is INCLUSIVE, so keep us >= wm − T
      // (us < wm − T can never be a frame member again); undecided
      // events always qualify (us >= wm)
      val keep = sorted.iterator
        .map(e => if (e.us < wmUs) e.copy(emitted = true) else e)
        .filter(_.us >= wmUs - windowUs)
        .toArray
      held.clear()
      if (keep.nonEmpty) held.appendList(keep)
      val pending = keep.filter(!_.emitted)
      KeyTimer.rearm(getHandle, firing,
        if (pending.nonEmpty)
          // fire once the watermark strictly passes the oldest pending ts
          Some(pending.map(_.us).min / 1000L + 1L)
        else if (keep.nonEmpty)
          // decided-but-retained only: arm a cleanup timer so a dormant
          // key does not hold its frame tail forever
          Some((keep.map(_.us).max + windowUs) / 1000L + 1L)
        else None)
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[OverEvent],
        timers: TimerValues): Iterator[OverAgg] = {
      StateSchemaVer.check(schemaTag, SchemaV, "overAgg")
      val incoming = rows.map(r => Held(r.id, r.us, r.cents, emitted = false)).toSeq
      fold(key, held.get().toSeq ++ incoming, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[OverAgg] =
      fold(key, held.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** ROWS-frame twin of [[OverProcessor]] (Flink SQL `ROWS BETWEEN
    * n−1 PRECEDING AND CURRENT ROW` ordered by event time): every
    * event aggregates over the up-to-`n` same-key rows ending at
    * itself in (us, id) order. Same decision rule as RANGE — an
    * event's frame is final once the watermark strictly passes its
    * ts, because a late row with a smaller us INSERTS into the count
    * order and would shift every later frame; watermark discipline
    * is what makes ROWS frames decidable at all. Retention is even
    * tighter than RANGE: a future event sorts strictly after every
    * decided row (us ≥ wm > decided us), so only the LAST n−1 decided
    * rows can ever re-enter a frame — state per key is n−1 plus
    * in-flight, independent of both stream depth AND event rate
    * (Flink's ROWS OverAggregate retains the same last-n tail).
    * The dormant tail is bounded by the optional idle-state TTL
    * (see [[overRows]]); with no TTL it lives forever, Flink's own
    * default under `table.exec.state.ttl = 0`. */
  private class RowsProcessor(n: Int, idleTtlUs: Option[Long])
      extends StatefulProcessor[Long, OverEvent, OverAgg] {
    @transient private var held: ListState[Held] = _
    @transient private var schemaTag: org.apache.spark.sql.streaming.ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      held = getHandle.getListState[Held]("rheld", Encoders.product[Held], TTLConfig.NONE)
      schemaTag = StateSchemaVer.state(getHandle)
    }

    private def fold(key: Long, events: Seq[Held], wmUs: Long, firing: Option[Long]): Iterator[OverAgg] = {
      val sorted = events.sortBy(e => (e.us, e.id)).toArray
      val pfx = new Array[Long](sorted.length + 1)
      var i = 0
      while (i < sorted.length) { pfx(i + 1) = pfx(i) + sorted(i).cents; i += 1 }
      val out = sorted.iterator.zipWithIndex
        .filter { case (e, _) => !e.emitted && e.us < wmUs }
        .map { case (e, idx) =>
          val a = math.max(0, idx + 1 - n)
          OverAgg(key, e.id, e.us, (idx + 1 - a).toLong, pfx(idx + 1) - pfx(a), usToTs(e.us))
        }.toVector
      val (dec, undec) = sorted.partition(_.us < wmUs)
      var keep = dec.takeRight(n - 1).map(_.copy(emitted = true)) ++ undec
      var idleAt: Option[Long] = None
      // idle-state TTL (see overRows): with nothing pending, a key
      // whose last-seen event time has fallen idleTtlUs behind the
      // watermark drops its decided tail entirely; otherwise arm the
      // idle timer so a key that goes quiet still expires. The max
      // us over `keep` IS the key's last-seen event time: the newest
      // row is either still in-flight (kept) or the last decided row
      // (takeRight keeps it).
      if (undec.isEmpty && keep.nonEmpty) idleTtlUs.foreach { ttl =>
        val lastSeenUs = keep.iterator.map(_.us).max
        if (wmUs >= lastSeenUs + ttl) keep = Array.empty[Held]
        else idleAt = Some((lastSeenUs + ttl) / 1000L + 1L)
      }
      held.clear()
      if (keep.nonEmpty) held.appendList(keep)
      KeyTimer.rearm(getHandle, firing,
        if (undec.nonEmpty) Some(undec.map(_.us).min / 1000L + 1L) else idleAt)
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[OverEvent],
        timers: TimerValues): Iterator[OverAgg] = {
      StateSchemaVer.check(schemaTag, SchemaV, "overRows")
      val incoming = rows.map(r => Held(r.id, r.us, r.cents, emitted = false)).toSeq
      fold(key, held.get().toSeq ++ incoming, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[OverAgg] =
      fold(key, held.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** Running-total accumulator state (public for encoder codegen);
    * `lastUs` is the key's newest decided event time — the idle clock
    * the optional TTL measures against. UPGRADE NOTE: `lastUs` was
    * added in round 14 — a pre-upgrade checkpoint's 2-field schema
    * does not restore under the default UnsafeRow state encoding;
    * restart from a fresh checkpoint or use the avro encoding. */
  case class RunAcc(cnt: Long, cents: Long, lastUs: Long)

  /** UNBOUNDED-frame twin (Flink SQL `ROWS BETWEEN UNBOUNDED
    * PRECEDING AND CURRENT ROW` ordered by event time — the
    * RowTimeUnboundedOverProcessFunction): every event aggregates
    * over ALL same-key rows at or before it in (us, id) order. The
    * cheapest member of the OVER family: decided rows fold into ONE
    * (count, sum) accumulator and are forgotten — no decided row can
    * ever re-enter a frame (frames only grow forward), so state per
    * key is two longs plus the in-flight rows (ts ≥ watermark),
    * independent of depth, rate, AND frame width. Same decision rule
    * as RANGE/ROWS: a row is final once the watermark strictly
    * passes its ts (a late smaller-ts row would insert below it and
    * shift its running total). Dormant-key bound: the optional
    * idle-state TTL (see [[overUnbounded]]) drops the accumulator
    * once the key sits quiet idleTtlUs past its last decided row. */
  private class UnboundedProcessor(idleTtlUs: Option[Long])
      extends StatefulProcessor[Long, OverEvent, OverAgg] {
    @transient private var pending: ListState[Held] = _
    @transient private var acc: org.apache.spark.sql.streaming.ValueState[RunAcc] = _
    @transient private var schemaTag: org.apache.spark.sql.streaming.ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[Held]("pending", Encoders.product[Held], TTLConfig.NONE)
      acc = getHandle.getValueState[RunAcc]("acc", Encoders.product[RunAcc], TTLConfig.NONE)
      schemaTag = StateSchemaVer.state(getHandle)
    }

    private def fold(key: Long, events: Seq[Held], wmUs: Long, firing: Option[Long]): Iterator[OverAgg] = {
      val sorted = events.sortBy(e => (e.us, e.id))
      var a = if (acc.exists()) acc.get() else RunAcc(0L, 0L, Long.MinValue)
      val (dec, undec) = sorted.partition(_.us < wmUs)
      val out = dec.iterator.map { e =>
        a = RunAcc(a.cnt + 1L, a.cents + e.cents, e.us)
        OverAgg(key, e.id, e.us, a.cnt, a.cents, usToTs(e.us))
      }.toVector
      pending.clear()
      if (undec.nonEmpty) pending.appendList(undec.toArray)
      // idle-state TTL (see overUnbounded): with nothing pending, a
      // key idle idleTtlUs past its last decided row clears BOTH
      // states (the key's next row restarts the running totals from
      // zero — the documented straggler trade); otherwise the idle
      // timer re-arms so a quiet key still expires.
      val expired = undec.isEmpty && idleTtlUs.exists(ttl =>
        a.lastUs != Long.MinValue && wmUs >= a.lastUs + ttl)
      if (expired) acc.clear() else acc.update(a)
      KeyTimer.rearm(getHandle, firing,
        if (undec.nonEmpty) Some(undec.map(_.us).min / 1000L + 1L)
        else if (expired || a.lastUs == Long.MinValue) None
        else idleTtlUs.map(ttl => (a.lastUs + ttl) / 1000L + 1L))
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[OverEvent],
        timers: TimerValues): Iterator[OverAgg] = {
      StateSchemaVer.check(schemaTag, SchemaV, "overUnbounded")
      val incoming = rows.map(r => Held(r.id, r.us, r.cents, emitted = false)).toSeq
      fold(key, pending.get().toSeq ++ incoming, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[OverAgg] =
      fold(key, pending.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** LAG output row; `prev_cents` is None for the key's first event. */
  case class OverLag(key: Long, id: Long, us: Long, prev_cents: Option[Long], ts: Timestamp)
  /** Last decided image per key (public for encoder codegen). */
  case class LastImg(us: Long, id: Long, cents: Long)

  /** LAG(1) over event-time order (Flink SQL `LAG(v) OVER (PARTITION
    * BY key ORDER BY ts)` — q109's streaming twin): every event emits
    * the PREVIOUS same-key row's value in (us, id) order, None for
    * the first. Same watermark-strict decision rule as the frames —
    * a late smaller-ts row would BECOME some later row's predecessor,
    * so a row's lag is final only once the watermark passes it.
    * State = ONE last-decided image per key + in-flight rows: the
    * ROWS-n retention argument with n = 2. Dormant-key bound: the
    * optional idle-state TTL (see [[overLag]]) drops the image once
    * the key sits quiet idleTtlUs past its last decided row. */
  private class LagProcessor(idleTtlUs: Option[Long])
      extends StatefulProcessor[Long, OverEvent, OverLag] {
    @transient private var pending: ListState[Held] = _
    @transient private var last: org.apache.spark.sql.streaming.ValueState[LastImg] = _
    @transient private var schemaTag: org.apache.spark.sql.streaming.ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[Held]("lpending", Encoders.product[Held], TTLConfig.NONE)
      last = getHandle.getValueState[LastImg]("last", Encoders.product[LastImg], TTLConfig.NONE)
      schemaTag = StateSchemaVer.state(getHandle)
    }

    private def fold(key: Long, events: Seq[Held], wmUs: Long, firing: Option[Long]): Iterator[OverLag] = {
      val sorted = events.sortBy(e => (e.us, e.id))
      var prev = if (last.exists()) Some(last.get()) else None
      val (dec, undec) = sorted.partition(_.us < wmUs)
      val out = dec.iterator.map { e =>
        val o = OverLag(key, e.id, e.us, prev.map(_.cents), usToTs(e.us))
        prev = Some(LastImg(e.us, e.id, e.cents))
        o
      }.toVector
      pending.clear()
      if (undec.nonEmpty) pending.appendList(undec.toArray)
      // idle-state TTL (see overLag): with nothing pending, a key
      // idle idleTtlUs past its last decided row drops the image (the
      // key's next row is a fresh "first" — prev_cents None, the
      // documented straggler trade); otherwise the timer re-arms.
      val expired = undec.isEmpty && idleTtlUs.exists(ttl =>
        prev.exists(p => wmUs >= p.us + ttl))
      if (expired) last.clear() else prev.foreach(last.update)
      KeyTimer.rearm(getHandle, firing,
        if (undec.nonEmpty) Some(undec.map(_.us).min / 1000L + 1L)
        else if (expired) None
        else for (ttl <- idleTtlUs; p <- prev) yield (p.us + ttl) / 1000L + 1L)
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[OverEvent],
        timers: TimerValues): Iterator[OverLag] = {
      StateSchemaVer.check(schemaTag, SchemaV, "overLag")
      val incoming = rows.map(r => Held(r.id, r.us, r.cents, emitted = false)).toSeq
      fold(key, pending.get().toSeq ++ incoming, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[OverLag] =
      fold(key, pending.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** Per-event trailing-window aggregate over a streaming events
    * relation: one [[OverAgg]] per input row, with count + exact
    * cents sum over the same key's rows in `[ts − window, ts]`.
    * `watermark` is the out-of-orderness budget; a row's aggregate
    * emits once the watermark strictly passes its event time. */
  def overAgg(events: DataFrame, window: java.time.Duration, watermark: String,
      keyCol: String = "user_id", idCol: String = "event_id",
      valueCol: String = "value", tsCol: String = "ts"): Dataset[OverAgg] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"),
        Det.cents(col(valueCol)).as("cents"), col(tsCol).as("ts"))
      .as[OverEvent]
      .groupByKey(_.key)
      // event-time TIMERS without a DECLARED output event-time column
      // (TimeMode.EventTime, not the eventTimeColumnName overload):
      // Spark's output validation demands emissions STRICTLY newer
      // than the LAGGING late-events watermark, and a decided event
      // whose µs lands exactly on the previous batch's watermark
      // boundary re-emits its own timestamp AT that boundary — the
      // aligned-timestamp corpus in ScaleStress `over_agg_depth_1M`
      // reproduced the rejection reliably (the same platform edge
      // STRESS row 37 closed for TemporalJoinStream). Emitted rows
      // keep their original `ts`; downstream windowing re-watermarks
      // explicitly.
      .transformWithState(
        new OverProcessor(window.toNanos / 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** ROWS-frame per-event aggregate (q87's streaming twin): one
    * [[OverAgg]] per input row with count + exact cents sum over the
    * up-to-`n` same-key rows ending at it in (event time, id) order —
    * Flink SQL `ROWS BETWEEN n−1 PRECEDING AND CURRENT ROW`. Same
    * timer/no-declared-event-time contract as [[overAgg]].
    *
    * `idleTtl` is Flink's idle-state retention (`table.exec.state.ttl`
    * / RowTimeRowsBoundedPrecedingFunction's cleanup timer) as an
    * event-time TTL: a key receiving NO input while the watermark
    * advances `idleTtl` past its last-seen event time drops its
    * decided last-n tail. The documented trade is Flink's too — a
    * straggler arriving after expiry re-opens the key with an EMPTY
    * frame history, so its frame counts restart (results become
    * approximate the moment a key outlives its TTL). None = keep
    * forever. RANGE ([[overAgg]]) needs no such knob: its retention
    * rule (`us ≥ wm − T`) already self-cleans dormant keys. */
  def overRows(events: DataFrame, n: Int, watermark: String,
      idleTtl: Option[java.time.Duration] = None,
      keyCol: String = "user_id", idCol: String = "event_id",
      valueCol: String = "value", tsCol: String = "ts"): Dataset[OverAgg] = {
    require(n >= 1, s"overRows: frame size must be >= 1, got $n")
    idleTtl.foreach(t => require(!t.isNegative && !t.isZero, s"idleTtl must be positive: $t"))
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"),
        Det.cents(col(valueCol)).as("cents"), col(tsCol).as("ts"))
      .as[OverEvent]
      .groupByKey(_.key)
      .transformWithState(new RowsProcessor(n, idleTtl.map(_.toNanos / 1000L)),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** UNBOUNDED-frame per-event running aggregate (q106's streaming
    * twin): one [[OverAgg]] per input row with count + exact cents
    * sum over ALL same-key rows up to and including it in (event
    * time, id) order — Flink SQL `ROWS UNBOUNDED PRECEDING`. State =
    * one (count, sum) accumulator + in-flight rows per key (see
    * [[UnboundedProcessor]]); same timer/no-declared-event-time
    * contract as [[overAgg]], same `idleTtl` contract as [[overRows]]
    * (Flink's RowTimeUnboundedOverProcessFunction registers the
    * identical state-cleanup timer): after expiry a straggler
    * restarts the key's running totals from zero. */
  def overUnbounded(events: DataFrame, watermark: String,
      idleTtl: Option[java.time.Duration] = None,
      keyCol: String = "user_id", idCol: String = "event_id",
      valueCol: String = "value", tsCol: String = "ts"): Dataset[OverAgg] = {
    idleTtl.foreach(t => require(!t.isNegative && !t.isZero, s"idleTtl must be positive: $t"))
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"),
        Det.cents(col(valueCol)).as("cents"), col(tsCol).as("ts"))
      .as[OverEvent]
      .groupByKey(_.key)
      .transformWithState(new UnboundedProcessor(idleTtl.map(_.toNanos / 1000L)),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** LAG(1) per event in (event time, id) order (q109's streaming
    * twin — Flink SQL LAG in an event-time OVER window). State = one
    * last-decided image per key + in-flight rows; same timer/
    * no-declared-event-time contract as [[overAgg]], same `idleTtl`
    * contract as [[overRows]]: after expiry a straggler is a fresh
    * "first" row (prev_cents None). */
  def overLag(events: DataFrame, watermark: String,
      idleTtl: Option[java.time.Duration] = None,
      keyCol: String = "user_id", idCol: String = "event_id",
      valueCol: String = "value", tsCol: String = "ts"): Dataset[OverLag] = {
    idleTtl.foreach(t => require(!t.isNegative && !t.isZero, s"idleTtl must be positive: $t"))
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"),
        Det.cents(col(valueCol)).as("cents"), col(tsCol).as("ts"))
      .as[OverEvent]
      .groupByKey(_.key)
      .transformWithState(new LagProcessor(idleTtl.map(_.toNanos / 1000L)),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
