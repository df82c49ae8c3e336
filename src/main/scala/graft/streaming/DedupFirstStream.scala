package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Det

/** Deduplication KEEP FIRST ROW by EVENT time, producing a retract
  * stream — Flink SQL's `ROW_NUMBER() OVER (PARTITION BY key ORDER BY
  * rowtime ASC) = 1` dedup (batch twin: q97_dedup_first), plus Flink's
  * idle-state retention (`table.exec.state.ttl` / StateTtlConfig) as
  * an optional event-time TTL.
  *
  * This is NOT arrival-order keep-first (streamingExactDedup), which
  * keeps whatever arrived first and therefore never retracts. Under
  * EVENT time, "first" is the (rowtime, id) MINIMUM, and a late row
  * older than the held view must DISPLACE it — so rowtime keep-first
  * is an updating view exactly like [[DedupLastStream]]'s keep-last,
  * just with the order reversed (Flink's RowTimeDeduplicateFunction
  * makes the same distinction from its ProcTime variant). A late row
  * NEWER than the view emits nothing; any arrival order folds to the
  * same view, so replay == batch.
  *
  * Because the view's `us` moves BACKWARD over time (the minimum only
  * shrinks), the event time cannot serve as the downstream version
  * stamp the way keep-last's forward-moving `us` does. Deltas instead
  * carry `seq`, a per-key strictly-increasing sequence persisted in
  * state — checkpoint replay re-stamps identically (the same
  * strictVer trade CdcJoinStream.cascade makes).
  *
  * Idle-state TTL (`idleTtlUs`): a key receiving NO input while the
  * watermark advances `idleTtlUs` past its last-seen event time has
  * its state dropped via an event-time timer — Flink's idle-state
  * retention, which bounds dedup state on unbounded key spaces
  * (session ids, request ids) where most keys go permanently quiet.
  * The documented trade-off is Flink's too: after expiry the view is
  * FORGOTTEN, so a straggler row re-opens the key with a fresh +I
  * even if a "first" was already published — results downstream
  * become approximate the moment a key outlives its TTL. By default
  * expiry is silent (Flink emits nothing on TTL cleanup); with
  * `expireEmitsDelete = true` the dropped view is retracted with a
  * -D so downstream changelog consumers stay well-formed (the
  * resurrection's +I then re-opens a properly closed key).
  *
  * State per key = ONE row image + two longs; per-batch emission ≤ 2
  * rows per touched key (only the batch's (us, id) minimum can move
  * the view) regardless of batch row count.
  */
object DedupFirstStream {

  case class FirstRow(key: Long, id: Long, us: Long, tp: String, cents: Long, ts: Timestamp)
  case class FirstImage(id: Long, us: Long, tp: String, cents: Long,
      seq: Long, lastSeenUs: Long)
  case class FirstDelta(op: String, key: Long, id: Long, us: Long, tp: String,
      cents: Long, seq: Long)

  /** @param idleTtlUs drop a key's state once the watermark passes
    *   lastSeen + ttl with no new input (None = keep forever)
    * @param expireEmitsDelete retract the dropped view with a -D at
    *   expiry instead of Flink's silent cleanup */
  def dedupFirstStream(events: DataFrame, watermark: String,
      idleTtlUs: Option[Long] = None,
      expireEmitsDelete: Boolean = false,
      keyCol: String = "user_id", idCol: String = "event_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      valueCol: String = "value"): Dataset[FirstDelta] = {
    idleTtlUs.foreach(t => require(t > 0, s"idleTtlUs must be positive: $t"))
    val s = events.sparkSession
    import s.implicits._
    val timeout =
      if (idleTtlUs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"), col(typeCol).as("tp"),
        Det.cents(col(valueCol)).as("cents"),
        col(tsCol).as("ts"))
      .as[FirstRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState[FirstImage, FirstDelta](OutputMode.Append, timeout) {
        (key: Long, rows: Iterator[FirstRow], state: GroupState[FirstImage]) =>
          if (state.hasTimedOut) {
            // idle past TTL: Flink's StateTtlConfig cleanup — silent by
            // default; optionally a -D so downstream grammar stays closed
            val img = state.get
            state.remove()
            if (expireEmitsDelete)
              Iterator.single(FirstDelta("-D", key, img.id, img.us, img.tp,
                img.cents, img.seq + 1))
            else Iterator.empty
          } else {
            // one streaming pass, O(1) heap per key regardless of the
            // batch's row count: only the (us, id) MINIMUM can move
            // the view, and ANY row refreshes the idle clock
            var best: FirstRow = null
            var seenUs = Long.MinValue
            rows.foreach { r =>
              if (best == null || r.us < best.us || (r.us == best.us && r.id < best.id))
                best = r
              if (r.us > seenUs) seenUs = r.us
            }
            val cur = state.getOption
            val out = cur match {
              case None =>
                state.update(FirstImage(best.id, best.us, best.tp, best.cents,
                  1L, seenUs))
                Iterator.single(FirstDelta("+I", key, best.id, best.us, best.tp,
                  best.cents, 1L))
              case Some(c) if best.us < c.us || (best.us == c.us && best.id < c.id) =>
                // a LATE OLDER row displaces the held first
                state.update(FirstImage(best.id, best.us, best.tp, best.cents,
                  c.seq + 2, math.max(c.lastSeenUs, seenUs)))
                Iterator(
                  FirstDelta("-U", key, c.id, c.us, c.tp, c.cents, c.seq + 1),
                  FirstDelta("+U", key, best.id, best.us, best.tp, best.cents, c.seq + 2))
              case Some(c) =>
                state.update(c.copy(lastSeenUs = math.max(c.lastSeenUs, seenUs)))
                Iterator.empty // newer than the view: not the first row
            }
            idleTtlUs.foreach { ttl =>
              // timer at lastSeen + ttl, clamped above the current
              // watermark (Spark rejects timers at or below it)
              val atMs = Math.addExact(state.get.lastSeenUs, ttl) / 1000L
              state.setTimeoutTimestamp(math.max(atMs, state.getCurrentWatermarkMs() + 1L))
            }
            out
          }
      }
  }
}
