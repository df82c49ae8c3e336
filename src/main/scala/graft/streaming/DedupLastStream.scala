package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Det

/** Deduplication KEEP LAST ROW producing a retract stream — Flink
  * SQL's `ROW_NUMBER() OVER (PARTITION BY key ORDER BY rowtime DESC)
  * = 1` dedup, the APPEND → CHANGELOG conversion (ChangelogNormalize
  * is its inverse): the maintained view holds each key's latest row
  * by (event time, id), and every change to that view emits the
  * +I / -U/+U retract grammar the whole CDC operator family consumes
  * (cdcAggStream, cdcMinMaxStream, CdcJoinStream, CdcTopNStream,
  * CdcDistinctStream — this operator is how a plain append stream
  * BECOMES their input without a CDC source).
  *
  * ARRIVAL-order keep-first needs no retractions (the first arrival
  * never changes — streamingExactDedup covers it); keep-LAST is an
  * updating view, as is EVENT-time keep-first, where a late OLDER
  * row displaces the held minimum ([[DedupFirstStream]]).
  *
  * Semantics are event-time deterministic: "last" = the (us, id)
  * maximum seen so far, so a late row older than the stored image
  * emits NOTHING (Flink's rowtime dedup drops it the same way) and
  * any arrival order folds to the same view — replay == batch. Only
  * the per-batch (us, id) maximum can change the view, so a batch's
  * emission is ≤ 2 rows per touched key regardless of its row count.
  * State per key = ONE row image, no timers, no buffer; the emitted
  * stamp `us` is strictly increasing per key (the view only moves
  * forward), which is the version contract downstream folds need.
  */
object DedupLastStream {

  case class LastRow(key: Long, id: Long, us: Long, tp: String, cents: Long, ts: Timestamp)
  case class LastImage(id: Long, us: Long, tp: String, cents: Long)
  case class LastDelta(op: String, key: Long, id: Long, us: Long, tp: String, cents: Long)

  def dedupLastStream(events: DataFrame, watermark: String,
      keyCol: String = "user_id", idCol: String = "event_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      valueCol: String = "value"): Dataset[LastDelta] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"), col(typeCol).as("tp"),
        // integer-exact payload so downstream signed folds cancel exactly
        Det.cents(col(valueCol)).as("cents"),
        col(tsCol).as("ts"))
      .as[LastRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState[LastImage, LastDelta](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[LastRow], state: GroupState[LastImage]) =>
          // only the batch's (us, id)-maximum can move the view
          val best = rows.maxBy(r => (r.us, r.id))
          val cur = state.getOption
          cur match {
            case None =>
              state.update(LastImage(best.id, best.us, best.tp, best.cents))
              Iterator.single(LastDelta("+I", key, best.id, best.us, best.tp, best.cents))
            case Some(c) if best.us > c.us || (best.us == c.us && best.id > c.id) =>
              state.update(LastImage(best.id, best.us, best.tp, best.cents))
              Iterator(
                LastDelta("-U", key, c.id, c.us, c.tp, c.cents),
                LastDelta("+U", key, best.id, best.us, best.tp, best.cents))
            case _ => Iterator.empty // older than the view: not the last row
          }
      }
  }
}
