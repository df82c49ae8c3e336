package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming event-time temporal table join — Flink's
  * `FOR SYSTEM_TIME AS OF fact.ts` (the join the reference's CDC
  * pipelines use to enrich a fact stream against a
  * changelog-maintained dimension), and the streaming twin of
  * q50/TemporalJoins.asOf.
  *
  * Each fact row joins the dimension version with the LATEST
  * `version ts <= fact ts` (inclusive — a version effective exactly
  * at fact time is the version in effect), no matter how the two
  * streams interleave across micro-batches. Structured Streaming's
  * native stream-stream join cannot express "latest ≤" (it is a
  * band/equality join), so this is keyed state: both streams union
  * into one keyed stream and a per-key processor buffers rows until
  * the shared watermark makes them FINAL.
  *
  * Correctness comes from the watermark contract, exactly as in
  * Flink's event-time temporal join: a fact with `ts < watermark` can
  * be matched definitively, because every dimension version that
  * could precede it (`version ts <= fact ts < watermark`) has either
  * arrived or can never arrive. Facts newer than the watermark wait
  * in state; Flink buffers them identically.
  *
  * State per key is bounded regardless of stream depth:
  *  - facts: only rows newer than the watermark (rate × delay);
  *  - dim versions: versions newer than the watermark plus EXACTLY
  *    ONE older version (the version in effect at the watermark) —
  *    any older version can never match a future-foldable fact, since
  *    such facts have `ts >= watermark`. This is Flink's temporal
  *    join state-cleanup rule.
  *
  * At 1000 executors the union shuffles both streams once on `key`
  * and state shards with the keys — the keyed-stream model; no
  * broadcast, no per-batch dimension rescan (compare the
  * stream-static join, which re-reads the whole dimension every
  * micro-batch and cannot see versions time-consistently).
  *
  * Payloads ride as opaque strings (pack structs with `to_json`):
  * the operator's contract is the time resolution, not the schema.
  * Dimension version timestamps must be unique per key — the version
  * stream is a changelog's current-state history, where (key, ts) is
  * the primary key (same contract as the batch asOf).
  */
object TemporalJoinStream {

  case class Tagged(key: Long, us: Long, is_dim: Boolean, payload: String, ts: Timestamp)
  case class DimV(us: Long, value: String)
  case class BufF(us: Long, payload: String)
  case class Enriched(key: Long, us: Long, payload: String,
      dim_value: Option[String], dim_us: Option[Long], ts: Timestamp)

  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private class TemporalJoinProcessor(leftOuter: Boolean)
      extends StatefulProcessor[Long, Tagged, Enriched] {
    @transient private var dims: ListState[DimV] = _
    @transient private var facts: ListState[BufF] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      dims = getHandle.getListState[DimV]("dims", Encoders.product[DimV], TTLConfig.NONE)
      facts = getHandle.getListState[BufF]("facts", Encoders.product[BufF], TTLConfig.NONE)
    }

    /** Resolve every fact with `us < wmUs` against the (now final)
      * version history, emit, and shrink both buffers. */
    private def fold(key: Long, pendingFacts: Seq[BufF], wmUs: Long,
        firing: Option[Long]): Iterator[Enriched] = {
      val (ready, hold) = pendingFacts.partition(_.us < wmUs)
      val versions = dims.get().toSeq.sortBy(_.us)
      val out = ready.sortBy(_.us).iterator.flatMap { f =>
        // every version with us <= f.us is final (f.us < wmUs), so
        // "latest <=" is exact; binary search not worth it at
        // per-key-per-batch sizes
        val m = versions.takeWhile(_.us <= f.us).lastOption
        if (m.isDefined || leftOuter)
          Iterator.single(Enriched(key, f.us, f.payload, m.map(_.value), m.map(_.us), usToTs(f.us)))
        else Iterator.empty
      }.toVector
      facts.clear()
      if (hold.nonEmpty) facts.appendList(hold.toArray)
      // version cleanup: among versions now final (us < wmUs) only the
      // LATEST can ever match again (future-foldable facts have
      // us >= wmUs) — drop the rest
      val (finalV, futureV) = versions.partition(_.us < wmUs)
      if (finalV.length > 1) {
        dims.clear()
        dims.appendList((finalV.takeRight(1) ++ futureV).toArray)
      }
      // re-arm: fold the earliest held fact as soon as the watermark
      // passes it, input or not
      KeyTimer.rearm(getHandle, firing, hold.map(_.us).minOption.map(_ / 1000L + 1L))
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[Tagged],
        timers: TimerValues): Iterator[Enriched] = {
      val incoming = rows.toSeq
      val newDims = incoming.filter(_.is_dim).map(r => DimV(r.us, r.payload))
      if (newDims.nonEmpty) dims.appendList(newDims.toArray)
      val pending = facts.get().toSeq ++
        incoming.filterNot(_.is_dim).map(r => BufF(r.us, r.payload))
      fold(key, pending, timers.getCurrentWatermarkInMs() * 1000L, None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Enriched] =
      fold(key, facts.get().toSeq, timers.getCurrentWatermarkInMs() * 1000L,
        Some(expired.getExpiryTimeInMs()))
  }

  /** Enrich a streaming `facts` relation (`keyCol`, `tsCol`,
    * `payloadCol`) against a streaming `dims` version history
    * (`keyCol`, `tsCol`, `valueCol`). Inner by default: facts before
    * their key's first version are dropped; `leftOuter = true` emits
    * them with a None dimension (the batch asOf's left-asof shape).
    * `watermark` is the shared out-of-orderness budget — both streams
    * get it on `tsCol`, and Spark's global watermark (the min across
    * sources) drives emission. */
  def temporalJoin(facts: DataFrame, dims: DataFrame, watermark: String,
      leftOuter: Boolean = false,
      keyCol: String = "key", tsCol: String = "ts",
      payloadCol: String = "payload", valueCol: String = "value"): Dataset[Enriched] = {
    val s = facts.sparkSession
    import s.implicits._
    def side(df: DataFrame, pl: String, isDim: Boolean) = df
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long").as("key"), unix_micros(col(tsCol)).as("us"),
        lit(isDim).as("is_dim"), col(pl).cast("string").as("payload"), col(tsCol).as("ts"))
    side(facts, payloadCol, isDim = false)
      .unionByName(side(dims, valueCol, isDim = true))
      .as[Tagged]
      .groupByKey(_.key)
      // event-time TIMERS but no declared output event-time column:
      // enriched facts carry their ORIGINAL timestamps, which sit at
      // or below the watermark by construction at emission — a fact
      // stamped exactly on a watermark boundary would trip Spark's
      // output-newer-than-late-watermark validation forever if "ts"
      // were declared as the output event time. Downstream windowing
      // over enrichment output should re-watermark explicitly.
      .transformWithState(
        new TemporalJoinProcessor(leftOuter),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
