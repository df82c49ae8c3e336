package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Continuous Top-N with retractions — Flink SQL's Top-N over an
  * append stream (`SELECT ... FROM (SELECT *, ROW_NUMBER() OVER
  * (PARTITION BY grp ORDER BY score DESC) rn ...) WHERE rn <= N` on
  * unbounded input): maintain each group's current top N as rows
  * arrive, emitting a retract stream of MEMBERSHIP changes — `+I`
  * when a row enters the top N, `-D` when it is evicted. A
  * downstream materializer (or upsert sink keyed on (grp, id)) holds
  * exactly the current top N at every micro-batch boundary.
  *
  * This is Flink's "no ranking output" optimized mode deliberately:
  * emitting rank NUMBERS would turn one insertion at rank 1 into N
  * re-emissions (every rank shifts); emitting membership keeps
  * output O(changes) and the consumer orders the N rows itself —
  * the optimization Flink applies when the outer query doesn't
  * project `rn`.
  *
  * State per group: exactly N (id, score) entries — bounded and tiny
  * regardless of stream depth, because on an APPEND stream a row
  * that falls below the N-th can never re-enter (scores are facts,
  * not updates; for changelog input — scores that change or retract
  * — the per-key multiset state of [[Pipelines.cdcMinMaxStream]] is
  * the right shape instead, and N-best generalizes the same way).
  * Row identity is `id`; a duplicate id keeps its best score
  * (idempotent re-delivery safe — and a better late score for an id
  * already IN the top N updates its stored rank position without a
  * membership emission, since membership did not change; deltas
  * carry the score at entry time). Ordering is deterministic:
  * (score desc, id asc) — same tie rule as batch q04.
  */
object TopNRetractStream {

  case class ScoredRow(grp: String, id: Long, score: Double)
  /** Event-time variant for the idle-TTL path ([[topNIdle]]); the
    * no-TTL path rides the same processor with a null ts. */
  case class ScoredRowT(grp: String, id: Long, score: Double, ts: java.sql.Timestamp)
  /** `op` = "+I" (entered top N) | "-D" (evicted). */
  case class TopNDelta(op: String, grp: String, id: Long, score: Double)
  /** State entry (public for encoder codegen). */
  case class TopEntry(id: Long, score: Double)

  /** State-schema version ([[graft.streaming.StateSchemaVer]]): v1 —
    * TopEntry unchanged since birth. */
  private val SchemaV = 1

  private class TopNProcessor(n: Int, idleTtlMs: Option[Long])
      extends StatefulProcessor[String, ScoredRowT, TopNDelta] {
    @transient private var top: ListState[TopEntry] = _
    @transient private var schemaTag: org.apache.spark.sql.streaming.ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[TopEntry]("top",
        Encoders.product[TopEntry], TTLConfig.NONE)
      schemaTag = StateSchemaVer.state(getHandle)
    }

    override def handleInputRows(grp: String, rows: Iterator[ScoredRowT],
        timers: TimerValues): Iterator[TopNDelta] = {
      StateSchemaVer.check(schemaTag, SchemaV, "topNRetractStream")
      val cur = top.get().toSeq
      // candidates = current members + batch rows, best score per id;
      // the idle clock (max event time this batch) rides the pass
      var batchMaxTsMs = Long.MinValue
      val best = scala.collection.mutable.Map.empty[Long, Double]
      cur.foreach(e => best(e.id) = e.score)
      rows.foreach { r =>
        if (r.ts != null && r.ts.getTime > batchMaxTsMs) batchMaxTsMs = r.ts.getTime
        if (!best.get(r.id).exists(_ >= r.score)) best(r.id) = r.score
      }
      // event-time idle TTL (see [[topNIdle]]): advance the idle
      // timer to lastSeen + ttl on every touch, never earlier
      idleTtlMs.foreach { ttl =>
        if (batchMaxTsMs != Long.MinValue) KeyTimer.advance(getHandle, batchMaxTsMs + ttl + 1L)
      }
      val next = best.toSeq.map { case (id, s) => TopEntry(id, s) }
        .sortBy(e => (-e.score, e.id)).take(n)
      top.clear()
      if (next.nonEmpty) top.appendList(next.toArray)
      val curIds = cur.map(_.id).toSet
      val nextIds = next.map(_.id).toSet
      val out =
        next.filter(e => !curIds.contains(e.id))
          .map(e => TopNDelta("+I", grp, e.id, e.score)) ++
        cur.filter(e => !nextIds.contains(e.id))
          .map(e => TopNDelta("-D", grp, e.id, e.score))
      out.iterator
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[TopNDelta] = {
      // idle expiry: drop the dormant group's entries. Silent by
      // design (Flink state TTL drops the same way).
      top.clear()
      Iterator.empty
    }
  }

  /** Maintain each group's top `n` rows by score over an append
    * stream (see object doc for the membership-changelog contract).
    * Dormant groups live forever here (Flink's `table.exec.state.ttl
    * = 0` default) — see [[topNIdle]] for the event-time TTL. */
  def topN(rows: Dataset[ScoredRow], n: Int): Dataset[TopNDelta] = {
    import rows.sparkSession.implicits._
    rows.map(r => ScoredRowT(r.grp, r.id, r.score, null))
      .groupByKey(_.grp)
      .transformWithState(new TopNProcessor(n, None), TimeMode.None(), OutputMode.Append())
  }

  /** Event-time idle-state TTL variant — Flink's
    * `table.exec.state.ttl` analog, measured in EVENT time like the
    * OVER family's `idleTtl` ([[OverAggStream.overRows]]): a group
    * whose newest seen event time falls `idleTtl` behind the
    * watermark drops its N entries silently; a straggler re-opens it
    * empty and re-fills from what it sees next — the documented TTL
    * approximation. `rows` must carry the [[ScoredRow]] columns plus
    * an event-time `ts` ALREADY watermarked (`withWatermark`) — the
    * event-time processor loud-rejects an unwatermarked input.
    * (Event-time timers, not processing-time: transformWithState's
    * processing-time mode re-triggers batches unconditionally and
    * busy-spins a low-latency stream — the [[CdcTopNStream.topNIdle]]
    * note.) */
  def topNIdle(rows: org.apache.spark.sql.DataFrame, n: Int,
      idleTtl: java.time.Duration): Dataset[TopNDelta] = {
    require(!idleTtl.isNegative && !idleTtl.isZero, s"idleTtl must be positive: $idleTtl")
    val s = rows.sparkSession
    import s.implicits._
    import org.apache.spark.sql.functions.col
    rows.select(col("grp"), col("id").cast("long"), col("score").cast("double"), col("ts"))
      .as[ScoredRowT]
      .groupByKey(_.grp)
      .transformWithState(new TopNProcessor(n, Some(idleTtl.toMillis)),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
