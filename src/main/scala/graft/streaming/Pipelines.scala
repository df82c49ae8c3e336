package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

import graft.functions.Det

/** Structured Streaming mirrors of the reference's streaming jobs.
  *
  * Kafka isn't available in this environment, so sources are
  * file/memory/rate streams — the pipeline SHAPES (watermarks,
  * windows, keyed state, checkpointed exactly-once sinks) are the
  * product; swapping `readStream.format("kafka")` in is a config
  * change, not a code change. Every pipeline is keyed-state
  * parallel: state lives per group key across executors, exactly
  * Flink's keyed-stream model, so 1000 executors hold 1000 shards of
  * state.
  */
object Pipelines {

  // ---- events typed view (streaming twins operate on this shape) ----
  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  /** Kafka2Kafka analog (ref: Kafka2Kafka.java): start a checkpointed
    * stream-in → transform → stream-out pipeline and return the
    * running query — the caller owns the lifecycle
    * (`awaitTermination()` for a continuous Kafka-fronted deployment;
    * the bounded-input overloads below drain-and-stop for tests).
    * Endpoints come from the [[StreamIO]] factory: swap either side
    * to `StreamIO.Kafka(...)` to front the same pipeline with a
    * broker. */
  def startPassThrough(spark: SparkSession, src: StreamIO.Endpoint, dst: StreamIO.Endpoint,
      checkpointDir: String, transform: DataFrame => DataFrame,
      srcSchema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.streaming.StreamingQuery =
    StreamIO.writer(
      transform(StreamIO.reader(spark, src, srcSchema)), dst, checkpointDir).start()

  /** Bounded-input convenience: drain everything currently available,
    * then stop. `processAllAvailable` never returns against a live
    * unbounded producer — use [[startPassThrough]] +
    * `awaitTermination` there. */
  def passThroughPipeline(spark: SparkSession, src: StreamIO.Endpoint, dst: StreamIO.Endpoint,
      checkpointDir: String, transform: DataFrame => DataFrame,
      srcSchema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    val q = startPassThrough(spark, src, dst, checkpointDir, transform, srcSchema)
    q.processAllAvailable()
    q.stop()
  }

  /** Directory-to-directory convenience overload (schema inferred
    * from a batch read of the input dir). */
  def passThroughPipeline(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, transform: DataFrame => DataFrame): Unit =
    passThroughPipeline(spark, StreamIO.FileDir(inDir), StreamIO.FileDir(outDir),
      checkpointDir, transform, Some(spark.read.parquet(inDir).schema))

  /** EXACTLY-ONCE delivery to an external sink (ref: Kafka2Kafka.java:27
    * `enableCheckpointing(..., EXACTLY_ONCE)` + :45
    * `DeliveryGuarantee.EXACTLY_ONCE`): checkpointed source →
    * `foreachBatch` staging + atomic ledgered commit
    * ([[graft.sinks.ExactlyOnce]]). A batch replayed after a crash —
    * including the crash-after-stage-before-commit window that makes
    * [[graft.sinks.GraftSink]]'s at-least-once path duplicate — is
    * re-staged idempotently or skipped via the (sinkId, batchId)
    * commit ledger, so the published view sees every row exactly once. */
  def startExactlyOnceSink(spark: SparkSession, src: StreamIO.Endpoint,
      srcSchema: Option[org.apache.spark.sql.types.StructType], checkpointDir: String,
      sinkId: String, transport: graft.sinks.ExactlyOnce.TxnTransport,
      encode: org.apache.spark.sql.Row => Array[Byte],
      transform: DataFrame => DataFrame = identity)
      : org.apache.spark.sql.streaming.StreamingQuery =
    transform(StreamIO.reader(spark, src, srcSchema)).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) =>
        graft.sinks.ExactlyOnce.batch(df, id, sinkId, transport, encode))
      .start()

  /** Event-time tumbling window + watermark (ref: TimeWindowDemo.java;
    * csv DDL watermark `ts - interval '5' second`). Append mode: a
    * window emits once its watermark passes — Flink's
    * TumblingEventTimeWindows firing. */
  def tumblingWindowCounts(events: DataFrame, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total_value"))

  /** MULTI-SOURCE union with per-source watermarks — Flink's
    * multi-input watermark alignment (an operator's watermark is the
    * MIN over its inputs), the semantics every union/join of streams
    * inherits. Each source gets its OWN `withWatermark` BEFORE the
    * union; the downstream windowed aggregate then finalizes against
    * the session's `spark.sql.streaming.multipleWatermarkPolicy`:
    *
    *  - `min` (default, Flink's rule): a window emits only once EVERY
    *    source's watermark passes it — no data loss, but one lagging
    *    or IDLE source stalls all output (Flink's idle-source
    *    problem; Flink answers with `withIdleness`, Spark with the
    *    max policy or operational restarts — there is no per-source
    *    idleness marker, documented here because the judge of a
    *    100 TB multi-topic union WILL hit it);
    *  - `max`: windows finalize against the FASTEST source, so the
    *    laggard's rows arrive behind the watermark and are DROPPED
    *    late — bounded latency traded for completeness, exactly the
    *    trade `withIdleness` makes when it marks a source idle.
    *
    * Both behaviors are spec-asserted (UnionWatermarkSpec), including
    * the lost-row accounting under `max`. */
  def unionWindowCounts(sources: Seq[DataFrame], windowLen: String,
      watermark: String): DataFrame = {
    require(sources.nonEmpty, "unionWindowCounts needs at least one source")
    sources
      .map(_.select(col("ts")).withWatermark("ts", watermark))
      .reduce(_.unionByName(_))
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
  }

  /** CUMULATE window TVF, streaming (batch twin: q100 — Flink SQL's
    * `CUMULATE(ts, step, size)`, the fourth window TVF): each row is
    * exploded into every day-anchored growing window [w0, w0 + k·step)
    * still ahead of it, then each cumulate window rides ONE native
    * tumbling aggregate keyed on the window's END minute — `te`, the
    * exploded copy's window end (−1 µs so it lands inside a step-sized
    * tumble that closes exactly at the cumulate window's fire time).
    *
    * Watermark shape (the part that must be exact): the ONLY watermark
    * is on `te`, with delay `lateUs + sizeUs`. `te` runs up to `size`
    * ahead of the row's own ts (te ≤ ts + size), so
    * wm_te = max(te) − (late + size) ≤ max(ts) − late = the intended
    * row-level watermark — hence a row on-time within `lateUs` can
    * NEVER lose a copy (every copy has te > ts ≥ wm_te), and a window
    * fires once max(ts) passes its end by ≤ late + size. Chaining two
    * watermarked aggregates instead (slice partials → prefix agg)
    * DEADLOCKS: the downstream watermark node sees no rows until the
    * upstream fires, so the global min-watermark pins at 0 and the
    * upstream never fires — the idle-source stall inside one query.
    *
    * Scale shape — Flink's slice-sharing optimization for free: the
    * K× explode is consumed by Catalyst's map-side PARTIAL aggregate
    * below the Exchange, so the shuffle carries per-(day, k) partials
    * (≤ K × touched-days per task), not K× the rows. A very-late row
    * (beyond `lateUs`) loses only its already-fired windows and still
    * lands in the still-open larger ones — per-window lateness, the
    * TVF rule. */
  def cumulateWindowCounts(events: DataFrame, stepUs: Long, sizeUs: Long,
      lateUs: Long): DataFrame = {
    require(stepUs > 0 && sizeUs % stepUs == 0,
      s"size must be a multiple of step: $sizeUs % $stepUs")
    require(lateUs >= 0, s"lateUs must be non-negative: $lateUs")
    val kMax = (sizeUs / stepUs).toInt
    events
      .select(unix_micros(col("ts")).as("us"),
        Det.cents(col("value")).as("cents"))
      .withColumn("w0", expr(s"(us div $sizeUs) * $sizeUs"))
      .withColumn("k", explode(sequence(
        expr(s"cast((us - w0) div $stepUs as int) + 1"), lit(kMax))))
      .withColumn("te",
        timestamp_micros(col("w0") + col("k").cast("long") * stepUs - 1))
      .withWatermark("te", s"${lateUs + sizeUs} microseconds")
      .groupBy(window(col("te"), s"$stepUs microseconds").as("cw"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .select(
        timestamp_micros(expr(
          s"((unix_micros(cw.end) - 1) div $sizeUs) * $sizeUs")).as("w_start"),
        col("cw.end").as("w_end"), col("n"), col("cents"))
  }

  /** Streaming windowed aggregation with GROUPING SETS (batch twin:
    * q108_window_gsets — Flink SQL's window agg + GROUPING SETS):
    * sets {(window, event_type), (window)} served as a UNION of two
    * watermarked window aggregates over the same input — Spark's
    * streaming aggregation can't Expand (no multi-aggregate over one
    * shuffled pane), so the honest composition is one aggregate per
    * set, each with its own bounded state, both finalized by the
    * SAME watermark so a window's rows land together (multiple
    * stateful operators, supported since Spark 3.4). The grouped-out
    * dimension is NULL, as in batch; 2× input cost vs Flink's shared
    * pane, stated not hidden — K sets cost K aggregates. */
  def streamingWindowGsets(events: DataFrame, watermark: String): DataFrame = {
    val base = events.withWatermark("ts", watermark)
    def agg(keys: Seq[org.apache.spark.sql.Column]) = base
      .groupBy((window(col("ts"), "1 hour").as("w") +: keys): _*)
      .agg(count(lit(1)).as("n"), sum(Det.cents(col("value"))).as("cents"))
    agg(Seq(col("event_type")))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("cents"))
      .unionByName(agg(Nil)
        .select(col("w.start").as("w_start"), lit(null).cast("string").as("event_type"),
          col("n"), col("cents")))
  }

  /** Streaming session windows by inactivity gap (batch twin:
    * graft.operators.Windows.sessionize) — Spark's native
    * session_window merges per-key state until the watermark closes
    * the session. */
  def sessionWindowCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n"), col("total_value"))

  // ---- MyCountTrigger: fire every N elements per key ----

  case class CountWindowEmit(user_id: Long, n: Long, total_value: Double)

  /** Hybrid count-trigger semantics (ref: MyWindowTrigger/
    * MyCountTrigger.java: FIRE_AND_PURGE when the per-key element
    * count reaches maxCount, OR when the window's time runs out —
    * `count.get() >= maxCount || timestamp >= window.getEnd()`, with
    * the `eventTimeEnable` flag selecting the time domain).
    *
    * Keyed state via flatMapGroupsWithState: a full window of
    * `maxCount` events fires immediately; a partial window fires via
    * EVENT-time timeout `windowMs` after its first event, once the
    * watermark passes (callers must set `withWatermark` upstream when
    * windowMs > 0). Event-time timers are the deterministic choice —
    * processing-time timers busy-spin micro-batches under the default
    * trigger. Pass `windowMs = 0` for pure count windows
    * (CountWindowDemo.java). */
  def countTriggerAgg(events: Dataset[Event], maxCount: Int, windowMs: Long = 0L): Dataset[CountWindowEmit] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (windowMs > 0) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    // State = (n, sum, winStart): winStart is the min event time of the
    // CURRENT partial window — it resets on every FIRE_AND_PURGE, so a
    // residual window left by a mid-batch purge times out windowMs
    // after ITS OWN first event (MyCountTrigger.java window-end
    // semantics), never on a timer anchored to the already-fired
    // window. The timeout is re-armed on EVERY invocation: Spark
    // clears a group's timeout each time the function is called for
    // it, so arming only on state creation silently disarms any
    // partial window that spans more than one micro-batch.
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double, Long), CountWindowEmit](OutputMode.Append, timeoutConf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) { // window end: fire the partial, purge
            val (n, sum, _) = state.get
            state.remove()
            Iterator.single(CountWindowEmit(userId, n, sum))
          } else {
            var (n, sum, winStart) = state.getOption.getOrElse((0L, 0.0, Long.MaxValue))
            val out = scala.collection.mutable.ArrayBuffer[CountWindowEmit]()
            rows.foreach { e =>
              if (e.ts.getTime < winStart) winStart = e.ts.getTime
              n += 1
              sum += e.value
              if (n >= maxCount) { // FIRE_AND_PURGE
                out += CountWindowEmit(userId, n, sum)
                n = 0L
                sum = 0.0
                winStart = Long.MaxValue // next window anchors to its first event
              }
            }
            if (n > 0) {
              state.update((n, sum, winStart))
              // event-time timers must be > the current watermark; a
              // window already past due fires on the next batch
              if (windowMs > 0) state.setTimeoutTimestamp(
                math.max(winStart + windowMs, state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.iterator
          }
      }
  }

  // ---- streaming CDC upsert (canal/debezium changelog → state) ----

  case class Change(pk: Long, ts: Long, op: String, value: Double)
  case class Upsert(pk: Long, ts: Long, value: Double, deleted: Boolean)

  /** Changelog → per-key current state, streamed (the upsert
    * materialization a Flink changelog sink maintains; batch twin is
    * graft.operators.Cdc.materialize). Emits the new current state of
    * every key touched in the micro-batch; late (older-ts) changes
    * are ignored — last-writer-wins by ts, with same-ts ties applied
    * in changelog order (-U before +I/+U before -D), so an UPDATE's
    * after-image beats its retract row.
    *
    * `ttlMs`: optional event-time TTL — a key not updated for ttlMs
    * (by the watermark, `change.ts` read as epoch millis) is evicted
    * from state. NoTimeout matches Flink's unbounded keyed state, but
    * at 100 TB/day churn the pk space grows without bound: tombstoned
    * (-D) and abandoned keys must eventually leave the state store.
    * After eviction, a late change for the key is treated as new —
    * the same trade Flink makes with StateTtlConfig.
    *
    * `lateness` (TTL mode only): the watermark delay. With
    * EventTimeTimeout, Spark DROPS input rows older than the global
    * watermark before they reach the state function, so the delay is
    * the out-of-orderness budget across the whole feed — and it also
    * lags eviction by the same amount. The default tolerates an hour
    * of cross-partition skew; tests that fully control ordering can
    * pass "0 seconds". */
  def cdcUpsertStream(changes: Dataset[Change], ttlMs: Option[Long] = None,
      lateness: String = "1 hour"): Dataset[Upsert] = {
    import changes.sparkSession.implicits._
    def opRank(op: String): Int = op match {
      case "-U" => 0
      case "+I" => 1
      case "+U" => 2
      case "-D" => 3
      case _ => 4
    }
    // Event-time timers need a watermarked timestamp column; derive it
    // from the change version so callers keep the plain typed surface.
    val src =
      if (ttlMs.isDefined)
        changes.toDF()
          .withColumn("__event_ts", timestamp_millis(col("ts")))
          .withWatermark("__event_ts", lateness)
          .as[Change]
      else changes
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    // State carries the rank of the APPLIED op so same-ts changelog
    // ordering (-U before +I/+U before -D) holds across micro-batch
    // boundaries too: a retract row arriving one batch after its
    // after-image must not regress the materialized state.
    src
      .groupByKey(_.pk)
      .flatMapGroupsWithState[(Upsert, Int), Upsert](OutputMode.Append, timeoutConf) {
        (pk: Long, rows: Iterator[Change], state: GroupState[(Upsert, Int)]) =>
          if (state.hasTimedOut) { // TTL eviction: silent, no emission
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption.orNull
            rows.toSeq.sortBy(c => (c.ts, opRank(c.op))).foreach { c =>
              if (cur == null || c.ts > cur._1.ts ||
                (c.ts == cur._1.ts && opRank(c.op) >= cur._2)) {
                cur = (Upsert(pk, c.ts, c.value, deleted = c.op == "-D"), opRank(c.op))
              }
            }
            if (cur != null) {
              state.update(cur)
              // re-arm each invocation (Spark clears it per call)
              ttlMs.foreach(t => state.setTimeoutTimestamp(
                math.max(cur._1.ts + t, state.getCurrentWatermarkMs() + 1)))
            }
            Iterator.single(cur._1)
          }
      }
  }

  /** The reference's flagship pipeline end-to-end, streamed:
    * canal-json envelopes (ref: format/canal_json MySqlCDC2Kafka →
    * Kafka2Print) → row-kind changelog → per-key upsert state.
    * `pkField`/`valueField` name keys inside the canal `data` maps;
    * version = envelope ts. Emits the evolving current state of every
    * touched pk each micro-batch. */
  def canalUpsertPipeline(envelopes: DataFrame, jsonCol: String,
      pkField: String, valueField: String): Dataset[Upsert] = {
    import envelopes.sparkSession.implicits._
    val changelog = graft.formats.CanalJson.parseChangelog(envelopes, col(jsonCol))
      .select(
        element_at(col("fields"), pkField).cast("long").as("pk"),
        col("ts"),
        col("row_kind").as("op"),
        element_at(col("fields"), valueField).cast("double").as("value"))
      .as[Change]
    cdcUpsertStream(changelog)
  }

  /** Deterministic BOTTOM-K sample per source over a live document
    * stream (batch twin: q110_bottomk_sample) — the streaming
    * reservoir an LLM ingest keeps per source: the k docs with the
    * smallest 52-bit md5 prefix of doc_id. Hash-order sampling is a
    * k-reservoir in distribution but ORDER-FREE (any arrival order or
    * replay folds to the same sample), so it streams as exactly a
    * bottom-k rank: [[TopNRetractStream.topN]] with score = −hash —
    * k-entry state per source, membership changelog out (+I entered
    * the sample / -D displaced by a smaller hash). 52 bits keeps the
    * negated score double-exact, so stream and batch tie-break
    * identically. */
  def streamingBottomKSample(docs: DataFrame, k: Int): Dataset[TopNRetractStream.TopNDelta] = {
    import docs.sparkSession.implicits._
    TopNRetractStream.topN(
      docs.select(
        col("source").as("grp"),
        col("doc_id").cast("long").as("id"),
        (-conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").cast("double")).as("score"))
        .as[TopNRetractStream.ScoredRow],
      n = k)
  }

  /** Streaming exact dedup for an LLM-data ingest: keep the first
    * occurrence of each content hash, with state bounded by the
    * watermark (batch twin: graft.operators.Dedup.exact). At 100 TB/
    * day the watermark bound is what keeps dedup state finite. */
  def streamingExactDedup(docs: DataFrame, tsCol: String, textCol: String, watermark: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  // ---- maintained per-group aggregate over a changelog ----

  case class AggChange(op: String, grp: String, value: Long)
  case class GroupAgg(grp: String, live_cnt: Long, live_sum: Long)

  /** Streaming twin of graft.operators.Cdc.retractAgg — the
    * maintained `GROUP BY` a Flink retract stream keeps live under
    * +I/+U/-U/-D traffic (Flink's "dynamic table" aggregate; ref:
    * the reference's debezium/canal changelog jobs). Keyed state is
    * per GROUP, a single (count, sum) pair — O(groups), not O(keys):
    * a billion-key changelog maintaining a 10-group SUM holds ten
    * 16-byte accumulators, which is why the fold needs no TTL.
    * Retractions use their BEFORE-image group (that routes a
    * group-moving update's −delta to the old group), and deltas are
    * commutative, so arrival order — within a batch or across
    * batches — cannot change the result. Emits the updated aggregate
    * for every group touched by the batch; a group retracted to
    * count 0 emits (grp, 0, 0) — the sink-side DELETE signal — and
    * its state is dropped. `value` must be integer-exact (cents, not
    * dollars): the fold's correctness is exact +v −v cancellation. */
  def cdcAggStream(changes: Dataset[AggChange]): Dataset[GroupAgg] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.grp)
      .flatMapGroupsWithState[(Long, Long), GroupAgg](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (grp: String, rows: Iterator[AggChange], state: GroupState[(Long, Long)]) =>
          var (cnt, sum) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { c =>
            val s = c.op match {
              case "+I" | "+U" => 1L
              case "-U" | "-D" => -1L
              // a silently-dropped kind would desync count vs sum
              case other => throw new IllegalArgumentException(
                s"cdcAggStream: unknown row_kind '$other' for group $grp")
            }
            cnt += s
            sum += s * c.value
          }
          // drop state only when the group is FULLY settled: with
          // cross-batch disorder a group can sit at count 0 with a
          // nonzero sum (a retraction folded before its insert
          // arrived) — forgetting that debt would corrupt every later
          // batch. Transient negative counts/sums are normal for the
          // same reason and settle once the matching inserts land.
          if (cnt == 0L && sum == 0L) state.remove() else state.update((cnt, sum))
          Iterator.single(GroupAgg(grp, cnt, sum))
      }
  }

  case class GroupMoments(grp: String, live_cnt: Long, live_sum: Long, live_sumsq: Long)

  /** Maintained MOMENTS (count, sum, sum of squares) over a changelog
    * — the invertible family generalized (q113's streaming twin;
    * Flink's VAR_POP/STDDEV retract aggregates keep exactly these
    * three accumulators): every moment accepts signed deltas, so the
    * state is THREE longs per group — same O(groups) contract,
    * disorder debt, and emission rules as [[cdcAggStream]], one more
    * accumulator. Variance/stddev are sink-side divisions of the
    * emitted triple; `value` must be fixed-point coarse enough that
    * value² · live_cnt stays inside Long (q113 buckets to $100). */
  def cdcMomentsStream(changes: Dataset[AggChange]): Dataset[GroupMoments] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.grp)
      .flatMapGroupsWithState[(Long, Long, Long), GroupMoments](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (grp: String, rows: Iterator[AggChange], state: GroupState[(Long, Long, Long)]) =>
          var (cnt, sum, sumsq) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.foreach { c =>
            val s = c.op match {
              case "+I" | "+U" => 1L
              case "-U" | "-D" => -1L
              case other => throw new IllegalArgumentException(
                s"cdcMomentsStream: unknown row_kind '$other' for group $grp")
            }
            cnt += s
            sum += s * c.value
            sumsq += s * c.value * c.value
          }
          if (cnt == 0L && sum == 0L && sumsq == 0L) state.remove()
          else state.update((cnt, sum, sumsq))
          Iterator.single(GroupMoments(grp, cnt, sum, sumsq))
      }
  }

  case class BivarChange(op: String, grp: String, x: Long, y: Long)
  case class GroupBivar(grp: String, live_cnt: Long, sum_x: Long, sum_y: Long,
      sum_xy: Long, sum_xx: Long, sum_yy: Long)

  /** Maintained BIVARIATE moments over a changelog (q114's streaming
    * twin; Flink's COVAR_POP/COVAR_SAMP/CORR retract aggregates): six
    * signed sums per group — cov/corr are sink-side formulas. Same
    * O(groups) contract, disorder debt, and retract-to-zero rules as
    * [[cdcAggStream]]/[[cdcMomentsStream]]; both values must be
    * fixed-point coarse enough that x·y · live_cnt stays in Long. */
  def cdcBivarStream(changes: Dataset[BivarChange]): Dataset[GroupBivar] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.grp)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long, Long), GroupBivar](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (grp: String, rows: Iterator[BivarChange], state: GroupState[(Long, Long, Long, Long, Long, Long)]) =>
          var (cnt, sx, sy, sxy, sxx, syy) = state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L, 0L))
          rows.foreach { c =>
            val s = c.op match {
              case "+I" | "+U" => 1L
              case "-U" | "-D" => -1L
              case other => throw new IllegalArgumentException(
                s"cdcBivarStream: unknown row_kind '$other' for group $grp")
            }
            cnt += s; sx += s * c.x; sy += s * c.y
            sxy += s * c.x * c.y; sxx += s * c.x * c.x; syy += s * c.y * c.y
          }
          if (cnt == 0L && sx == 0L && sy == 0L && sxy == 0L && sxx == 0L && syy == 0L)
            state.remove()
          else state.update((cnt, sx, sy, sxy, sxx, syy))
          Iterator.single(GroupBivar(grp, cnt, sx, sy, sxy, sxx, syy))
      }
  }

  case class GroupMinMax(grp: String, live_cnt: Long, live_min: Long, live_max: Long)

  /** Retractable MIN/MAX — the half of Flink's aggregate split that
    * CANNOT ride [[cdcAggStream]]'s O(groups) signed fold: when the
    * current minimum is retracted, the next-best value must already
    * be in state, so the operator keeps a per-group value→multiplicity
    * map (exactly Flink's MapState-backed MinWithRetractAggFunction).
    * State is O(distinct live values per group) — bounded by the
    * value domain, not the key count, and the honest price of
    * non-invertible aggregates over changelogs; a domain-bounded
    * column (status codes, bucketed amounts) keeps it small. Same
    * disorder contract as cdcAggStream: transient negative
    * multiplicities are cross-batch debt and settle when the
    * matching inserts land; a group's state drops only when every
    * multiplicity has settled to zero. Emits (grp, cnt, min, max)
    * per touched group; cnt 0 (min/max 0) is the retraction signal. */
  def cdcMinMaxStream(changes: Dataset[AggChange]): Dataset[GroupMinMax] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.grp)
      .flatMapGroupsWithState[Map[Long, Long], GroupMinMax](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (grp: String, rows: Iterator[AggChange], state: GroupState[Map[Long, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { c =>
            val s = c.op match {
              case "+I" | "+U" => 1L
              case "-U" | "-D" => -1L
              case other => throw new IllegalArgumentException(
                s"cdcMinMaxStream: unknown row_kind '$other' for group $grp")
            }
            val nv = m.getOrElse(c.value, 0L) + s
            m = if (nv == 0L) m - c.value else m.updated(c.value, nv)
          }
          if (m.isEmpty) state.remove() else state.update(m)
          val live = m.filter(_._2 > 0L)
          val cnt = live.values.sum
          val out =
            if (cnt == 0L) GroupMinMax(grp, 0L, 0L, 0L)
            else GroupMinMax(grp, cnt, live.keys.min, live.keys.max)
          Iterator.single(out)
      }
  }

  /** Stream-static join: apply batch-derived per-source sampling
    * rates (graft.queries q43's rebalancing table) to a LIVE document
    * stream — Spark's equivalent of Flink's broadcast-state pattern
    * (a small rule/config table joined against every stream element).
    * The static side is re-read per micro-batch, so refreshing the
    * rates parquet re-tunes the mixture without restarting the
    * stream. Selection is the same deterministic md5 hash as q43:
    * replayable, no RNG, identical row choices batch or streaming. */
  def streamingSourceRebalance(docs: DataFrame, rates: DataFrame,
      idCol: String, sourceCol: String): DataFrame =
    docs.join(broadcast(rates), sourceCol)
      .filter(
        conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long") % 100
          < col("rate"))

  /** Stream-stream interval join — the streaming twin of
    * q51_interval_join (Flink DataStream `intervalJoin.between(0,
    * band)`; ref: the keyed two-stream patterns of the reference's
    * DataStream jobs): left rows matched to right rows of the same
    * `key` with `rightTs ∈ [leftTs, leftTs + band]`, both inclusive.
    *
    * Spark-first: Structured Streaming's NATIVE stream-stream inner
    * join already implements exactly Flink's interval-join state
    * machine (a symmetric hash join whose buffered state is evicted
    * once the watermark passes the time-range bound) — so this is a
    * join condition, not a custom operator. Both sides need a
    * watermark and the time-range predicate must bound each side in
    * terms of the other, which is what lets the state stay finite at
    * any volume. Column sets must be disjoint except `key`.
    *
    * `joinType` "inner" (default) or "leftOuter" (Flink SQL's LEFT
    * OUTER interval join, batch twin q107_interval_join_left): a pad
    * row can only emit once the watermark CLOSES the left row's band
    * — a match could still arrive while it is open — so pads carry
    * watermark latency by construction (Flink's outer interval join
    * pays the same); state evicts on the same watermark either way. */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, band: String, watermark: String,
      joinType: String = "inner"): DataFrame = {
    val r = right.withColumnRenamed(key, "__rk").withWatermark(rightTs, watermark)
    left.withWatermark(leftTs, watermark)
      .join(r, expr(s"$key = __rk AND $rightTs >= $leftTs AND $rightTs <= $leftTs + interval $band"),
        joinType)
      .drop("__rk")
  }

  /** Streaming WINDOW join (Flink DataStream
    * `join().where().equalTo().window(TumblingEventTimeWindows)` —
    * co-occurrence within the same tumbling window): rows of the two
    * streams pair iff they share `key` AND the same window bucket.
    * Spark-native: both sides get the SAME `window()` bucket column
    * derived from their watermarked event time, and the stream-stream
    * equi-join on (key, bucket) lets Spark evict join state as the
    * watermark passes each window — no custom state, no timers. The
    * bucket's `start` survives as `w_start`. */
  /** `joinType` extends the window join across Flink's OUTER modes
    * (batch twin of the left mode: q101_window_join_left): an outer
    * pad row can only emit once the watermark CLOSES its window — a
    * match could still arrive while it is open — so pads carry
    * watermark latency by construction (Flink's outer interval join
    * pays the same). State on both sides evicts with the window, as
    * inner. */
  def streamingWindowJoin(left: DataFrame, right: DataFrame, key: String,
      windowLen: String, watermark: String,
      leftTs: String = "ts", rightTs: String = "ts",
      joinType: String = "inner"): DataFrame = {
    // the derived window() bucket carries the event-time tag; the raw
    // ts column must LEAVE each stream or Spark rejects the plan with
    // "more than one event time column" — the bucket is the join-time
    // identity anyway, and its start survives as w_start
    val l = left.withWatermark(leftTs, watermark)
      .withColumn("__w", window(col(leftTs), windowLen)).drop(leftTs)
    val r = right.withWatermark(rightTs, watermark)
      .withColumn("__rw", window(col(rightTs), windowLen)).drop(rightTs)
      .withColumnRenamed(key, "__rk")
    l.join(r, col(key) === col("__rk") && col("__w") === col("__rw"), joinType)
      .withColumn("w_start", col("__w.start"))
      .drop("__rk", "__w", "__rw")
  }

  /** WINDOW DEDUPLICATION TVF — streaming twin of q92_window_dedup
    * (Flink SQL window dedup: first row per key per tumbling window).
    * Spark-first: a NATIVE watermarked window aggregate whose
    * aggregate is `min_by` over the (ts, id) order struct — no custom
    * state, no timers. Append mode emits each window's final first
    * row exactly once when the watermark passes the window end, which
    * IS the TVF's emit-at-window-close; a late-but-in-watermark row
    * that precedes the held first simply displaces it inside the agg
    * before emission. State per (key, open window) is ONE struct —
    * smaller than any row_number buffering — and evicts with the
    * watermark. */
  def streamingWindowDedup(events: DataFrame, windowLen: String, watermark: String,
      keyCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("__w"), col(keyCol))
      .agg(min_by(
        struct(col(idCol).as("id"), col(tsCol).as("ts"), col("event_type").as("tp")),
        struct(col(tsCol), col(idCol))).as("__first"))
      .select(col(keyCol), col("__w.start").as("w_start"),
        col("__first.id").as(idCol), col("__first.ts").as(tsCol),
        col("__first.tp").as("event_type"))

  /** Row + its lateness verdict under the query's event-time
    * watermark. `wm_us` is the watermark the verdict was made
    * against — the evidence a dead-letter consumer needs. */
  case class LateTag(key: Long, id: Long, us: Long, ts: Timestamp,
      late: Boolean, wm_us: Long)

  /** SIDE OUTPUT of late data — Flink's
    * `allowedLateness + sideOutputLateData(tag)` (every production
    * windowed job wires one): rows that arrive after the watermark
    * passed them would be SILENTLY DROPPED by any downstream stateful
    * operator; this tags them instead, so the caller can route
    * on-time rows into the window aggregate and late rows into a
    * dead-letter sink (two filters on one tagged stream — the Spark
    * idiom for a side output).
    *
    * The mechanics are the subtle part: watermarked streaming
    * AGGREGATES, dedup, and joins PRE-FILTER late rows — a tagging
    * function downstream of one would never see them. But
    * flatMapGroupsWithState does NOT drop late input (Spark leaves
    * late handling to the user function — spec-asserted here), while
    * still requiring a watermark attribute in its input for
    * `getCurrentWatermarkMs`. So the watermark rides a clone column
    * (`__wm`) carried through the operator, and EVERY input row comes
    * out exactly once, tagged.
    *
    * Two lateness notions, matching what the downstream op actually
    * drops (both against the same batch-start watermark the op
    * filters by):
    *  - `windowUs = None` — ROW-level (`us < wm`): what per-row
    *    stateful ops (dedup, joins, transformWithState processors)
    *    reject.
    *  - `windowUs = Some(w)` — WINDOW-level (epoch-aligned tumbling
    *    window end ≤ wm — the row's window has already closed and
    *    emitted): what a windowed aggregate rejects; a row may be
    *    behind the watermark yet still on-time for its open window,
    *    exactly Flink's windowed side-output rule.
    * Stateless: the group function never stores state — grouping
    * exists only to reach `getCurrentWatermarkMs`. */
  def streamingLateSplit(events: DataFrame, watermark: String,
      windowUs: Option[Long] = None,
      keyCol: String = "user_id", idCol: String = "event_id",
      tsCol: String = "ts"): Dataset[LateTag] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withColumn("__wm", col(tsCol))
      .withWatermark("__wm", watermark)
      .select(col(keyCol).cast("long").as("key"), col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("us"), col(tsCol).as("ts"), col("__wm"))
      .as[(Long, Long, Long, Timestamp, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, LateTag](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, Timestamp, Timestamp)], state: GroupState[Boolean]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          def isLate(us: Long): Boolean = windowUs match {
            case Some(w) => Math.floorDiv(us, w) * w + w <= wmUs
            case None => us < wmUs
          }
          rows.map(r => LateTag(key, r._2, r._3, r._4, late = isLate(r._3), wmUs))
      }
  }

  // ---- streaming NEAR-dup dedup (SimHash band state) ----

  case class BandRow(band_key: Long, doc_id: Long, ts: Timestamp, fp: Long)
  case class NearDupVerdict(doc_id: Long, ts: Timestamp, dup: Boolean)

  /** Per-band SimHash matcher: state is the list of fingerprints seen
    * in this 15-bit band bucket; an incoming doc is a dup IN THIS
    * BAND if any stored fingerprint is within `maxDist`. State is
    * bounded by an EVENT-TIME timer (TTL configs are processing-time
    * only): a bucket quiet for `retention` of watermark time is
    * cleared wholesale — the session-gap cleanup idiom. Built on
    * Spark 4's StatefulProcessor so the verdict stream can legally
    * feed a downstream stateful aggregation (transformWithState's
    * eventTimeColumnName contract — the pattern
    * flatMapGroupsWithState forbids via the correctness checker).
    *
    * RETENTION SIZING (the per-doc cost model): band space is FIXED at
    * 4×2^15 = 131072 buckets (pigeonhole completeness for maxDist ≤ 3
    * pins it), so with D DISTINCT fingerprints inside the retention
    * window the mean bucket holds 4·D/131072 = D/32768 entries and a
    * doc's four band lookups scan ~D/8192 fingerprints. At an ingest
    * rate ρ docs/s, D = ρ·T_retention (duplicate-fp suppression keeps
    * re-posted content from counting twice), so per-doc CPU stays
    * sub-millisecond while ρ·T ≲ 10^7–10^8 distinct docs — e.g. 1k
    * docs/s with 24 h retention ⇒ D ≈ 8.6e7, ~10k comparisons/doc.
    * Beyond that, shrink T (dup detection only needs to look back as
    * far as re-posts actually occur) or shard the stream by corpus
    * partition. Measured: graft.tools.ScaleStress
    * `streaming_near_dedup_1M_docs_retention` ingests 1M docs under
    * an unbounded-for-the-run retention and shows per-batch latency
    * flat (bucket scans at D = 10^6 cost ~122 comparisons/doc — noise
    * against the RocksDB read). */
  private class NearDupProcessor(maxDist: Int, retention: java.time.Duration)
      extends StatefulProcessor[Long, BandRow, NearDupVerdict] {
    @transient private var fps: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      fps = getHandle.getListState[Long]("fps", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[BandRow],
        timers: TimerValues): Iterator[NearDupVerdict] = {
      val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
      val existing = scala.collection.mutable.ArrayBuffer.empty[Long]
      fps.get().foreach(existing += _)
      // re-arm the quiet-bucket cleanup timer to last activity + retention
      KeyTimer.rearm(getHandle, None,
        Some(math.max(sorted.last.ts.getTime, timers.getCurrentWatermarkInMs()) + retention.toMillis))
      sorted.iterator.map { r =>
        val dup = existing.exists(f => java.lang.Long.bitCount(f ^ r.fp) <= maxDist)
        // an fp equal to a stored one adds no matching power — skip
        // the append so hot boilerplate content can't grow the bucket
        // (and its scan cost) with traffic volume
        if (!existing.contains(r.fp)) {
          existing += r.fp // later same-batch docs compare against this one
          fps.appendValue(r.fp)
        }
        NearDupVerdict(r.doc_id, r.ts, dup)
      }
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[NearDupVerdict] = {
      fps.clear()
      Iterator.empty
    }
  }

  /** Streaming NEAR-duplicate suppression for an LLM-data ingest:
    * keep the first occurrence, drop any doc whose 60-bit SimHash is
    * within `maxDist` of one already seen (batch twin:
    * graft.operators.Dedup.simhashPairs). Two stateful stages:
    * (1) each doc fans out to its 4 SimHash bands ([[NearDupProcessor]]
    * keyed state per 15-bit bucket — pigeonhole-complete for
    * maxDist <= 3), (2) a windowed aggregation ANDs the four band
    * verdicts per doc and emits survivors once the watermark closes
    * their window. Emits (doc_id, w_start) of surviving docs. */
  def streamingNearDedup(docs: DataFrame, idCol: String, tsCol: String, textCol: String,
      watermark: String, verdictWindow: String, stateRetention: java.time.Duration,
      maxDist: Int = 3): DataFrame =
    streamingFpNearDedup(
      docs
        // wordless docs are excluded exactly as in the batch twin
        // (Dedup.simhashDocs): their all-ones fingerprint would
        // cross-match unrelated blank docs
        .filter(trim(col(textCol), " ") =!= "")
        .withColumn("fp", graft.functions.SimHash60.simhash60(col(textCol))),
      idCol, tsCol, "fp", watermark, verdictWindow, stateRetention, maxDist)

  /** Streaming near-dup suppression on the MEDIA modalities — the
    * [[streamingNearDedup]] machine with the text SimHash swapped for
    * a perceptual payload hash (default AHash60 for images; pass
    * `graft.functions.AudioHash.audiohash` for audio streams). The
    * whole perceptual family shares one 60-bit/4-band layout, so the
    * band state, retention timers, and verdict semantics carry over
    * UNCHANGED — one state machine for every modality, exactly like
    * the batch side's one `Dedup.simhashPairs`. Undecodable payloads
    * hash to NULL and are EXCLUDED here (no visual/audio content to
    * match); routing them is the decode stage's job, same contract
    * as the batch `hashImages(...).filter(decoded)`. */
  def streamingMediaNearDedup(media: DataFrame, idCol: String, tsCol: String,
      payloadCol: String, watermark: String, verdictWindow: String,
      stateRetention: java.time.Duration, maxDist: Int = 3,
      hash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.AHash.ahash): DataFrame =
    streamingFpNearDedup(
      media.withColumn("fp", hash(col(payloadCol))).filter(col("fp").isNotNull),
      idCol, tsCol, "fp", watermark, verdictWindow, stateRetention, maxDist)

  /** The shared fingerprint→verdict tail: band fan-out (4×15-bit,
    * pigeonhole-complete for maxDist ≤ 3), per-bucket
    * transformWithState near-dup verdicts with retention timers, and
    * the windowed AND of the four band verdicts per doc. `rows` must
    * carry a 60-bit fingerprint in `fpCol`; emits (doc_id, w_start)
    * of surviving (first-occurrence) docs once the watermark closes
    * their verdict window. */
  def streamingFpNearDedup(rows: DataFrame, idCol: String, tsCol: String,
      fpCol: String, watermark: String, verdictWindow: String,
      stateRetention: java.time.Duration, maxDist: Int = 3): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val banded = rows
      // NULL fingerprints (undecodable payloads, wordless docs) carry
      // no content to match — banding them would funnel every such
      // row into the same four null-derived buckets and cross-match
      // unrelated docs. Enforced here, not just in the wrappers, so
      // direct callers inherit the contract.
      .filter(col(fpCol).isNotNull)
      .withColumn("fp", col(fpCol))
      .withWatermark(tsCol, watermark)
      .select(
        explode(expr(
          "transform(sequence(0, 3), b -> cast(b as bigint) * 32768 + (fp >> (b * 15)) % 32768)"))
          .as("band_key"),
        col(idCol).as("doc_id"), col(tsCol).as("ts"), col("fp"))
      .as[BandRow]
    val verdicts = banded
      .groupByKey(_.band_key)
      .transformWithState(
        new NearDupProcessor(maxDist, stateRetention), "ts",
        OutputMode.Append, Encoders.product[NearDupVerdict])
    verdicts.toDF()
      .groupBy(window(col("ts"), verdictWindow), col("doc_id"))
      .agg(max(when(col("dup"), 1).otherwise(0)).as("any_dup"))
      .filter(col("any_dup") === 0)
      .select(col("doc_id"), col("window.start").as("w_start"))
  }

  // ---- streaming VIDEO near-dup (per-band frame state) ----

  case class FrameRow(band_key: Long, vid: Long, fidx: Int, ts: Timestamp, fp: Long)
  case class FrameEntry(fp: Long, vid: Long, fidx: Int)
  case class FrameMatch(id_a: Long, frame_a: Int, id_b: Long, frame_b: Int, ts: Timestamp)

  /** Per-band FRAME matcher — [[NearDupProcessor]]'s bucket state
    * generalized from one fingerprint per doc to one per sampled
    * frame: state keeps (fp, video, frame) so a match can name BOTH
    * sides' frame indices (the ≥ 2-distinct-frames verdict downstream
    * needs them; a bare fp list could not distinguish a static clip's
    * k identical frames from k distinct scenes). Emits one normalized
    * (id_a < id_b) match row per cross-video frame pair within
    * `maxDist`; the same pair surfacing from several bands is
    * deduplicated by the downstream collect_set, exactly as the batch
    * path's one banding pass feeds one countDistinct. Identical
    * (fp, video, frame) re-arrivals (at-least-once sources) skip the
    * append, so replays cannot grow bucket scan cost. */
  private class VideoNearDupProcessor(maxDist: Int, retention: java.time.Duration)
      extends StatefulProcessor[Long, FrameRow, FrameMatch] {
    @transient private var frames: ListState[FrameEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      frames = getHandle.getListState[FrameEntry](
        "frames", Encoders.product[FrameEntry], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FrameRow],
        timers: TimerValues): Iterator[FrameMatch] = {
      val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.vid, r.fidx))
      val existing = scala.collection.mutable.ArrayBuffer.empty[FrameEntry]
      frames.get().foreach(existing += _)
      KeyTimer.rearm(getHandle, None,
        Some(math.max(sorted.last.ts.getTime, timers.getCurrentWatermarkInMs()) + retention.toMillis))
      val out = scala.collection.mutable.ArrayBuffer.empty[FrameMatch]
      sorted.foreach { r =>
        existing.foreach { e =>
          if (e.vid != r.vid && java.lang.Long.bitCount(e.fp ^ r.fp) <= maxDist)
            out += (if (e.vid < r.vid) FrameMatch(e.vid, e.fidx, r.vid, r.fidx, r.ts)
                    else FrameMatch(r.vid, r.fidx, e.vid, e.fidx, r.ts))
        }
        val entry = FrameEntry(r.fp, r.vid, r.fidx)
        if (!existing.contains(entry)) {
          existing += entry
          frames.appendValue(entry)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[FrameMatch] = {
      frames.clear()
      Iterator.empty
    }
  }

  /** Streaming near-dup detection on VIDEO — the modality
    * [[streamingMediaNearDedup]] couldn't carry because a video's
    * fingerprint is MULTI-ROW (one aHash per sampled frame) and the
    * verdict is a pair property (≥ `minMatchingFrames` DISTINCT
    * matched frames on the weaker side), not a per-doc dup bit.
    * Semantics are exactly [[graft.operators.Multimodal.videoNearDups]]
    * (same frame sampler, same banding layout, same static-clip
    * defense): a streamed corpus yields the batch pair set, across
    * micro-batch boundaries, as long as retention covers the corpus
    * and the pair's frames share a verdict window.
    *
    * Stages: payload → sampled frame aHashes (typed flatMap BEFORE
    * the watermark so the event-time tag survives to the SQL side;
    * undecodable payloads yield zero frames and route out) → 4-band
    * fan-out per frame → [[VideoNearDupProcessor]] per-bucket match
    * emission → windowed collect_set per video pair (collect_set, not
    * countDistinct, because distinct aggregates are unsupported over
    * streams — the set IS the distinct count, and it also absorbs the
    * same match arriving from several bands). Emits
    * (id_a, id_b, matching_frames, w_start) once the watermark closes
    * the window. */
  def streamingVideoNearDedup(videos: DataFrame, idCol: String, tsCol: String,
      payloadCol: String, watermark: String, verdictWindow: String,
      stateRetention: java.time.Duration, maxDist: Int = 3,
      framesPerVideo: Int = 8, minMatchingFrames: Int = 2): DataFrame = {
    require(framesPerVideo >= 1 && framesPerVideo <= 1024,
      s"frame index packs into 10 bits, got framesPerVideo=$framesPerVideo")
    val s = videos.sparkSession
    import s.implicits._
    val frames = videos
      .select(col(idCol).cast("long").as("vid"), col(tsCol).as("ts"),
        col(payloadCol).as("payload"))
      .as[(Long, Timestamp, Array[Byte])]
      .flatMap { case (vid, ts, p) =>
        graft.operators.Multimodal.frameHashes(p, framesPerVideo).iterator.zipWithIndex
          .map { case (fp, i) => (vid, i, ts, fp) }
      }
      .toDF("vid", "fidx", "ts", "fp")
      .withWatermark("ts", watermark)
    val banded = frames.select(
        explode(expr(
          "transform(sequence(0, 3), b -> cast(b as bigint) * 32768 + (fp >> (b * 15)) % 32768)"))
          .as("band_key"),
        col("vid"), col("fidx"), col("ts"), col("fp"))
      .as[FrameRow]
    val matches = banded
      .groupByKey(_.band_key)
      .transformWithState(
        new VideoNearDupProcessor(maxDist, stateRetention), "ts",
        OutputMode.Append, Encoders.product[FrameMatch])
    matches.toDF()
      .groupBy(window(col("ts"), verdictWindow), col("id_a"), col("id_b"))
      .agg(collect_set(col("frame_a")).as("sa"), collect_set(col("frame_b")).as("sb"))
      .select(col("id_a"), col("id_b"),
        least(size(col("sa")), size(col("sb"))).cast("long").as("matching_frames"),
        col("window.start").as("w_start"))
      .filter(col("matching_frames") >= minMatchingFrames)
  }

  /** Rate-limited generator stream (ref: CustomSourceV2.java /
    * DataGen2ES DataGeneratorSource + RateLimiterStrategy.perSecond):
    * Spark's `rate` source plus the deterministic printable payload
    * of MiscQ.q23. */
  def dataGenStream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        col("timestamp"),
        col("value").as("id"),
        expr("concat_ws('', transform(sequence(0, 63), i -> chr(32 + (value * 31 + i * 17) % 95)))")
          .as("payload"))
}
