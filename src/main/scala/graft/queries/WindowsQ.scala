package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Det._
import graft.operators.{TemporalJoins, Windows}
import graft.sources.Tables

/** Windows & event time (SURVEY §2 q13–q17), batch forms.
  *
  * q13/q14 use Spark's `window()` (tumbling/hopping) exactly like the
  * reference's TumblingProcessingTimeWindows / sliding assigners
  * (MyWindowTrigger/TimeWindowDemo.java); q15 session windows; q16
  * count windows (CountWindowDemo.java); q17 cumulative (running)
  * per-key aggregates. Streaming twins with watermarks are in
  * graft.streaming.Pipelines (ScalaTest-verified).
  */
object WindowsQ extends QueryPack {

  def defs: Map[String, Q] = Map(
    // Tumbling 1h event-time window per event_type.
    "q13_tumbling_window" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
        .select($"w.start".as("w_start"), $"event_type", $"n", $"total_value")
    }),

    // Tumbling window WITH OFFSET (round 13; Flink's
    // TumblingEventTimeWindows.of(Time.days(1), Time.hours(8)) —
    // the offset parameter that aligns day windows to a non-UTC
    // local midnight, e.g. UTC+16's day starting at 08:00 UTC;
    // Spark's `window()` exposes it as startTime). Window start =
    // floor((t − offset) / size) · size + offset, all integer
    // seconds, so the oracle replays it exactly. Same one-exchange
    // plan as q13 — the offset is pure scan-side arithmetic.
    "q98_window_offset" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 day", "1 day", "8 hours").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
        .select($"w.start".as("w_start"), $"event_type", $"n", $"total_value")
    }),

    // Sliding (hopping) 1h window every 15min; each row lands in 4 windows.
    "q14_sliding_window" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
        .select($"w.start".as("w_start"), $"n", $"total_value")
    }),

    // CUMULATE window TVF (round 13; Flink SQL's fourth window TVF —
    // TUMBLE=q13, HOP=q14, SESSION=q15, CUMULATE was the gap):
    // CUMULATE(ts, 6h step, 1d size) assigns each row to every
    // day-anchored growing window [w0, w0 + k·6h) whose end is after
    // the row — the early-firing daily total (the "today so far"
    // rollup at 06:00/12:00/18:00/24:00). A row's first window is
    // k = floor((t − w0)/step) + 1; windows k..4 all contain it, so
    // the explode is the TVF's row-to-window assignment verbatim.
    // Integer-µs arithmetic end to end; one exchange after the
    // explode. Streaming twin: Pipelines.cumulateWindowCounts (the
    // slice-shared two-stage form — Flink's own cumulate
    // optimization).
    "q100_cumulate_window" -> ((s, d) => {
      import s.implicits._
      val sizeUs = 86400000000L
      val stepUs = 21600000000L
      val k = (sizeUs / stepUs).toInt
      Tables.events(s, d)
        .select(unix_micros($"ts").as("us"),
          cents($"value").as("cents"))
        .withColumn("w0", expr(s"(us div $sizeUs) * $sizeUs"))
        .withColumn("k", explode(sequence(
          expr(s"cast((us - w0) div $stepUs as int) + 1"), lit(k))))
        .groupBy($"w0", $"k")
        .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
        .select(
          timestamp_micros($"w0").as("w_start"),
          timestamp_micros($"w0" + $"k".cast("long") * stepUs).as("w_end"),
          $"n", $"cents")
    }),

    // Session windows, 30 min inactivity gap per user.
    "q15_session_window" -> ((s, d) => {
      import s.implicits._
      Windows.sessionize(Tables.events(s, d), $"user_id", $"ts", $"event_id", "30 MINUTES")
        .groupBy($"user_id", $"session_id")
        .agg(
          count(lit(1)).as("n"),
          min($"ts").as("session_start"),
          max($"ts").as("session_end"),
          moneySum($"value").as("total_value"))
    }),

    // Count windows of 5 per user; like Flink countWindow(5), only full
    // windows fire.
    "q16_count_window" -> ((s, d) => {
      import s.implicits._
      Windows.countWindowIndex(Tables.events(s, d), $"user_id", $"ts", $"event_id", 5)
        .groupBy($"user_id", $"win_id")
        .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
        .filter($"n" === 5)
    }),

    // Cumulative per-key running aggregates over event time.
    "q17_cumulative_window" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .select(
          $"user_id", $"event_id",
          count(lit(1)).over(w).as("running_n"),
          (sum(cents($"value")).over(w) / 100.0).as("running_value"))
    }),

    // WINDOW join (Flink DataStream join().where().equalTo()
    // .window(Tumbling...) — co-occurrence in the same window, the
    // third member of Flink's two-stream join family next to the
    // interval join q51 and the temporal join q50): same-user clicks
    // × errors inside the same 1h tumbling bucket. One equi-join on
    // (user, bucket) — the bucket is a derived column, so this
    // shuffles like any equi-join and never scans cross products.
    "q82_window_join" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"),
          window($"ts", "1 hour")("start").as("w_start"))
      val errors = ev.filter($"event_type" === "error")
        .select($"user_id".as("__ru"), $"event_id".as("error_id"),
          window($"ts", "1 hour")("start").as("__rw"))
      clicks.join(errors, $"user_id" === $"__ru" && $"w_start" === $"__rw")
        .select($"user_id", $"w_start", $"click_id", $"error_id")
    }),

    // LEFT-OUTER window join (round 13; Flink's window join / interval
    // join OUTER modes — q82 closed inner, this closes the pad side,
    // as q80 did for the changelog join): every click keeps its row,
    // error_id null when its (user, hour) bucket saw no error. Same
    // (key, derived-bucket) equi-join plan as q82 — the pad costs
    // nothing extra in batch; in streaming the pad row waits for the
    // watermark to CLOSE the window (a match could still arrive),
    // which is Flink's outer-interval-join latency too
    // (Pipelines.streamingWindowJoin(joinType = "left_outer")).
    "q101_window_join_left" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"),
          window($"ts", "1 hour")("start").as("w_start"))
      val errors = ev.filter($"event_type" === "error")
        .select($"user_id".as("__ru"), $"event_id".as("error_id"),
          window($"ts", "1 hour")("start").as("__rw"))
      clicks.join(errors,
          $"user_id" === $"__ru" && $"w_start" === $"__rw", "left_outer")
        .select($"user_id", $"w_start", $"click_id", $"error_id")
    }),

    // WINDOW TOP-N TVF (round 13; Flink SQL's WindowTopN — the batch
    // twin stream_window_topn has carried since r8, now oracle-gated
    // too): top-3 event types per tumbling hour by count, ties by
    // item asc (the stream's rule). Two shuffles, both distributive:
    // the (bucket, item) count with map-side partials, then the
    // per-bucket rank over |distinct items| rows — never |events|.
    "q103_window_topn" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"w_start").orderBy($"n".desc, $"event_type".asc)
      Tables.events(s, d)
        .withColumn("w_start", date_trunc("hour", $"ts"))
        .groupBy($"w_start", $"event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 3)
        .select($"w_start", $"rnk", $"event_type", $"n")
    }),

    // WINDOW DEDUPLICATION TVF (round 13; Flink SQL's window dedup —
    // `ROW_NUMBER() OVER (PARTITION BY window_start, key ORDER BY
    // ts) = 1` over TUMBLE — the "first event per user per hour"
    // shape behind sampled sessionization): one shuffle on
    // (user, hour bucket) + a row_number window; the hour bucket is
    // date_trunc (epoch-aligned, identical to window('1 hour')), so
    // the dedup key is a plain column both engines compute the same
    // way. Ties broken by event_id — deterministic first row.
    // Streaming twin: Pipelines.streamingWindowDedup (a NATIVE
    // watermarked window aggregate with a min_by struct — no custom
    // state; Spark emits each window's final first-row exactly once
    // at watermark passage, which IS the TVF's emit-at-window-close).
    "q92_window_dedup" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"w_start")
        .orderBy($"ts".asc, $"event_id".asc)
      Tables.events(s, d)
        .withColumn("w_start", date_trunc("hour", $"ts"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"w_start", $"event_id", $"ts", $"event_type")
    }),

    // Event-time OVER aggregation (Flink SQL `SUM(...) OVER (PARTITION
    // BY user ORDER BY ts RANGE INTERVAL '1' HOUR PRECEDING)` — the
    // per-event trailing-window shape behind fraud velocity checks and
    // rolling per-user spend): for EVERY event, the count and exact
    // cents sum of the same user's events in [ts − 1h, ts]. RANGE
    // frame (all equal-ts peers included, inclusive both bounds) over
    // integer µs, so both engines agree bit-for-bit; one shuffle on
    // the user key, frame scan is the sorted partition — no self-join.
    "q81_over_agg" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .select(
          $"user_id", $"event_id",
          count(lit(1)).over(w).as("n_1h"),
          sum(cents($"value")).over(w).as("cents_1h"))
    }),

    // ROWS-frame OVER aggregation (round 13; completes the OVER
    // family next to q81's RANGE frame — Flink SQL `ROWS BETWEEN 2
    // PRECEDING AND CURRENT ROW` ordered by event time): for EVERY
    // event, count + exact cents sum over the up-to-3 same-user rows
    // ending at it in (ts, event_id) order — the deterministic tie
    // rule both engines share. Same single user-key shuffle as q81;
    // frame scan is the sorted partition.
    "q87_over_rows" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy(unix_micros($"ts"), $"event_id")
        .rowsBetween(-2, 0)
      Tables.events(s, d)
        .select(
          $"user_id", $"event_id",
          count(lit(1)).over(w).as("n_3r"),
          sum(cents($"value")).over(w).as("cents_3r"))
    }),

    // Windowed aggregation with GROUPING SETS (round 13; Flink SQL's
    // window agg + GROUPING SETS — one pass serving both the
    // per-(window, type) counts and the per-window totals a dashboard
    // reads side by side): sets {(w_start, event_type), (w_start)}
    // — the window is ALWAYS present (not rollup's global row).
    // Catalyst plans ONE Expand (each input row replicated per set)
    // consumed by map-side partial agg below a single exchange —
    // Flink's shared window pane for free; the 2× expand amplification
    // is eaten before the shuffle (plan-asserted). Streaming twin
    // composes the same sets as a union of two watermarked window
    // aggregates (Pipelines.streamingWindowGsets).
    "q108_window_gsets" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("w_start", date_trunc("hour", $"ts"))
        .groupingSets(
          Seq(Seq($"w_start", $"event_type"), Seq($"w_start")),
          $"w_start", $"event_type")
        .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
    }),

    // UNBOUNDED-frame OVER aggregation (round 13; completes the OVER
    // family's third frame next to q81 RANGE and q87 ROWS-n — Flink
    // SQL `ROWS UNBOUNDED PRECEDING` ordered by event time, the
    // running-total shape behind lifetime-spend and sequence-number
    // views): for EVERY event, count + exact cents sum over ALL
    // same-user rows up to it in (ts, event_id) order. Same single
    // user-key shuffle; this is the frame whose STREAMING state is
    // O(1) per key (one accumulator — decided rows are forgotten).
    "q106_over_unbounded" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy(unix_micros($"ts"), $"event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .select(
          $"user_id", $"event_id",
          count(lit(1)).over(w).as("n_run"),
          sum(cents($"value")).over(w).as("cents_run"))
    }),

    // LAG over event-time order (round 13; Flink SQL `LAG(v) OVER
    // (PARTITION BY key ORDER BY ts)` — the previous-row shape behind
    // delta/gap features): for EVERY event, the previous same-user
    // cents in (ts, event_id) order, NULL for the user's first. Same
    // ONE user-key shuffle as the OVER family; streaming state is a
    // single last-decided image per key (OverAggStream.overLag).
    "q109_over_lag" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"), $"event_id")
      Tables.events(s, d)
        .select(
          $"user_id", $"event_id",
          lag(cents($"value"), 1).over(w).as("prev_cents"))
    }),

    // FULL OUTER interval join (round 13; completes the interval
    // family's mode axis next to q51 inner and q107 left): all
    // qualifying pairs plus every matchless click AND every matchless
    // error, each padded once. The bucket tricks cannot pad both
    // sides in one join (whichever side explodes would pad twice), so
    // the outer rows come from one anti-join per side against the
    // DISTINCT matched ids — three bucketized equi-joins total, never
    // a nested loop (plan-asserted), matched-id sets broadcast-sized.
    "q112_interval_join_full" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id", $"ts".as("c_ts"))
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id".as("error_id"), $"user_id", $"ts".as("e_ts"))
      TemporalJoins.intervalFull(clicks, errors, key = "user_id",
          leftId = "click_id", rightId = "error_id",
          leftTs = "c_ts", rightTs = "e_ts", lowerUs = 0L, upperUs = 600000000L)
        .select($"click_id", $"error_id", $"user_id",
          (unix_micros($"e_ts") - unix_micros($"c_ts")).as("gap_us"))
    }),

    // AS-OF (temporal) join: each order priced against the credit
    // limit IN EFFECT at its order date (Flink `FOR SYSTEM_TIME AS OF`
    // over a CDC-materialized history). The version history is
    // synthesized deterministically per customer (3 revisions on a
    // custkey-scheduled calendar) so the oracle can rebuild it and
    // replay with DuckDB's native ASOF LEFT JOIN. Orders predating
    // their customer's first revision keep a NULL limit. The union +
    // running-last window shuffles ONCE on the key — no inequality
    // join, no per-probe history scan.
    "q50_asof_join" -> ((s, d) => {
      import s.implicits._
      val versions = Tables.customer(s, d)
        .select($"c_custkey", explode(sequence(lit(0), lit(2))).as("v"))
        .select(
          $"c_custkey".as("custkey"),
          expr("timestampadd(DAY, cast(c_custkey % 500 + v * 800 as int), timestamp '1995-01-01')")
            .as("eff"),
          (($"c_custkey" * 31 + $"v" * 17) % 1000).cast("long").as("credit_limit"))
      TemporalJoins.asOf(
        Tables.orders(s, d).select($"o_orderkey", $"o_custkey".as("custkey"), $"o_orderdate"),
        versions, key = "custkey", probeTs = "o_orderdate", versionTs = "eff",
        payload = Seq("credit_limit"))
    }),

    // Interval join: each click paired with same-user errors within
    // the following 10 minutes (Flink DataStream
    // `intervalJoin.between(0, 10min)` — the error-attribution shape).
    // Bucketized equi-join on (user, time-bucket): never a nested-loop
    // join, shuffle bounded by per-user bucket occupancy.
    "q51_interval_join" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id", $"ts".as("c_ts"))
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id".as("error_id"), $"user_id", $"ts".as("e_ts"))
      TemporalJoins.interval(clicks, errors, key = "user_id",
          leftTs = "c_ts", rightTs = "e_ts", lowerUs = 0L, upperUs = 600000000L)
        .select($"click_id", $"error_id", $"user_id",
          (unix_micros($"e_ts") - unix_micros($"c_ts")).as("gap_us"))
    }),

    // LEFT OUTER interval join (round 13; Flink SQL's outer interval
    // join — `l LEFT JOIN r ON key AND r.ts BETWEEN l.ts AND l.ts +
    // band`: every click emits, null-padded when no error followed
    // within the band): the pad side of q51. The outer mode
    // bucketizes the OPPOSITE side — each left row lives in exactly
    // ONE bucket and the right explodes into the two buckets it can
    // serve, so the plain left equi-join pads each unmatched click
    // exactly once and no pair can match twice; the band predicate
    // rides IN the join condition (a post-filter would eat the
    // pads). Same single equi-join shuffle as q51 — outer-ness is
    // free (plan-asserted: hash join, never nested-loop).
    "q107_interval_join_left" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id", $"ts".as("c_ts"))
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id".as("error_id"), $"user_id", $"ts".as("e_ts"))
      TemporalJoins.interval(clicks, errors,
          key = "user_id", leftTs = "c_ts", rightTs = "e_ts",
          lowerUs = 0L, upperUs = 600000000L, joinType = "left")
        .select($"click_id", $"error_id", $"user_id",
          (unix_micros($"e_ts") - unix_micros($"c_ts")).as("gap_us"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q82_window_join" ->
      """SELECT c.user_id, date_trunc('hour', c.ts) AS w_start,
        |  c.event_id AS click_id, e.event_id AS error_id
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id
        | AND date_trunc('hour', c.ts) = date_trunc('hour', e.ts)
        |WHERE c.event_type = 'click' AND e.event_type = 'error'""".stripMargin,

    "q101_window_join_left" ->
      """SELECT c.user_id, date_trunc('hour', c.ts) AS w_start,
        |  c.event_id AS click_id, e.event_id AS error_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND date_trunc('hour', c.ts) = date_trunc('hour', e.ts)""".stripMargin,

    "q103_window_topn" ->
      """SELECT w_start, rnk, event_type, n FROM (
        |  SELECT w_start, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY w_start
        |      ORDER BY n DESC, event_type ASC) AS BIGINT) AS rnk
        |  FROM (
        |    SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n
        |    FROM events GROUP BY 1, 2))
        |WHERE rnk <= 3""".stripMargin,

    "q92_window_dedup" ->
      """SELECT user_id, w_start, event_id, ts, event_type FROM (
        |  SELECT user_id, date_trunc('hour', ts) AS w_start, event_id, ts, event_type,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q81_over_agg" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_1h,
        |  cast(sum(cast(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""".stripMargin,

    "q87_over_rows" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_3r,
        |  cast(sum(cast(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_3r
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q109_over_lag" ->
      """SELECT user_id, event_id,
        |  lag(cast(round(value * 100) AS BIGINT), 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_cents
        |FROM events""".stripMargin,

    "q108_window_gsets" ->
      s"""SELECT date_trunc('hour', ts) AS w_start, event_type,
         |  count(*) AS n, ${moneySumSql("value")} AS total_value
         |FROM events
         |GROUP BY GROUPING SETS ((date_trunc('hour', ts), event_type),
         |                        (date_trunc('hour', ts)))""".stripMargin,

    "q106_over_unbounded" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_run,
        |  cast(sum(cast(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_run
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS UNBOUNDED PRECEDING)""".stripMargin,

    "q13_tumbling_window" ->
      s"""SELECT date_trunc('hour', ts) AS w_start, event_type,
         |  count(*) AS n, ${moneySumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q98_window_offset" ->
      s"""SELECT make_timestamp(((cast(floor((epoch(ts) - 28800) / 86400) as bigint) * 86400) + 28800) * 1000000) AS w_start,
         |  event_type, count(*) AS n, ${moneySumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q14_sliding_window" ->
      s"""SELECT make_timestamp(((cast(floor(epoch(ts) / 900) as bigint) * 900) - g * 900) * 1000000) AS w_start,
         |  count(*) AS n, ${moneySumSql("value")} AS total_value
         |FROM events, generate_series(0, 3) t(g)
         |GROUP BY 1""".stripMargin,

    "q100_cumulate_window" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |x AS (
        |  SELECT us, cents, (us // 86400000000) * 86400000000 AS w0 FROM e)
        |SELECT make_timestamp(w0) AS w_start,
        |       make_timestamp(w0 + k * 21600000000) AS w_end,
        |       count(*) AS n, sum(cents)::BIGINT AS cents
        |FROM x, generate_series(1, 4) t(k)
        |WHERE k >= (us - w0) // 21600000000 + 1
        |GROUP BY w0, k""".stripMargin,

    "q15_session_window" ->
      s"""WITH flagged AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTES
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), sessions AS (
         |  SELECT user_id, ts, value,
         |    cast(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_id
         |  FROM flagged)
         |SELECT user_id, session_id, count(*) AS n,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  ${moneySumSql("value")} AS total_value
         |FROM sessions GROUP BY user_id, session_id""".stripMargin,

    "q16_count_window" ->
      s"""SELECT user_id, win_id, count(*) AS n, ${moneySumSql("value")} AS total_value
         |FROM (
         |  SELECT user_id, value,
         |    (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 5 AS win_id
         |  FROM events)
         |GROUP BY user_id, win_id
         |HAVING count(*) = 5""".stripMargin,

    "q17_cumulative_window" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS running_n,
        |  sum(cast(round(value * 100) AS bigint)) OVER w / 100.0 AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q50_asof_join" ->
      """WITH versions AS (
        |  SELECT c_custkey AS custkey,
        |    TIMESTAMP '1995-01-01' + INTERVAL (c_custkey % 500 + v * 800) DAY AS eff,
        |    cast((c_custkey * 31 + v * 17) % 1000 AS bigint) AS credit_limit
        |  FROM customer, generate_series(0, 2) t(v))
        |SELECT o_orderkey, o_custkey AS custkey, o_orderdate, credit_limit
        |FROM orders ASOF LEFT JOIN versions
        |  ON orders.o_custkey = versions.custkey AND orders.o_orderdate >= versions.eff""".stripMargin,

    "q51_interval_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
        |e AS (SELECT event_id AS error_id, user_id, ts AS e_ts FROM events WHERE event_type = 'error')
        |SELECT click_id, error_id, c.user_id AS user_id,
        |  cast(epoch_us(e_ts) - epoch_us(c_ts) AS bigint) AS gap_us
        |FROM c JOIN e ON c.user_id = e.user_id
        |  AND e.e_ts >= c.c_ts AND e.e_ts <= c.c_ts + INTERVAL 10 MINUTE""".stripMargin,

    "q112_interval_join_full" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
        |e AS (SELECT event_id AS error_id, user_id AS e_user, ts AS e_ts FROM events WHERE event_type = 'error')
        |SELECT click_id, error_id, coalesce(c.user_id, e.e_user) AS user_id,
        |  cast(epoch_us(e_ts) - epoch_us(c_ts) AS bigint) AS gap_us
        |FROM c FULL OUTER JOIN e ON c.user_id = e.e_user
        |  AND e.e_ts >= c.c_ts AND e.e_ts <= c.c_ts + INTERVAL 10 MINUTE""".stripMargin,

    "q107_interval_join_left" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
        |e AS (SELECT event_id AS error_id, user_id AS e_user, ts AS e_ts FROM events WHERE event_type = 'error')
        |SELECT click_id, error_id, c.user_id AS user_id,
        |  cast(epoch_us(e_ts) - epoch_us(c_ts) AS bigint) AS gap_us
        |FROM c LEFT JOIN e ON c.user_id = e.e_user
        |  AND e.e_ts >= c.c_ts AND e.e_ts <= c.c_ts + INTERVAL 10 MINUTE""".stripMargin
  )
}
