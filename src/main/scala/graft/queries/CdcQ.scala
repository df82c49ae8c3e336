package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.formats.{CanalJson, DebeziumJson, DelimitedText}
import graft.functions.Det
import graft.operators.Cdc
import graft.sources.Tables

/** CDC formats & changelog (SURVEY §2 q18–q22).
  *
  * The reference consumes canal/debezium/csv/json envelopes from
  * Kafka (format/ jobs). Here the envelopes are SYNTHESIZED
  * deterministically from the orders/part/supplier tables inside each
  * query (to_json/concat_ws), then decoded by the real graft format
  * decoders — so the DuckDB oracle can compute the expected final
  * relation directly from the base table, and any decode bug breaks
  * the roundtrip hash.
  *
  * Order-status → op mapping used by the synthesizers:
  * 'O' → insert, 'F' → update (prior price = price - 10), 'P' → delete.
  */
object CdcQ extends QueryPack {

  private val debeziumRow = StructType(Seq(
    StructField("id", LongType),
    StructField("price", DoubleType),
    StructField("priority", StringType)))

  def defs: Map[String, Q] = Map(
    // canal-json decode → row-kind changelog (ref: format/canal_json).
    "q18_canal_parse" -> ((s, d) => {
      import s.implicits._
      val mapT = ArrayType(MapType(StringType, StringType))
      // fan out the single-row-group orders scan: the to_json
      // synthesis + from_json decode is per-row CPU work that
      // otherwise runs in ONE task end to end (guide §2.5; no-op when
      // the source plans >= parallelism splits). RE-CONFIRMED by the
      // r18 interleaved A/B: 2.77× (0.94 s with vs 2.61 s without)
      val envelopes = graft.operators.FanOut.widen(Tables.orders(s, d)).select(
        to_json(struct(
          array(map(
            lit("id"), $"o_orderkey".cast("string"),
            lit("price"), $"o_totalprice".cast("string"),
            lit("priority"), $"o_orderpriority")).as("data"),
          when($"o_orderstatus" === "F",
            array(map(lit("price"), ($"o_totalprice" - 10).cast("string"))))
            .otherwise(lit(null).cast(mapT)).as("old"),
          when($"o_orderstatus" === "O", "INSERT")
            .when($"o_orderstatus" === "F", "UPDATE")
            .otherwise("DELETE").as("type"),
          lit("orders").as("table"),
          lit("inventory").as("database"),
          ($"o_orderkey" * 1000).as("ts"),
          lit(false).as("isDdl"),
          array(lit("id")).as("pkNames"))).as("payload"))
      CanalJson.parseChangelog(envelopes, col("payload"))
        .select(
          $"row_kind",
          element_at($"fields", "id").cast("long").as("id"),
          element_at($"fields", "price").cast("double").as("price"),
          element_at($"fields", "priority").as("priority"))
    }),

    // debezium-json decode → row-kind changelog (ref: format/debezium_json).
    "q19_debezium_parse" -> ((s, d) => {
      import s.implicits._
      val after = struct(
        $"o_orderkey".as("id"), $"o_totalprice".as("price"), $"o_orderpriority".as("priority"))
      // fan out before the JSON roundtrip — q18's rationale
      val envelopes = graft.operators.FanOut.widen(Tables.orders(s, d)).select(
        to_json(struct(
          when($"o_orderstatus" === "F",
            struct($"o_orderkey".as("id"), ($"o_totalprice" - 10).as("price"), $"o_orderpriority".as("priority")))
            .when($"o_orderstatus" === "P", after)
            .otherwise(lit(null).cast(debeziumRow)).as("before"),
          when($"o_orderstatus" === "P", lit(null).cast(debeziumRow)).otherwise(after).as("after"),
          when($"o_orderstatus" === "O", "c")
            .when($"o_orderstatus" === "F", "u")
            .otherwise("d").as("op"),
          ($"o_orderkey" * 1000).as("ts_ms"),
          struct(lit("inventory").as("db"), lit("orders").as("table")).as("source"))).as("payload"))
      DebeziumJson.parseChangelog(envelopes, col("payload"), debeziumRow)
        .select($"row_kind", $"row.id".as("id"), $"row.price".as("price"), $"row.priority".as("priority"))
    }),

    // changelog → current state: latest image per pk, deletes dropped.
    "q20_cdc_materialize" -> ((s, d) => {
      import s.implicits._
      Cdc.materialize(
        Tables.events(s, d),
        pk = Seq($"user_id"),
        version = Seq($"ts", $"event_id"),
        isDelete = $"event_type" === "error")
        .select($"user_id", $"event_id".as("last_event_id"), $"ts".as("last_ts"), $"value".as("last_value"))
    }),

    // csv with '|' delimiter, comments, parse-error drop (ref: format/csv).
    "q21_csv_lines" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("p_partkey", LongType),
        StructField("p_name", StringType),
        StructField("p_brand", StringType),
        StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType)))
      // NOT fanned out (r17 measured): part is 20k rows — the csv
      // roundtrip is too small for the exchange to pay for itself
      // (0.35 s -> 0.46 s, reverted; q18/q19 keep theirs at 150k rows)
      val lines = Tables.part(s, d)
        .select(concat_ws("|", $"p_partkey", $"p_name", $"p_brand", $"p_size", $"p_retailprice").as("line"))
        .unionAll(s.range(1).select(lit("# a comment line").as("line")))
        .unionAll(s.range(1).select(lit("not|a|valid|row|xx").as("line")))
      DelimitedText.parse(lines, col("line"), schema)
    }),

    // avro binary roundtrip (ref: format/avro/Avro2Avro.java) — encode
    // supplier rows to single-record avro binary, decode back.
    "q37_avro_roundtrip" -> ((s, d) => {
      import graft.formats.AvroBinary
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_acctbal", DoubleType),
        StructField("s_nationkey", IntegerType)))
      val encoded = AvroBinary.encode(
        Tables.supplier(s, d).select("s_suppkey", "s_name", "s_acctbal", "s_nationkey"), schema)
      AvroBinary.decode(encoded, "payload", schema)
    }),

    // changelog → MAINTAINED per-group aggregate via signed deltas
    // (Flink retract-stream semantics; ref: format/debezium_json —
    // the aggregate a Flink SQL job keeps live over that changelog).
    // Synthesized multi-event history per order, with a GROUP MOVE on
    // update (the case naive "aggregate the latest images" gets
    // wrong): every order +I's into its priority at price−10; F and P
    // orders then -U/+U into group 'U-'||priority at full price; P
    // orders finally -D. Values are cents-as-long so retraction
    // cancellation is integer-exact under any fold order.
    "q75_cdc_agg" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val cents0 = Det.cents($"o_totalprice" - 10)
      val cents1 = Det.cents($"o_totalprice")
      val grp0 = $"o_orderpriority"
      val grp1 = concat(lit("U-"), $"o_orderpriority")
      def ev(kind: String, cents: org.apache.spark.sql.Column,
          grp: org.apache.spark.sql.Column) = Seq(
        lit(kind).as("row_kind"), cents.as("cents"), grp.as("grp"))
      val changelog =
        o.select(ev("+I", cents0, grp0): _*)
          .unionAll(o.filter($"o_orderstatus".isin("F", "P")).select(ev("-U", cents0, grp0): _*))
          .unionAll(o.filter($"o_orderstatus".isin("F", "P")).select(ev("+U", cents1, grp1): _*))
          .unionAll(o.filter($"o_orderstatus" === "P").select(ev("-D", cents1, grp1): _*))
      Cdc.retractAgg(changelog, rowKind = $"row_kind", group = $"grp", value = $"cents")
    }),

    // changelog → maintained per-group MIN/MAX/COUNT — the
    // NON-invertible half of the retract-aggregate split (batch twin
    // of streaming.Pipelines.cdcMinMaxStream): min/max cannot ride
    // q75's one-shuffle signed fold (a retracted minimum needs the
    // next-best value), so the batch path pays the honest price —
    // materialize per-key state first (pk shuffle), then aggregate
    // (group shuffle). Same multi-event synthesis as q75, with the
    // same group move on update.
    "q79_cdc_minmax" -> ((s, d) => {
      import s.implicits._
      Cdc.materialize(cdcEntityChangelog(s, d),
        pk = Seq($"id"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
        .groupBy($"grp")
        .agg(count(lit(1)).as("live_cnt"), min($"cents").as("live_min"), max($"cents").as("live_max"))
    }),

    // changelog → maintained per-group TOP-N (Flink SQL retractable
    // Top-N; batch twin of streaming.CdcTopNStream): the q79
    // synthesis materialized, then row_number ≤ 3 by (cents desc,
    // id asc) — a retraction of the leader must surface the next-best
    // LIVE entity, which is exactly what the final-state ranking
    // computes. One pk shuffle + one grp window.
    "q84_cdc_topn" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"grp").orderBy($"cents".desc, $"id".asc)
      Cdc.materialize(cdcEntityChangelog(s, d),
        pk = Seq($"id"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 3)
        .select($"grp", $"id", $"cents", $"rn")
    }),

    // changelog → maintained TIE-INCLUDING Top-N (Flink SQL's
    // rank() <= N strategy; batch twin of streaming
    // CdcTopNStream.topNRank): the q84 materialization with the
    // score COARSENED to $10k buckets (floor(cents/1e6)) so boundary
    // ties actually occur — rank ≤ 3 keeps the top 3 rows PLUS every
    // tie of the 3rd, so groups can hold more than 3 members. Same
    // two shuffles as q84 (pk materialize + grp window); the id
    // appears in the ORDER BY only to make rn deterministic for the
    // oracle hash, never in the rank predicate.
    "q89_cdc_topn_rank" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"grp").orderBy($"bucket".desc)
      Cdc.materialize(cdcEntityChangelog(s, d),
        pk = Seq($"id"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
        .withColumn("bucket", floor($"cents" / 1000000L))
        .withColumn("rnk", rank().over(w).cast("long"))
        .filter($"rnk" <= 3)
        .select($"grp", $"id", $"bucket", $"rnk")
    }),

    // changelog → maintained DENSE-RANK Top-N (Flink SQL's
    // dense_rank() <= N strategy; batch twin of streaming
    // CdcTopNStream.topNRank(dense = true)): membership = every live
    // entity in the group's top 3 DISTINCT score buckets — gaps left
    // by dead entities never widen the window (dense), so the member
    // set is usually wider than q89's. Same plan shape as q89.
    "q90_cdc_topn_dense" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"grp").orderBy($"bucket".desc)
      Cdc.materialize(cdcEntityChangelog(s, d),
        pk = Seq($"id"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
        .withColumn("bucket", floor($"cents" / 1000000L))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .filter($"drnk" <= 3)
        .select($"grp", $"id", $"bucket", $"drnk")
    }),

    // Deduplication KEEP LAST ROW (round 13; Flink SQL's
    // `ROW_NUMBER() OVER (PARTITION BY key ORDER BY rowtime DESC)=1`
    // dedup — the batch twin of streaming.DedupLastStream, whose
    // streamed retract output materializes to exactly this view):
    // each user's latest event by (ts, event_id). Keep-FIRST never
    // changes and needs no retractions (stream_dedup); keep-LAST is
    // the updating half of Flink's dedup split. One key shuffle +
    // row_number.
    "q96_dedup_last" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"ts", $"event_type",
          Det.cents($"value").as("cents"))
    }),

    // Deduplication KEEP FIRST ROW by EVENT time (round 13; Flink
    // SQL's `ROW_NUMBER() OVER (PARTITION BY key ORDER BY rowtime
    // ASC) = 1` dedup — the batch twin of streaming.DedupFirstStream).
    // NOT the same operator as arrival-order keep-first
    // (streamingExactDedup, which never retracts): under event time a
    // LATE row with a SMALLER rowtime displaces the held view, so the
    // streaming twin is an updating/retract stream exactly like q96's
    // — the two orders are symmetric once "first" means first in
    // EVENT time rather than first to ARRIVE. Same single key shuffle
    // + row_number plan as q96.
    "q97_dedup_first" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"ts", $"event_type",
          Det.cents($"value").as("cents"))
    }),

    // changelog → MAINTAINED DISTINCT aggregate (Flink retract-stream
    // distinct agg — DistinctAggCodeGen's MapView refcount; batch
    // twin of streaming.CdcDistinctStream): count(DISTINCT bucket) /
    // sum(DISTINCT bucket) over the LIVE entities' current values,
    // next to the plain live count. Same materialize-first price as
    // q79 (whether a retraction shrinks the distinct set depends on
    // the OTHER live holders of the value — not signed-foldable);
    // the score coarsened to $10k buckets (as q89) so values are
    // actually shared across entities and DISTINCT differs from
    // plain. Catalyst plans the distinct pair via its own two-phase
    // Expand — the batch analog of Flink's split-distinct rewrite.
    "q91_cdc_distinct" -> ((s, d) => {
      import s.implicits._
      Cdc.materialize(cdcEntityChangelog(s, d),
        pk = Seq($"id"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
        .withColumn("bucket", floor($"cents" / 1000000L))
        .groupBy($"grp")
        .agg(count(lit(1)).as("live_cnt"),
          countDistinct($"bucket").as("distinct_cnt"),
          sum_distinct($"bucket").as("distinct_sum"))
    }),

    // changelog → MAINTAINED MOMENTS (count, sum, sum of squares) —
    // the invertible-aggregate family GENERALIZED (round 13; Flink's
    // VAR_POP/VAR_SAMP/STDDEV over retract streams ride exactly this:
    // all three moments accept signed deltas, so variance needs NO
    // per-key state — the q75 O(groups) fold with one more
    // accumulator). Output is the integer-exact moment TRIPLE, not
    // the division: variance is derivable sink-side ((sumsq −
    // sum²/cnt)/cnt), and emitting the triple keeps the oracle
    // hash-exact where a float division would not be. The moments run
    // over the $100-bucketed amount (cents div 10000): squaring raw
    // cents (~5·10⁷) would overflow Long by ~10⁹ rows per group —
    // the fixed-point coarsening keeps sumsq inside Long out past
    // 10¹² rows, the honest price of exact integer moments. Same ONE
    // map-side-combined shuffle as q75 (plan-asserted there).
    "q113_cdc_moments" -> ((s, d) => {
      import s.implicits._
      val changelog = cdcEntityChangelog(s, d)
        .withColumn("b", expr("cents div 10000"))
      val signed = changelog.withColumn("sgn",
        when($"op".isin("+I", "+U"), 1L)
          .when($"op".isin("-U", "-D"), -1L)
          .otherwise(raise_error(concat(lit("unknown row_kind "), $"op"))))
      signed.groupBy($"grp")
        .agg(sum($"sgn").as("live_cnt"),
          sum($"sgn" * $"b").as("live_sum"),
          sum($"sgn" * $"b" * $"b").as("live_sumsq"))
    }),

    // changelog → MAINTAINED BIVARIATE moments (round 13; Flink's
    // COVAR_POP/COVAR_SAMP/CORR retract aggregates — the last
    // invertible shapes: cov and corr are formulas over six signed
    // sums (cnt, Σx, Σy, Σxy, Σx², Σy²), so the maintained view is
    // the q75 O(groups) fold with five value accumulators and NO
    // per-key state). x = the q113 $100 bucket, y = a custkey-derived
    // integer; output is the integer-exact sum SEXTUPLE (cov/corr are
    // sink-side divisions — emitting them as floats would break
    // oracle hash-exactness). Same ONE map-side-combined shuffle.
    "q114_cdc_bivar" -> ((s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val x0 = call_function("div", Det.cents($"o_totalprice" - 10), lit(10000))
      val x1 = call_function("div", Det.cents($"o_totalprice"), lit(10000))
      val y = ($"o_custkey" % 1000).cast("long")
      def ev(kind: String, x: org.apache.spark.sql.Column,
          grp: org.apache.spark.sql.Column) = Seq(
        lit(kind).as("op"), grp.as("grp"), x.as("x"), y.as("y"))
      val grp1 = concat(lit("U-"), $"o_orderpriority")
      val changelog =
        o.select(ev("+I", x0, $"o_orderpriority"): _*)
          .unionAll(o.filter($"o_orderstatus".isin("F", "P")).select(ev("-U", x0, $"o_orderpriority"): _*))
          .unionAll(o.filter($"o_orderstatus".isin("F", "P")).select(ev("+U", x1, grp1): _*))
          .unionAll(o.filter($"o_orderstatus" === "P").select(ev("-D", x1, grp1): _*))
      val signed = changelog.withColumn("sgn",
        when($"op".isin("+I", "+U"), 1L)
          .when($"op".isin("-U", "-D"), -1L)
          .otherwise(raise_error(concat(lit("unknown row_kind "), $"op"))))
      signed.groupBy($"grp")
        .agg(sum($"sgn").as("live_cnt"),
          sum($"sgn" * $"x").as("sum_x"), sum($"sgn" * $"y").as("sum_y"),
          sum($"sgn" * $"x" * $"y").as("sum_xy"),
          sum($"sgn" * $"x" * $"x").as("sum_xx"),
          sum($"sgn" * $"y" * $"y").as("sum_yy"))
    }),

    // changelog → MAINTAINED FIRST_VALUE/LAST_VALUE (Flink retract-
    // stream FirstValue/LastValueWithRetractAggFunction; batch twin
    // of streaming.CdcOrderedStream.cdcFirstLastStream): the value of
    // the live entity with the smallest / largest order key per
    // group. Order = entity id (unique after pk materialization), so
    // the result is deterministic where Flink's arrival-order variant
    // is not. Non-invertible exactly like q79's min/max — retracting
    // the current first must surface the next-smallest LIVE id, so
    // the stream keeps the live (id → value) map and the batch pays
    // the same materialize-first price (one pk shuffle + one grp
    // shuffle, no join).
    "q104_cdc_firstlast" -> ((s, d) => {
      import s.implicits._
      Cdc.materialize(cdcEntityChangelog(s, d),
        pk = Seq($"id"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
        .groupBy($"grp")
        .agg(count(lit(1)).as("live_cnt"),
          min($"id").as("first_id"), min_by($"cents", $"id").as("first_cents"),
          max($"id").as("last_id"), max_by($"cents", $"id").as("last_cents"))
    }),

    // changelog → MAINTAINED LISTAGG (Flink's
    // ListAggWithRetractAggFunction; batch twin of streaming
    // CdcOrderedStream.cdcListAggStream): the comma-joined values of
    // a group's live entities in id order — the maintained
    // concatenation a Flink SQL `LISTAGG(v)` keeps live under
    // retraction. The output row is O(live entities in the group) by
    // SEMANTICS (every emission republishes the whole string — Flink
    // emits the same), so the operator is for domain-bounded groups;
    // the maintained-state price is identical to q104's. Same two
    // shuffles, no join; values are coarsened to $10k buckets (as
    // q89) to keep the string width honest without changing the
    // retraction structure.
    "q105_cdc_listagg" -> ((s, d) => {
      import s.implicits._
      Cdc.materialize(cdcEntityChangelog(s, d),
        pk = Seq($"id"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
        .withColumn("bucket", floor($"cents" / 1000000L))
        .groupBy($"grp")
        .agg(count(lit(1)).as("live_cnt"),
          array_join(
            transform(array_sort(collect_list(struct($"id", $"bucket"))),
              x => x("bucket").cast("string")),
            ",").as("live_list"))
    }),

    // changelog ⋈ changelog → MAINTAINED join view (Flink dynamic-
    // table binary join; the batch twin of streaming.CdcJoinStream):
    // BOTH sides arrive as multi-event +I/-U/+U/-D histories — orders
    // upsert by orderkey with an fk MOVE on update (custkey → custkey
    // +1, the before-image-routed case), customers upsert by custkey
    // with name rewrites (%5) and deletes (%7) — materialize each
    // side (latest image per pk, changelog op ranking at equal ver),
    // then inner-join live rows on the fk. One pk-shuffle per side +
    // the join; the oracle computes both final states directly.
    "q78_cdc_join" -> ((s, d) => {
      import s.implicits._
      val (lstate, rstate) = cdcJoinStates(s, d)
      lstate.join(rstate, $"fk" === $"rpk")
        .select($"lpk", $"fk", $"cents", $"name")
    }),

    // FULL-OUTER maintained join view (batch twin of the streaming
    // joinStream "full" mode, round 12): the same two materialized
    // changelog states, full-outer joined — live left rows with a
    // dead/absent customer null-pad the name; live customers with no
    // live order null-pad (lpk, cents); both pad kinds are exactly
    // the rows the streaming operator serves via its left-pad -U/+U
    // identity and its (null, k) right-pad row. Same shuffles as q78
    // plus nothing — full outer is a join-type flag, not a new stage.
    "q80_cdc_join_full" -> ((s, d) => {
      import s.implicits._
      val (lstate, rstate) = cdcJoinStates(s, d)
      lstate.join(rstate, $"fk" === $"rpk", "full_outer")
        .select($"lpk", coalesce($"fk", $"rpk").as("fk"), $"cents", $"name")
    }),

    // CASCADED 3-way maintained join view (Flink SQL's A ⋈ B ⋈ C over
    // changelogs — a chain of binary joins, each consuming the
    // previous retract stream; batch twin of streaming
    // CdcJoinStream.joinStream ∘ cascade ∘ joinStream): all THREE
    // sides arrive as multi-event histories — the q78 orders/customer
    // synthesis (fk move on update; the customer update now also
    // MOVES ITS NATION, the second-hop key change) plus a nation
    // changelog (renames %3, deletes %4) — each materialized to its
    // final state, then orders⋈customer on custkey ⋈ nation on the
    // customer's nationkey. One pk shuffle per side + two joins; the
    // oracle computes all three final states directly.
    "q85_cdc_join3" -> ((s, d) => {
      import s.implicits._
      val (lstate, rstate) = cdcJoinStates(s, d)
      // the second hop's dim state is nation-count rows at ANY corpus
      // scale — broadcast it so the enriched fact stream never
      // re-shuffles for the second join
      lstate.join(rstate, $"fk" === $"rpk")
        .join(broadcast(cdcNationState(s, d)), $"nk" === $"npk")
        .select($"lpk", $"fk", $"cents", $"name", $"nk", $"nname")
    }),

    // json-lines decode to typed columns (ref: format/json/Json2Json.java).
    "q22_json_lines" -> ((s, d) => {
      import s.implicits._
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_acctbal", DoubleType),
        StructField("s_nationkey", IntegerType)))
      Tables.supplier(s, d)
        .select(to_json(struct($"s_suppkey", $"s_name", $"s_acctbal", $"s_nationkey")).as("js"))
        .select(from_json($"js", schema).as("r"))
        .select($"r.*")
    })
  )

  private val changelogOracle =
    """SELECT '+I' AS row_kind, o_orderkey AS id, o_totalprice AS price, o_orderpriority AS priority
      |FROM orders WHERE o_orderstatus = 'O'
      |UNION ALL
      |SELECT '-U', o_orderkey, o_totalprice - 10, o_orderpriority
      |FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL
      |SELECT '+U', o_orderkey, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL
      |SELECT '-D', o_orderkey, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderstatus = 'P'""".stripMargin

  /** The q75/q79/q84 shared entity-changelog synthesis over orders:
    * every order inserts at (grp = priority, price−10 cents); F/P
    * orders then take a GROUP-MOVING price update (-U old image /
    * +U at grp "U-"+priority, full cents — the before-image routing);
    * P orders finally delete. Emits (op, id, cents, grp, ver, rk)
    * with the changelog op ranking column. */
  private def cdcEntityChangelog(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val cents0 = Det.cents($"o_totalprice" - 10)
    val cents1 = Det.cents($"o_totalprice")
    def ev(kind: String, cents: org.apache.spark.sql.Column,
        grp: org.apache.spark.sql.Column, ver: Int) = Seq(
      lit(kind).as("op"), $"o_orderkey".as("id"), cents.as("cents"),
      grp.as("grp"), lit(ver).as("ver"))
    val grp1 = concat(lit("U-"), $"o_orderpriority")
    val changelog =
      o.select(ev("+I", cents0, $"o_orderpriority", 1): _*)
        .unionAll(o.filter($"o_orderstatus".isin("F", "P")).select(ev("-U", cents0, $"o_orderpriority", 2): _*))
        .unionAll(o.filter($"o_orderstatus".isin("F", "P")).select(ev("+U", cents1, grp1, 2): _*))
        .unionAll(o.filter($"o_orderstatus" === "P").select(ev("-D", cents1, grp1, 3): _*))
    changelog.withColumn("rk", Cdc.opRankCol($"op"))
  }

  /** The q78/q80 shared synthesis: BOTH sides as multi-event
    * +I/-U/+U/-D histories (orders upsert by orderkey with an fk MOVE
    * on update — custkey → custkey+1, the before-image-routed case;
    * customers upsert by custkey with name rewrites (%5) and deletes
    * (%7)), each materialized to its final state (latest image per
    * pk, changelog op ranking at equal ver). One pk-shuffle per side. */
  private def cdcJoinStates(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val cents0 = Det.cents($"o_totalprice" - 10)
    val cents1 = Det.cents($"o_totalprice")
    def lev(kind: String, fk: org.apache.spark.sql.Column,
        cents: org.apache.spark.sql.Column, ver: Int) = Seq(
      lit(kind).as("op"), $"o_orderkey".as("lpk"), fk.as("fk"),
      cents.as("cents"), lit(ver).as("ver"))
    val leftCl =
      o.select(lev("+I", $"o_custkey", cents0, 1): _*)
        .unionAll(o.filter($"o_orderstatus".isin("F", "P")).select(lev("-U", $"o_custkey", cents0, 2): _*))
        .unionAll(o.filter($"o_orderstatus".isin("F", "P")).select(lev("+U", $"o_custkey" + 1, cents1, 2): _*))
        .unionAll(o.filter($"o_orderstatus" === "P").select(lev("-D", $"o_custkey" + 1, cents1, 3): _*))
    val c = Tables.customer(s, d)
    // the customer's nation rides along (and MOVES on the %5 update —
    // the cascaded join's second-hop key change; q78/q80 ignore it)
    val nk0 = $"c_nationkey".cast("long")
    val nk1 = (($"c_nationkey" + 1) % 25).cast("long")
    def rev(kind: String, name: org.apache.spark.sql.Column,
        nk: org.apache.spark.sql.Column, ver: Int) = Seq(
      lit(kind).as("op"), $"c_custkey".as("rpk"), name.as("name"),
      nk.as("nk"), lit(ver).as("ver"))
    val upd = c.filter($"c_custkey" % 5 === 0)
    val del = c.filter($"c_custkey" % 7 === 0)
    val rightCl =
      c.select(rev("+I", $"c_name", nk0, 1): _*)
        .unionAll(upd.select(rev("-U", $"c_name", nk0, 2): _*))
        .unionAll(upd.select(rev("+U", upper($"c_name"), nk1, 2): _*))
        .unionAll(del.select(rev("-D",
          when($"c_custkey" % 5 === 0, upper($"c_name")).otherwise($"c_name"),
          when($"c_custkey" % 5 === 0, nk1).otherwise(nk0), 3): _*))
    // the shared changelog op ranking breaks equal-ver ties
    val lstate = Cdc.materialize(leftCl.withColumn("rk", Cdc.opRankCol($"op")),
      pk = Seq($"lpk"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
    val rstate = Cdc.materialize(rightCl.withColumn("rk", Cdc.opRankCol($"op")),
      pk = Seq($"rpk"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
    (lstate, rstate)
  }

  /** The q85 third side: nation as a multi-event changelog — +I all,
    * %3 renames via -U/+U at one ver, %4 deletes carrying the current
    * image — materialized to (npk, nname). */
  private def cdcNationState(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val nt = Tables.nation(s, d)
    def nev(kind: String, name: org.apache.spark.sql.Column, ver: Int) = Seq(
      lit(kind).as("op"), $"n_nationkey".cast("long").as("npk"),
      name.as("nname"), lit(ver).as("ver"))
    val ren = nt.filter($"n_nationkey" % 3 === 0)
    val del = nt.filter($"n_nationkey" % 4 === 0)
    val cl =
      nt.select(nev("+I", $"n_name", 1): _*)
        .unionAll(ren.select(nev("-U", $"n_name", 2): _*))
        .unionAll(ren.select(nev("+U", upper($"n_name"), 2): _*))
        .unionAll(del.select(nev("-D",
          when($"n_nationkey" % 3 === 0, upper($"n_name")).otherwise($"n_name"), 3): _*))
    Cdc.materialize(cl.withColumn("rk", Cdc.opRankCol($"op")),
      pk = Seq($"npk"), version = Seq($"ver", $"rk"), isDelete = $"op" === "-D")
  }

  def oracles: Map[String, String] = Map(
    "q18_canal_parse" -> changelogOracle,
    "q19_debezium_parse" -> changelogOracle,
    "q20_cdc_materialize" ->
      """SELECT user_id, event_id AS last_event_id, ts AS last_ts, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    // Final live state computed directly: O orders live in their
    // priority at price−10; F orders live in 'U-'||priority at full
    // price; P orders are dead. A correct signed fold must agree.
    "q75_cdc_agg" ->
      """SELECT grp, count(*)::BIGINT AS live_cnt, sum(cents)::BIGINT AS live_sum FROM (
        |  SELECT o_orderpriority AS grp,
        |         CAST(round((o_totalprice - 10) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT 'U-' || o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY grp""".stripMargin,
    "q79_cdc_minmax" ->
      """SELECT grp, count(*)::BIGINT AS live_cnt,
        |       min(cents)::BIGINT AS live_min, max(cents)::BIGINT AS live_max FROM (
        |  SELECT o_orderpriority AS grp,
        |         CAST(round((o_totalprice - 10) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT 'U-' || o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY grp""".stripMargin,
    // both final states computed directly: O orders live at
    // (custkey, price−10), F orders moved to (custkey+1, price),
    // P dead; customers %7 dead, %5 renamed — the join must agree.
    "q78_cdc_join" ->
      """WITH lf AS (
        |  SELECT o_orderkey AS lpk,
        |         CASE WHEN o_orderstatus = 'O' THEN o_custkey ELSE o_custkey + 1 END AS fk,
        |         CAST(round((CASE WHEN o_orderstatus = 'O' THEN o_totalprice - 10
        |                          ELSE o_totalprice END) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus <> 'P'),
        |rf AS (
        |  SELECT c_custkey AS fk,
        |         CASE WHEN c_custkey % 5 = 0 THEN upper(c_name) ELSE c_name END AS name
        |  FROM customer WHERE c_custkey % 7 <> 0)
        |SELECT lpk, lf.fk, cents, name FROM lf JOIN rf USING (fk)""".stripMargin,
    "q84_cdc_topn" ->
      """WITH st AS (
        |  SELECT o_orderkey AS id, o_orderpriority AS grp,
        |         CAST(round((o_totalprice - 10) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey, 'U-' || o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderstatus = 'F'
        |)
        |SELECT grp, id, cents, rn FROM (
        |  SELECT grp, id, cents,
        |         CAST(row_number() OVER (PARTITION BY grp ORDER BY cents DESC, id ASC) AS BIGINT) AS rn
        |  FROM st
        |) WHERE rn <= 3""".stripMargin,
    "q89_cdc_topn_rank" ->
      """WITH st AS (
        |  SELECT o_orderkey AS id, o_orderpriority AS grp,
        |         CAST(floor(round((o_totalprice - 10) * 100) / 1000000) AS BIGINT) AS bucket
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey, 'U-' || o_orderpriority,
        |         CAST(floor(round(o_totalprice * 100) / 1000000) AS BIGINT)
        |  FROM orders WHERE o_orderstatus = 'F'
        |)
        |SELECT grp, id, bucket, rnk FROM (
        |  SELECT grp, id, bucket,
        |         CAST(rank() OVER (PARTITION BY grp ORDER BY bucket DESC) AS BIGINT) AS rnk
        |  FROM st
        |) WHERE rnk <= 3""".stripMargin,
    "q90_cdc_topn_dense" ->
      """WITH st AS (
        |  SELECT o_orderkey AS id, o_orderpriority AS grp,
        |         CAST(floor(round((o_totalprice - 10) * 100) / 1000000) AS BIGINT) AS bucket
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey, 'U-' || o_orderpriority,
        |         CAST(floor(round(o_totalprice * 100) / 1000000) AS BIGINT)
        |  FROM orders WHERE o_orderstatus = 'F'
        |)
        |SELECT grp, id, bucket, drnk FROM (
        |  SELECT grp, id, bucket,
        |         CAST(dense_rank() OVER (PARTITION BY grp ORDER BY bucket DESC) AS BIGINT) AS drnk
        |  FROM st
        |) WHERE drnk <= 3""".stripMargin,
    "q96_dedup_last" ->
      """SELECT user_id, event_id, ts, event_type,
        |       CAST(round(value * 100) AS BIGINT) AS cents FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q97_dedup_first" ->
      """SELECT user_id, event_id, ts, event_type,
        |       CAST(round(value * 100) AS BIGINT) AS cents FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q91_cdc_distinct" ->
      """SELECT grp, count(*)::BIGINT AS live_cnt,
        |       count(DISTINCT bucket)::BIGINT AS distinct_cnt,
        |       sum(DISTINCT bucket)::BIGINT AS distinct_sum FROM (
        |  SELECT o_orderpriority AS grp,
        |         CAST(floor(round((o_totalprice - 10) * 100) / 1000000) AS BIGINT) AS bucket
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT 'U-' || o_orderpriority,
        |         CAST(floor(round(o_totalprice * 100) / 1000000) AS BIGINT)
        |  FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY grp""".stripMargin,
    "q114_cdc_bivar" ->
      """SELECT grp, count(*)::BIGINT AS live_cnt,
        |       sum(x)::BIGINT AS sum_x, sum(y)::BIGINT AS sum_y,
        |       sum(x * y)::BIGINT AS sum_xy,
        |       sum(x * x)::BIGINT AS sum_xx,
        |       sum(y * y)::BIGINT AS sum_yy FROM (
        |  SELECT o_orderpriority AS grp,
        |         CAST(round((o_totalprice - 10) * 100) AS BIGINT) // 10000 AS x,
        |         (o_custkey % 1000)::BIGINT AS y
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT 'U-' || o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) // 10000,
        |         (o_custkey % 1000)::BIGINT
        |  FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY grp""".stripMargin,

    "q113_cdc_moments" ->
      """SELECT grp, count(*)::BIGINT AS live_cnt,
        |       sum(b)::BIGINT AS live_sum,
        |       sum(b * b)::BIGINT AS live_sumsq FROM (
        |  SELECT o_orderpriority AS grp,
        |         CAST(round((o_totalprice - 10) * 100) AS BIGINT) // 10000 AS b
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT 'U-' || o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) // 10000
        |  FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY grp""".stripMargin,

    "q104_cdc_firstlast" ->
      """SELECT grp, count(*)::BIGINT AS live_cnt,
        |       min(id)::BIGINT AS first_id, arg_min(cents, id)::BIGINT AS first_cents,
        |       max(id)::BIGINT AS last_id, arg_max(cents, id)::BIGINT AS last_cents FROM (
        |  SELECT o_orderkey AS id, o_orderpriority AS grp,
        |         CAST(round((o_totalprice - 10) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey, 'U-' || o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY grp""".stripMargin,
    "q105_cdc_listagg" ->
      """SELECT grp, count(*)::BIGINT AS live_cnt,
        |       string_agg(bucket::VARCHAR, ',' ORDER BY id) AS live_list FROM (
        |  SELECT o_orderkey AS id, o_orderpriority AS grp,
        |         CAST(floor(round((o_totalprice - 10) * 100) / 1000000) AS BIGINT) AS bucket
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey, 'U-' || o_orderpriority,
        |         CAST(floor(round(o_totalprice * 100) / 1000000) AS BIGINT)
        |  FROM orders WHERE o_orderstatus = 'F'
        |) GROUP BY grp""".stripMargin,
    "q80_cdc_join_full" ->
      """WITH lf AS (
        |  SELECT o_orderkey AS lpk,
        |         CASE WHEN o_orderstatus = 'O' THEN o_custkey ELSE o_custkey + 1 END AS fk,
        |         CAST(round((CASE WHEN o_orderstatus = 'O' THEN o_totalprice - 10
        |                          ELSE o_totalprice END) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus <> 'P'),
        |rf AS (
        |  SELECT c_custkey AS fk,
        |         CASE WHEN c_custkey % 5 = 0 THEN upper(c_name) ELSE c_name END AS name
        |  FROM customer WHERE c_custkey % 7 <> 0)
        |SELECT lpk, coalesce(lf.fk, rf.fk) AS fk, cents, name
        |FROM lf FULL OUTER JOIN rf ON lf.fk = rf.fk""".stripMargin,
    // all three final states computed directly: orders as in q78,
    // customers %7 dead / %5 renamed+nation-moved, nations %4 dead /
    // %3 renamed — the cascaded join must agree
    "q85_cdc_join3" ->
      """WITH lf AS (
        |  SELECT o_orderkey AS lpk,
        |         CASE WHEN o_orderstatus = 'O' THEN o_custkey ELSE o_custkey + 1 END AS fk,
        |         CAST(round((CASE WHEN o_orderstatus = 'O' THEN o_totalprice - 10
        |                          ELSE o_totalprice END) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus <> 'P'),
        |rf AS (
        |  SELECT c_custkey AS fk,
        |         CASE WHEN c_custkey % 5 = 0 THEN upper(c_name) ELSE c_name END AS name,
        |         CAST(CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25
        |                   ELSE c_nationkey END AS BIGINT) AS nk
        |  FROM customer WHERE c_custkey % 7 <> 0),
        |nf AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS nk,
        |         CASE WHEN n_nationkey % 3 = 0 THEN upper(n_name) ELSE n_name END AS nname
        |  FROM nation WHERE n_nationkey % 4 <> 0)
        |SELECT lpk, lf.fk, cents, name, nk, nname
        |FROM lf JOIN rf USING (fk) JOIN nf USING (nk)""".stripMargin,
    "q21_csv_lines" ->
      "SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part",
    "q22_json_lines" ->
      "SELECT s_suppkey, s_name, s_acctbal, s_nationkey FROM supplier",
    "q37_avro_roundtrip" ->
      "SELECT s_suppkey, s_name, s_acctbal, s_nationkey FROM supplier"
  )
}
