package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoders, SparkSession}

import graft.functions.Det._
import graft.functions.WeightedAvg
import graft.operators.{Skew, TopN}
import graft.sources.Tables

/** Relational / Table-API core (SURVEY §2 q01–q12).
  *
  * Re-expresses the reference's Flink SQL + Table API surface
  * (format/ *_json jobs, FlinkIdeaDemo Table-API UDF jobs,
  * ExecutionModes word count, DataSkew two-stage agg,
  * NCFlinkPartitionCustomIdea custom partitioning) as declarative
  * DataFrame plans that Catalyst optimizes: predicate/column pushdown
  * to parquet, map-side partial aggregation, broadcast of dim tables.
  */
object Relational extends QueryPack {

  def defs: Map[String, Q] = Map(
    // Multi-aggregate scan→groupBy; partial agg happens map-side, so at
    // 100 TB the shuffle carries |groups|×|partitions| rows, not |rows|.
    "q01_agg" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          moneySum($"l_quantity").as("sum_qty"),
          moneySum($"l_extendedprice").as("sum_base_price"),
          moneySum($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
          moneyAvg($"l_quantity").as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // Star join: FIXED-SIZE dims (region: 5 rows, nation: 25) carry
    // explicit broadcast hints — correct at literally any SF.
    // customer GROWS with SF, so its join is left to the planner: the
    // size estimate (and AQE at runtime) broadcasts it while it fits
    // the threshold and degrades to a shuffle join beyond, instead of
    // a forced hint blowing the 8 GB broadcast limit at 100 TB.
    "q02_join_dim" -> ((s, d) => {
      import s.implicits._
      // NOT fanned out (r17 measured): the broadcast-probe work per
      // lineitem row is a hash lookup — too light for the fan-out
      // exchange to pay for itself (1.93 s -> 2.04 s, reverted)
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(n, $"c_nationkey" === $"n_nationkey")
        .join(r, $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(
          moneySum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
          countDistinct($"o_orderkey").as("n_orders"))
    }),

    // Projection + predicate pushed into the parquet scan (PushedFilters).
    "q03_filter_project" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .filter($"o_orderstatus" === "O" && $"o_totalprice" > 50000 && $"o_totalprice" <= 100000)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    }),

    // Flink SQL Top-N pattern; deterministic tie-break on o_orderkey.
    "q04_topn_group" -> ((s, d) => {
      import s.implicits._
      TopN.perGroup(
        Tables.orders(s, d).select($"o_orderpriority", $"o_orderkey", $"o_totalprice"),
        Seq($"o_orderpriority"),
        Seq($"o_totalprice".desc, $"o_orderkey".asc),
        3)
    }),

    // flatMap→keyBy→sum word count (ref: ExecutionModes/ExecutionMode.java
    // Tokenizer) — explode + groupBy; combine happens map-side.
    "q05_wordcount" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"word")
        .agg(count(lit(1)).as("cnt"))
    }),

    // Scalar function surface (ref: TableAPI/MyScalarFunction.java) plus a
    // JSON-prop extraction — builtin codegen'd exprs, not a Scala UDF.
    "q06_scalar_fn" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(
          $"event_id",
          concat($"event_type", lit(": MyScalarFunction ok")).as("tagged"),
          get_json_object($"props", "$.k").cast("int").as("k"))
    }),

    // Table (set-returning) function: split → (word, length) rows via
    // LATERAL (ref: TableAPI/MyTableFunction.java).
    "q07_table_fn" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 50)
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .select($"doc_id", $"word", length($"word").as("word_len"))
    }),

    // Weighted-average UDAF with merge() semantics (ref:
    // TableAPI/MyAggregateFunctionsForWeightedAvg.java). Value =
    // extendedprice in cents, weight = linenumber; integer division.
    "q08_weighted_avg" -> ((s, d) => {
      import s.implicits._
      val wavg = udaf(WeightedAvg, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      Tables.lineitem(s, d)
        .select(
          $"l_returnflag",
          cents($"l_extendedprice").as("v"),
          $"l_linenumber".cast("long").as("w"))
        .groupBy($"l_returnflag")
        .agg(wavg($"v", $"w").as("wavg_cents"))
    }),

    // Two-stage salted aggregation == plain aggregate (ref:
    // DataSkew/SocketAppV2.java).
    "q09_skew_salted_agg" -> ((s, d) => {
      import s.implicits._
      Skew.saltedSumCount(
        Tables.events(s, d),
        keys = Seq("event_type"),
        centsCol = cents($"value"),
        saltSource = $"event_id",
        salts = 32)
    }),

    // partitionCustom analog (ref: NCFlinkPartitionCustomIdea.java):
    // explicit repartition on the key expression before a keyed op;
    // the aggregate result is invariant to the partitioning.
    "q10_partition_custom" -> ((s, d) => {
      import s.implicits._
      // the point is the explicit hash repartition (Flink
      // partitionCustom); the following hash aggregate neither needs
      // nor exploits a within-partition sort, so none is paid
      Tables.events(s, d)
        .repartition(32, $"user_id")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
    }),

    // Global distinct — shuffle on the full key only.
    "q11_distinct" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d).select($"user_id", $"event_type").distinct()
    }),

    // ROLLUP aggregates (Table API grouping-sets surface).
    "q12_grouping_sets" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .rollup($"c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), moneySum($"c_acctbal").as("total_bal"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q01_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${moneySumSql("l_quantity")} AS sum_qty,
         |  ${moneySumSql("l_extendedprice")} AS sum_base_price,
         |  ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${moneyAvgSql("l_quantity")} AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_join_dim" ->
      s"""SELECT n_name,
         |  ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,

    "q03_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 50000 AND o_totalprice <= 100000""".stripMargin,

    "q04_topn_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q05_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word""".stripMargin,

    "q06_scalar_fn" ->
      """SELECT event_id,
        |       concat(event_type, ': MyScalarFunction ok') AS tagged,
        |       cast(json_extract_string(props, '$.k') AS integer) AS k
        |FROM events""".stripMargin,

    "q07_table_fn" ->
      """SELECT doc_id, word, length(word) AS word_len FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 50)
        |WHERE word <> ''""".stripMargin,

    "q08_weighted_avg" ->
      """SELECT l_returnflag,
        |       cast(sum(v * w) // sum(w) AS bigint) AS wavg_cents
        |FROM (
        |  SELECT l_returnflag,
        |         cast(round(l_extendedprice * 100) AS bigint) AS v,
        |         cast(l_linenumber AS bigint) AS w
        |  FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin,

    "q09_skew_salted_agg" ->
      s"""SELECT event_type,
         |  ${moneySumSql("value")} AS total_value,
         |  count(*) AS n
         |FROM events GROUP BY event_type""".stripMargin,

    "q10_partition_custom" ->
      s"""SELECT user_id, count(*) AS n, ${moneySumSql("value")} AS total_value
         |FROM events GROUP BY user_id""".stripMargin,

    "q11_distinct" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "q12_grouping_sets" ->
      s"""SELECT c_mktsegment, count(*) AS n_cust, ${moneySumSql("c_acctbal")} AS total_bal
         |FROM customer GROUP BY ROLLUP(c_mktsegment)""".stripMargin
  )
}
