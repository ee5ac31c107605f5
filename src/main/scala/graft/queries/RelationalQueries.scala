package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.transform.Upsert

/** Relational query pack over the driver testdata — covers the operator
  * categories of SURVEY.md §2 (aggregation, joins incl. semi/anti,
  * windows, set ops, rollup, sorts/top-k, scalar string/date functions)
  * with a DuckDB oracle for every query.
  *
  * Determinism discipline (the correctness gate hashes values): every
  * floating aggregate goes through an exact DECIMAL sum and is cast back
  * to double at the end — per-row double arithmetic is IEEE-identical
  * across engines, and decimal addition is order-independent, so results
  * are bit-identical regardless of partitioning. This also means results
  * don't drift when the same query runs on a 1000-executor cluster.
  */
object RelationalQueries {

  /** Order-independent exact sum of a double expression (see above). */
  private def sumd(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast("double")

  private val sqlSumd = (x: String) =>
    s"CAST(sum(CAST($x AS DECIMAL(28,6))) AS DOUBLE)"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A2/A-extension — TPC-H Q1-style pricing summary: groupBy + multi-agg.
    // Partial (map-side) aggregation + single exchange on the group keys.
    "q01_agg_pricing" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumd(col("l_quantity")).as("sum_qty"),
          sumd(col("l_extendedprice")).as("sum_base_price"),
          sumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          (sumd(col("l_quantity")) / count(lit(1)).cast("double")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // P1–P6 — projection + predicate; both reach the parquet scan
    // (PushedFilters + 3-column ReadSchema).
    "q02_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45.0 && col("l_discount") <= 0.02)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
    }),

    // J2 — broadcast dimension join: orders x customer -> revenue per segment.
    "q03_join_broadcast" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sumd(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
    }),

    // Multi-way join through the star (TPC-H Q5 shape): lineitem ⋈ orders
    // ⋈ customer ⋈ nation ⋈ region, region filter pushed below the joins.
    // nation/region broadcast; the big join keys stay co-partitioned.
    "q04_join_multi" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r.filter(col("r_name").isin("ASIA", "AMERICA"))),
          n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sumd(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }),

    // J1-shape — left-semi: customers that have at least one URGENT order.
    "q05_semi_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // J1 — left-anti (the reference's incremental skip, details.py:277–281):
    // customers with no completed (F) order.
    "q06_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // Window ranking — top-3 orders per customer (unique tiebreak on key).
    "q07_window_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),

    // Window analytics — month-over-month revenue delta via lag.
    "q08_window_lag" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sumd(col("o_totalprice")).as("revenue"))
      val w = Window.orderBy(col("month"))
      monthly.withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("delta", col("revenue") - col("prev_revenue"))
    }),

    // W-completion — the distribution window functions (percent_rank,
    // cume_dist, nth_value): where q07/q08 cover ranking and offset,
    // this covers position-as-fraction — the "where does this order
    // sit in the customer's history" analytics shape. percent_rank =
    // (rank−1)/(n−1) is one integer-operand double division, IEEE-
    // identical cross-engine; the unique (price, key) tiebreak makes
    // the order total so cume_dist has no peer-group ambiguity; the
    // nth_value frame is pinned to the FULL partition explicitly (the
    // default running frame would return null for rows before slot 2).
    "q148_window_distribution" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables.orders(s, d)
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("second_order", nth_value(col("o_orderkey"), 2).over(full))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("pr"), col("cd"), col("second_order"))
    }),

    // A1 — DISTINCT (the reference's SELECT DISTINCT symbol, 3 sites).
    "q09_distinct" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderstatus")).distinct()
    }),

    // O2 — multi-key mixed-direction sort + LIMIT: plans as
    // TakeOrderedAndProject (per-partition top-k, no global sort).
    "q10_topk" -> ((s, d) => {
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // Set ops — INTERSECT/EXCEPT (§2.7): customers active in 1995 vs 1996.
    "q11_setops" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      y95.intersect(y96).withColumn("cohort", lit("both"))
        .unionByName(y95.except(y96).withColumn("cohort", lit("only_1995")))
    }),

    // Rollup — hierarchical totals (statement/period shape of the fact
    // table generalized): returnflag → linestatus with grand totals.
    "q12_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumd(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    }),

    // F1–F4-style scalar string work on a real table.
    "q13_string_funcs" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(trim(col("p_brand"))).as("brand_uc"),
        substring(col("p_name"), 1, 10).as("name_prefix"),
        regexp_replace(col("p_type"), "\\s+", "_").as("type_slug"),
        length(col("p_name")).as("name_len"),
        split(col("p_type"), " ").getItem(0).as("type_head"))
    }),

    // F12–F15 — date/time kit over orders.
    "q14_dates" -> ((s, d) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_str"))
    }),

    // Conditional bucketing (case/when chains — reference F9/F14 style).
    "q15_case_when" -> ((s, d) => {
      Tables.customer(s, d).select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "overdrawn")
          .when(col("c_acctbal") < 3000, "low")
          .when(col("c_acctbal") < 7000, "mid")
          .otherwise("high").as("tier"))
    }),

    // S6/J3 — keyed last-write-wins dedup (the upsert kernel) on events:
    // latest event per (user_id, event_type). Aggregate-based (max_by),
    // not window — a key has many events, so the map-side combine pays
    // for its sort (SURVEY.md §2.5).
    "q16_upsert_dedup" -> ((s, d) => {
      Upsert.latestByKey(
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"), col("value")),
        Seq("user_id", "event_type"), struct(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
    }),

    // J1 applied — incremental load skip: new error events for users with
    // no error already loaded before the watermark (the reference's
    // skip-already-fetched-symbols shape).
    "q17_incremental_antijoin" -> ((s, d) => {
      val e = Tables.events(s, d).filter(col("event_type") === "error")
      val cutoff = lit("2024-01-02 00:00:00").cast("timestamp")
      val loaded = e.filter(col("ts") < cutoff)
      Upsert.notYetLoaded(
        e.filter(col("ts") >= cutoff).select(col("user_id"), col("event_id"), col("ts")),
        loaded, "user_id")
    }))

  val oracles: Map[String, String] = Map(
    "q01_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSumd("l_quantity")} AS sum_qty,
         |  ${sqlSumd("l_extendedprice")} AS sum_base_price,
         |  ${sqlSumd("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${sqlSumd("l_quantity")} / CAST(count(*) AS DOUBLE) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem WHERE l_quantity >= 45.0 AND l_discount <= 0.02""".stripMargin,

    "q03_join_broadcast" ->
      s"""SELECT c_mktsegment, ${sqlSumd("o_totalprice")} AS revenue,
         |  count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,

    "q04_join_multi" ->
      s"""SELECT r_name, n_name,
         |  ${sqlSumd("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name IN ('ASIA','AMERICA')
         |GROUP BY r_name, n_name""".stripMargin,

    "q05_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q06_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,

    "q07_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q08_window_lag" ->
      s"""SELECT month, revenue,
         |  lag(revenue, 1) OVER (ORDER BY month) AS prev_revenue,
         |  revenue - lag(revenue, 1) OVER (ORDER BY month) AS delta
         |FROM (SELECT date_trunc('month', o_orderdate) AS month,
         |        ${sqlSumd("o_totalprice")} AS revenue
         |      FROM orders GROUP BY 1)""".stripMargin,

    "q09_distinct" ->
      "SELECT DISTINCT o_custkey, o_orderstatus FROM orders",

    "q148_window_distribution" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(o_orderkey, 2) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice, o_orderkey)""".stripMargin,

    "q10_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "q11_setops" ->
      """SELECT o_custkey, 'both' AS cohort FROM (
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |UNION ALL
        |SELECT o_custkey, 'only_1995' AS cohort FROM (
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)""".stripMargin,

    "q12_rollup" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSumd("l_quantity")} AS sum_qty, count(*) AS n
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q13_string_funcs" ->
      """SELECT p_partkey, upper(trim(p_brand)) AS brand_uc,
        |  substring(p_name, 1, 10) AS name_prefix,
        |  regexp_replace(p_type, '\s+', '_', 'g') AS type_slug,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  str_split(p_type, ' ')[1] AS type_head
        |FROM part""".stripMargin,

    "q14_dates" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d_str
        |FROM orders""".stripMargin,

    "q15_case_when" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 3000 THEN 'low'
        |       WHEN c_acctbal < 7000 THEN 'mid'
        |       ELSE 'high' END AS tier
        |FROM customer""".stripMargin,

    "q16_upsert_dedup" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q17_incremental_antijoin" ->
      """SELECT user_id, event_id, ts FROM events e
        |WHERE e.event_type = 'error' AND ts >= TIMESTAMP '2024-01-02 00:00:00'
        |  AND NOT EXISTS (SELECT 1 FROM events p
        |    WHERE p.event_type = 'error'
        |      AND p.ts < TIMESTAMP '2024-01-02 00:00:00'
        |      AND p.user_id = e.user_id)""".stripMargin)
}
