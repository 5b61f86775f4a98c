package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Core SQL surface (SURVEY §2 C1–C12): the DataFusion-SQL parity layer,
  * expressed with the DataFrame API so Catalyst owns pushdown, join
  * strategy and whole-stage codegen. Aggregate outputs are rounded and
  * totally ordered so the DuckDB oracle hashes identically.
  */
object CoreSql {

  /** Decimal-money FRAGMENTS, written in the syntax subset valid in
    * BOTH Spark `expr(...)` and DuckDB SQL — each site interpolates
    * the SAME string into both sides, so the arithmetic cannot drift.
    * Why decimal: a double-precision sum is fold-order dependent, and
    * at sf1 the parallel partial sums landed one ulp across a cent
    * rounding boundary in a q5 group (….96 vs ….97 after round) —
    * decimal sums are bit-exact at any scale and parallelism, and both
    * engines convert the identical decimal to the identical double.
    * Every money column in the testdata is an exact 2-decimal value
    * (verified), so the decimal cast recovers exact cents. Ratios and
    * averages of money sums stay double: their divergence is divided
    * by group size and sits orders of magnitude inside any rounding
    * boundary (analysis in PLANS.md round-9).
    */
  private[queries] val decPrice = "cast(l_extendedprice as decimal(18,2))"
  private[queries] val decDisc1 = "(cast(1 as decimal(3,2)) - cast(l_discount as decimal(4,2)))"
  private[queries] val decTax1 = "(cast(1 as decimal(3,2)) + cast(l_tax as decimal(4,2)))"
  private[queries] val decValue = "cast(value as decimal(18,2))"
  private[queries] val decTotalPrice = "cast(o_totalprice as decimal(18,2))"
  /** `cast(round(<decimal agg>, s) as double)` — the exact decimal
    * result surfaced as the identical double on both engines.
    */
  private[queries] def money(aggExpr: String, scale: Int = 2): String =
    s"cast(round($aggExpr, $scale) as double)"

  private[queries] val moneyRevenueSql: String =
    money(s"sum($decPrice * $decDisc1)")
  private[queries] def moneyRevenue: Column = expr(moneyRevenueSql)

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("q1_agg", (s, dir) => {
      val l = Tables.df(s, dir, "lineitem")
      l.where(col("l_shipdate").cast("date") <= lit("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          expr(money(s"sum($decPrice)")).as("sum_base_price"),
          expr(money(s"sum($decPrice * $decDisc1)")).as("sum_disc_price"),
          expr(money(s"sum($decPrice * $decDisc1 * $decTax1)")).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(s"""
      SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity),2) AS sum_qty,
        ${money(s"sum($decPrice)")} AS sum_base_price,
        ${money(s"sum($decPrice * $decDisc1)")} AS sum_disc_price,
        ${money(s"sum($decPrice * $decDisc1 * $decTax1)")} AS sum_charge,
        round(avg(l_quantity),4) AS avg_qty,
        round(avg(l_extendedprice),4) AS avg_price,
        round(avg(l_discount),4) AS avg_disc,
        CAST(count(*) AS BIGINT) AS count_order
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""), headline = true),

    GraftQuery("q3_join_topk", (s, dir) => {
      val c = Tables.df(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = Tables.df(s, dir, "orders").where(col("o_orderdate").cast("date") < lit("1998-03-15"))
      val l = Tables.df(s, dir, "lineitem").where(col("l_shipdate").cast("date") > lit("1998-03-15"))
      // Join-then-group, deliberately NOT eager-agged (r13 fourth-decade
      // probe, PLANS.md): pre-summing revenue per l_orderkey below the
      // join forces a full lineitem exchange at EVERY scale — an 11×
      // regression at sf10, where AQE's runtime broadcasts let lineitem
      // ride its scan with zero shuffle. At the decade where c⋈o
      // crosses the broadcast ceiling the plan transitions to a
      // fact-fact exchange whose cost is exchange-volume-bound (SMJ /
      // shuffled-hash / eager-agg all land within 3%), zero spill, all
      // stages wide — the correct cluster shape, parallel across a
      // fleet.
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), epochMs(col("o_orderdate")).as("order_date_ms"), col("o_orderpriority"))
        .agg(moneyRevenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Some(s"""
      SELECT l_orderkey, epoch_ms(o_orderdate) AS order_date_ms, o_orderpriority,
        $moneyRevenueSql AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
        AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
      GROUP BY l_orderkey, epoch_ms(o_orderdate), o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""), headline = true),

    GraftQuery("q5_multi_join", (s, dir) => {
      val r = Tables.df(s, dir, "region")
      val n = Tables.df(s, dir, "nation")
      val c = Tables.df(s, dir, "customer")
      val o = Tables.df(s, dir, "orders")
        .where(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
               col("o_orderdate").cast("date") < lit("1997-01-01"))
      val l = Tables.df(s, dir, "lineitem")
      val su = Tables.df(s, dir, "supplier")
      // dims are tiny: broadcast them; the big join l⋈o shuffles on orderkey once
      broadcast(r).join(broadcast(n), col("r_regionkey") === col("n_regionkey"))
        .join(c, col("n_nationkey") === col("c_nationkey"))
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(moneyRevenue.as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }, Some(s"""
      SELECT r_name, n_name,
        $moneyRevenueSql AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM region
      JOIN nation ON r_regionkey = n_regionkey
      JOIN customer ON n_nationkey = c_nationkey
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""), headline = true),

    GraftQuery("q_star_broadcast", (s, dir) => {
      val p = Tables.df(s, dir, "part")
      val l = Tables.df(s, dir, "lineitem")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"))
        .orderBy("p_brand")
    }, Some("""
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        round(sum(l_quantity),2) AS sum_qty,
        round(avg(l_extendedprice),4) AS avg_price
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")),

    GraftQuery("q_window_funcs", (s, dir) => {
      val e = events(s, dir).where(col("user_id") < 20)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wv = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
      e.select(col("user_id"), col("event_id"), col("value"),
          row_number().over(w).as("rn"),
          rank().over(wv).as("value_rank"),
          round(lag("value", 1).over(w), 2).as("prev_value"),
          round(lead("value", 1).over(w), 2).as("next_value"))
        .orderBy("user_id", "rn")
    }, Some("""
      SELECT user_id, event_id, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank,
        round(LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS prev_value,
        round(LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS next_value
      FROM events WHERE user_id < 20
      ORDER BY user_id, rn""")),

    GraftQuery("q_time_bucket", (s, dir) => {
      val e = events(s, dir)
      e.groupBy(epochMs(date_trunc("hour", col("ts"))).as("bucket_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr(money(s"sum($decValue)")).as("sum_value"),
          round(min("value"), 2).as("min_value"),
          round(max("value"), 2).as("max_value"))
        .orderBy("bucket_ms", "event_type")
    }, Some(s"""
      SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
        CAST(count(*) AS BIGINT) AS n,
        ${money(s"sum($decValue)")} AS sum_value,
        round(min(value),2) AS min_value,
        round(max(value),2) AS max_value
      FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type"""), headline = true),

    GraftQuery("q_topk_per_group", (s, dir) => {
      val e = events(s, dir)
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      e.select(col("event_type"), col("event_id"), col("value"),
          row_number().over(w).as("rk"))
        .where(col("rk") <= 3)
        .orderBy("event_type", "rk")
    }, Some("""
      SELECT event_type, event_id, value, rk FROM (
        SELECT event_type, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
        FROM events) WHERE rk <= 3 ORDER BY event_type, rk""")),

    GraftQuery("q_count_distinct", (s, dir) => {
      val e = events(s, dir)
      e.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          expr(money(s"sum($decValue)")).as("sum_value"))
        .orderBy("event_type")
    }, Some(s"""
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(count(*) AS BIGINT) AS n_events, ${money(s"sum($decValue)")} AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""")),

    GraftQuery("q_approx_distinct", (s, dir) => {
      // engine-specific sketches (HLL++ / approx quantile) — no cross-engine oracle
      val e = events(s, dir)
      e.groupBy("event_type")
        .agg(approx_count_distinct("user_id").as("approx_users"),
          round(element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)), 1), 2).as("p50_approx"),
          round(element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)), 2), 2).as("p95_approx"))
        .orderBy("event_type")
    }, None),

    GraftQuery("q_semi_anti", (s, dir) => {
      val c = Tables.df(s, dir, "customer")
      val ok = Tables.df(s, dir, "orders").select("o_custkey")
      val withO = c.join(ok, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
      val without = c.join(ok, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
      withO.join(without, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
          coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
        .orderBy("c_mktsegment")
    }, Some("""
      WITH ok AS (SELECT DISTINCT o_custkey FROM orders)
      SELECT c_mktsegment,
        CAST(SUM(CASE WHEN ok.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        CAST(SUM(CASE WHEN ok.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
      FROM customer LEFT JOIN ok ON c_custkey = ok.o_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    GraftQuery("q_set_ops", (s, dir) => {
      val cn = Tables.df(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
      val sn = Tables.df(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
      cn.intersect(sn).select(lit("both").as("tag"), col("nk"))
        .unionAll(cn.except(sn).select(lit("cust_only").as("tag"), col("nk")))
        .orderBy("tag", "nk")
    }, Some("""
      WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
           sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
      SELECT 'both' AS tag, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
      UNION ALL
      SELECT 'cust_only' AS tag, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
      ORDER BY tag, nk""")),

    GraftQuery("q_percentiles", (s, dir) => {
      val l = Tables.df(s, dir, "lineitem")
      l.agg(
        round(percentile(col("l_extendedprice"), lit(0.25)), 2).as("p25"),
        round(percentile(col("l_extendedprice"), lit(0.5)), 2).as("p50"),
        round(percentile(col("l_extendedprice"), lit(0.9)), 2).as("p90"),
        round(percentile(col("l_extendedprice"), lit(0.99)), 2).as("p99"))
    }, Some("""
      SELECT
        round(quantile_cont(l_extendedprice, 0.25),2) AS p25,
        round(quantile_cont(l_extendedprice, 0.5),2) AS p50,
        round(quantile_cont(l_extendedprice, 0.9),2) AS p90,
        round(quantile_cont(l_extendedprice, 0.99),2) AS p99
      FROM lineitem"""))
  )
}
