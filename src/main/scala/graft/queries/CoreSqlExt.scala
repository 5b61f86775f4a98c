package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Additional DataFusion-SQL-parity coverage: multi-dimensional
  * aggregation (rollup/cube), correlated subqueries, string and date
  * function families, conditional aggregation.
  */
object CoreSqlExt {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("q_rollup", (s, dir) => {
      Tables.df(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
             COALESCE(l_linestatus, 'ALL') AS l_linestatus,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(l_quantity),2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag, l_linestatus""")),

    GraftQuery("q_exists_subquery", (s, dir) => {
      // customers whose orders include a high-priority one: correlated
      // EXISTS expressed as a semi join (what Catalyst rewrites EXISTS to)
      val c = Tables.df(s, dir, "customer")
      val o = Tables.df(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), round(avg("c_acctbal"), 4).as("avg_bal"))
        .orderBy("c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
             round(avg(c_acctbal),4) AS avg_bal
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    GraftQuery("q_scalar_subquery", (s, dir) => {
      // parts priced above the global average — scalar subquery shape
      val p = Tables.df(s, dir, "part")
      val avgPrice = p.agg(avg("p_retailprice").as("ap"))
      p.crossJoin(broadcast(avgPrice))
        .where(col("p_retailprice") > col("ap"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_above_avg"))
        .orderBy("p_brand")
    }, Some("""
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_above_avg
      FROM part
      WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
      GROUP BY p_brand ORDER BY p_brand""")),

    GraftQuery("q_string_funcs", (s, dir) => {
      val p = Tables.df(s, dir, "part").where(col("p_partkey") < 500)
      p.select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          lower(col("p_brand")).as("lbrand"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 5).as("prefix"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_head"),
          when(col("p_name").like("%gre%"), lit("hit")).otherwise(lit("miss")).as("like_gre"),
          trim(lit("  pad  ")).as("trimmed"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey, upper(p_name) AS uname, lower(p_brand) AS lbrand,
        CAST(length(p_name) AS BIGINT) AS name_len,
        substring(p_name, 1, 5) AS prefix,
        concat_ws('/', p_brand, p_type) AS brand_type,
        regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
        CASE WHEN p_name LIKE '%gre%' THEN 'hit' ELSE 'miss' END AS like_gre,
        trim('  pad  ') AS trimmed
      FROM part WHERE p_partkey < 500 ORDER BY p_partkey""")),

    GraftQuery("q_date_arith", (s, dir) => {
      val o = Tables.df(s, dir, "orders").where(col("o_orderkey") < 2000)
      val d = col("o_orderdate").cast("date")
      o.select(col("o_orderkey"),
          year(d).as("y"), month(d).as("m"), dayofmonth(d).as("d"),
          quarter(d).as("q"), dayofweek(d).as("dow"),
          date_add(d, 30).cast("string").as("plus30"),
          datediff(lit("2000-01-01").cast("date"), d).cast("long").as("days_to_y2k"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        CAST(year(o_orderdate) AS INTEGER) AS y,
        CAST(month(o_orderdate) AS INTEGER) AS m,
        CAST(day(o_orderdate) AS INTEGER) AS d,
        CAST(quarter(o_orderdate) AS INTEGER) AS q,
        CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k
      FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""")),

    GraftQuery("q_conditional_agg", (s, dir) => {
      // rev_bulk is a money sum → decimal-exact (the double fold-order
      // lottery flipped its last cent at the sf10 decade; the shared
      // fragment is valid in both engines' SQL, so the arithmetic
      // cannot drift — PLANS.md round-9)
      val l = Tables.df(s, dir, "lineitem")
      l.groupBy("l_returnflag")
        .agg(
          sum(when(col("l_discount") > 0.05, lit(1)).otherwise(lit(0))).as("n_high_disc"),
          expr(CoreSql.money(
            s"sum(case when l_quantity > 25 then ${CoreSql.decPrice} end)"))
            .as("rev_bulk"),
          count(when(col("l_tax") === 0, lit(1))).as("n_no_tax"))
        .select(col("l_returnflag"), col("n_high_disc"), col("rev_bulk"),
          col("n_no_tax"))
        .orderBy("l_returnflag")
    }, Some(s"""
      SELECT l_returnflag,
        CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_disc,
        ${CoreSql.money(s"SUM(CASE WHEN l_quantity > 25 THEN ${CoreSql.decPrice} END)")} AS rev_bulk,
        CAST(COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS BIGINT) AS n_no_tax
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))
  )
}
