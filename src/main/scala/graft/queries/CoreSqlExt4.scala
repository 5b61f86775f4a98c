package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Sixth tranche: the remaining TPC-H shapes, adapted to the testdata
  * schema (no partsupp / commitdate / receiptdate / phone columns — each
  * query keeps the *structural* essence of its TPC-H counterpart:
  * correlated EXISTS (Q4), scalar-subquery HAVING threshold (Q11),
  * outer-join distribution (Q13), agg-view + scalar max (Q15),
  * NOT IN + count-distinct (Q16), nested correlated share threshold
  * (Q20), anti-join + avg threshold (Q22)).
  *
  * Cross-engine exactness: any value that feeds an equality or threshold
  * COMPARISON is integer-exact (quantities cast to BIGINT, balances to
  * cents) so Spark-vs-DuckDB float summation order can never flip a row
  * in or out of the result. Reference SQL surface:
  * rust/analytics/src/lakehouse/query.rs (full DataFusion SQL).
  */
object CoreSqlExt4 {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("q4_order_priority", (s, dir) => {
      // Q4 shape: correlated EXISTS → left-semi join, then count by
      // priority. "Late shipment" stands in for commit<receipt.
      val o = Tables.df(s, dir, "orders")
        .where(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1997-04-01")
      val l = Tables.df(s, dir, "lineitem")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")),

    GraftQuery("q11_important_stock", (s, dir) => {
      // Q11 shape: per-key aggregate kept only when it exceeds a
      // fraction of the GLOBAL aggregate over the same filtered input
      // (scalar-subquery HAVING). lineitem⋈supplier stands in for
      // partsupp; quantities are summed as BIGINT so the threshold
      // comparison is integer-exact in both engines.
      val su = Tables.df(s, dir, "supplier").where(col("s_nationkey") < 5)
      val flt = Tables.df(s, dir, "lineitem")
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("q"))
      val perPart = flt.groupBy("l_partkey").agg(sum("q").as("qty_value"))
      // scalar subquery = 1-row broadcast cross join (no driver collect).
      // The total is derived from the per-part sums (exact: integer sums
      // compose) so both branches share one groupBy exchange — the fact
      // scan runs once (ReusedExchange), not twice.
      val total = perPart.agg((sum("qty_value") * lit(0.001)).as("threshold"))
      perPart.crossJoin(broadcast(total))
        .where(col("qty_value") > col("threshold"))
        .select(col("l_partkey"), col("qty_value"))
        .orderBy(desc("qty_value"), col("l_partkey"))
    }, Some("""
      WITH flt AS (
        SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey < 5)
      SELECT l_partkey, CAST(sum(q) AS BIGINT) AS qty_value
      FROM flt GROUP BY l_partkey
      HAVING sum(q) > (SELECT sum(q)*0.001 FROM flt)
      ORDER BY qty_value DESC, l_partkey""")),

    GraftQuery("q13_cust_distribution", (s, dir) => {
      // Q13 shape: LEFT OUTER join (customers with zero matching orders
      // must survive with count 0) → per-customer order count → second
      // aggregation over the counts (distribution histogram).
      val c = Tables.df(s, dir, "customer")
      val o = Tables.df(s, dir, "orders").where(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }, Some("""
      SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) t
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")),

    GraftQuery("q15_top_supplier", (s, dir) => {
      // Q15 shape: aggregate view (supplier revenue over a quarter),
      // then the supplier(s) achieving the view's max via a scalar
      // subquery. Integer quantity total keeps the equality exact.
      // explicit isNotNull keeps both branches' scan subtrees identical
      // (the supplier join pushes one into the main branch only), so AQE
      // reuses the groupBy stage — one fact scan instead of two
      val l = Tables.df(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1999-01-01" && col("l_shipdate") < "1999-04-01" &&
          col("l_suppkey").isNotNull)
      val rev = l.groupBy("l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      val top = rev.agg(max("total_qty").as("max_qty"))
      val su = Tables.df(s, dir, "supplier")
      rev.crossJoin(broadcast(top))
        .where(col("total_qty") === col("max_qty"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_qty"))
        .orderBy("s_suppkey")
    }, Some("""
      WITH rev AS (
        SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem
        WHERE l_shipdate >= DATE '1999-01-01' AND l_shipdate < DATE '1999-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_qty
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE total_qty = (SELECT max(total_qty) FROM rev)
      ORDER BY s_suppkey""")),

    GraftQuery("q16_parts_suppliers", (s, dir) => {
      // Q16 shape: NOT IN subquery (anti join — s_suppkey is never null
      // so anti ≡ NOT IN) + count(DISTINCT supplier) per part attribute
      // triple. lineitem provides the part↔supplier relation.
      val badSupp = Tables.df(s, dir, "supplier").where(col("s_acctbal") < 0).select("s_suppkey")
      val p = Tables.df(s, dir, "part")
        .where(col("p_brand") =!= "Brand#13" && col("p_type") =!= "ECONOMY" &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25))
      Tables.df(s, dir, "lineitem")
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    }, Some("""
      SELECT p_brand, p_type, p_size,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#13' AND p_type <> 'ECONOMY'
        AND p_size IN (1,4,7,10,13,16,19,22,25)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    GraftQuery("q20_potential_promotion", (s, dir) => {
      // Q20 shape: nested correlated subqueries — suppliers holding a
      // >25% share of any matching part's yearly volume. share test is
      // qty*4 > part_total in exact integers (no 0.25*sum float).
      val p = Tables.df(s, dir, "part").where(col("p_name").like("large%")).select("p_partkey")
      val sp = Tables.df(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1999-01-01" && col("l_shipdate") < "2000-01-01")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val tot = sp.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum("qty").as("tot_qty"))
      val su = Tables.df(s, dir, "supplier")
      sp.join(tot, col("l_partkey") === col("t_partkey"))
        .where(col("qty") * 4 > col("tot_qty"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name")).distinct()
        .orderBy("s_suppkey")
    }, Some("""
      WITH sp AS (
        SELECT l_suppkey, l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'large%'
          AND l_shipdate >= DATE '1999-01-01' AND l_shipdate < DATE '2000-01-01'
        GROUP BY l_suppkey, l_partkey),
      tot AS (SELECT l_partkey AS t_partkey, CAST(sum(qty) AS BIGINT) AS tot_qty
              FROM sp GROUP BY l_partkey)
      SELECT DISTINCT s_suppkey, s_name
      FROM sp JOIN tot ON l_partkey = t_partkey
              JOIN supplier ON s_suppkey = l_suppkey
      WHERE qty * 4 > tot_qty
      ORDER BY s_suppkey""")),

    GraftQuery("q22_sales_opportunity", (s, dir) => {
      // Q22 shape: customers above the average positive balance with no
      // recent orders (NOT EXISTS → anti join), grouped by country code
      // (nationkey stands in for the phone prefix). Balances go through
      // integer cents so the avg threshold is bit-identical across
      // engines (sum of BIGINT / count, one double division).
      val cents = round(col("c_acctbal") * 100, 0).cast("long")
      val pos = Tables.df(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), cents.as("cents"))
      val thr = pos.where(col("cents") > 0)
        .agg((sum("cents").cast("double") / count(lit(1))).as("avg_cents"))
      val recent = Tables.df(s, dir, "orders")
        .where(col("o_orderdate") >= "2000-06-01").select("o_custkey")
      pos.crossJoin(broadcast(thr))
        .where(col("cents") > col("avg_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), sum("cents").as("tot_cents"))
        .orderBy("cntrycode")
    }, Some("""
      WITH pos AS (
        SELECT c_custkey, c_nationkey, CAST(round(c_acctbal*100, 0) AS BIGINT) AS cents
        FROM customer)
      SELECT c_nationkey AS cntrycode, CAST(count(*) AS BIGINT) AS numcust,
        CAST(sum(cents) AS BIGINT) AS tot_cents
      FROM pos
      WHERE cents > (SELECT CAST(sum(cents) AS DOUBLE)/count(*) FROM pos WHERE cents > 0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-06-01')
      GROUP BY c_nationkey
      ORDER BY cntrycode"""))
  )
}
