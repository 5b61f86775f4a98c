package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StringType}

/** Fourth SQL tranche: CUBE aggregation, nation-pair multi-join
  * (TPC-H Q7 shape), and the jsonb generator functions (jsonb_each /
  * jsonb_array_elements as explode shapes).
  */
object CoreSqlExt2 {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("q_cube", (s, dir) => {
      Tables.df(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr(CoreSql.money(s"sum(${CoreSql.decTotalPrice})")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n"), col("total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }, Some(s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
             COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             ${CoreSql.money(s"sum(${CoreSql.decTotalPrice})")} AS total
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus, o_orderpriority""")),

    GraftQuery("q7_nation_pairs", (s, dir) => {
      val su = Tables.df(s, dir, "supplier")
      val l = Tables.df(s, dir, "lineitem")
      val o = Tables.df(s, dir, "orders")
      val c = Tables.df(s, dir, "customer")
      val n1 = Tables.df(s, dir, "nation").select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = Tables.df(s, dir, "nation").select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      l.join(su, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .where(col("supp_nation") =!= col("cust_nation") &&
          col("supp_nation").isin("NATION_0", "NATION_1", "NATION_2") &&
          col("cust_nation").isin("NATION_0", "NATION_1", "NATION_2"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("date")).as("l_year"))
        .agg(CoreSql.moneyRevenue.as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, Some(s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS INTEGER) AS l_year,
        ${CoreSql.moneyRevenueSql} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
        AND n1.n_name IN ('NATION_0','NATION_1','NATION_2')
        AND n2.n_name IN ('NATION_0','NATION_1','NATION_2')
      GROUP BY 1, 2, 3
      ORDER BY supp_nation, cust_nation, l_year""")),

    GraftQuery("m_json_each", (s, dir) => {
      // jsonb_each shape: explode an object into (key, value) rows
      val e = events(s, dir).where(col("event_id") < 2000)
      val parsed = from_json(col("props"), MapType(StringType, StringType))
      e.select(col("event_id"), explode(parsed).as(Seq("key", "value")))
        .orderBy("event_id", "key")
    }, Some("""
      SELECT event_id, u.k AS key,
        json_extract_string(props, '$.' || u.k) AS value
      FROM events, UNNEST(json_keys(props)) u(k)
      WHERE event_id < 2000
      ORDER BY event_id, key""")),

    GraftQuery("m_json_elements", (s, dir) => {
      // jsonb_array_elements shape: explode a JSON array with ordinality
      val e = events(s, dir).where(col("event_id") < 2000)
      val k = get_json_object(col("props"), "$.k")
      val arr = concat(lit("["), k, lit(","), (col("event_id") % 5).cast("string"), lit(",7]"))
      e.select(col("event_id"),
          posexplode(from_json(arr, ArrayType(LongType))).as(Seq("idx", "elem")))
        .select(col("event_id"), col("idx").cast("long").as("idx"), col("elem"))
        .orderBy("event_id", "idx")
    }, Some("""
      WITH j AS (
        SELECT event_id,
          '[' || regexp_extract(props, '"k": ([0-9]+)', 1) || ',' ||
          CAST(event_id % 5 AS VARCHAR) || ',7]' AS arr
        FROM events WHERE event_id < 2000)
      SELECT event_id, CAST(i.range AS BIGINT) AS idx,
        CAST(json_extract_string(arr, '$[' || CAST(i.range AS VARCHAR) || ']') AS BIGINT) AS elem
      FROM j CROSS JOIN range(0, 3) i
      ORDER BY event_id, idx"""))
  )
}
