package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourteenth observability tranche: product/event analytics over the
  * event stream — the funnel and cohort queries every event warehouse
  * serves alongside logs and traces.
  *
  *  - `m_funnel`: ordered-sequence conversion (signup → view →
  *    purchase, each within a 24h window of the previous): per step, users reaching it IN ORDER (each step's
  *    event strictly after the previous step's first completion) and
  *    the step-to-step conversion e4 — the product-analytics funnel,
  *    computed as chained keyed min-aggregates, no pattern-match UDF.
  *  - `m_retention_cohort`: users bucketed by first-seen day, activity
  *    counted per (cohort, days-since) cell — the retention triangle.
  *
  * Scale shape: the funnel is K chained per-user HashAggregates and
  * keyed joins (K = steps, each stage shrinks to converted users);
  * the cohort matrix aggregates distinct (user, day) rows — the
  * triangle itself is days² cells. Both reuse the user_id
  * partitioning end-to-end; nothing is per-event after the first agg.
  */
object ObservabilityExt14 {

  private val dayMs = 86400000L
  // conversion window: each step must follow the previous within 24h
  // (150 -> 39 -> 15 users on the sf0.01 corpus — a real funnel; the
  // unwindowed variant converges to 100% on a month-long dense stream)
  private val convWindowMs = 86400000L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_funnel", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        epochMs(col("ts")).as("t"))
      val s1 = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("t").as("t1"))
      // step tables are per-USER min-aggregates — they grow with the
      // user base (16 MB built at sf10, r12 audit), so the chained
      // joins pin shuffle_hash: everything co-partitions on user_id
      // once and a statically-broadcast post-agg side never demotes
      val s2 = e.where(col("event_type") === "view").join(s1.hint("shuffle_hash"), "user_id")
        .where(col("t") > col("t1") && col("t") <= col("t1") + convWindowMs)
        .groupBy("user_id").agg(min("t").as("t2"))
      val s3 = e.where(col("event_type") === "purchase").join(s2.hint("shuffle_hash"), "user_id")
        .where(col("t") > col("t2") && col("t") <= col("t2") + convWindowMs)
        .groupBy("user_id").agg(min("t").as("t3"))
      val counts = s1.agg(count(lit(1)).as("users")).withColumn("step", lit(1L))
        .unionByName(s2.agg(count(lit(1)).as("users")).withColumn("step", lit(2L)))
        .unionByName(s3.agg(count(lit(1)).as("users")).withColumn("step", lit(3L)))
      val w = Window.orderBy("step")
      counts
        .withColumn("prev", lag("users", 1).over(w))
        .select(col("step"),
          array(lit("signup"), lit("view"), lit("purchase"))(col("step").cast("int") - 1)
            .as("event_type"),
          col("users"),
          coalesce(expr("users * 10000 div prev"), lit(10000L)).as("conv_e4"))
        .orderBy("step")
    }, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'view' AND t > t1 AND t <= t1 + 86400000 GROUP BY 1),
      s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + 86400000 GROUP BY 1),
      counts AS (
        SELECT 1 AS step, 'signup' AS event_type, COUNT(*) AS users FROM s1
        UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
        UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3)
      SELECT CAST(step AS BIGINT) AS step, event_type,
        CAST(users AS BIGINT) AS users,
        CAST(COALESCE(users * 10000 // LAG(users) OVER (ORDER BY step), 10000) AS BIGINT)
          AS conv_e4
      FROM counts ORDER BY step""")),

    GraftQuery("m_label_cardinality", (s, dir) => {
      // metrics-label cardinality guard: per metric name, how many
      // distinct values the property label takes, as a ratio of rows
      // (e4) — the "this label is about to explode the time-series
      // store" audit every metrics backend runs before accepting a
      // label into an index. Extraction uses the native property_get
      // expression (codegen'd, same as M4); one partial-agg groupBy.
      events(s, dir)
        .select(col("event_type"),
          call_function("graft_property_get", col("props"), lit("k")).as("label"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("label").as("n_values"))
        .withColumn("ratio_e4", expr("n_values * 10000 div n_rows"))
        .withColumn("high_cardinality", (col("ratio_e4") >= 1000L).cast("long"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(DISTINCT regexp_extract(props, '"k": ([0-9]+)', 1)) AS BIGINT) AS n_values,
        CAST(COUNT(DISTINCT regexp_extract(props, '"k": ([0-9]+)', 1)) * 10000 // COUNT(*)
          AS BIGINT) AS ratio_e4,
        CAST(CASE WHEN COUNT(DISTINCT regexp_extract(props, '"k": ([0-9]+)', 1)) * 10000
                       // COUNT(*) >= 1000 THEN 1 ELSE 0 END AS BIGINT) AS high_cardinality
      FROM events GROUP BY event_type ORDER BY event_type""")),

    GraftQuery("m_retention_cohort", (s, dir) => {
      val act = events(s, dir)
        .select(col("user_id"), epochMs(date_trunc("day", col("ts"))).as("day_ms"))
        .distinct()
        .localCheckpoint() // feeds cohort mins AND the offset cells
      val coh = act.groupBy("user_id").agg(min("day_ms").as("cohort_ms"))
      act.join(coh, "user_id")
        .select(col("cohort_ms"),
          expr(s"(day_ms - cohort_ms) div $dayMs").as("offset_days"))
        .groupBy("cohort_ms", "offset_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_ms", "offset_days")
    }, Some(s"""
      WITH act AS (
        SELECT DISTINCT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms FROM events),
      coh AS (SELECT user_id, MIN(day_ms) AS cohort_ms FROM act GROUP BY 1)
      SELECT cohort_ms,
        CAST((day_ms - cohort_ms) // $dayMs AS BIGINT) AS offset_days,
        CAST(COUNT(*) AS BIGINT) AS n_users
      FROM act JOIN coh USING (user_id)
      GROUP BY 1, 2 ORDER BY cohort_ms, offset_days"""))
  )
}
