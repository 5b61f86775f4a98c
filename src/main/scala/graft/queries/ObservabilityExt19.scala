package graft.queries

import graft.{GraftQuery, Lakehouse}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nineteenth observability tranche: SLO scoring, alert hygiene, and
  * fleet growth — the panels next to the RED/latency dashboards.
  *
  *  - `m_apdex`: the Apdex score (Apdex Alliance spec) per (name,
  *    hour): satisfied (d ≤ T), tolerating (T < d ≤ 4T), frustrated;
  *    score = (satisfied + tolerating/2) / total, held exact as
  *    (2·sat + tol) · 10000 div (2·total) — the user-experience
  *    roll-up SLO dashboards lead with.
  *  - `m_alert_flapping`: alert-hygiene audit — per (series, day),
  *    the number of threshold CROSSINGS (state transitions of
  *    value ≥ T vs the previous sample). A series that pages on
  *    every crossing with ≥20 transitions/day is flapping: it needs
  *    hysteresis or a longer window, not more pages. The
  *    transition-count-per-window shape is the standard flap
  *    detection from network monitoring (BGP route-flap damping
  *    lineage).
  *  - `m_series_novelty`: metric-fleet growth — each (name,
  *    process_id) series credited to its FIRST day of appearance:
  *    new-series count, active-series count and cumulative distinct
  *    per day. The "cardinality is growing because of what" timeline
  *    next to M69's point-in-time cardinality guard.
  *  - `m_thread_utilization`: per thread (process key), busy
  *    fraction e4 = Σ root-span duration over first-begin→last-end
  *    wall time. Root spans of one thread never overlap (stack
  *    discipline), so the sum is exact busy time — the "is this
  *    worker saturated" triage column.
  *
  * Scale shape: apdex and utilization are single partial-agg
  * HashAggregates over spans; flapping's lag window is per (name,
  * day) — state rides as one byte, and the per-series-day partition
  * is the natural key at any fleet size; series novelty is the
  * first-appearance min election (the exact-dedup pattern) plus a
  * day-grid cumulative window.
  */
object ObservabilityExt19 {

  private val hourMs = 3600000L
  private val dayMs = 86400000L
  private val apdexT = 30000000L // satisfied threshold (ms); tolerating ≤ 4T
  private val flapThreshold = 100.0 // alert predicate: value ≥ 100
  private val flapsPerDay = 20L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_apdex", (s, dir) => {
      spans(s, dir).select(col("name"),
          expr(s"(begin_ms div $hourMs) * $hourMs").as("hour_ms"),
          when(col("duration_ms") <= apdexT, 1L).otherwise(0L).as("sat"),
          when(col("duration_ms") > apdexT && col("duration_ms") <= 4L * apdexT, 1L)
            .otherwise(0L).as("tol"))
        .groupBy("name", "hour_ms")
        .agg(count(lit(1)).as("total"), sum("sat").as("satisfied"),
          sum("tol").as("tolerating"))
        .withColumn("apdex_e4",
          expr("(2 * satisfied + tolerating) * 10000 div (2 * total)"))
        .orderBy("name", "hour_ms")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")}
      SELECT name, (begin_ms // $hourMs) * $hourMs AS hour_ms,
        CAST(COUNT(*) AS BIGINT) AS total,
        CAST(SUM(CASE WHEN duration_ms <= $apdexT THEN 1 ELSE 0 END) AS BIGINT)
          AS satisfied,
        CAST(SUM(CASE WHEN duration_ms > $apdexT AND duration_ms <= ${4 * apdexT}
                 THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
        (2 * CAST(SUM(CASE WHEN duration_ms <= $apdexT THEN 1 ELSE 0 END) AS BIGINT)
           + CAST(SUM(CASE WHEN duration_ms > $apdexT AND duration_ms <= ${4 * apdexT}
                     THEN 1 ELSE 0 END) AS BIGINT)) * 10000
          // (2 * CAST(COUNT(*) AS BIGINT)) AS apdex_e4
      FROM spans GROUP BY 1, 2 ORDER BY name, hour_ms""")),

    GraftQuery("m_alert_flapping", (s, dir) => {
      val m = new Lakehouse(s, dir).measures.select(
        col("name"), col("time_ms"), col("event_id"),
        expr(s"(time_ms div $dayMs) * $dayMs").as("day_ms"),
        (col("value") >= flapThreshold).cast("long").as("state"))
      val w = Window.partitionBy("name", "day_ms").orderBy("time_ms", "event_id")
      m.withColumn("prev", lag("state", 1).over(w))
        .groupBy("name", "day_ms")
        .agg(count(lit(1)).as("n_samples"), sum("state").as("n_high"),
          sum(when(col("prev").isNotNull && col("prev") =!= col("state"), 1L)
            .otherwise(0L)).as("transitions"))
        .withColumn("flapping", (col("transitions") >= flapsPerDay).cast("long"))
        .orderBy("name", "day_ms")
    }, Some(s"""
      WITH m AS (
        SELECT event_type AS name, epoch_ms(ts) AS time_ms, event_id,
          (epoch_ms(ts) // $dayMs) * $dayMs AS day_ms,
          CASE WHEN value >= $flapThreshold THEN 1 ELSE 0 END AS state
        FROM events),
      lagged AS (
        SELECT *, LAG(state) OVER (PARTITION BY name, day_ms
                                   ORDER BY time_ms, event_id) AS prev
        FROM m)
      SELECT name, day_ms, CAST(COUNT(*) AS BIGINT) AS n_samples,
        CAST(SUM(state) AS BIGINT) AS n_high,
        CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> state THEN 1 ELSE 0 END)
             AS BIGINT) AS transitions,
        CAST(CASE WHEN SUM(CASE WHEN prev IS NOT NULL AND prev <> state THEN 1 ELSE 0 END)
                  >= $flapsPerDay THEN 1 ELSE 0 END AS BIGINT) AS flapping
      FROM lagged GROUP BY 1, 2 ORDER BY name, day_ms""")),

    GraftQuery("m_series_novelty", (s, dir) => {
      val series = events(s, dir)
        .select(col("event_type").as("name"), col("user_id"), epochMs(col("ts")).as("t_ms"))
        .select(col("name"), col("user_id"), expr(s"(t_ms div $dayMs) * $dayMs").as("day_ms"))
      val active = series.groupBy("day_ms")
        .agg(countDistinct(col("name"), col("user_id")).as("n_active_series"))
      val firstSeen = series.groupBy("name", "user_id").agg(min("day_ms").as("day_ms"))
        .groupBy("day_ms").agg(count(lit(1)).as("n_new_series"))
      val w = Window.orderBy("day_ms").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      active.join(firstSeen, Seq("day_ms"), "left")
        .withColumn("n_new_series", coalesce(col("n_new_series"), lit(0L)))
        .withColumn("cum_series", sum("n_new_series").over(w))
        .select("day_ms", "n_active_series", "n_new_series", "cum_series")
        .orderBy("day_ms")
    }, Some(s"""
      WITH s AS (
        SELECT event_type AS name, user_id,
          (epoch_ms(ts) // $dayMs) * $dayMs AS day_ms
        FROM events),
      active AS (
        SELECT day_ms, CAST(COUNT(DISTINCT (name, user_id)) AS BIGINT) AS n_active_series
        FROM s GROUP BY 1),
      fs AS (
        SELECT day_ms, CAST(COUNT(*) AS BIGINT) AS n_new_series
        FROM (SELECT name, user_id, MIN(day_ms) AS day_ms FROM s GROUP BY 1, 2)
        GROUP BY 1)
      SELECT a.day_ms, a.n_active_series,
        COALESCE(fs.n_new_series, 0) AS n_new_series,
        CAST(SUM(COALESCE(fs.n_new_series, 0)) OVER (ORDER BY a.day_ms
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_series
      FROM active a LEFT JOIN fs USING (day_ms)
      ORDER BY day_ms""")),

    GraftQuery("m_thread_utilization", (s, dir) => {
      spans(s, dir).where(col("depth") === 0L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_roots"),
          sum("duration_ms").as("busy_ms"),
          (max("end_ms") - min("begin_ms")).as("wall_ms"))
        .withColumn("util_e4", expr("busy_ms * 10000 div greatest(wall_ms, 1)"))
        .orderBy("user_id")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")}
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_roots,
        CAST(SUM(duration_ms) AS BIGINT) AS busy_ms,
        CAST(MAX(end_ms) - MIN(begin_ms) AS BIGINT) AS wall_ms,
        CAST(SUM(duration_ms) AS BIGINT) * 10000
          // GREATEST(CAST(MAX(end_ms) - MIN(begin_ms) AS BIGINT), 1) AS util_e4
      FROM spans WHERE depth = 0 GROUP BY 1 ORDER BY user_id"""))
  )
}
