package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eleventh observability tranche: the alerting/regression layer a
  * monitoring stack runs ON TOP of the log/span views.
  *
  *  - `m_burn_rate`: multi-window SLO burn-rate alerting (the Google
  *    SRE workbook multiwindow pattern): per-hour error ratio gated
  *    against the SLO budget, paged only when the enclosing 6-hour
  *    window ALSO burns — short window for reaction time, long window
  *    to suppress blips. All-integer ratios (e6).
  *  - `m_baseline_deviation`: per-(type, day) volume vs the expanding
  *    mean of all PRIOR days — the daily-volume anomaly detector
  *    ("did clicks fall off a cliff today"). Integer deviation (e2)
  *    with an exact integer baseline (sum div n over prior days).
  *  - `m_deploy_compare`: span-duration regression across a cutover
  *    point — per span name, exact median duration before vs after
  *    (med2 = sum of the two middle order statistics, an integer-exact
  *    median×2) — the "did the deploy make it slower" query.
  *
  * Scale shape: burn rate and deviation are partial-agg HashAggregates
  * over time bins (bin cardinality ≪ rows) plus keyed joins between
  * bin tables; the deviation window is per-type over DAYS (≤ tens of
  * rows per partition). Deploy compare sorts WITHIN (name, period)
  * partitions only — no global sort; the two middle elements come off
  * a bounded per-group window.
  */
object ObservabilityExt11 {

  // SLO: error budget 25% (the synthetic stream runs ~20% errors, so
  // hours over budget are real but not constant); page when the hour
  // AND its 6-hour window both exceed the budget
  private val sloRatioE6 = 250000L
  private val hourMs = 3600000L
  private val longWindowHours = 6L
  // deploy cutover: the corpus midpoint (Jan 16 2024 00:00 UTC)
  private val cutoverMs = 1705363200000L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_burn_rate", (s, dir) => {
      val e = events(s, dir).select(epochMs(col("ts")).as("t_ms"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
        .select(expr(s"(t_ms div $hourMs) * $hourMs").as("hour_ms"), col("is_err"))
      val hourly = e.groupBy("hour_ms")
        .agg(count(lit(1)).as("total"), sum("is_err").as("errors"))
        .withColumn("ratio_e6", expr("errors * 1000000 div total"))
        .localCheckpoint() // feeds both windows
      val win = hourly
        .withColumn("win_ms",
          expr(s"(hour_ms div ${hourMs * longWindowHours}) * ${hourMs * longWindowHours}"))
        .groupBy("win_ms")
        .agg(sum("total").as("w_total"), sum("errors").as("w_errors"))
        .withColumn("w_ratio_e6", expr("w_errors * 1000000 div w_total"))
      hourly
        .withColumn("win_ms",
          expr(s"(hour_ms div ${hourMs * longWindowHours}) * ${hourMs * longWindowHours}"))
        .join(win, "win_ms")
        .select(col("hour_ms"), col("total"), col("errors"), col("ratio_e6"),
          col("w_ratio_e6"),
          (col("ratio_e6") >= sloRatioE6 && col("w_ratio_e6") >= sloRatioE6)
            .cast("long").as("page"))
        .orderBy("hour_ms")
    }, Some(s"""
      WITH e AS (
        SELECT (epoch_ms(ts) // $hourMs) * $hourMs AS hour_ms,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        FROM events),
      hourly AS (
        SELECT hour_ms, COUNT(*) AS total, SUM(is_err) AS errors,
          SUM(is_err) * 1000000 // COUNT(*) AS ratio_e6
        FROM e GROUP BY 1),
      win AS (
        SELECT (hour_ms // ${hourMs * longWindowHours}) * ${hourMs * longWindowHours} AS win_ms,
          SUM(total) AS w_total, SUM(errors) AS w_errors,
          SUM(errors) * 1000000 // SUM(total) AS w_ratio_e6
        FROM hourly GROUP BY 1)
      SELECT hour_ms, CAST(total AS BIGINT) AS total,
        CAST(errors AS BIGINT) AS errors,
        CAST(ratio_e6 AS BIGINT) AS ratio_e6,
        CAST(w_ratio_e6 AS BIGINT) AS w_ratio_e6,
        CAST(CASE WHEN ratio_e6 >= $sloRatioE6 AND w_ratio_e6 >= $sloRatioE6
             THEN 1 ELSE 0 END AS BIGINT) AS page
      FROM hourly JOIN win
        ON (hourly.hour_ms // ${hourMs * longWindowHours}) * ${hourMs * longWindowHours} = win.win_ms
      ORDER BY hour_ms"""), headline = true),

    GraftQuery("m_baseline_deviation", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), epochMs(date_trunc("day", col("ts"))).as("day_ms"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day_ms")
        .rowsBetween(Window.unboundedPreceding, -1)
      daily
        .withColumn("base_sum", sum("cnt").over(w))
        .withColumn("base_n", count(lit(1)).over(w))
        .where(col("base_n") >= 1)
        .withColumn("baseline", expr("base_sum div base_n"))
        .select(col("event_type"), col("day_ms"), col("cnt"), col("baseline"),
          expr("cnt * 100 div baseline").as("dev_e2"))
        .withColumn("anomaly",
          (expr("abs(cnt * 100 div baseline - 100)") >= 20L).cast("long"))
        .orderBy("event_type", "day_ms")
    }, Some("""
      WITH daily AS (
        SELECT event_type, epoch_ms(date_trunc('day', ts)) AS day_ms,
          COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      b AS (
        SELECT event_type, day_ms, cnt,
          SUM(cnt) OVER (PARTITION BY event_type ORDER BY day_ms
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS base_sum,
          COUNT(*) OVER (PARTITION BY event_type ORDER BY day_ms
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS base_n
        FROM daily)
      SELECT event_type, day_ms, CAST(cnt AS BIGINT) AS cnt,
        CAST(base_sum // base_n AS BIGINT) AS baseline,
        CAST(cnt * 100 // (base_sum // base_n) AS BIGINT) AS dev_e2,
        CAST(CASE WHEN abs(cnt * 100 // (base_sum // base_n) - 100) >= 20
             THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      FROM b WHERE base_n >= 1
      ORDER BY event_type, day_ms""")),

    GraftQuery("m_deploy_compare", (s, dir) => {
      // per-name median×2 (exact integer: the sum of the two middle
      // order statistics) before vs after the cutover — median is the
      // deploy-regression statistic (mean is skew-hostage). Rank
      // positions a=(n+1) div 2, b=(n+2) div 2 within (name, period).
      val sp = spans(s, dir).select(col("name"),
        when(col("begin_ms") < cutoverMs, "before").otherwise("after").as("period"),
        col("duration_ms"), col("span_id"))
      val w = Window.partitionBy("name", "period")
        .orderBy(col("duration_ms"), col("span_id"))
      val ranked = sp.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("name", "period")))
      val med = ranked
        .groupBy("name", "period")
        .agg(max("n").as("n_spans"),
          sum(when(col("rk") === expr("(n + 1) div 2"), col("duration_ms"))
            .otherwise(0L)).as("lo"),
          sum(when(col("rk") === expr("(n + 2) div 2"), col("duration_ms"))
            .otherwise(0L)).as("hi"))
        .withColumn("med2", col("lo") + col("hi"))
        // names×2 rows; without a cut the before/after branches each
        // replay the whole span-assembly + rank chain
        .localCheckpoint()
      val before = med.where(col("period") === "before")
        .select(col("name"), col("n_spans").as("n_before"), col("med2").as("med2_before"))
      val after = med.where(col("period") === "after")
        .select(col("name"), col("n_spans").as("n_after"), col("med2").as("med2_after"))
      before.join(after, Seq("name"), "full_outer")
        .select(col("name"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("med2_before"), lit(0L)).as("med2_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("med2_after"), lit(0L)).as("med2_after"),
          (coalesce(col("med2_after"), lit(0L))
            - coalesce(col("med2_before"), lit(0L))).as("delta_med2"))
        .orderBy("name")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      sp AS (
        SELECT name,
          CASE WHEN begin_ms < $cutoverMs THEN 'before' ELSE 'after' END AS period,
          duration_ms, span_id
        FROM spans),
      ranked AS (
        SELECT name, period, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY name, period
                             ORDER BY duration_ms, span_id) AS rk,
          COUNT(*) OVER (PARTITION BY name, period) AS n
        FROM sp),
      med AS (
        SELECT name, period, MAX(n) AS n_spans,
          SUM(CASE WHEN rk = (n + 1) // 2 THEN duration_ms ELSE 0 END)
            + SUM(CASE WHEN rk = (n + 2) // 2 THEN duration_ms ELSE 0 END) AS med2
        FROM ranked GROUP BY 1, 2),
      bf AS (SELECT name, n_spans AS n_before, med2 AS med2_before FROM med WHERE period = 'before'),
      af AS (SELECT name, n_spans AS n_after, med2 AS med2_after FROM med WHERE period = 'after')
      SELECT COALESCE(bf.name, af.name) AS name,
        CAST(COALESCE(n_before, 0) AS BIGINT) AS n_before,
        CAST(COALESCE(med2_before, 0) AS BIGINT) AS med2_before,
        CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
        CAST(COALESCE(med2_after, 0) AS BIGINT) AS med2_after,
        CAST(COALESCE(med2_after, 0) - COALESCE(med2_before, 0) AS BIGINT) AS delta_med2
      FROM bf FULL OUTER JOIN af ON bf.name = af.name
      ORDER BY name"""))
  )
}
