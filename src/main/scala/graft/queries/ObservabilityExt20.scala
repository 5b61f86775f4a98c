package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Twentieth observability tranche: trend and budget arithmetic — the
  * two "where is this heading" panels.
  *
  *  - `m_latency_trend`: per-name least-squares slope of the DAILY
  *    MEDIAN duration — the "is it getting slower" gate that a
  *    single-cutover compare (M61) can't answer. Medians ride as
  *    exact integer 2·median (sum of the two middle order
  *    statistics, the M61 trick); the slope is the closed-form
  *    integer rational (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) emitted as
  *    e4 ms/day — every intermediate an exact i64 (day indices are
  *    per-name rebased so products stay small).
  *  - `m_error_budget`: SLO error-budget burn-down — per day: events,
  *    errors, cumulative both, budget used e6 (cum ratio) and
  *    remaining e6 against the 25% SLO. The burn-down chart is the
  *    monthly-review counterpart of M59's fast/slow burn alert.
  *
  * Scale shape: the trend's rank window is per (name, day) — the
  * same partitioning the span table already carries; everything
  * after the median election lives on names × days rows. The budget
  * is one day-grid partial agg + a cumulative window over days.
  */
object ObservabilityExt20 {

  private val dayMs = 86400000L
  private val sloRatioE6 = 250000L // same budget as m_burn_rate

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_latency_trend", (s, dir) => {
      val sp = spans(s, dir).select(col("name"),
        expr(s"begin_ms div $dayMs").as("day"), col("duration_ms"), col("span_id"))
      val w = Window.partitionBy("name", "day").orderBy(col("duration_ms"), col("span_id"))
      val ranked = sp.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("name", "day")))
      val med = ranked.groupBy("name", "day")
        .agg(sum(when(col("rk") === expr("(n + 1) div 2"), col("duration_ms"))
            .otherwise(0L)).as("lo"),
          sum(when(col("rk") === expr("(n + 2) div 2"), col("duration_ms"))
            .otherwise(0L)).as("hi"))
        .withColumn("med2", col("lo") + col("hi"))
      // rebase day indices per name so the LSQ products stay small
      val rebased = med
        .withColumn("x", col("day") - min("day").over(Window.partitionBy("name")))
      rebased.groupBy("name")
        .agg(count(lit(1)).as("n_days"),
          sum("x").as("sx"), sum("med2").as("sy"),
          sum(expr("x * med2")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .where(col("n_days") >= 2L)
        // med2 = 2·median, so ×5000 yields e4 in true ms/day
        .withColumn("slope_ms_per_day_e4",
          expr("(n_days * sxy - sx * sy) * 5000 div (n_days * sxx - sx * sx)"))
        .withColumn("trend",
          when(col("slope_ms_per_day_e4") > 0L, 1L)
            .when(col("slope_ms_per_day_e4") < 0L, -1L).otherwise(0L))
        .select("name", "n_days", "slope_ms_per_day_e4", "trend")
        .orderBy("name")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      sp AS (SELECT name, begin_ms // $dayMs AS day, duration_ms, span_id FROM spans),
      ranked AS (
        SELECT name, day, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY name, day
                             ORDER BY duration_ms, span_id) AS rk,
          COUNT(*) OVER (PARTITION BY name, day) AS n
        FROM sp),
      med AS (
        SELECT name, day,
          CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN duration_ms ELSE 0 END)
             + SUM(CASE WHEN rk = (n + 2) // 2 THEN duration_ms ELSE 0 END) AS BIGINT)
            AS med2
        FROM ranked GROUP BY 1, 2),
      rb AS (
        SELECT name, med2,
          day - MIN(day) OVER (PARTITION BY name) AS x
        FROM med),
      fit AS (
        SELECT name, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(med2) AS BIGINT) AS sy,
          CAST(SUM(x * med2) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM rb GROUP BY 1
        HAVING COUNT(*) >= 2)
      SELECT name, n_days,
        (n_days * sxy - sx * sy) * 5000 // (n_days * sxx - sx * sx)
          AS slope_ms_per_day_e4,
        CAST(CASE WHEN (n_days * sxy - sx * sy) * 5000 // (n_days * sxx - sx * sx) > 0
                  THEN 1
                  WHEN (n_days * sxy - sx * sy) * 5000 // (n_days * sxx - sx * sx) < 0
                  THEN -1 ELSE 0 END AS BIGINT) AS trend
      FROM fit ORDER BY name""")),

    GraftQuery("m_error_budget", (s, dir) => {
      val daily = events(s, dir)
        .select(epochMs(col("ts")).as("t_ms"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
        .select(expr(s"(t_ms div $dayMs) * $dayMs").as("day_ms"), col("is_err"))
        .groupBy("day_ms")
        .agg(count(lit(1)).as("total"), sum("is_err").as("errors"))
      val w = Window.orderBy("day_ms").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_total", sum("total").over(w))
        .withColumn("cum_errors", sum("errors").over(w))
        .withColumn("used_e6", expr("cum_errors * 1000000 div cum_total"))
        .withColumn("remaining_e6", lit(sloRatioE6) - col("used_e6"))
        .withColumn("exhausted", (col("remaining_e6") < 0L).cast("long"))
        .select("day_ms", "total", "errors", "cum_total", "cum_errors",
          "used_e6", "remaining_e6", "exhausted")
        .orderBy("day_ms")
    }, Some(s"""
      WITH daily AS (
        SELECT (epoch_ms(ts) // $dayMs) * $dayMs AS day_ms,
          CAST(COUNT(*) AS BIGINT) AS total,
          CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        FROM events GROUP BY 1),
      cum AS (
        SELECT *,
          CAST(SUM(total) OVER (ORDER BY day_ms ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS cum_total,
          CAST(SUM(errors) OVER (ORDER BY day_ms ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS cum_errors
        FROM daily)
      SELECT day_ms, total, errors, cum_total, cum_errors,
        cum_errors * 1000000 // cum_total AS used_e6,
        $sloRatioE6 - cum_errors * 1000000 // cum_total AS remaining_e6,
        CAST(CASE WHEN $sloRatioE6 - cum_errors * 1000000 // cum_total < 0
             THEN 1 ELSE 0 END AS BIGINT) AS exhausted
      FROM cum ORDER BY day_ms"""))
  )
}
