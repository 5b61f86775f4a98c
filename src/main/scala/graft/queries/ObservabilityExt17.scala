package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seventeenth observability tranche: drill-down and capacity rollups
  * over the round-6 dashboard shapes.
  *
  *  - `m_heatmap_exemplars`: per latency-heatmap cell (hour ×
  *    power-of-two duration bucket), the top-3 slowest spans with
  *    their ids — the heatmap→trace jump link (same contract as
  *    OpenMetrics exemplars, M62, but keyed by the M75 grid cell so a
  *    click on any cell lands on a concrete trace).
  *  - `m_saturation`: capacity-saturation rollup over the M74
  *    concurrency timeline — per hour: observed minutes, minutes at
  *    ≥ half the global peak in-flight count, and the hour's peak.
  *    The "how close to capacity did we run, and when" summary an
  *    SRE reads before the peak itself pages.
  *
  * Scale shape: exemplars use a per-cell window (cells are
  * hours × ≤40 buckets; rank inside a cell touches only that cell's
  * spans) — no global sort; saturation inherits m_concurrency's
  * minute-grid bound, the peak is a broadcast scalar, and the hour
  * rollup is one HashAggregate over minutes.
  */
object ObservabilityExt17 {

  private val minuteMs = 60000L
  private val hourMs = 3600000L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_heatmap_exemplars", (s, dir) => {
      val sp = spans(s, dir).select(
        expr(s"(begin_ms div $hourMs) * $hourMs").as("hour_ms"),
        (length(bin(col("duration_ms"))).cast("long") - 1L).as("dur_bucket"),
        col("user_id"), col("span_id"), col("duration_ms"))
      val w = Window.partitionBy("hour_ms", "dur_bucket")
        .orderBy(col("duration_ms").desc, col("user_id"), col("span_id"))
      sp.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3L)
        .select("hour_ms", "dur_bucket", "rk", "user_id", "span_id", "duration_ms")
        .orderBy("hour_ms", "dur_bucket", "rk")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      g AS (
        SELECT (begin_ms // $hourMs) * $hourMs AS hour_ms,
          CAST(length(bin(duration_ms)) - 1 AS BIGINT) AS dur_bucket,
          user_id, span_id, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY (begin_ms // $hourMs),
                                          length(bin(duration_ms))
                             ORDER BY duration_ms DESC, user_id, span_id) AS rk
        FROM spans)
      SELECT hour_ms, dur_bucket, CAST(rk AS BIGINT) AS rk, user_id, span_id, duration_ms
      FROM g WHERE rk <= 3 ORDER BY hour_ms, dur_bucket, rk""")),

    GraftQuery("m_saturation", (s, dir) => {
      val sp = spans(s, dir)
      val deltas = sp.select(
          expr(s"(begin_ms div $minuteMs) * $minuteMs").as("minute_ms"),
          lit(1L).as("delta"))
        .unionAll(sp.select(
          expr(s"(end_ms div $minuteMs) * $minuteMs").as("minute_ms"),
          lit(-1L).as("delta")))
      val w = Window.orderBy("minute_ms").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = deltas.groupBy("minute_ms").agg(sum("delta").as("net"))
        .withColumn("open_at_end", sum("net").over(w))
        .localCheckpoint() // peak + rollup both read the grid
      val peak = grid.agg(max("open_at_end").as("peak"))
      grid.crossJoin(broadcast(peak))
        .withColumn("hour_ms", expr(s"(minute_ms div $hourMs) * $hourMs"))
        .withColumn("saturated", (col("open_at_end") * 2L >= col("peak")).cast("long"))
        .groupBy("hour_ms")
        .agg(count(lit(1)).as("n_minutes"),
          sum("saturated").as("n_saturated"),
          max("open_at_end").as("hour_peak"))
        .orderBy("hour_ms")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      sweep AS (
        SELECT (begin_ms // $minuteMs) * $minuteMs AS minute_ms, 1 AS delta FROM spans
        UNION ALL
        SELECT (end_ms // $minuteMs) * $minuteMs AS minute_ms, -1 AS delta FROM spans),
      grid AS (
        SELECT minute_ms,
          CAST(SUM(SUM(delta)) OVER (ORDER BY minute_ms ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS open_at_end
        FROM sweep GROUP BY minute_ms),
      pk AS (SELECT CAST(MAX(open_at_end) AS BIGINT) AS peak FROM grid)
      SELECT (minute_ms // $hourMs) * $hourMs AS hour_ms,
        CAST(COUNT(*) AS BIGINT) AS n_minutes,
        CAST(SUM(CASE WHEN open_at_end * 2 >= pk.peak THEN 1 ELSE 0 END) AS BIGINT)
          AS n_saturated,
        CAST(MAX(open_at_end) AS BIGINT) AS hour_peak
      FROM grid CROSS JOIN pk
      GROUP BY 1 ORDER BY hour_ms"""))
  )
}
