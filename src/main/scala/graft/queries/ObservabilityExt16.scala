package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sixteenth observability tranche: dashboard-serving shapes.
  *
  *  - `m_downsample`: M4/OHLC measure downsampling — per (series,
  *    10-minute bin): count, min, max, first and last value. The
  *    lossless-rendering reduction a dashboard applies before
  *    plotting (a pixel column can only show open/close/min/max
  *    anyway), and the shape Grafana's M4 paper standardized. Emitted
  *    values are untouched input doubles — selection, not arithmetic,
  *    so the result is bit-exact cross-engine by construction.
  *  - `m_concurrency`: system-wide in-flight span timeline — per
  *    minute, spans opened, spans closed, and the open count at the
  *    minute's end (sweep-line +1/−1 prefix sum). The load/capacity
  *    view ("how many requests were in flight at 14:32").
  *  - `m_heatmap`: latency heatmap grid — (hour, power-of-two
  *    duration bucket) span counts with each hour-column's share e4.
  *    The duration-distribution-over-time panel behind every latency
  *    SLO discussion.
  *  - `m_template_drift`: day-over-day log-template distribution
  *    drift — per-day L1 distance between consecutive days' template
  *    share vectors (e4), with the top-moving template. The "did the
  *    shape of our logs change after the deploy" detector over the
  *    M37 template miner.
  *
  * Scale shape: downsampling is ONE partial-agg HashAggregate (the
  * first/last election rides min/max over (t, id, value) structs — no
  * window, no second pass); concurrency collapses spans to the minute
  * grid FIRST, so the only ordered window runs over minutes (bounded
  * by wall-clock, not event count); the heatmap is a two-key
  * HashAggregate over hours×~40 buckets; drift works on the
  * templates×days grid (both tiny after the template groupBy).
  */
object ObservabilityExt16 {

  private val minuteMs = 60000L
  private val binMs = 600000L // 10-minute downsample bins
  private val hourMs = 3600000L
  private val dayMs = 86400000L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_downsample", (s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
        .withColumn("bin_ms", expr(s"(t_ms div $binMs) * $binMs"))
      // first/last by (t_ms, event_id) — unique, so the value field of
      // the struct min/max is never consulted and the election is
      // deterministic; struct min/max keeps the whole thing in one
      // HashAggregate with map-side partials
      e.groupBy("event_type", "bin_ms")
        .agg(count(lit(1)).as("n"),
          min("value").as("v_min"),
          max("value").as("v_max"),
          min(struct(col("t_ms"), col("event_id"), col("value"))).as("o"),
          max(struct(col("t_ms"), col("event_id"), col("value"))).as("c"))
        .select(col("event_type"), col("bin_ms"), col("n"),
          col("o.value").as("v_open"), col("c.value").as("v_close"),
          col("v_min"), col("v_max"))
        .orderBy("event_type", "bin_ms")
    }, Some(s"""
      WITH e AS (
        SELECT event_type, epoch_ms(ts) AS t_ms, event_id, value,
          (epoch_ms(ts) // $binMs) * $binMs AS bin_ms
        FROM events),
      w AS (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY event_type, bin_ms
                             ORDER BY t_ms, event_id) AS rn_a,
          ROW_NUMBER() OVER (PARTITION BY event_type, bin_ms
                             ORDER BY t_ms DESC, event_id DESC) AS rn_d
        FROM e)
      SELECT event_type, bin_ms, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(CASE WHEN rn_a = 1 THEN value END) AS v_open,
        MIN(CASE WHEN rn_d = 1 THEN value END) AS v_close,
        MIN(value) AS v_min, MAX(value) AS v_max
      FROM w GROUP BY 1, 2 ORDER BY event_type, bin_ms"""), headline = true),

    GraftQuery("m_concurrency", (s, dir) => {
      // sweep-line on the minute grid: +1 at the begin minute, −1 at
      // the end minute; open_at_end = prefix sum of net deltas. Events
      // collapse to minutes BEFORE the ordered window, so the window's
      // input is bounded by elapsed wall-clock minutes.
      val sp = spans(s, dir)
      val deltas = sp.select(
          expr(s"(begin_ms div $minuteMs) * $minuteMs").as("minute_ms"),
          lit(1L).as("delta"))
        .unionAll(sp.select(
          expr(s"(end_ms div $minuteMs) * $minuteMs").as("minute_ms"),
          lit(-1L).as("delta")))
      val perMinute = deltas.groupBy("minute_ms")
        .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_opened"),
          sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_closed"),
          sum("delta").as("net"))
      val w = Window.orderBy("minute_ms").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perMinute.withColumn("open_at_end", sum("net").over(w))
        .select("minute_ms", "n_opened", "n_closed", "open_at_end")
        .orderBy("minute_ms")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      sweep AS (
        SELECT (begin_ms // $minuteMs) * $minuteMs AS minute_ms, 1 AS delta FROM spans
        UNION ALL
        SELECT (end_ms // $minuteMs) * $minuteMs AS minute_ms, -1 AS delta FROM spans),
      pm AS (
        SELECT minute_ms,
          CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_opened,
          CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
          CAST(SUM(delta) AS BIGINT) AS net
        FROM sweep GROUP BY 1)
      SELECT minute_ms, n_opened, n_closed,
        CAST(SUM(net) OVER (ORDER BY minute_ms ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_at_end
      FROM pm ORDER BY minute_ms"""), headline = true),

    GraftQuery("m_heatmap", (s, dir) => {
      // duration bucket = floor(log2(duration_ms)) via binary-digit
      // count (0 → bucket 0); share is each cell's fraction of its
      // hour column, e4 integer
      val sp = spans(s, dir).select(
        expr(s"(begin_ms div $hourMs) * $hourMs").as("hour_ms"),
        (length(bin(col("duration_ms"))).cast("long") - 1L).as("dur_bucket"))
      val cells = sp.groupBy("hour_ms", "dur_bucket").agg(count(lit(1)).as("n_spans"))
      val hw = Window.partitionBy("hour_ms")
      cells.withColumn("hour_total", sum("n_spans").over(hw))
        .withColumn("share_e4", expr("n_spans * 10000 div hour_total"))
        .select("hour_ms", "dur_bucket", "n_spans", "share_e4")
        .orderBy("hour_ms", "dur_bucket")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      c AS (
        SELECT (begin_ms // $hourMs) * $hourMs AS hour_ms,
          CAST(length(bin(duration_ms)) - 1 AS BIGINT) AS dur_bucket,
          CAST(COUNT(*) AS BIGINT) AS n_spans
        FROM spans GROUP BY 1, 2)
      SELECT hour_ms, dur_bucket, n_spans,
        n_spans * 10000 // CAST(SUM(n_spans) OVER (PARTITION BY hour_ms) AS BIGINT) AS share_e4
      FROM c ORDER BY hour_ms, dur_bucket""")),

    GraftQuery("m_template_drift", (s, dir) => {
      // templates from the M37 miner's normalization; shares on the
      // dense template×day grid (absent → 0) so the L1 distance sees
      // appearing AND vanishing templates
      val line = concat(col("event_type"), lit(" user="), col("user_id").cast("string"),
        lit(" value="), round(col("value"), 0).cast("long").cast("string"))
      val td = events(s, dir)
        .select(regexp_replace(line, "[0-9]+", "<num>").as("template"),
          epochMs(col("ts")).as("t_ms"))
        .withColumn("day_ms", expr(s"(t_ms div $dayMs) * $dayMs"))
        .groupBy("template", "day_ms").agg(count(lit(1)).as("n"))
        .localCheckpoint() // grid + totals + lag below reread it
      val days = td.select("day_ms").distinct()
      val templates = td.select("template").distinct()
      val totals = td.groupBy("day_ms").agg(sum("n").as("day_total"))
      val grid = templates.crossJoin(days)
        .join(td, Seq("template", "day_ms"), "left")
        .join(totals, "day_ms")
        .withColumn("share_e4", expr("coalesce(n, 0) * 10000 div day_total"))
      val lw = Window.partitionBy("template").orderBy("day_ms")
      val diffs = grid
        .withColumn("prev_share_e4", lag("share_e4", 1).over(lw))
        .where(col("prev_share_e4").isNotNull)
        .withColumn("d_e4", abs(col("share_e4") - col("prev_share_e4")))
      diffs.groupBy("day_ms")
        .agg(sum("d_e4").as("l1_drift_e4"),
          // top mover: max |Δ|, ties → lexicographically smallest name
          min(struct((-col("d_e4")).as("neg"), col("template"))).as("tm"))
        .select(col("day_ms"), col("l1_drift_e4"),
          col("tm.template").as("top_template"), (-col("tm.neg")).as("top_delta_e4"))
        .orderBy("day_ms")
    }, Some(s"""
      WITH l AS (
        SELECT regexp_replace(
            event_type || ' user=' || CAST(user_id AS VARCHAR) || ' value=' ||
              CAST(CAST(round(value, 0) AS BIGINT) AS VARCHAR),
            '[0-9]+', '<num>', 'g') AS template,
          (epoch_ms(ts) // $dayMs) * $dayMs AS day_ms
        FROM events),
      td AS (SELECT template, day_ms, CAST(COUNT(*) AS BIGINT) AS n FROM l GROUP BY 1, 2),
      grid AS (
        SELECT t.template, d.day_ms, COALESCE(td.n, 0) AS n
        FROM (SELECT DISTINCT template FROM td) t
        CROSS JOIN (SELECT DISTINCT day_ms FROM td) d
        LEFT JOIN td ON td.template = t.template AND td.day_ms = d.day_ms),
      sh AS (
        SELECT g.template, g.day_ms,
          g.n * 10000 // tt.day_total AS share_e4
        FROM grid g JOIN (
          SELECT day_ms, CAST(SUM(n) AS BIGINT) AS day_total FROM td GROUP BY 1) tt
          USING (day_ms)),
      df AS (
        SELECT *, LAG(share_e4) OVER (PARTITION BY template ORDER BY day_ms) AS prev_share_e4
        FROM sh),
      dd AS (
        SELECT template, day_ms, abs(share_e4 - prev_share_e4) AS d_e4
        FROM df WHERE prev_share_e4 IS NOT NULL),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY day_ms ORDER BY d_e4 DESC, template) AS rn
        FROM dd)
      SELECT d1.day_ms, CAST(d1.l1_drift_e4 AS BIGINT) AS l1_drift_e4,
        r.template AS top_template, r.d_e4 AS top_delta_e4
      FROM (SELECT day_ms, SUM(d_e4) AS l1_drift_e4 FROM dd GROUP BY 1) d1
      JOIN rk r ON r.day_ms = d1.day_ms AND r.rn = 1
      ORDER BY d1.day_ms"""))
  )
}
