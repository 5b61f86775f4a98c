package graft.queries

import graft.GraftQuery
import graft.functions.Histograms
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Twelfth observability tranche: the metrics-from-traces bridge (the
  * OTel spanmetrics-connector idea) plus log↔trace correlation.
  *
  *  - `m_span_metrics`: per-name span-duration histograms — the
  *    RED-metrics derivation from the span stream (spanmetrics
  *    connector semantics), using the SAME mergeable histogram UDAF
  *    as the measures views (M5), dense 50-bin output.
  *  - `m_exemplars`: top-3 slowest spans PER NAME with trace context
  *    — the exemplar links a duration histogram carries so a metrics
  *    dashboard can jump to a concrete trace (OpenMetrics exemplars).
  *  - `m_log_span_correlate`: every error log event annotated with
  *    its deepest enclosing span — logs-in-trace-context, the
  *    correlation joins a trace UI renders inline.
  *
  * Scale shape: span metrics is one partial-agg histogram
  * HashAggregate (names × 56-byte sketches); exemplars is a per-name
  * window (top-k within name partitions, no global sort); the
  * correlation join is keyed by process — per-process span sets are
  * stack-bounded, so the enclosure scan per event is small and the
  * deepest-span election is a per-event window over those candidates.
  */
object ObservabilityExt12 {

  // duration histogram: 0..2.5e9 ms in 50 bins (p99 span ≈ 1.0e9 ms,
  // max ≈ 2.44e9 on the sf0.01 corpus)
  private val HEnd = 2.5e9
  private val HBins = 50
  private val binW = HEnd / HBins

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_span_metrics", (s, dir) => {
      spans(s, dir)
        .groupBy("name")
        .agg(Histograms.makeHistogram(0.0, HEnd, HBins, col("duration_ms").cast("double")).as("h"))
        .select(col("name"), posexplode(col("h.bins")).as(Seq("bin_idx", "cnt")))
        .select(col("name"), col("bin_idx").cast("long").as("bin_idx"), col("cnt"))
        .orderBy("name", "bin_idx")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      c AS (
        SELECT name,
          LEAST(GREATEST(CAST(FLOOR(duration_ms / $binW) AS BIGINT), 0), ${HBins - 1}) AS bin_idx,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM spans GROUP BY 1, 2),
      nm AS (SELECT DISTINCT name FROM spans),
      bb AS (SELECT CAST(range AS BIGINT) AS bin_idx FROM range(0, $HBins))
      SELECT nm.name, bb.bin_idx, COALESCE(c.cnt, 0) AS cnt
      FROM nm CROSS JOIN bb
      LEFT JOIN c ON c.name = nm.name AND c.bin_idx = bb.bin_idx
      ORDER BY 1, 2""")),

    GraftQuery("m_exemplars", (s, dir) => {
      val w = Window.partitionBy("name")
        .orderBy(col("duration_ms").desc, col("span_id"))
      spans(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("name"), col("rk"), col("span_id"), col("user_id"),
          col("duration_ms"), col("depth"))
        .orderBy("name", "rk")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      r AS (
        SELECT name, span_id, user_id, duration_ms, depth,
          ROW_NUMBER() OVER (PARTITION BY name
                             ORDER BY duration_ms DESC, span_id) AS rk
        FROM spans)
      SELECT name, CAST(rk AS BIGINT) AS rk, span_id, user_id, duration_ms, depth
      FROM r WHERE rk <= 3 ORDER BY name, rk""")),

    GraftQuery("m_log_span_correlate", (s, dir) => {
      // deepest enclosing span per error event: keyed (process) join
      // + begin≤t≤end enclosure + per-event deepest-span election;
      // unenclosed errors keep a '<none>' row (they happened between
      // spans — still worth surfacing)
      val err = events(s, dir).where(col("event_type") === "error")
        .select(col("user_id").as("e_uid"), col("event_id"), epochMs(col("ts")).as("t_ms"))
      val sp = spans(s, dir)
      val w = Window.partitionBy("event_id")
        .orderBy(col("depth").desc_nulls_last, col("span_id").asc_nulls_last)
      err.join(sp,
          col("e_uid") === col("user_id") &&
            col("begin_ms") <= col("t_ms") && col("end_ms") >= col("t_ms"),
          "left")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("event_id"), col("e_uid").as("user_id"), col("t_ms"),
          coalesce(col("span_id"), lit(-1L)).as("span_id"),
          coalesce(col("name"), lit("<none>")).as("span_name"),
          coalesce(col("depth"), lit(-1L)).as("depth"))
        .orderBy("event_id")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      err AS (
        SELECT user_id AS e_uid, event_id, epoch_ms(ts) AS t_ms
        FROM events WHERE event_type = 'error'),
      cand AS (
        SELECT err.event_id, err.e_uid, err.t_ms, s.span_id, s.name, s.depth,
          ROW_NUMBER() OVER (PARTITION BY err.event_id
                             ORDER BY s.depth DESC NULLS LAST, s.span_id NULLS LAST) AS rk
        FROM err LEFT JOIN spans s
          ON s.user_id = err.e_uid AND s.begin_ms <= err.t_ms AND s.end_ms >= err.t_ms)
      SELECT event_id, e_uid AS user_id, t_ms,
        COALESCE(span_id, -1) AS span_id,
        COALESCE(name, '<none>') AS span_name,
        COALESCE(depth, -1) AS depth
      FROM cand WHERE rk = 1 ORDER BY event_id"""))
  )
}
