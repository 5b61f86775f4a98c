package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Thirteenth observability tranche: the two queries a trace UI runs
  * to RENDER what the earlier tranches selected.
  *
  *  - `m_trace_waterfall`: the waterfall view — every span of a trace
  *    ordered by begin time with its offset from trace start, depth,
  *    and share of trace wall time (e4 integer) — exactly the rows a
  *    Gantt renderer consumes.
  *  - `m_latency_bands`: integer quantile bands per span name from
  *    the dense m_span_metrics histogram — the smallest bin whose
  *    cumulative count reaches p50/p90/p99 — SLO threshold selection
  *    without a single float (the bin index IS the answer at sketch
  *    resolution, the same contract as quantile_from_histogram).
  *
  * Scale shape: the waterfall is one per-trace window (min begin /
  * wall) over process-partitioned spans — partitions are trace-sized;
  * latency bands run entirely on the 50-bin histogram table (names ×
  * 50 rows), so the quantile scan costs nothing at any corpus size.
  */
object ObservabilityExt13 {

  private val binW = 5.0e7 // m_span_metrics bin width (2.5e9 / 50)

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_trace_waterfall", (s, dir) => {
      val w = Window.partitionBy("user_id")
      spans(s, dir)
        .withColumn("trace_start", min("begin_ms").over(w))
        .withColumn("trace_wall",
          max("end_ms").over(w) - col("trace_start"))
        .select(col("user_id"), col("span_id"), col("name"), col("depth"),
          (col("begin_ms") - col("trace_start")).as("offset_ms"),
          col("duration_ms"),
          when(col("trace_wall") > 0L,
            expr("duration_ms * 10000 div (trace_wall)"))
            .otherwise(10000L).as("share_e4"))
        .orderBy("user_id", "offset_ms", "span_id")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      t AS (
        SELECT user_id, span_id, name, depth, begin_ms, duration_ms,
          MIN(begin_ms) OVER (PARTITION BY user_id) AS trace_start,
          MAX(end_ms) OVER (PARTITION BY user_id)
            - MIN(begin_ms) OVER (PARTITION BY user_id) AS trace_wall
        FROM spans)
      SELECT user_id, span_id, name, depth,
        CAST(begin_ms - trace_start AS BIGINT) AS offset_ms,
        duration_ms,
        CAST(CASE WHEN trace_wall > 0 THEN duration_ms * 10000 // trace_wall
             ELSE 10000 END AS BIGINT) AS share_e4
      FROM t ORDER BY user_id, offset_ms, span_id""")),

    GraftQuery("m_latency_bands", (s, dir) => {
      // integer quantiles at histogram resolution: per name, the
      // smallest bin index whose cumulative span count reaches the
      // percentile. Runs on the binned counts (names × 50 rows), so
      // the scan cost is independent of span volume.
      val binned = spans(s, dir)
        .withColumn("bin_idx",
          least(greatest(floor(col("duration_ms") / binW).cast("long"), lit(0L)), lit(49L)))
        .groupBy("name", "bin_idx").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("name").orderBy("bin_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = binned
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("total", sum("cnt").over(Window.partitionBy("name")))
      cum.groupBy("name")
        .agg(max("total").as("n_spans"),
          min(when(col("cum") * 100 >= col("total") * 50, col("bin_idx"))).as("p50_bin"),
          min(when(col("cum") * 100 >= col("total") * 90, col("bin_idx"))).as("p90_bin"),
          min(when(col("cum") * 100 >= col("total") * 99, col("bin_idx"))).as("p99_bin"))
        .orderBy("name")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      binned AS (
        SELECT name,
          LEAST(GREATEST(CAST(FLOOR(duration_ms / $binW) AS BIGINT), 0), 49) AS bin_idx,
          COUNT(*) AS cnt
        FROM spans GROUP BY 1, 2),
      cum AS (
        SELECT name, bin_idx, cnt,
          SUM(cnt) OVER (PARTITION BY name ORDER BY bin_idx
                         ROWS UNBOUNDED PRECEDING) AS cum,
          SUM(cnt) OVER (PARTITION BY name) AS total
        FROM binned)
      SELECT name, CAST(MAX(total) AS BIGINT) AS n_spans,
        CAST(MIN(CASE WHEN cum * 100 >= total * 50 THEN bin_idx END) AS BIGINT) AS p50_bin,
        CAST(MIN(CASE WHEN cum * 100 >= total * 90 THEN bin_idx END) AS BIGINT) AS p90_bin,
        CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN bin_idx END) AS BIGINT) AS p99_bin
      FROM cum GROUP BY name ORDER BY name"""))
  )
}
