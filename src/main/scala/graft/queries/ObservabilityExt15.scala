package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fifteenth observability tranche: error-centric triage.
  *
  *  - `m_error_bursts`: error-storm detection — maximal runs of
  *    CONSECUTIVE minutes containing errors (gaps-and-islands on the
  *    minute grid), each burst with its span, length, and error mass.
  *    A 40-minute storm is one incident, not 40 alerts; this is the
  *    grouping an incident feed needs.
  *  - `m_span_error_rate`: RED-style error linkage per span name —
  *    how many spans of each name enclose at least one error event
  *    (the M64 containment join aggregated to rates). "Which
  *    operation fails" rather than "which log line fired".
  *
  * Scale shape: bursts run on the minute grid (rows → minutes before
  * any window; the island window is per-nothing but over minutes —
  * tens of thousands of rows per month, trivially bounded). The error
  * rate reuses the process-keyed containment join; the rollup is one
  * partial-agg HashAggregate on name.
  */
object ObservabilityExt15 {

  private val minuteMs = 60000L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_error_bursts", (s, dir) => {
      // gaps-and-islands: minute - (rank over minutes)·1min is
      // constant within a consecutive run — the island key
      val em = events(s, dir).where(col("event_type") === "error")
        .select(epochMs(col("ts")).as("t_ms"))
        .select(expr(s"(t_ms div $minuteMs) * $minuteMs").as("minute_ms"))
        .groupBy("minute_ms").agg(count(lit(1)).as("n_errors"))
      val w = Window.orderBy("minute_ms")
      em.withColumn("island",
          col("minute_ms") - row_number().over(w).cast("long") * minuteMs)
        .groupBy("island")
        .agg(min("minute_ms").as("burst_start_ms"),
          max("minute_ms").as("burst_end_ms"),
          count(lit(1)).as("n_minutes"),
          sum("n_errors").as("total_errors"))
        .where(col("n_minutes") >= 2)
        .select("burst_start_ms", "burst_end_ms", "n_minutes", "total_errors")
        .orderBy("burst_start_ms")
    }, Some(s"""
      WITH em AS (
        SELECT (epoch_ms(ts) // $minuteMs) * $minuteMs AS minute_ms,
          COUNT(*) AS n_errors
        FROM events WHERE event_type = 'error' GROUP BY 1),
      isl AS (
        SELECT *, minute_ms - ROW_NUMBER() OVER (ORDER BY minute_ms) * $minuteMs AS island
        FROM em),
      b AS (
        SELECT island, MIN(minute_ms) AS burst_start_ms, MAX(minute_ms) AS burst_end_ms,
          COUNT(*) AS n_minutes, SUM(n_errors) AS total_errors
        FROM isl GROUP BY 1)
      SELECT burst_start_ms, burst_end_ms,
        CAST(n_minutes AS BIGINT) AS n_minutes,
        CAST(total_errors AS BIGINT) AS total_errors
      FROM b WHERE n_minutes >= 2 ORDER BY burst_start_ms""")),

    GraftQuery("m_open_spans", (s, dir) => {
      // malformed-stream detector: per process, the begin/end balance
      // — positive = begins that never closed (crashed mid-operation
      // or still running), negative = ends with no matching begin
      // (truncated ingestion). BOTH are events the stack assembler
      // silently drops from every span view (M10 pairs k-th begin
      // with k-th end per depth), so this is the only place they
      // surface. One conditional HashAggregate, one scan.
      events(s, dir)
        .select(col("user_id"),
          when(col("event_type").isin("signup", "view"), 1L)
            .otherwise(-1L).as("delta"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("delta").as("balance"))
        .select(col("user_id"), col("n_events"),
          greatest(col("balance"), lit(0L)).as("open_spans"),
          greatest(-col("balance"), lit(0L)).as("orphan_ends"))
        .withColumn("malformed",
          (col("open_spans") > 0L || col("orphan_ends") > 0L).cast("long"))
        .orderBy("user_id")
    }, Some("""
      WITH b AS (
        SELECT user_id, COUNT(*) AS n_events,
          SUM(CASE WHEN event_type IN ('signup','view') THEN 1 ELSE -1 END) AS balance
        FROM events GROUP BY user_id)
      SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        CAST(GREATEST(balance, 0) AS BIGINT) AS open_spans,
        CAST(GREATEST(-balance, 0) AS BIGINT) AS orphan_ends,
        CAST(CASE WHEN balance <> 0 THEN 1 ELSE 0 END AS BIGINT) AS malformed
      FROM b ORDER BY user_id""")),

    GraftQuery("m_span_error_rate", (s, dir) => {
      // spans enclosing >= 1 error event, per name: the containment
      // join is process-keyed (per-process span/error sets are small);
      // error flags collapse per span, then one name rollup
      val err = events(s, dir).where(col("event_type") === "error")
        .select(col("user_id").as("e_uid"), epochMs(col("ts")).as("t_ms"))
      val sp = spans(s, dir)
      val flagged = sp.join(err,
          col("e_uid") === col("user_id") &&
            col("begin_ms") <= col("t_ms") && col("end_ms") >= col("t_ms"),
          "left")
        .groupBy("user_id", "span_id", "name")
        .agg(max(col("t_ms").isNotNull.cast("long")).as("has_error"))
      flagged.groupBy("name")
        .agg(count(lit(1)).as("n_spans"), sum("has_error").as("n_error_spans"))
        .withColumn("error_rate_e4", expr("n_error_spans * 10000 div n_spans"))
        .orderBy("name")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      err AS (
        SELECT user_id AS e_uid, epoch_ms(ts) AS t_ms
        FROM events WHERE event_type = 'error'),
      flagged AS (
        SELECT s.user_id, s.span_id, s.name,
          MAX(CASE WHEN err.t_ms IS NOT NULL THEN 1 ELSE 0 END) AS has_error
        FROM spans s LEFT JOIN err
          ON err.e_uid = s.user_id AND s.begin_ms <= err.t_ms AND s.end_ms >= err.t_ms
        GROUP BY 1, 2, 3)
      SELECT name, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(has_error) AS BIGINT) AS n_error_spans,
        CAST(SUM(has_error) * 10000 // COUNT(*) AS BIGINT) AS error_rate_e4
      FROM flagged GROUP BY name ORDER BY name"""))
  )
}
