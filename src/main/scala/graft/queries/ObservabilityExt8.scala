package graft.queries

import graft.{GraftQuery, Lakehouse}

/** Eighth observability tranche: the raw (unpaired) async-events
  * surface — reference async_events_view.rs:35 exposes begin/end async
  * span events as a first-class queryable view set, next to the
  * assembled/paired views. `m_async_spans` (M21) answers "what spans
  * ran"; this answers "what raw begin/end records arrived", the stream
  * users grep when async ends go missing. Both the global view and the
  * JIT process-scoped instance are served (the reference's ViewMaker
  * handles "global" and per-process instance ids alike).
  *
  * Scale shape: span-id recovery is the per-process stack decode
  * (windows partitioned by user_id — no global window), the parent
  * linkage is the keyed self-join `withParents` bounds, and the final
  * unpivot is a per-row explode; the instance variant pushes its
  * process filter to the raw scan before any of it.
  */
object ObservabilityExt8 {

  /** Oracle: the shared span-assembly CTE, parent linkage, then each
    * span unpivoted back to its begin and end records.
    */
  private def oracleAsync(scope: String): String = s"""
      ${ObservabilityExt2.oracleSpansCte(scope)},
      linked AS (
        SELECT ch.user_id, ch.span_id, ch.name, ch.depth, ch.begin_ms, ch.end_ms,
          p.span_id AS parent_id,
          ROW_NUMBER() OVER (PARTITION BY ch.user_id, ch.span_id
                             ORDER BY p.begin_ms DESC, p.span_id DESC) AS rk
        FROM spans ch LEFT JOIN spans p
          ON p.user_id = ch.user_id AND p.depth = ch.depth - 1
         AND p.begin_ms <= ch.begin_ms AND p.end_ms >= ch.end_ms),
      base AS (
        SELECT user_id, span_id, COALESCE(parent_id, -1) AS parent_span_id,
          name, depth, begin_ms, end_ms
        FROM linked WHERE rk = 1),
      raw AS (
        SELECT user_id, span_id, parent_span_id, name, depth,
          'begin' AS event_type, begin_ms AS time_ms FROM base
        UNION ALL
        SELECT user_id, span_id, parent_span_id, name, depth,
          'end' AS event_type, end_ms AS time_ms FROM base)
      SELECT CAST(user_id AS VARCHAR) AS process_id,
        CAST(user_id AS VARCHAR) || '-async' AS stream_id,
        CAST(user_id AS VARCHAR) || '-async-' ||
          CAST(time_ms - time_ms % 60000 AS VARCHAR) AS block_id,
        time_ms, event_type, span_id, parent_span_id,
        CAST(depth AS BIGINT) AS depth, name
      FROM raw
      ORDER BY process_id, span_id, event_type"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_async_events", (s, dir) => {
      new Lakehouse(s, dir).asyncEvents
        .orderBy("process_id", "span_id", "event_type")
    }, Some(oracleAsync(""))),

    GraftQuery("m_async_instance", (s, dir) => {
      new Lakehouse(s, dir).viewInstance("async_events", "7")
        .orderBy("process_id", "span_id", "event_type")
    }, Some(oracleAsync("WHERE CAST(user_id AS VARCHAR) = '7'")))
  )
}
