package graft.queries

import graft.GraftQuery
import graft.operators.SpanAssembly
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ninth observability tranche: trace triage analytics over the
  * assembled call tree.
  *
  *  - `m_span_self_time`: EXCLUSIVE (self) time per span name —
  *    inclusive duration minus direct children's time — the
  *    flame-graph-totals operator (Perfetto's SELF_DUR / `dur -
  *    sum(child dur)` idiom; the reference surfaces span trees whose
  *    UIs compute exactly this). Inclusive totals double-count nested
  *    work; self time is what "where is the CPU actually going"
  *    queries need.
  *  - `m_trace_summary`: per-process one-row triage rollup (span
  *    count, tree depth, root count, wall-clock span, busiest-name
  *    stats) — the first query a trace UI runs to rank processes
  *    before drilling in.
  *
  * Scale shape: both ride the per-process windowed span assembly
  * (no global window); the parent linkage is the same bounded keyed
  * self-join as m_call_tree (equi-key = process, depth-1 band); the
  * child-time rollup and the final per-name/per-process aggs are
  * partial-agg HashAggregates. Nothing here is quadratic in spans.
  */
object ObservabilityExt9 {

  /** The m_call_tree oracle chain (spans + parent linkage), shared. */
  private[queries] def oracleLinked: String = s"""${ObservabilityExt2.oracleSpansCte("")},
      linkedq AS (
        SELECT ch.user_id, ch.span_id, ch.name, ch.depth, ch.duration_ms,
          p.span_id AS parent_id,
          ROW_NUMBER() OVER (PARTITION BY ch.user_id, ch.span_id
                             ORDER BY p.begin_ms DESC, p.span_id DESC) AS rk
        FROM spans ch LEFT JOIN spans p
          ON p.user_id = ch.user_id AND p.depth = ch.depth - 1
         AND p.begin_ms <= ch.begin_ms AND p.end_ms >= ch.end_ms),
      fl AS (SELECT * FROM linkedq WHERE rk = 1)"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_span_self_time", (s, dir) => {
      val sp = SpanAssembly.withParents(spans(s, dir), "user_id")
      val childMs = sp.where(col("parent_id") =!= -1L)
        .groupBy(col("user_id"), col("parent_id").as("span_id"))
        .agg(sum("duration_ms").as("child_ms"))
      sp.join(childMs, Seq("user_id", "span_id"), "left")
        .withColumn("self_ms", col("duration_ms") - coalesce(col("child_ms"), lit(0L)))
        .groupBy("name")
        .agg(count(lit(1)).as("n_spans"),
          sum("duration_ms").as("total_ms"),
          sum("self_ms").as("self_ms"))
        .orderBy("name")
    }, Some(s"""$oracleLinked,
      cs AS (SELECT user_id, parent_id AS span_id, SUM(duration_ms) AS child_ms
             FROM fl WHERE parent_id IS NOT NULL GROUP BY 1, 2),
      sl AS (SELECT fl.name, fl.duration_ms,
               fl.duration_ms - COALESCE(cs.child_ms, 0) AS self_ms
             FROM fl LEFT JOIN cs USING (user_id, span_id))
      SELECT name, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(duration_ms) AS BIGINT) AS total_ms,
        CAST(SUM(self_ms) AS BIGINT) AS self_ms
      FROM sl GROUP BY name ORDER BY name""")),

    GraftQuery("m_critical_path", (s, dir) => {
      // Hot-path extraction: per process, start at the LONGEST root
      // span and descend, at each level into the longest direct child
      // (ties → smaller span_id) — the chain a "why was this trace
      // slow" drill-down follows. Driver-iterated level descent (depth
      // is bounded by the stack model and known up front — the Lloyd
      // convention: O(depth) tiny joins, no driver data movement);
      // children are pre-ranked ONCE with a per-(process, parent)
      // window, so each step is an equi-join against rank-1 rows.
      val sp = SpanAssembly.withParents(spans(s, dir), "user_id").localCheckpoint()
      val ranked = sp.withColumn("crk", row_number().over(
          Window.partitionBy("user_id", "parent_id")
            .orderBy(col("duration_ms").desc, col("span_id"))))
        .where(col("crk") === 1).drop("crk").localCheckpoint()
      val depthRow = sp.agg(max("depth")).head()
      val maxDepth = if (depthRow.isNullAt(0)) 0 else depthRow.getLong(0).toInt
      val root = ranked.where(col("parent_id") === -1L)
        .select(col("user_id"), col("span_id"), col("name"),
          col("duration_ms"), lit(1L).as("step"))
      val frames = Iterator.iterate(root) { frontier =>
        frontier.select(col("user_id").as("f_uid"), col("span_id").as("f_sid"),
            col("step").as("f_step"))
          .join(ranked, col("f_uid") === col("user_id") &&
            col("f_sid") === col("parent_id"))
          .select(col("user_id"), col("span_id"), col("name"),
            col("duration_ms"), (col("f_step") + 1L).as("step"))
      }.take(maxDepth + 1).toSeq
      frames.reduce(_ union _)
        .select("user_id", "step", "span_id", "name", "duration_ms")
        .orderBy("user_id", "step")
    }, Some(s"""${oracleLinked.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, parent_id
          ORDER BY duration_ms DESC, span_id) AS crk
        FROM fl),
      pth AS (
        SELECT user_id, span_id, name, duration_ms, CAST(1 AS BIGINT) AS step
        FROM ranked WHERE parent_id IS NULL AND crk = 1
        UNION ALL
        SELECT c.user_id, c.span_id, c.name, c.duration_ms, p.step + 1
        FROM pth p JOIN ranked c
          ON c.user_id = p.user_id AND c.parent_id = p.span_id AND c.crk = 1)
      SELECT user_id, step, span_id, name, duration_ms
      FROM pth ORDER BY user_id, step""")),

    GraftQuery("m_trace_summary", (s, dir) => {
      spans(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_spans"),
          (max("depth") + 1).as("max_depth"),
          sum(when(col("depth") === 0, 1L).otherwise(0L)).as("n_roots"),
          countDistinct("name").as("n_names"),
          min("begin_ms").as("trace_begin_ms"),
          max("end_ms").as("trace_end_ms"),
          sum("duration_ms").as("total_span_ms"),
          max("duration_ms").as("max_span_ms"))
        .orderBy("user_id")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")}
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(MAX(depth) + 1 AS BIGINT) AS max_depth,
        CAST(SUM(CASE WHEN depth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_roots,
        CAST(COUNT(DISTINCT name) AS BIGINT) AS n_names,
        MIN(begin_ms) AS trace_begin_ms,
        MAX(end_ms) AS trace_end_ms,
        CAST(SUM(duration_ms) AS BIGINT) AS total_span_ms,
        CAST(MAX(duration_ms) AS BIGINT) AS max_span_ms
      FROM spans GROUP BY user_id ORDER BY user_id"""))
  )
}
