package graft.queries

import graft.GraftQuery
import graft.operators.SpanAssembly
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tenth observability tranche: the three trace-backend operators a
  * tracing UI runs between "list processes" and "read one trace".
  *
  *  - `m_service_graph`: caller→callee dependency edges aggregated
  *    from the span parent linkage (call count, total/max child time)
  *    — the service-graph view every tracing backend derives from
  *    span trees (the reference's call-tree linkage,
  *    rust/analytics/src/call_tree.rs, is exactly the edge source).
  *  - `m_flame_collapse`: collapsed-stack folding — every span keyed
  *    by its full root→self name path, aggregated to (path, count,
  *    total, self) — the folded-stacks flame-graph input format.
  *  - `m_tail_sampling`: tail-based trace sampling decision — keep a
  *    trace because it was slow, deep, or in a deterministic hash
  *    sample — decided AFTER the trace completes, the way production
  *    collectors gate what reaches long-term storage.
  *
  * Scale shape: all three ride the per-process windowed span assembly.
  * The service graph is one keyed self-join (process, span_id) plus a
  * partial-agg HashAggregate on (parent_name, child_name) — edge
  * cardinality is names², tiny. Flame folding is the m_critical_path
  * pattern: driver-iterated bounded descent (≤ max stack depth, known
  * up front) of equi-joins frontier→children, then ONE groupBy(path);
  * no recursion in-plan, no driver data movement. Tail sampling is a
  * single per-trace HashAggregate and a scalar hash predicate — the
  * keep decision needs no second pass over spans.
  */
object ObservabilityExt10 {

  /** Per-span self time over the parent-linked frame (the
    * m_span_self_time computation, kept per-span here).
    */
  private def selfTimed(sp: DataFrame): DataFrame = {
    val childMs = sp.where(col("parent_id") =!= -1L)
      .groupBy(col("user_id"), col("parent_id").as("span_id"))
      .agg(sum("duration_ms").as("child_ms"))
    sp.join(childMs, Seq("user_id", "span_id"), "left")
      .withColumn("self_ms", col("duration_ms") - coalesce(col("child_ms"), lit(0L)))
  }

  // tail-sampling gates, probed on the sf0.01 corpus for a real mixed
  // decision: wall ≥ 2.0e9 ms ≈ p90 trace wall, depth ≥ 4 ≈ p90,
  // hash sample = lowest 10% of the 32-bit md5 prefix
  private val slowWallMs = 2000000000L
  private val deepDepth = 4L
  private val sampleCut = 429496730L // floor(0.1 * 2^32) + 1

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_service_graph", (s, dir) => {
      // caller→callee edges: each span contributes one edge from its
      // parent's name (roots → '<root>'). The parent's name rides the
      // containment join itself (withParents carryParentName, r15) —
      // the elected parent row IS the row the former (process,
      // span_id) lookup join re-found, so that second spans⋈spans
      // join and the localCheckpoint feeding it are gone: one string
      // column through the existing join instead of a second full
      // exchange of the span table.
      val sp = SpanAssembly.withParents(spans(s, dir), "user_id", carryParentName = true)
      sp.select(coalesce(col("parent_name"), lit("<root>")).as("parent_name"),
          col("name").as("child_name"), col("duration_ms"))
        .groupBy("parent_name", "child_name")
        .agg(count(lit(1)).as("calls"),
          sum("duration_ms").as("total_ms"),
          max("duration_ms").as("max_ms"))
        .orderBy("parent_name", "child_name")
    }, Some(s"""${ObservabilityExt9.oracleLinked}
      SELECT COALESCE(p.name, '<root>') AS parent_name, c.name AS child_name,
        CAST(COUNT(*) AS BIGINT) AS calls,
        CAST(SUM(c.duration_ms) AS BIGINT) AS total_ms,
        CAST(MAX(c.duration_ms) AS BIGINT) AS max_ms
      FROM fl c LEFT JOIN fl p
        ON p.user_id = c.user_id AND p.span_id = c.parent_id
      GROUP BY 1, 2 ORDER BY 1, 2"""), headline = true),

    GraftQuery("m_flame_collapse", (s, dir) => {
      // folded stacks: path = root;…;self names, one row per unique
      // path with span count, inclusive total, and self time (the
      // flame-graph value column). Frontier descent mirrors
      // m_critical_path: roots are parent_id = -1 (orphans from
      // malformed streams root their own stacks, matching the
      // oracle's parent IS NULL), each step equi-joins children to
      // the previous frontier's paths.
      val st = selfTimed(SpanAssembly.withParents(spans(s, dir), "user_id"))
        .select("user_id", "span_id", "parent_id", "name", "depth", "duration_ms", "self_ms")
        .localCheckpoint()
      val depthRow = st.agg(max("depth")).head()
      val maxDepth = if (depthRow.isNullAt(0)) 0 else depthRow.getLong(0).toInt
      val root = st.where(col("parent_id") === -1L).withColumn("path", col("name"))
      val frames = Iterator.iterate(root) { frontier =>
        frontier.select(col("user_id").as("f_uid"), col("span_id").as("f_sid"),
            col("path").as("f_path"))
          .join(st, col("f_uid") === col("user_id") && col("f_sid") === col("parent_id"))
          .withColumn("path", concat(col("f_path"), lit(";"), col("name")))
          .drop("f_uid", "f_sid", "f_path")
      }.take(maxDepth + 1).toSeq
      frames.reduce(_ union _)
        .groupBy("path")
        .agg(count(lit(1)).as("n_spans"),
          sum("duration_ms").as("total_ms"),
          sum("self_ms").as("self_ms"))
        .orderBy("path")
    }, Some(s"""${ObservabilityExt9.oracleLinked.replaceFirst("WITH ", "WITH RECURSIVE ")},
      fcs AS (SELECT user_id, parent_id AS span_id, SUM(duration_ms) AS child_ms
              FROM fl WHERE parent_id IS NOT NULL GROUP BY 1, 2),
      fsl AS (SELECT fl.user_id, fl.span_id, fl.parent_id, fl.name, fl.duration_ms,
                fl.duration_ms - COALESCE(fcs.child_ms, 0) AS self_ms
              FROM fl LEFT JOIN fcs USING (user_id, span_id)),
      pth AS (
        SELECT user_id, span_id, name AS path, duration_ms, self_ms
        FROM fsl WHERE parent_id IS NULL
        UNION ALL
        SELECT c.user_id, c.span_id, p.path || ';' || c.name, c.duration_ms, c.self_ms
        FROM pth p JOIN fsl c
          ON c.user_id = p.user_id AND c.parent_id = p.span_id)
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(duration_ms) AS BIGINT) AS total_ms,
        CAST(SUM(self_ms) AS BIGINT) AS self_ms
      FROM pth GROUP BY path ORDER BY path""")),

    GraftQuery("m_tail_sampling", (s, dir) => {
      // tail-based sampling: the keep/drop decision a collector makes
      // once the whole trace is visible — keep slow traces (p90 wall),
      // deep traces (p90 depth), and a deterministic 10% hash sample
      // (md5 prefix, the zero-RNG idiom shared with
      // l_stratified_sample so replays and engines agree)
      val tr = spans(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n_spans"),
          (max("end_ms") - min("begin_ms")).as("wall_ms"),
          max("depth").as("max_depth"))
      val u = conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10).cast("long")
      tr.withColumn("keep_slow", (col("wall_ms") >= slowWallMs).cast("long"))
        .withColumn("keep_deep", (col("max_depth") >= deepDepth).cast("long"))
        .withColumn("keep_sample", (u < sampleCut).cast("long"))
        .withColumn("keep", greatest(col("keep_slow"), col("keep_deep"), col("keep_sample")))
        .orderBy("user_id")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      tr AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(MAX(end_ms) - MIN(begin_ms) AS BIGINT) AS wall_ms,
          CAST(MAX(depth) AS BIGINT) AS max_depth
        FROM spans GROUP BY user_id),
      dec AS (
        SELECT *,
          CASE WHEN wall_ms >= $slowWallMs THEN 1 ELSE 0 END AS keep_slow,
          CASE WHEN max_depth >= $deepDepth THEN 1 ELSE 0 END AS keep_deep,
          CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 < $sampleCut THEN 1 ELSE 0 END AS keep_sample
        FROM tr)
      SELECT user_id, n_spans, wall_ms, max_depth,
        CAST(keep_slow AS BIGINT) AS keep_slow,
        CAST(keep_deep AS BIGINT) AS keep_deep,
        CAST(keep_sample AS BIGINT) AS keep_sample,
        CAST(GREATEST(keep_slow, keep_deep, keep_sample) AS BIGINT) AS keep
      FROM dec ORDER BY user_id"""))
  )
}
