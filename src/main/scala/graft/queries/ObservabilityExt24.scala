package graft.queries

import graft.GraftQuery
import graft.operators.SpanAssembly
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 third observability tranche: alert hygiene and trace
  * integrity.
  *
  *  - `m_alert_dedup`: notification-grouping accounting over M36's
  *    threshold crossings — Alertmanager-style grouping (all crossings
  *    of the same alert rule inside one window collapse into ONE
  *    page): per day, crossings fired, series involved, and the pages
  *    grouping saves. The alert-fatigue measure next to M81's
  *    flapping audit: flapping says "this series needs hysteresis",
  *    this says "this rule needs grouping, and here is the page
  *    volume it would save". One keyed lag window (samples →
  *    crossings) + a day-grid partial agg.
  *  - `m_orphan_spans`: call-tree integrity — non-root spans whose
  *    enclosing parent cannot be found (the linkage M22 materializes
  *    comes back empty). M72 audits the EVENT stream (begin/end
  *    imbalance); this audits the ASSEMBLED tree one level up:
  *    orphans mean dropped blocks or cross-block chains the assembly
  *    couldn't bridge — the reference's #1429 fix exists precisely
  *    because orphaned chains fragmented its call trees. Parent
  *    linkage is the bounded keyed band join m_call_tree uses; the
  *    rate is one partial agg per process.
  *  - `m_stream_staleness`: who has STOPPED reporting — per stream,
  *    minutes since its last block vs the lake's newest block, worst
  *    first. The current-freshness angle next to M94 (holes in the
  *    past) and M98 (cadence); metadata-only.
  *  - `m_jit_groups`: event-time JIT partition grouping with
  *    INSERT-SAFE cuts over a lake with out-of-order registered
  *    blocks (reference #1429: rust/analytics/src/lakehouse/
  *    jit_partitions.rs:65) — the relational PLAN form of
  *    operators.JitPartitions; see the query's own comment.
  */
object ObservabilityExt24 {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_jit_groups", (s, dir) => {
      // Event-time JIT partition grouping with INSERT-SAFE cuts
      // (reference #1429, jit_partitions.rs:65 BlockOrder::EventTime):
      // blocks sorted by event time may interleave late-REGISTERED
      // blocks, and a size cut is only taken where everything before
      // it was inserted no later than everything after (prefix-max
      // insert ≤ suffix-min insert), so emitted partitions' insert
      // ranges never overlap. Late registration is synthesized
      // deterministically (md5-bucket 20% of blocks register 4 min
      // late — the zero-RNG idiom of m_tail_sampling), creating real
      // inversions on both engines. Safe points split each stream's
      // block list into ATOMIC segments; size cuts then ride the
      // m_compaction_plan convention (exclusive-prefix-sum div
      // target) over segments — cuts can only land on safe
      // boundaries, and a single oversized segment grows past the
      // soft cap, exactly the reference's grow-don't-overlap rule.
      // chain_id additionally splits on STRICT event-coverage gaps
      // (touching minute blocks continue the chain — the #1429
      // contiguity fix: <=, not ==), counting decodable cross-block
      // chains per group. Everything is window + partial-agg over
      // block METADATA (the minute grid), never events; scale = the
      // blocks view, not the event volume. The exact greedy
      // materializer (operators.JitPartitions.groupBlocks, whose cut
      // points provably land on this query's safe boundaries) is
      // property-checked in JitPartitionsSpec.
      val maxObjects = 8L
      val ms = epochMs(col("ts"))
      val b = events(s, dir)
        .groupBy(col("user_id").cast("string").as("process_id"),
          col("event_type").as("stream_tag"),
          (ms - pmod(ms, lit(60000L))).as("begin_ms"))
        .agg(count(lit(1)).as("nb_objects"))
        .withColumn("end_ms", col("begin_ms") + lit(60000L))
      val lateKey = conv(substring(md5(concat_ws("|", col("process_id"),
        col("stream_tag"), col("begin_ms").cast("string"))), 1, 8), 16, 10).cast("long")
      val r = b.withColumn("insert_ms",
        col("begin_ms") + when(lateKey % 5 === 0, lit(240000L)).otherwise(lit(0L)))
      val byEvent = Window.partitionBy("process_id", "stream_tag").orderBy("begin_ms")
      val before = byEvent.rowsBetween(Window.unboundedPreceding, -1)
      val fromHere = byEvent.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val upToHere = byEvent.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val marked = r
        .withColumn("prefix_max_insert", max("insert_ms").over(before))
        .withColumn("suffix_min_insert", min("insert_ms").over(fromHere))
        .withColumn("prev_cov_end", max("end_ms").over(before))
        .withColumn("seg", sum(when(col("prefix_max_insert").isNull ||
            col("prefix_max_insert") <= col("suffix_min_insert"), 1L)
          .otherwise(0L)).over(upToHere))
        .withColumn("chain_id", sum(when(col("prev_cov_end").isNotNull &&
            col("begin_ms") > col("prev_cov_end"), 1L)
          .otherwise(0L)).over(upToHere))
      val bySeg = Window.partitionBy("process_id", "stream_tag").orderBy("seg")
        .rowsBetween(Window.unboundedPreceding, -1)
      val segGroups = marked.groupBy("process_id", "stream_tag", "seg")
        .agg(sum("nb_objects").as("seg_objects"))
        .withColumn("prior_objects", coalesce(sum("seg_objects").over(bySeg), lit(0L)))
        .withColumn("group_id", expr(s"prior_objects div $maxObjects"))
        .select("process_id", "stream_tag", "seg", "group_id")
      // the seg→group map is post-window/agg derived and grows with
      // the blocks grid — shuffle_hash keeps the attach co-partitioned
      // (a static broadcast of it never demotes; caught by the r12
      // broadcast audit the day this query landed)
      marked.join(segGroups.hint("shuffle_hash"), Seq("process_id", "stream_tag", "seg"))
        .groupBy("process_id", "stream_tag", "group_id")
        .agg(count(lit(1)).as("n_blocks"),
          countDistinct("seg").as("n_segments"),
          sum("nb_objects").as("group_objects"),
          min("insert_ms").as("min_insert_ms"),
          max("insert_ms").as("max_insert_ms"),
          min("begin_ms").as("first_block_ms"),
          max("begin_ms").as("last_block_ms"),
          countDistinct("chain_id").as("n_chains"))
        .orderBy("process_id", "stream_tag", "group_id")
    }, Some("""
      WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS begin_ms,
          epoch_ms(ts) - epoch_ms(ts) % 60000 + 60000 AS end_ms,
          CAST(count(*) AS BIGINT) AS nb_objects
        FROM events GROUP BY 1, 2, 3, 4),
      r AS (
        SELECT *, begin_ms + CASE WHEN CAST(('0x' || substr(md5(
              process_id || '|' || stream_tag || '|' || CAST(begin_ms AS VARCHAR)
            ), 1, 8)) AS BIGINT) % 5 = 0 THEN 240000 ELSE 0 END AS insert_ms
        FROM b),
      w AS (
        SELECT *,
          MAX(insert_ms) OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix_max_insert,
          MIN(insert_ms) OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suffix_min_insert,
          MAX(end_ms) OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_cov_end
        FROM r),
      s AS (
        SELECT *,
          SUM(CASE WHEN prefix_max_insert IS NULL
                    OR prefix_max_insert <= suffix_min_insert THEN 1 ELSE 0 END)
            OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
              ROWS UNBOUNDED PRECEDING) AS seg,
          SUM(CASE WHEN prev_cov_end IS NOT NULL AND begin_ms > prev_cov_end
                   THEN 1 ELSE 0 END)
            OVER (PARTITION BY process_id, stream_tag ORDER BY begin_ms
              ROWS UNBOUNDED PRECEDING) AS chain_id
        FROM w),
      seg AS (
        SELECT process_id, stream_tag, seg, SUM(nb_objects) AS seg_objects
        FROM s GROUP BY 1, 2, 3),
      g AS (
        SELECT process_id, stream_tag, seg,
          CAST(COALESCE(SUM(seg_objects) OVER (PARTITION BY process_id, stream_tag
            ORDER BY seg ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 8 AS BIGINT) AS group_id
        FROM seg)
      SELECT s.process_id, s.stream_tag, g.group_id,
        CAST(COUNT(*) AS BIGINT) AS n_blocks,
        CAST(COUNT(DISTINCT s.seg) AS BIGINT) AS n_segments,
        CAST(SUM(s.nb_objects) AS BIGINT) AS group_objects,
        MIN(s.insert_ms) AS min_insert_ms,
        MAX(s.insert_ms) AS max_insert_ms,
        MIN(s.begin_ms) AS first_block_ms,
        MAX(s.begin_ms) AS last_block_ms,
        CAST(COUNT(DISTINCT s.chain_id) AS BIGINT) AS n_chains
      FROM s JOIN g ON s.process_id = g.process_id
        AND s.stream_tag = g.stream_tag AND s.seg = g.seg
      GROUP BY 1, 2, 3
      ORDER BY s.process_id, s.stream_tag, g.group_id""")),

    GraftQuery("m_alert_dedup", (s, dir) => {
      val lim = 300.0
      val m = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
      val crossings = m.withColumn("prev", lag("value", 1).over(w))
        .where(col("value") > lim && col("prev").isNotNull && col("prev") <= lim)
        .select(col("user_id"), col("t_ms"))
      crossings
        .groupBy(expr("t_ms - t_ms % 86400000").as("day_ms"))
        .agg(count(lit(1)).as("n_crossings"),
          countDistinct("user_id").as("n_series"))
        .withColumn("pages_saved", col("n_crossings") - 1)
        .withColumn("saved_e4", expr("(n_crossings - 1) * 10000 div n_crossings"))
        .select("day_ms", "n_crossings", "n_series", "pages_saved", "saved_e4")
        .orderBy("day_ms")
    }, Some("""
      WITH m AS (
        SELECT user_id, epoch_ms(ts) AS t_ms, event_id, value,
          LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events WHERE event_type = 'purchase'),
      cr AS (
        SELECT user_id, t_ms
        FROM m WHERE value > 300.0 AND prev IS NOT NULL AND prev <= 300.0)
      SELECT t_ms - t_ms % 86400000 AS day_ms,
        CAST(count(*) AS BIGINT) AS n_crossings,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_series,
        CAST(count(*) - 1 AS BIGINT) AS pages_saved,
        CAST(count(*) - 1 AS BIGINT) * 10000 // CAST(count(*) AS BIGINT) AS saved_e4
      FROM cr GROUP BY 1 ORDER BY day_ms""")),

    GraftQuery("m_orphan_spans", (s, dir) => {
      val linked = SpanAssembly.withParents(spans(s, dir), "user_id")
      linked.groupBy("user_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("depth") > 0, 1L).otherwise(0L)).as("n_nonroot"),
          sum(when(col("depth") > 0 && col("parent_id") === -1L, 1L).otherwise(0L))
            .as("n_orphans"))
        .withColumn("orphan_rate_e4",
          expr("n_orphans * 10000 div greatest(n_nonroot, 1)"))
        .select("user_id", "n_spans", "n_nonroot", "n_orphans", "orphan_rate_e4")
        .orderBy("user_id")
    }, Some(s"""${ObservabilityExt9.oracleLinked}
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
        CAST(SUM(CASE WHEN depth > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonroot,
        CAST(SUM(CASE WHEN depth > 0 AND parent_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_orphans,
        CAST(SUM(CASE WHEN depth > 0 AND parent_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          * 10000 // GREATEST(CAST(SUM(CASE WHEN depth > 0 THEN 1 ELSE 0 END) AS BIGINT), 1)
          AS orphan_rate_e4
      FROM fl GROUP BY 1 ORDER BY user_id""")),

    GraftQuery("m_stream_staleness", (s, dir) => {
      // the CURRENT-freshness angle of the completeness family: M94
      // audits holes in the past, M98 audits cadence, this ranks who
      // has STOPPED — per stream, minutes since its last block vs the
      // lake's newest block ("now" for a bounded dataset), flagged
      // stale past 120 min. Metadata-only; the lake max is a broadcast
      // scalar; output ordered worst-first.
      val blocks = new graft.Lakehouse(s, dir).blocks
        .groupBy("process_id", "stream_tag")
        .agg(max("block_start_ms").as("last_block_ms"),
          count(lit(1)).as("n_blocks"))
      val lakeMax = blocks.agg(max("last_block_ms").as("lake_max_ms"))
      blocks.crossJoin(broadcast(lakeMax))
        .withColumn("stale_min", expr("(lake_max_ms - last_block_ms) div 60000"))
        .withColumn("is_stale", when(col("stale_min") >= 120, 1L).otherwise(0L))
        .select("process_id", "stream_tag", "n_blocks", "last_block_ms",
          "stale_min", "is_stale")
        .orderBy(desc("stale_min"), col("process_id"), col("stream_tag"))
    }, Some("""
      WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms
        FROM events),
      st AS (
        SELECT process_id, stream_tag, max(block_start_ms) AS last_block_ms,
          CAST(count(DISTINCT block_start_ms) AS BIGINT) AS n_blocks
        FROM b GROUP BY 1, 2),
      mx AS (SELECT max(last_block_ms) AS lake_max_ms FROM st)
      SELECT process_id, stream_tag, n_blocks, last_block_ms,
        (mx.lake_max_ms - last_block_ms) // 60000 AS stale_min,
        CAST(CASE WHEN (mx.lake_max_ms - last_block_ms) // 60000 >= 120
             THEN 1 ELSE 0 END AS BIGINT) AS is_stale
      FROM st CROSS JOIN mx
      ORDER BY stale_min DESC, process_id, stream_tag""")),

    GraftQuery("m_hysteresis_alerts", (s, dir) => {
      // the hysteresis (Schmitt-trigger) alert M81's flapping audit
      // prescribes: fire when the series crosses HI (100), clear only
      // below LO (50) — values oscillating inside the band produce
      // ONE page where the single-threshold rule (M36) pages on every
      // re-cross. State machine as a carry-forward window: tag samples
      // +1 above HI / 0 below LO / null in the band; the state at any
      // sample is the last non-null tag at-or-before it, and an alert
      // is a 0→1 (or first-sample) rising edge. Per series: raw
      // single-threshold crossings vs hysteresis alerts and the pages
      // the band saves. Keyed windows per series only.
      val hi = 100.0
      val lo = 50.0
      val m = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
      val st = m
        .withColumn("tag",
          when(col("value") > hi, 1L).when(col("value") < lo, 0L).otherwise(lit(null)))
        .withColumn("state", coalesce(
          last("tag", ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          lit(0L)))
        .withColumn("prev_state", coalesce(lag("state", 1).over(w), lit(0L)))
        .withColumn("hyst_fire",
          when(col("state") === 1 && col("prev_state") === 0, 1L).otherwise(0L))
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("raw_fire", // first evaluation above HI also pages
          when(col("value") > hi &&
            (col("prev_value").isNull || col("prev_value") <= hi), 1L).otherwise(0L))
      st.groupBy("user_id")
        .agg(sum("raw_fire").as("n_raw_crossings"),
          sum("hyst_fire").as("n_hyst_alerts"))
        .where(col("n_raw_crossings") > 0 || col("n_hyst_alerts") > 0)
        .withColumn("pages_saved", col("n_raw_crossings") - col("n_hyst_alerts"))
        .orderBy("user_id")
    }, Some("""
      WITH m AS (
        SELECT user_id, epoch_ms(ts) AS t_ms, event_id, value
        FROM events WHERE event_type = 'purchase'),
      t AS (
        SELECT *, CASE WHEN value > 100.0 THEN 1
                       WHEN value < 50.0 THEN 0 END AS tag,
          LAG(value) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) AS prev_value
        FROM m),
      st AS (
        SELECT *, COALESCE(last_value(tag IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY t_ms, event_id
            ROWS UNBOUNDED PRECEDING), 0) AS state
        FROM t),
      e AS (
        SELECT *, COALESCE(LAG(state) OVER (
            PARTITION BY user_id ORDER BY t_ms, event_id), 0) AS prev_state
        FROM st)
      SELECT user_id,
        CAST(SUM(CASE WHEN value > 100.0
                       AND (prev_value IS NULL OR prev_value <= 100.0)
                  THEN 1 ELSE 0 END) AS BIGINT)
          AS n_raw_crossings,
        CAST(SUM(CASE WHEN state = 1 AND prev_state = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hyst_alerts,
        CAST(SUM(CASE WHEN value > 100.0
                       AND (prev_value IS NULL OR prev_value <= 100.0)
                  THEN 1 ELSE 0 END)
           - SUM(CASE WHEN state = 1 AND prev_state = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS pages_saved
      FROM e GROUP BY 1
      HAVING SUM(CASE WHEN value > 100.0
                       AND (prev_value IS NULL OR prev_value <= 100.0)
                  THEN 1 ELSE 0 END) > 0
          OR SUM(CASE WHEN state = 1 AND prev_state = 0 THEN 1 ELSE 0 END) > 0
      ORDER BY user_id"""))
  )
}
