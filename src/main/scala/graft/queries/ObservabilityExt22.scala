package graft.queries

import graft.{GraftQuery, Lakehouse}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 observability tranche: fleet operability — data
  * completeness, tail attribution, robust anomaly detection, volume
  * concentration, and scrape-cadence health.
  *
  *  - `m_block_gaps`: ingestion-completeness audit over the blocks
  *    metadata view — per stream, expected-vs-present minute blocks,
  *    coverage and the largest hole. The reference's partition
  *    inventory (list_partitions + blocks metadata,
  *    rust/analytics/src/lakehouse/partition_cache.rs lists the same
  *    per-stream block ranges) answers "is data missing" with exactly
  *    this arithmetic; metadata-only, never touches payload rows.
  *  - `m_tail_attribution`: which process owns the global latency
  *    tail — per span name, the exact p95 threshold (discrete order
  *    statistic at rank ceil(19n/20)), then each process's share of
  *    the spans above it. The drill-down a latency SLO page runs
  *    after M66 says the p99 moved. The exact rank pass is the
  *    oracle-checkable calibration form; at 100 TB the threshold
  *    comes from M5's mergeable histogram sketch (M92 prices that
  *    substitution) and only the attribution agg remains.
  *  - `m_log_anomaly_mad`: robust volume-anomaly summary — per event
  *    type over the DENSE hour grid (absent hours count 0), the
  *    median hourly count and the median absolute deviation (both as
  *    integer-exact doubled order statistics), and how many hours
  *    deviate ≥ 5×MAD. Median/MAD is the outlier-immune baseline the
  *    mean-based M60/M90 family can't provide: one 10⁶-count burst
  *    drags every mean baseline but moves a median not at all
  *    (Iglewicz–Hoaglin robust-z lineage, threshold 5·MAD).
  *  - `m_top_talkers`: log-volume concentration (Pareto) — processes
  *    ranked by event volume with exact cumulative share and the
  *    minimal ≥80% head set flagged. The "who do we rate-limit first"
  *    table; the global window rides the PROCESS grid (fleet-bounded,
  *    counts pre-aggregated map-side), never raw events.
  *  - `m_scrape_gaps`: per-series sampling-cadence health — median
  *    inter-sample interval (doubled order statistic) plus count of
  *    gaps > 1.5× the median and the longest gap. Detects dying
  *    emitters whose series still exist but skip samples — invisible
  *    to count baselines until the series is fully dead.
  *
  * Scale shape: block/top-talker analytics ride metadata/fleet grids;
  * MAD medians ride the wall-clock hour grid (documented bounded
  * class); scrape-gap and tail windows are keyed per series / per
  * name; every raw-event touch is a partial-agg HashAggregate first.
  */
object ObservabilityExt22 {

  private val oracleBlocks = """
      WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          CAST(count(*) AS BIGINT) AS nb_objects,
          CAST(sum(length(props)) AS BIGINT) AS payload_bytes
        FROM events GROUP BY 1, 2, 3)"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_block_gaps", (s, dir) => {
      val blocks = new Lakehouse(s, dir).blocks
      val w = Window.partitionBy("process_id", "stream_tag").orderBy("block_start_ms")
      blocks
        .withColumn("prev_ms", lag("block_start_ms", 1).over(w))
        .withColumn("gap_min", when(col("prev_ms").isNull, lit(0L))
          .otherwise(expr("(block_start_ms - prev_ms) div 60000 - 1")))
        .groupBy("process_id", "stream_tag")
        .agg(count(lit(1)).as("n_blocks"),
          min("block_start_ms").as("first_ms"),
          max("block_start_ms").as("last_ms"),
          max("gap_min").as("max_gap_min"))
        .withColumn("expected_minutes", expr("(last_ms - first_ms) div 60000 + 1"))
        .withColumn("missing_minutes", col("expected_minutes") - col("n_blocks"))
        .withColumn("coverage_e4", expr("n_blocks * 10000 div expected_minutes"))
        .select("process_id", "stream_tag", "n_blocks", "expected_minutes",
          "missing_minutes", "coverage_e4", "max_gap_min")
        .orderBy("process_id", "stream_tag")
    }, Some(s"""$oracleBlocks,
      g AS (
        SELECT *, lag(block_start_ms) OVER (
            PARTITION BY process_id, stream_tag ORDER BY block_start_ms) AS prev_ms
        FROM b),
      gg AS (
        SELECT *, CASE WHEN prev_ms IS NULL THEN 0
                       ELSE (block_start_ms - prev_ms) // 60000 - 1 END AS gap_min
        FROM g),
      agg AS (
        SELECT process_id, stream_tag, CAST(count(*) AS BIGINT) AS n_blocks,
          min(block_start_ms) AS first_ms, max(block_start_ms) AS last_ms,
          CAST(max(gap_min) AS BIGINT) AS max_gap_min
        FROM gg GROUP BY 1, 2)
      SELECT process_id, stream_tag, n_blocks,
        (last_ms - first_ms) // 60000 + 1 AS expected_minutes,
        (last_ms - first_ms) // 60000 + 1 - n_blocks AS missing_minutes,
        n_blocks * 10000 // ((last_ms - first_ms) // 60000 + 1) AS coverage_e4,
        max_gap_min
      FROM agg ORDER BY process_id, stream_tag""")),

    GraftQuery("m_tail_attribution", (s, dir) => {
      // materialized once: both the rank pass and the attribution agg
      // read the assembled spans, and without a cut the whole windowed
      // span assembly replays for each
      val sp = spans(s, dir).select("user_id", "span_id", "name", "duration_ms")
        .localCheckpoint()
      val wN = Window.partitionBy("name")
      val wR = wN.orderBy(col("duration_ms"), col("span_id"))
      val ranked = sp.withColumn("rk", row_number().over(wR))
        .withColumn("n", count(lit(1)).over(wN))
      // discrete p95: the value at ascending rank ceil(19n/20)
      val thr = ranked.where(col("rk") === expr("(19 * n + 19) div 20"))
        .select(col("name"), col("duration_ms").as("thr_ms"))
      val perProc = sp.join(broadcast(thr), "name") // one row per name
        .withColumn("is_tail", when(col("duration_ms") > col("thr_ms"), 1L).otherwise(0L))
        .groupBy("name", "user_id")
        .agg(count(lit(1)).as("n_spans"), sum("is_tail").as("n_tail"))
      perProc
        .withColumn("name_tail_total", sum("n_tail").over(Window.partitionBy("name")))
        .where(col("n_tail") > 0)
        .withColumn("tail_share_e4", expr("n_tail * 10000 div name_tail_total"))
        .select("name", "user_id", "n_spans", "n_tail", "name_tail_total", "tail_share_e4")
        .orderBy("name", "user_id")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      rk AS (
        SELECT name, user_id, span_id, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY name ORDER BY duration_ms, span_id) AS rk,
          COUNT(*) OVER (PARTITION BY name) AS n
        FROM spans),
      thr AS (SELECT name, duration_ms AS thr_ms FROM rk WHERE rk = (19 * n + 19) // 20),
      t AS (
        SELECT s.name, s.user_id,
          CASE WHEN s.duration_ms > thr.thr_ms THEN 1 ELSE 0 END AS is_tail
        FROM spans s JOIN thr USING (name)),
      pp AS (
        SELECT name, user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(is_tail) AS BIGINT) AS n_tail
        FROM t GROUP BY 1, 2),
      tot AS (
        SELECT *, CAST(SUM(n_tail) OVER (PARTITION BY name) AS BIGINT) AS name_tail_total
        FROM pp)
      SELECT name, user_id, n_spans, n_tail, name_tail_total,
        n_tail * 10000 // name_tail_total AS tail_share_e4
      FROM tot WHERE n_tail > 0 ORDER BY name, user_id""")),

    GraftQuery("m_log_anomaly_mad", (s, dir) => {
      val e = events(s, dir)
      val ms = epochMs(col("ts"))
      // one events scan: grid bounds and the name set both come off the
      // pre-aggregated hourly table, cut once. Baseline math shared
      // with the streaming leg (RobustStream) via operators.Robust.
      val hourly = e.groupBy(col("event_type").as("name"),
          (ms - pmod(ms, lit(3600000L))).as("hour_ms"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val dense = graft.operators.Robust.denseHourly(hourly).localCheckpoint()
      val baseline = graft.operators.Robust.madBaseline(dense)
      dense.join(broadcast(baseline), "name")
        .withColumn("score_e4", expr(graft.operators.Robust.scoreE4Sql))
        .groupBy("name")
        .agg(count(lit(1)).as("n_hours"),
          max("med2").as("med2"), max("mad4").as("mad4"),
          sum(when(col("score_e4") >= 50000, 1L).otherwise(0L)).as("n_anomalous"),
          max("score_e4").as("max_score_e4"))
        .orderBy("name")
    }, Some("""
      WITH h AS (
        SELECT event_type AS name, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      bounds AS (SELECT min(hour_ms) AS lo, max(hour_ms) AS hi FROM h),
      grid AS (
        SELECT n.name, CAST(u.g AS BIGINT) AS hour_ms
        FROM (SELECT DISTINCT name FROM h) n
        CROSS JOIN (SELECT unnest(range(lo, hi + 1, 3600000)) AS g FROM bounds) u),
      dense AS (
        SELECT grid.name, grid.hour_ms, COALESCE(h.cnt, 0) AS cnt
        FROM grid LEFT JOIN h ON h.name = grid.name AND h.hour_ms = grid.hour_ms),
      r1 AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY cnt, hour_ms) AS rk,
          COUNT(*) OVER (PARTITION BY name) AS n
        FROM dense),
      med AS (
        SELECT name,
          CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN cnt ELSE 0 END)
             + SUM(CASE WHEN rk = (n + 2) // 2 THEN cnt ELSE 0 END) AS BIGINT) AS med2
        FROM r1 GROUP BY 1),
      dev AS (
        SELECT d.name, d.hour_ms, d.cnt, m.med2, abs(d.cnt * 2 - m.med2) AS dev2
        FROM dense d JOIN med m USING (name)),
      r2 AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY dev2, hour_ms) AS rk,
          COUNT(*) OVER (PARTITION BY name) AS n
        FROM dev),
      mad AS (
        SELECT name,
          CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN dev2 ELSE 0 END)
             + SUM(CASE WHEN rk = (n + 2) // 2 THEN dev2 ELSE 0 END) AS BIGINT) AS mad4
        FROM r2 GROUP BY 1),
      sc AS (
        SELECT dev.*, mad.mad4,
          dev.dev2 * 2 * 10000 // GREATEST(mad.mad4, 1) AS score_e4
        FROM dev JOIN mad USING (name))
      SELECT name, CAST(count(*) AS BIGINT) AS n_hours,
        max(med2) AS med2, max(mad4) AS mad4,
        CAST(SUM(CASE WHEN score_e4 >= 50000 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
        CAST(max(score_e4) AS BIGINT) AS max_score_e4
      FROM sc GROUP BY 1 ORDER BY name"""), headline = true),

    GraftQuery("m_top_talkers", (s, dir) => {
      val per = events(s, dir)
        .groupBy(col("user_id").cast("string").as("process_id"))
        .agg(count(lit(1)).as("n_events"))
      val tot = per.agg(sum("n_events").as("total"))
      // global window over the PROCESS grid only — counts are already
      // reduced map-side, so the sort is fleet-bounded, not volume-bound
      val wr = Window.orderBy(col("n_events").desc, col("process_id"))
      per.crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(wr))
        .withColumn("cum", sum("n_events").over(
          wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("share_e4", expr("n_events * 10000 div total"))
        .withColumn("cum_share_e4", expr("cum * 10000 div total"))
        // in the 80% head iff everything BEFORE this process is < 80%
        .withColumn("in_top80",
          when((col("cum") - col("n_events")) * 10000 < col("total") * 8000, 1L)
            .otherwise(0L))
        .select("rk", "process_id", "n_events", "share_e4", "cum_share_e4", "in_top80")
        .orderBy("rk")
    }, Some("""
      WITH per AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM per),
      r AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_events DESC, process_id) AS rk,
          CAST(SUM(n_events) OVER (ORDER BY n_events DESC, process_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM per)
      SELECT CAST(rk AS BIGINT) AS rk, process_id, n_events,
        n_events * 10000 // t.total AS share_e4,
        cum * 10000 // t.total AS cum_share_e4,
        CAST(CASE WHEN (cum - n_events) * 10000 < t.total * 8000
             THEN 1 ELSE 0 END AS BIGINT) AS in_top80
      FROM r CROSS JOIN tot t ORDER BY rk""")),

    GraftQuery("m_scrape_gaps", (s, dir) => {
      val ms = epochMs(col("ts"))
      val samples = events(s, dir)
        .select(col("event_type").as("name"), col("user_id"), ms.as("t_ms"), col("event_id"))
      val ws = Window.partitionBy("name", "user_id").orderBy("t_ms", "event_id")
      val deltas = samples.withColumn("prev", lag("t_ms", 1).over(ws))
        .where(col("prev").isNotNull)
        .withColumn("delta", col("t_ms") - col("prev"))
      val wN = Window.partitionBy("name", "user_id")
      val r = deltas
        .withColumn("rk", row_number().over(wN.orderBy(col("delta"), col("t_ms"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(wN))
      val med = r.groupBy("name", "user_id").agg(
          sum(when(col("rk") === expr("(n + 1) div 2"), col("delta")).otherwise(0L)).as("lo"),
          sum(when(col("rk") === expr("(n + 2) div 2"), col("delta")).otherwise(0L)).as("hi"))
        .withColumn("med2_ms", col("lo") + col("hi"))
        .select("name", "user_id", "med2_ms")
      deltas.join(med, Seq("name", "user_id")) // series-grid sized right side
        .groupBy("name", "user_id")
        .agg((count(lit(1)) + 1).as("n_samples"),
          max("med2_ms").as("med2_ms"),
          // gap = interval > 1.5× the median (delta > 1.5·(med2/2) ⇔ 4·delta > 3·med2)
          sum(when(col("delta") * 4 > col("med2_ms") * 3, 1L).otherwise(0L)).as("n_gaps"),
          max("delta").as("max_gap_ms"))
        .where(col("n_samples") >= 10)
        .orderBy("name", "user_id")
    }, Some("""
      WITH d AS (
        SELECT event_type AS name, user_id, epoch_ms(ts) AS t_ms, event_id,
          lag(epoch_ms(ts)) OVER (PARTITION BY event_type, user_id
            ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events),
      dd AS (SELECT name, user_id, t_ms, event_id, t_ms - prev AS delta
             FROM d WHERE prev IS NOT NULL),
      r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY name, user_id
            ORDER BY delta, t_ms, event_id) AS rk,
          COUNT(*) OVER (PARTITION BY name, user_id) AS n
        FROM dd),
      med AS (
        SELECT name, user_id,
          CAST(SUM(CASE WHEN rk = (n + 1) // 2 THEN delta ELSE 0 END)
             + SUM(CASE WHEN rk = (n + 2) // 2 THEN delta ELSE 0 END) AS BIGINT) AS med2_ms
        FROM r GROUP BY 1, 2)
      SELECT dd.name, dd.user_id, CAST(count(*) + 1 AS BIGINT) AS n_samples,
        max(med.med2_ms) AS med2_ms,
        CAST(SUM(CASE WHEN dd.delta * 4 > med.med2_ms * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        max(dd.delta) AS max_gap_ms
      FROM dd JOIN med USING (name, user_id)
      GROUP BY 1, 2 HAVING count(*) + 1 >= 10
      ORDER BY name, user_id"""))
  )
}
