package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 third tranche: lakehouse maintenance planning + trace-shape
  * triage.
  *
  *  - `m_compaction_plan`: the small-file compaction planner — per
  *    stream, ingestion blocks (minute granularity, the blocks
  *    metadata view) are assigned left-to-right into merge groups by
  *    running payload size against a target group size: group_id =
  *    (exclusive running sum) div target. The reference compacts JIT
  *    partitions by `max_nb_objects` segments over the SAME ordered
  *    block list (rust/analytics/src/lakehouse/jit_partitions.rs:
  *    group_blocks_into_partitions); at 100 TB the target is the
  *    config knob and the plan is what a maintenance daemon executes
  *    per stream-partition. Metadata-only: the planner never touches
  *    payload rows, and the window runs per (process, stream) — the
  *    natural compaction domain — never globally.
  *  - `m_seasonal_baseline`: hour-of-day seasonal deviation — counts
  *    scored against their type's same-hour-of-day mean across days
  *    (diurnal-aware, unlike M60's flat daily baseline), exact e4
  *    integers, windows keyed per (name, hour-of-day).
  *  - `m_depth_profile`: per-process call-stack depth profile over
  *    assembled thread spans: span count, total and max duration per
  *    (process, depth). The "is this process's latency in leaf calls
  *    or in orchestration layers" triage table; the output grid is
  *    processes × max stack depth (instrumentation-bounded), reduced
  *    by ONE partial agg after span assembly.
  */
object ObservabilityExt21 {

  /** Target merge-group payload size. Test-data blocks average ~9
    * bytes (props-length playback), so 64 exercises multi-group
    * plans at every SF; a real deployment sets this to its partition
    * size target (e.g. 256 MiB).
    */
  private val targetBytes = 64L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_compaction_plan", (s, dir) => {
      val blocks = new graft.Lakehouse(s, dir).blocks
      val w = Window.partitionBy("process_id", "stream_tag")
        .orderBy("block_start_ms")
        .rowsBetween(Window.unboundedPreceding, -1)
      blocks
        .withColumn("prior_bytes",
          coalesce(sum("payload_bytes").over(w), lit(0L)))
        .withColumn("group_id", expr(s"prior_bytes div $targetBytes"))
        .groupBy("process_id", "stream_tag", "group_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum("payload_bytes").as("group_bytes"),
          sum("nb_objects").as("group_objects"),
          min("block_start_ms").as("first_block_ms"),
          max("block_start_ms").as("last_block_ms"))
        .orderBy("process_id", "stream_tag", "group_id")
    }, Some(s"""
      WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          CAST(count(*) AS BIGINT) AS nb_objects,
          CAST(sum(length(props)) AS BIGINT) AS payload_bytes
        FROM events GROUP BY 1, 2, 3),
      g AS (
        SELECT *, COALESCE(SUM(payload_bytes) OVER (
            PARTITION BY process_id, stream_tag ORDER BY block_start_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS prior_bytes
        FROM b)
      SELECT process_id, stream_tag,
        CAST(prior_bytes // $targetBytes AS BIGINT) AS group_id,
        CAST(count(*) AS BIGINT) AS n_blocks,
        CAST(sum(payload_bytes) AS BIGINT) AS group_bytes,
        CAST(sum(nb_objects) AS BIGINT) AS group_objects,
        min(block_start_ms) AS first_block_ms,
        max(block_start_ms) AS last_block_ms
      FROM g GROUP BY 1, 2, 3
      ORDER BY process_id, stream_tag, group_id"""), headline = true),

    GraftQuery("m_seasonal_baseline", (s, dir) => {
      // hour-of-day seasonal anomaly detection: each (event type, day,
      // hour-of-day) count scored against that type's SAME-hour-of-day
      // mean across all days — the diurnal-pattern-aware deviation M60's
      // flat per-day baseline can't express (9am traffic is not 3am
      // traffic). Exact integers: deviation_e4 = (cnt·nDays − total)·1e4
      // div total ≡ (cnt − mean)/mean without materializing the mean.
      // Shapes: one partial agg to the (name × day × hod) grid, a
      // window keyed per (name, hod) — 24 cells per name per day-count,
      // never global — and the day-count scalar broadcast. Only cells
      // deviating ≥ ±50% from their seasonal norm surface.
      val e = events(s, dir)
      val ms = epochMs(col("ts"))
      val cells = e.groupBy(col("event_type").as("name"),
          epochMs(date_trunc("day", col("ts"))).as("day_ms"),
          ((ms % lit(86400000L)) / lit(3600000L)).cast("long").as("hod"))
        .agg(count(lit(1)).as("cnt"))
      val nDays = e.select(
        countDistinct(date_trunc("day", col("ts"))).as("n_days"))
      val w = Window.partitionBy("name", "hod")
      cells.withColumn("hod_total", sum("cnt").over(w))
        .crossJoin(broadcast(nDays))
        .withColumn("deviation_e4",
          expr("(cnt * n_days - hod_total) * 10000 div hod_total"))
        .where(abs(col("deviation_e4")) >= 5000)
        .select("name", "day_ms", "hod", "cnt", "hod_total", "n_days", "deviation_e4")
        .orderBy("name", "day_ms", "hod")
    }, Some("""
      WITH cells AS (
        SELECT event_type AS name,
          epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms,
          (epoch_ms(ts) % 86400000) // 3600000 AS hod,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3),
      nd AS (
        SELECT CAST(count(DISTINCT epoch_ms(ts) - epoch_ms(ts) % 86400000) AS BIGINT)
          AS n_days FROM events),
      t AS (
        SELECT *, SUM(cnt) OVER (PARTITION BY name, hod) AS hod_total
        FROM cells)
      SELECT name, day_ms, CAST(hod AS BIGINT) AS hod, cnt,
        CAST(hod_total AS BIGINT) AS hod_total, n_days,
        CAST((cnt * n_days - hod_total) * 10000 // hod_total AS BIGINT) AS deviation_e4
      FROM t CROSS JOIN nd
      WHERE abs((cnt * n_days - hod_total) * 10000 // hod_total) >= 5000
      ORDER BY name, day_ms, hod""")),

    GraftQuery("m_incident_context", (s, dir) => {
      // cross-signal incident correlation — "what else fired around
      // this burst": every error BURST (M70's maximal consecutive
      // error minutes, ≥2 long) annotated with the metric threshold
      // CROSSINGS (M36's upward-crossing alerts) inside the burst's
      // ±5-minute context window. The triage join dashboards do by
      // eye, as one query. Scale shape: bursts are wall-clock-minute
      // bounded (tiny at any volume) and BROADCAST into the range
      // join — the crossing stream never shuffles for it; the
      // burstless-burst rows come back via a keyed left join against
      // the aggregated hits.
      val minuteMs = 60000L
      val padMs = 300000L
      val lim = 300.0
      val e = events(s, dir)
      val em = e.where(col("event_type") === "error")
        .select(epochMs(col("ts")).as("t_ms"))
        .select(expr(s"(t_ms div $minuteMs) * $minuteMs").as("minute_ms"))
        .groupBy("minute_ms").agg(count(lit(1)).as("n_errors"))
      val wI = Window.orderBy("minute_ms") // minute grid: bounded input
      val bursts = em.withColumn("island",
          col("minute_ms") - row_number().over(wI).cast("long") * minuteMs)
        .groupBy("island")
        .agg(min("minute_ms").as("burst_start_ms"), max("minute_ms").as("burst_end_ms"),
          count(lit(1)).as("n_minutes"))
        .where(col("n_minutes") >= 2)
        .select("burst_start_ms", "burst_end_ms")
      val wS = Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
      val crossings = e.where(col("event_type") === "purchase")
        .select(col("user_id"), epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
        .withColumn("prev", lag("value", 1).over(wS))
        .where(col("value") > lim && col("prev").isNotNull && col("prev") <= lim)
        .select("user_id", "t_ms")
      val hits = crossings.join(broadcast(bursts),
          col("t_ms") >= col("burst_start_ms") - padMs &&
            col("t_ms") < col("burst_end_ms") + minuteMs + padMs)
        .groupBy("burst_start_ms", "burst_end_ms")
        .agg(count(lit(1)).as("n_crossings"),
          countDistinct("user_id").as("n_series"),
          min("t_ms").as("first_crossing_ms"))
      bursts.join(hits, Seq("burst_start_ms", "burst_end_ms"), "left")
        .select(col("burst_start_ms"), col("burst_end_ms"),
          coalesce(col("n_crossings"), lit(0L)).as("n_crossings"),
          coalesce(col("n_series"), lit(0L)).as("n_series"),
          coalesce(col("first_crossing_ms"), lit(-1L)).as("first_crossing_ms"))
        .orderBy("burst_start_ms")
    }, Some("""
      WITH em AS (
        SELECT (epoch_ms(ts) // 60000) * 60000 AS minute_ms, COUNT(*) AS n
        FROM events WHERE event_type = 'error' GROUP BY 1),
      isl AS (
        SELECT minute_ms,
          minute_ms - ROW_NUMBER() OVER (ORDER BY minute_ms) * 60000 AS island
        FROM em),
      b AS (
        SELECT MIN(minute_ms) AS burst_start_ms, MAX(minute_ms) AS burst_end_ms,
          COUNT(*) AS n_minutes
        FROM isl GROUP BY island),
      bursts AS (
        SELECT burst_start_ms, burst_end_ms FROM b WHERE n_minutes >= 2),
      x AS (
        SELECT user_id, epoch_ms(ts) AS t_ms, value,
          LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events WHERE event_type = 'purchase'),
      crossings AS (
        SELECT user_id, t_ms FROM x
        WHERE value > 300.0 AND prev IS NOT NULL AND prev <= 300.0),
      hits AS (
        SELECT burst_start_ms, burst_end_ms,
          CAST(COUNT(*) AS BIGINT) AS n_crossings,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_series,
          MIN(t_ms) AS first_crossing_ms
        FROM crossings JOIN bursts
          ON t_ms >= burst_start_ms - 300000 AND t_ms < burst_end_ms + 60000 + 300000
        GROUP BY 1, 2)
      SELECT b2.burst_start_ms, b2.burst_end_ms,
        COALESCE(n_crossings, 0) AS n_crossings,
        COALESCE(n_series, 0) AS n_series,
        COALESCE(first_crossing_ms, -1) AS first_crossing_ms
      FROM bursts b2 LEFT JOIN hits USING (burst_start_ms, burst_end_ms)
      ORDER BY burst_start_ms""")),

    GraftQuery("m_histo_calib", (s, dir) => {
      // sketch-accuracy gate for the histogram family — the
      // calibration discipline l_pq_recall (ANN) and l_minhash_calib
      // (MinHash) already apply, closed over the third sketch: per
      // event type, p95 from the 50-bin histogram vs the EXACT
      // interpolated p95, plus the signed error. Both derivations in
      // ONE partial-agg pass (the sketch UDAF and the exact percentile
      // share a groupBy); at 100 TB the exact column is the audit you
      // run on a sample to size the sketch's bin budget, the sketch is
      // what dashboards serve.
      val h = events(s, dir).groupBy("event_type").agg(
        graft.functions.Histograms.makeHistogram(0.0, 500.0, 50, col("value")).as("h"),
        percentile(col("value"), lit(0.95)).as("p95e"))
      h.select(col("event_type"),
          round(graft.functions.Histograms.quantileFromHistogram(col("h"), 0.95), 4)
            .as("p95_hist"),
          round(col("p95e"), 4).as("p95_exact"),
          round(graft.functions.Histograms.quantileFromHistogram(col("h"), 0.95)
            - col("p95e"), 4).as("err"))
        .orderBy("event_type")
    }, Some("""
      WITH c AS (
        SELECT event_type,
          LEAST(GREATEST(CAST(FLOOR(value/10.0) AS BIGINT), 0), 49) AS bin_idx,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT event_type, bin_idx, CAST(cnt AS DOUBLE) AS cnt,
          CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin_idx) AS DOUBLE) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY event_type) AS DOUBLE) AS total
        FROM c),
      est AS (
        SELECT event_type,
          min_by(
            (1.0 - ((total*0.95 - (cum-cnt))/cnt)) * (0.0 + bin_idx*10.0)
            + ((total*0.95 - (cum-cnt))/cnt) * (0.0 + (bin_idx+1)*10.0),
            bin_idx) FILTER (WHERE cum >= total*0.95 AND cnt > 0) AS q
        FROM cum GROUP BY event_type),
      ex AS (
        SELECT event_type, quantile_cont(value, 0.95) AS p95e
        FROM events GROUP BY 1)
      SELECT est.event_type, round(COALESCE(q, 500.0), 4) AS p95_hist,
        round(p95e, 4) AS p95_exact,
        round(COALESCE(q, 500.0) - p95e, 4) AS err
      FROM est JOIN ex USING (event_type)
      ORDER BY event_type""")),

    GraftQuery("m_hll_daily_merge", (s, dir) => {
      // distinct-users-over-any-range from DAILY sketches — the reason
      // mergeable sketches exist in a lakehouse: the daily register
      // table is what a materializer persists per day partition
      // (16 rows per (type, day)); answering a two-week question then
      // touches sketch rows, never raw events. Spark takes the
      // daily-merge route (registers per (type, day) → max-merge over
      // the queried days); the ORACLE builds registers directly over
      // the range — the hash match proves max-merge associativity
      // cross-engine. Exact count joined alongside for honesty, as in
      // q_hll_sketch.
      val from = 1704672000000L // 2024-01-08T00:00Z
      val until = 1705881600000L // 2024-01-22T00:00Z (exclusive)
      val e = events(s, dir)
      val daily = graft.operators.Hll.registers(
        e.withColumn("day_ms", epochMs(date_trunc("day", col("ts")))),
        Seq("event_type", "day_ms"), col("user_id"))
      val merged = daily
        .where(col("day_ms") >= from && col("day_ms") < until)
        .groupBy("event_type", "idx").agg(max("mrho").as("mrho"))
      val sk = graft.operators.Hll.estimate(merged, Seq("event_type"))
      val ex = e.where(epochMs(col("ts")) >= from && epochMs(col("ts")) < until)
        .groupBy("event_type").agg(countDistinct("user_id").as("exact_users"))
      sk.join(broadcast(ex), "event_type")
        .select(col("event_type"), col("n_reg"), col("n_zero"),
          round(col("hll_estimate"), 2).as("hll_estimate"), col("exact_users"))
        .orderBy("event_type")
    }, Some("""
      WITH x AS (
        SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM events
        WHERE epoch_ms(ts) >= 1704672000000 AND epoch_ms(ts) < 1705881600000),
      p AS (
        SELECT event_type,
          CAST(('0x' || substr(h, 1, 1)) AS INTEGER) AS idx,
          ltrim(substr(h, 2, 12), '0') AS r
        FROM x),
      rr AS (
        SELECT event_type, idx,
          CASE WHEN length(r) = 0 THEN 49
               ELSE (12 - length(r)) * 4 +
                 CASE WHEN substr(r,1,1) = '1' THEN 3
                      WHEN substr(r,1,1) IN ('2','3') THEN 2
                      WHEN substr(r,1,1) IN ('4','5','6','7') THEN 1
                      ELSE 0 END + 1 END AS rho
        FROM p),
      regs AS (SELECT event_type, idx, max(rho) AS mrho FROM rr GROUP BY 1, 2),
      sk AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_reg,
          CAST(sum(CAST(power(2.0, 49 - mrho) AS BIGINT)) AS BIGINT) +
            (16 - CAST(count(*) AS BIGINT)) * 562949953421312 AS den
        FROM regs GROUP BY 1),
      ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
             FROM events
             WHERE epoch_ms(ts) >= 1704672000000 AND epoch_ms(ts) < 1705881600000
             GROUP BY 1)
      SELECT sk.event_type, n_reg, 16 - n_reg AS n_zero,
        round(CAST(0.673 AS DOUBLE) * CAST(256.0 AS DOUBLE) * CAST(562949953421312.0 AS DOUBLE)
              / CAST(den AS DOUBLE), 2) AS hll_estimate,
        exact_users
      FROM sk JOIN ex USING (event_type)
      ORDER BY event_type""")),

    GraftQuery("m_depth_profile", (s, dir) => {
      spans(s, dir)
        .groupBy(col("user_id"), col("depth"))
        .agg(count(lit(1)).as("n_spans"),
          sum("duration_ms").as("total_duration_ms"),
          max("duration_ms").as("max_duration_ms"))
        .orderBy("user_id", "depth")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")}
      SELECT user_id, depth, CAST(count(*) AS BIGINT) AS n_spans,
        CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
        max(duration_ms) AS max_duration_ms
      FROM spans GROUP BY 1, 2
      ORDER BY user_id, depth""")))
}
