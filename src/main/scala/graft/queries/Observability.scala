package graft.queries

import graft.{GraftQuery, Lakehouse}
import graft.functions.Histograms
import graft.operators.SpanAssembly
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Micromegas observability surface (SURVEY §2 M-series) mapped onto the
  * test data: log/measure views, incremental log_stats, property
  * extraction, the histogram function family, and span assembly.
  */
object Observability {

  /** Histogram params used across the M5–M9 queries. */
  private val HStart = 0.0
  private val HEnd = 500.0
  private val HBins = 50

  private def histoPerType(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).groupBy("event_type")
      .agg(Histograms.makeHistogram(HStart, HEnd, HBins, col("value")).as("h"))
  }

  /** DuckDB-side binned counts including empty bins (clamped floor,
    * identical to the reference accumulator).
    */
  private val oracleBins = s"""
      WITH c AS (
        SELECT event_type,
          LEAST(GREATEST(CAST(FLOOR(value/10.0) AS BIGINT), 0), 49) AS bin_idx,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      et AS (SELECT DISTINCT event_type FROM events),
      b AS (SELECT CAST(range AS BIGINT) AS bin_idx FROM range(0, 50))"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_log_entries", (s, dir) => {
      new Lakehouse(s, dir).logEntries
        .where(col("level") <= 4)
        .select("time_ms", "event_id", "process_id", "level", "target", "msg")
        .orderBy("time_ms", "event_id")
    }, Some("""
      SELECT epoch_ms(ts) AS time_ms, event_id, CAST(user_id AS VARCHAR) AS process_id,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        event_type AS target,
        'event ' || CAST(event_id AS VARCHAR) AS msg
      FROM events
      WHERE (CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END) <= 4
      ORDER BY time_ms, event_id""")),

    GraftQuery("m_measures_stats", (s, dir) => {
      new Lakehouse(s, dir).measures
        .groupBy("name")
        .agg(count(lit(1)).as("n"),
          round(min("value"), 2).as("min_value"),
          round(max("value"), 2).as("max_value"),
          round(avg("value"), 4).as("avg_value"),
          expr(CoreSql.money(s"sum(${CoreSql.decValue})")).as("sum_value"))
        .orderBy("name")
    }, Some(s"""
      SELECT event_type AS name, CAST(count(*) AS BIGINT) AS n,
        round(min(value),2) AS min_value, round(max(value),2) AS max_value,
        round(avg(value),4) AS avg_value, ${CoreSql.money(s"sum(${CoreSql.decValue})")} AS sum_value
      FROM events GROUP BY 1 ORDER BY name""")),

    GraftQuery("m_log_stats", (s, dir) => {
      new Lakehouse(s, dir).logStats
        .groupBy("time_bin_ms", "level")
        .agg(sum("count").as("count"))
        .orderBy("time_bin_ms", "level")
    }, Some("""
      SELECT epoch_ms(date_trunc('minute', ts)) AS time_bin_ms,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        CAST(count(*) AS BIGINT) AS count
      FROM events GROUP BY 1, 2 ORDER BY time_bin_ms, level"""), headline = true),

    GraftQuery("m_property_get", (s, dir) => {
      events(s, dir).select(col("event_id"), col("event_type"),
          call_function("graft_property_get", col("props"), lit("k")).cast("int").as("k"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, event_type,
        CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
      FROM events ORDER BY event_id""")),

    GraftQuery("m_histogram", (s, dir) => {
      histoPerType(s, dir)
        .select(col("event_type"), posexplode(col("h.bins")).as(Seq("bin_idx", "cnt")))
        .select(col("event_type"), col("bin_idx").cast("long").as("bin_idx"), col("cnt"))
        .orderBy("event_type", "bin_idx")
    }, Some(s"""$oracleBins
      SELECT et.event_type, b.bin_idx, COALESCE(c.cnt, 0) AS cnt
      FROM et CROSS JOIN b
      LEFT JOIN c ON c.event_type = et.event_type AND c.bin_idx = b.bin_idx
      ORDER BY 1, 2"""), headline = true),

    GraftQuery("m_histo_quantile", (s, dir) => {
      val ratios = Seq(0.5, 0.9, 0.99)
      histoPerType(s, dir)
        .select(col("event_type"), explode(array(ratios.map(r =>
          struct(lit(r).as("ratio"),
            round(Histograms.quantileFromHistogram(col("h"), r), 4).as("q"))): _*)).as("x"))
        .select(col("event_type"), col("x.ratio").as("ratio"), col("x.q").as("q"))
        .orderBy("event_type", "ratio")
    }, Some(s"""$oracleBins,
      cum AS (
        SELECT event_type, bin_idx, CAST(cnt AS DOUBLE) AS cnt,
          CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin_idx) AS DOUBLE) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY event_type) AS DOUBLE) AS total
        FROM c),
      est AS (
        SELECT event_type, r.ratio,
          min_by(
            (1.0 - ((total*r.ratio - (cum-cnt))/cnt)) * (0.0 + bin_idx*10.0)
            + ((total*r.ratio - (cum-cnt))/cnt) * (0.0 + (bin_idx+1)*10.0),
            bin_idx) FILTER (WHERE cum >= total*r.ratio AND cnt > 0) AS q
        FROM cum, (SELECT unnest([0.5, 0.9, 0.99]) AS ratio) r
        GROUP BY event_type, r.ratio)
      SELECT event_type, ratio, round(COALESCE(q, 500.0), 4) AS q
      FROM est ORDER BY event_type, ratio"""), headline = true),

    GraftQuery("m_histo_timeseries", (s, dir) => {
      // the reference's flagship dashboard shape: p95-over-time from
      // per-hour histogram sketches (one partial-agg pass; at scale the
      // sketches come straight from materialized minute partitions via
      // sum_histograms instead of raw events)
      events(s, dir)
        .groupBy(epochMs(date_trunc("hour", col("ts"))).as("hour_ms"))
        .agg(Histograms.makeHistogram(HStart, HEnd, HBins, col("value")).as("h"))
        .select(col("hour_ms"),
          round(Histograms.quantileFromHistogram(col("h"), 0.95), 4).as("p95"),
          Histograms.countFromHistogram(col("h")).as("n"))
        .orderBy("hour_ms")
    }, Some("""
      WITH c AS (
        SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
          LEAST(GREATEST(CAST(FLOOR(value/10.0) AS BIGINT), 0), 49) AS bin_idx,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT hour_ms, bin_idx, CAST(cnt AS DOUBLE) AS cnt,
          CAST(SUM(cnt) OVER (PARTITION BY hour_ms ORDER BY bin_idx) AS DOUBLE) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY hour_ms) AS DOUBLE) AS total
        FROM c),
      est AS (
        SELECT hour_ms,
          min_by(
            (1.0 - ((total*0.95 - (cum-cnt))/cnt)) * (0.0 + bin_idx*10.0)
            + ((total*0.95 - (cum-cnt))/cnt) * (0.0 + (bin_idx+1)*10.0),
            bin_idx) FILTER (WHERE cum >= total*0.95 AND cnt > 0) AS q,
          CAST(any_value(total) AS BIGINT) AS n
        FROM cum GROUP BY hour_ms)
      SELECT hour_ms, round(COALESCE(q, 500.0), 4) AS p95, n
      FROM est ORDER BY hour_ms""")),

    GraftQuery("m_histo_stats", (s, dir) => {
      histoPerType(s, dir)
        .select(col("event_type"),
          Histograms.countFromHistogram(col("h")).as("cnt"),
          round(Histograms.sumFromHistogram(col("h")), 2).as("s"),
          round(Histograms.varianceFromHistogram(col("h")), 2).as("var"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, CAST(count(value) AS BIGINT) AS cnt,
        round(sum(value),2) AS s,
        round(((sum(value*value)/count(value)) - (sum(value)/count(value))*(sum(value)/count(value)))
              * (CAST(count(value) AS DOUBLE)/(count(value)-1)), 2) AS var
      FROM events GROUP BY 1 ORDER BY event_type""")),

    GraftQuery("m_histo_merge", (s, dir) => {
      // build per-minute histograms, then merge with sum_histograms —
      // must equal the direct histogram (merge associativity)
      val perMin = events(s, dir)
        .groupBy(date_trunc("minute", col("ts")).as("minute"), col("event_type"))
        .agg(Histograms.makeHistogram(HStart, HEnd, HBins, col("value")).as("h"))
      perMin.groupBy("event_type")
        .agg(Histograms.sumHistograms(col("h")).as("h"))
        .select(col("event_type"), posexplode(col("h.bins")).as(Seq("bin_idx", "cnt")))
        .select(col("event_type"), col("bin_idx").cast("long").as("bin_idx"), col("cnt"))
        .orderBy("event_type", "bin_idx")
    }, Some(s"""$oracleBins
      SELECT et.event_type, b.bin_idx, COALESCE(c.cnt, 0) AS cnt
      FROM et CROSS JOIN b
      LEFT JOIN c ON c.event_type = et.event_type AND c.bin_idx = b.bin_idx
      ORDER BY 1, 2""")),

    GraftQuery("m_histo_expand", (s, dir) => {
      val h = histoPerType(s, dir)
      Histograms.expand(h, col("h"), Seq(col("event_type")))
        .select(col("event_type"), col("bin_idx").cast("long").as("bin_idx"),
          round(col("bin_center"), 4).as("bin_center"), col("count"))
        .orderBy("event_type", "bin_idx")
    }, Some(s"""$oracleBins
      SELECT et.event_type, b.bin_idx,
        round(0.0 + (CAST(b.bin_idx AS DOUBLE) + 0.5) * 10.0, 4) AS bin_center,
        COALESCE(c.cnt, 0) AS count
      FROM et CROSS JOIN b
      LEFT JOIN c ON c.event_type = et.event_type AND c.bin_idx = b.bin_idx
      ORDER BY 1, 2""")),

    GraftQuery("m_span_assembly", (s, dir) => {
      SpanAssembly.consecutiveSpans(events(s, dir), "user_id", epochMs(col("ts")), "event_id", "event_type")
        .select("user_id", "event_id", "name", "begin_ms", "end_ms", "duration_ms")
        .orderBy("user_id", "begin_ms", "event_id")
    }, Some("""
      WITH sp AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS begin_ms,
          LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS end_ms
        FROM events)
      SELECT user_id, event_id, name, begin_ms, end_ms, end_ms - begin_ms AS duration_ms
      FROM sp WHERE end_ms IS NOT NULL
      ORDER BY user_id, begin_ms, event_id"""), headline = true),

    GraftQuery("m_spans_topk", (s, dir) => {
      val spans = SpanAssembly.consecutiveSpans(events(s, dir), "user_id", epochMs(col("ts")), "event_id", "event_type")
      val w = Window.partitionBy("name").orderBy(col("duration_ms").desc, col("user_id"), col("event_id"))
      spans.withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select("name", "rk", "user_id", "event_id", "duration_ms")
        .orderBy("name", "rk")
    }, Some("""
      WITH sp AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS begin_ms,
          LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS end_ms
        FROM events),
      d AS (
        SELECT user_id, event_id, name, end_ms - begin_ms AS duration_ms
        FROM sp WHERE end_ms IS NOT NULL),
      r AS (
        SELECT name, user_id, event_id, duration_ms,
          ROW_NUMBER() OVER (PARTITION BY name ORDER BY duration_ms DESC, user_id, event_id) AS rk
        FROM d)
      SELECT name, rk, user_id, event_id, duration_ms FROM r WHERE rk <= 5
      ORDER BY name, rk""")),

    GraftQuery("m_json_funcs", (s, dir) => {
      val e = events(s, dir)
      val k = get_json_object(col("props"), "$.k")
      e.select(col("event_type"), k.cast("long").as("k_i"), k.cast("double").as("k_f"))
        .groupBy("event_type")
        .agg(count(col("k_i")).as("n_k"),
          sum(col("k_i")).as("sum_k"),
          round(avg(col("k_f")), 4).as("avg_k"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type,
        CAST(count(k) AS BIGINT) AS n_k,
        CAST(sum(k) AS BIGINT) AS sum_k,
        round(avg(CAST(k AS DOUBLE)), 4) AS avg_k
      FROM (SELECT event_type, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k FROM events)
      GROUP BY event_type ORDER BY event_type""")),

    GraftQuery("m_view_instance", (s, dir) => {
      new Lakehouse(s, dir).viewInstance("log_entries", "7")
        .select("time_ms", "event_id", "level", "target", "msg")
        .orderBy("time_ms", "event_id")
    }, Some("""
      SELECT epoch_ms(ts) AS time_ms, event_id,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        event_type AS target,
        'event ' || CAST(event_id AS VARCHAR) AS msg
      FROM events WHERE CAST(user_id AS VARCHAR) = '7'
      ORDER BY time_ms, event_id""")),

    GraftQuery("m_process_spans", (s, dir) => {
      // process_spans UDTF analog (reference: lakehouse/query.rs:138):
      // the JIT span view scoped to one process; the process filter
      // pushes through the assembly window into the scan
      new Lakehouse(s, dir).viewInstance("thread_spans", "7")
        .select("process_id", "event_id", "name", "begin_ms", "end_ms", "duration_ms")
        .orderBy("begin_ms", "event_id")
    }, Some("""
      WITH sp AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_id,
          event_type AS name, epoch_ms(ts) AS begin_ms,
          LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS end_ms
        FROM events WHERE CAST(user_id AS VARCHAR) = '7')
      SELECT process_id, event_id, name, begin_ms, end_ms, end_ms - begin_ms AS duration_ms
      FROM sp WHERE end_ms IS NOT NULL
      ORDER BY begin_ms, event_id""")),

    GraftQuery("m_math_funcs", (s, dir) => {
      // lerp/unlerp/bin_center (reference: datafusion-extensions/src/math, binning)
      val e = events(s, dir).where(col("event_id") < 1000)
      val v = col("value")
      val lerp = lit(10.0) + (lit(20.0) - lit(10.0)) * (v / lit(500.0))
      val unlerp = (v - lit(0.0)) / (lit(500.0) - lit(0.0))
      val binIdx = least(greatest(floor(v / lit(10.0)).cast("long"), lit(0L)), lit(49L))
      val binCenter = lit(0.0) + (binIdx.cast("double") + lit(0.5)) * lit(10.0)
      e.select(col("event_id"),
          round(lerp, 6).as("lerp_v"),
          round(unlerp, 6).as("unlerp_v"),
          round(binCenter, 4).as("bin_center"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id,
        round(10.0 + (20.0 - 10.0) * (value / 500.0), 6) AS lerp_v,
        round((value - 0.0) / (500.0 - 0.0), 6) AS unlerp_v,
        round(0.0 + (CAST(LEAST(GREATEST(CAST(FLOOR(value/10.0) AS BIGINT), 0), 49) AS DOUBLE) + 0.5) * 10.0, 4) AS bin_center
      FROM events WHERE event_id < 1000 ORDER BY event_id""")),

    GraftQuery("m_rollup_merge", (s, dir) => {
      // minute partitions merged into hour partitions (reference merge.rs
      // shape): second-stage agg over the first-stage aggregate
      val perMinute = events(s, dir)
        .groupBy(epochMs(date_trunc("minute", col("ts"))).as("minute_ms"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 6).as("sum_v"))
      perMinute
        .groupBy((col("minute_ms") - pmod(col("minute_ms"), lit(3600000L))).as("hour_ms"), col("event_type"))
        .agg(sum("cnt").as("cnt"))
        .orderBy("hour_ms", "event_type")
    }, Some("""
      SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""")),

    GraftQuery("m_async_spans", (s, dir) => {
      val e = events(s, dir)
      SpanAssembly.beginEndSpans(e, "user_id", epochMs(col("ts")), "event_id", "event_type",
          col("event_type").isin("signup", "view"))
        .select("user_id", "span_id", "name", "depth", "begin_ms", "end_ms", "duration_ms")
        .orderBy("user_id", "begin_ms", "span_id")
    }, Some("""
      WITH tagged AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS t_ms,
          (event_type IN ('signup','view')) AS is_begin,
          CASE WHEN event_type IN ('signup','view') THEN 1 ELSE -1 END AS delta
        FROM events),
      d AS (
        SELECT *, SUM(delta) OVER (PARTITION BY user_id ORDER BY t_ms, event_id ROWS UNBOUNDED PRECEDING) AS post_depth
        FROM tagged),
      dd AS (
        SELECT *, CASE WHEN is_begin THEN post_depth - 1 ELSE post_depth END AS depth FROM d),
      sq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, depth, is_begin ORDER BY t_ms, event_id) AS seq FROM dd),
      b AS (SELECT user_id, depth, seq, name, t_ms AS begin_ms, event_id AS span_id FROM sq WHERE is_begin),
      e AS (SELECT user_id, depth, seq, t_ms AS end_ms FROM sq WHERE NOT is_begin)
      SELECT b.user_id, span_id, name, CAST(depth AS BIGINT) AS depth, begin_ms, end_ms,
        end_ms - begin_ms AS duration_ms
      FROM b JOIN e USING (user_id, depth, seq)
      WHERE end_ms >= begin_ms
      ORDER BY user_id, begin_ms, span_id"""))
  )
}
