package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eighteenth observability tranche: distribution-shift testing.
  *
  *  - `m_duration_shift`: per-name span-duration DISTRIBUTION shift
  *    across the deploy cutover — the two-sample Kolmogorov–Smirnov
  *    statistic at power-of-two sketch resolution: max CDF distance
  *    (e4 integer) between the before/after bucket histograms.
  *    m_deploy_compare answers "did the median move"; this catches
  *    the shifts a median hides (new bimodality, tail growth) — the
  *    statistically honest "did the deploy change latency" check.
  *
  * Scale shape: spans reduce to (name, period, bucket) counts in one
  * partial-agg pass; the dense grid, CDFs and the max-distance all
  * live on names × 2 × 42 rows. Windows are per (name, period) over
  * ≤42 buckets — never over spans.
  */
object ObservabilityExt18 {

  // deploy cutover: the corpus midpoint (Jan 16 2024 00:00 UTC) —
  // same constant as m_deploy_compare so the two views agree
  private val cutoverMs = 1705363200000L
  private val maxBucket = 41 // duration_ms < 2^41 ≈ 70 years

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_duration_shift", (s, dir) => {
      val counts = spans(s, dir).select(col("name"),
          when(col("begin_ms") < cutoverMs, "before").otherwise("after").as("period"),
          (length(bin(col("duration_ms"))).cast("long") - 1L).as("bucket"))
        .groupBy("name", "period", "bucket").agg(count(lit(1)).as("n"))
        .localCheckpoint() // grid + totals read it twice
      val names = counts.select("name").distinct()
      val buckets = s.range(maxBucket + 1).select(col("id").as("bucket"))
      val periods = s.createDataFrame(Seq(Tuple1("before"), Tuple1("after"))).toDF("period")
      val grid = names.crossJoin(broadcast(buckets)).crossJoin(broadcast(periods))
        .join(counts, Seq("name", "period", "bucket"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val cw = Window.partitionBy("name", "period").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("name", "period")
      val cdf = grid.withColumn("cum", sum("n").over(cw))
        .withColumn("total", sum("n").over(tw))
        .where(col("total") > 0L) // names absent from a period carry no CDF
        .withColumn("cdf_e4", expr("cum * 10000 div total"))
      val wide = cdf.groupBy("name", "bucket")
        .agg(
          sum(when(col("period") === "before", col("cdf_e4"))).as("cdf_before"),
          sum(when(col("period") === "after", col("cdf_e4"))).as("cdf_after"),
          sum(when(col("period") === "before", col("total"))).as("n_before"),
          sum(when(col("period") === "after", col("total"))).as("n_after"))
        .where(col("cdf_before").isNotNull && col("cdf_after").isNotNull)
      wide.groupBy("name")
        .agg(max(abs(col("cdf_before") - col("cdf_after"))).as("ks_e4"),
          max("n_before").as("n_before"), max("n_after").as("n_after"))
        .withColumn("shifted", (col("ks_e4") >= 2000L).cast("long"))
        .select("name", "n_before", "n_after", "ks_e4", "shifted")
        .orderBy("name")
    }, Some(s"""${ObservabilityExt2.oracleSpansCte("")},
      c AS (
        SELECT name,
          CASE WHEN begin_ms < $cutoverMs THEN 'before' ELSE 'after' END AS period,
          CAST(length(bin(duration_ms)) - 1 AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM spans GROUP BY 1, 2, 3),
      grid AS (
        SELECT nm.name, p.period, b.bucket, COALESCE(c.n, 0) AS n
        FROM (SELECT DISTINCT name FROM c) nm
        CROSS JOIN (SELECT unnest(range(0, ${maxBucket + 1})) AS bucket) b
        CROSS JOIN (SELECT unnest(['before', 'after']) AS period) p
        LEFT JOIN c ON c.name = nm.name AND c.period = p.period AND c.bucket = b.bucket),
      cdf AS (
        SELECT *,
          CAST(SUM(n) OVER (PARTITION BY name, period ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) * 10000
            // CAST(SUM(n) OVER (PARTITION BY name, period) AS BIGINT) AS cdf_e4,
          CAST(SUM(n) OVER (PARTITION BY name, period) AS BIGINT) AS total
        FROM grid
        QUALIFY total > 0),
      wide AS (
        SELECT name, bucket,
          SUM(CASE WHEN period = 'before' THEN cdf_e4 END) AS cdf_before,
          SUM(CASE WHEN period = 'after' THEN cdf_e4 END) AS cdf_after,
          SUM(CASE WHEN period = 'before' THEN total END) AS n_before,
          SUM(CASE WHEN period = 'after' THEN total END) AS n_after
        FROM cdf GROUP BY 1, 2
        HAVING cdf_before IS NOT NULL AND cdf_after IS NOT NULL)
      SELECT name,
        CAST(MAX(n_before) AS BIGINT) AS n_before,
        CAST(MAX(n_after) AS BIGINT) AS n_after,
        CAST(MAX(abs(cdf_before - cdf_after)) AS BIGINT) AS ks_e4,
        CAST(CASE WHEN MAX(abs(cdf_before - cdf_after)) >= 2000 THEN 1 ELSE 0 END AS BIGINT)
          AS shifted
      FROM wide GROUP BY 1 ORDER BY name"""), headline = true)
  )
}
