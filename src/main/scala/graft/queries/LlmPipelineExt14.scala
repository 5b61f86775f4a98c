package graft.queries

import graft.GraftQuery
import graft.operators.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourteenth LLM-pipeline tranche: eval integrity and corpus growth.
  *
  *  - `l_split_bias`: quality-distribution bias between the train
  *    split and each of val/test — the two-sample KS statistic (max
  *    CDF distance, e4) over quality deciles. Deterministic md5
  *    splitting (L25) guarantees no doc leaks; it does NOT guarantee
  *    the splits are distributionally exchangeable — this is the gate
  *    that checks eval actually measures the training distribution.
  *  - `l_novelty_curve`: marginal novelty as the corpus grows — docs
  *    in ingestion-order quarters, each hash credited to the quarter
  *    of its FIRST appearance (normalized fingerprint, L57's scrub):
  *    new-hash rate per quarter + cumulative distinct. The
  *    diminishing-returns curve a "do we need another crawl" decision
  *    reads.
  *
  * Scale shape: split bias reduces to (split, decile) counts in one
  * pass and runs KS on a 3×10 grid; the novelty curve is one
  * groupBy(hash) min + a 4-row rollup — first-appearance election is
  * the same partial-agg min pattern as exact dedup.
  */
object LlmPipelineExt14 {

  private val q10kSql = """CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT)"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_split_bias", (s, dir) => {
      val q10k = round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0).cast("long")
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)
      val sb = docsWide(s, dir)
        .select(
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"),
          least(floor(q10k / 1000).cast("long"), lit(9L)).as("bucket"))
        .groupBy("split", "bucket").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val buckets = s.range(10).select(col("id").as("bucket"))
      val splits = s.createDataFrame(Seq(Tuple1("train"), Tuple1("val"), Tuple1("test")))
        .toDF("split")
      val grid = splits.crossJoin(broadcast(buckets))
        .join(sb, Seq("split", "bucket"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val cw = Window.partitionBy("split").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("split")
      val cdf = grid.withColumn("cum", sum("n").over(cw))
        .withColumn("total", sum("n").over(tw))
        .withColumn("cdf_e4", expr("cum * 10000 div total"))
      val train = cdf.where(col("split") === "train")
        .select(col("bucket"), col("cdf_e4").as("train_cdf_e4"))
      cdf.where(col("split") =!= "train")
        .join(broadcast(train), "bucket")
        .groupBy("split")
        .agg(max("total").as("n_docs"),
          max(abs(col("cdf_e4") - col("train_cdf_e4"))).as("ks_vs_train_e4"))
        .withColumn("biased", (col("ks_vs_train_e4") >= 1500L).cast("long"))
        .orderBy("split")
    }, Some(s"""
      WITH f AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT CASE
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967296.0 < 0.8 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967296.0 < 0.9 THEN 'val'
            ELSE 'test' END AS split,
          LEAST($q10kSql // 1000, 9) AS bucket
        FROM f),
      sb AS (SELECT split, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
      grid AS (
        SELECT sp.split, b.bucket, COALESCE(sb.n, 0) AS n
        FROM (SELECT unnest(['train', 'val', 'test']) AS split) sp
        CROSS JOIN (SELECT unnest(range(10)) AS bucket) b
        LEFT JOIN sb ON sb.split = sp.split AND sb.bucket = b.bucket),
      cdf AS (
        SELECT *,
          CAST(SUM(n) OVER (PARTITION BY split ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) * 10000
            // CAST(SUM(n) OVER (PARTITION BY split) AS BIGINT) AS cdf_e4,
          CAST(SUM(n) OVER (PARTITION BY split) AS BIGINT) AS total
        FROM grid),
      tr AS (SELECT bucket, cdf_e4 AS train_cdf_e4 FROM cdf WHERE split = 'train')
      SELECT c.split, CAST(MAX(c.total) AS BIGINT) AS n_docs,
        CAST(MAX(abs(c.cdf_e4 - tr.train_cdf_e4)) AS BIGINT) AS ks_vs_train_e4,
        CAST(CASE WHEN MAX(abs(c.cdf_e4 - tr.train_cdf_e4)) >= 1500 THEN 1 ELSE 0 END
             AS BIGINT) AS biased
      FROM cdf c JOIN tr USING (bucket)
      WHERE c.split <> 'train'
      GROUP BY 1 ORDER BY split""")),

    GraftQuery("l_novelty_curve", (s, dir) => {
      val norm = call_function("graft_normalize", col("text"))
      val d = docsWide(s, dir).select(col("doc_id"), md5(norm).as("h"))
        .localCheckpoint() // scalar + first-appearance + per-quarter reads
      // ingestion-order quarters off the id space (deterministic, no
      // sort): quarter = doc_id * 4 div (max_id + 1)
      val maxId = d.agg(max("doc_id").as("m"))
      val withQ = d.crossJoin(broadcast(maxId))
        .withColumn("quarter", expr("least(doc_id * 4 div (m + 1), 3)"))
      val perQuarter = withQ.groupBy("quarter").agg(count(lit(1)).as("n_docs"))
      // each hash credited to the quarter of its FIRST appearance
      val firstQ = withQ.groupBy("h").agg(min("quarter").as("quarter"))
        .groupBy("quarter").agg(count(lit(1)).as("n_new_hashes"))
      val w = Window.orderBy("quarter").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perQuarter.join(firstQ, Seq("quarter"), "left")
        .withColumn("n_new_hashes", coalesce(col("n_new_hashes"), lit(0L)))
        .withColumn("novelty_e4", expr("n_new_hashes * 10000 div n_docs"))
        .withColumn("cum_distinct", sum("n_new_hashes").over(w))
        .select("quarter", "n_docs", "n_new_hashes", "novelty_e4", "cum_distinct")
        .orderBy("quarter")
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                  '\s+', ' ', 'g'))) AS h
        FROM documents),
      m AS (SELECT MAX(doc_id) AS m FROM d),
      q AS (SELECT doc_id, h, LEAST(doc_id * 4 // (m.m + 1), 3) AS quarter FROM d, m),
      pq AS (SELECT quarter, CAST(COUNT(*) AS BIGINT) AS n_docs FROM q GROUP BY 1),
      fq AS (
        SELECT quarter, CAST(COUNT(*) AS BIGINT) AS n_new_hashes
        FROM (SELECT h, MIN(quarter) AS quarter FROM q GROUP BY h) GROUP BY 1)
      SELECT pq.quarter, pq.n_docs,
        COALESCE(fq.n_new_hashes, 0) AS n_new_hashes,
        COALESCE(fq.n_new_hashes, 0) * 10000 // pq.n_docs AS novelty_e4,
        CAST(SUM(COALESCE(fq.n_new_hashes, 0)) OVER (ORDER BY pq.quarter
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct
      FROM pq LEFT JOIN fq USING (quarter)
      ORDER BY quarter"""))
  )
}
