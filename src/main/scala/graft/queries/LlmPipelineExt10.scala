package graft.queries

import graft.GraftQuery
import graft.operators.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Curation-pipeline tranche 10: the statistics layer under embedding
  * preprocessing and cross-source score calibration.
  *
  *  - `l_gram_matrix`: exact integer Gram/scatter matrix over the
  *    scaled-integer embedding corpus (upper triangle of XᵀX) — THE
  *    input to offline PCA/whitening/covariance (subtract the mean
  *    outer product downstream). On Spark this is the classic
  *    map-side-partial trick: each partition accumulates its local
  *    2080-cell triangle, the shuffle carries cells × partitions rows
  *    — never the vectors. All-integer (round(x·1000) BIGINT), so the
  *    matrix is bit-identical across engines and partitionings.
  *  - `l_quality_quantile_norm`: per-source quantile normalization of
  *    the quality score — percentile rank e4 within source — the
  *    calibration step before cross-source mixing ("CommonCrawl 0.8 ≠
  *    books 0.8"; ranks compare, raw scores don't).
  *  - `l_length_histogram`: per-source power-of-two sequence-length
  *    histogram (bucket = floor(log2(tokens)) via bit length) — the
  *    packing-planner input: how many 2^k-token docs exist decides
  *    window size and padding waste before anyone trains.
  *
  * Scale shape: the Gram shuffle is bounded by cells×partitions
  * regardless of corpus size; quantile norm windows within source
  * partitions only; the histogram is one partial-agg HashAggregate
  * on (source, bucket) — ≤ sources×64 groups.
  */
object LlmPipelineExt10 {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_gram_matrix", (s, dir) => {
      val q = embsWide(s, dir).select(
        transform(col("embedding").cast("array<double>"),
          x => round(x * 1000, 0).cast("long")).as("qv"))
      // ONE aggregate pass (graft_gram_upper, r15): each vector enters
      // the agg as a single row and the d(d+1)/2 multiply-adds run in
      // a tight primitive loop over a per-partition 2080-cell long
      // buffer — the former double posexplode fed n·2080 generated
      // rows (416M at sf10) through hashing/grouping to produce the
      // same 2080 cells. Exact integer sums in any merge order;
      // GramAggSpec pins equality against the composed explode form.
      q.agg(call_function("graft_gram_upper", col("qv")).as("cells"))
        .select(explode(col("cells")).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"), col("c.g").as("g"))
        .orderBy("i", "j")
    }, Some("""
      WITH q AS (
        SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
        FROM embeddings),
      cells AS (
        SELECT ii.i, jj.j, SUM(qv[ii.i + 1] * qv[jj.j + 1]) AS g
        FROM q
        CROSS JOIN (SELECT CAST(range AS BIGINT) AS i FROM range(0, 64)) ii
        CROSS JOIN (SELECT CAST(range AS BIGINT) AS j FROM range(0, 64)) jj
        WHERE jj.j >= ii.i
        GROUP BY 1, 2)
      SELECT i, j, CAST(g AS BIGINT) AS g FROM cells ORDER BY i, j"""), headline = true),

    GraftQuery("l_quality_quantile_norm", (s, dir) => {
      // percentile rank e4 of the quality score WITHIN source —
      // rank-based calibration so scores compare across sources.
      // row_number (doc_id tie-break) keeps the rank deterministic
      // under equal scores; pct = (rk-1)·10⁴ div (n-1), 0 for a
      // single-doc source.
      val scored = docsWide(s, dir).select(col("doc_id"), col("source"),
        round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0)
          .cast("long").as("q10k"))
      val w = Window.partitionBy("source").orderBy(col("q10k"), col("doc_id"))
      scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .select(col("doc_id"), col("source"), col("q10k").as("quality_e4"),
          when(col("n") > 1L, expr("(rk - 1) * 10000 div (n - 1)"))
            .otherwise(0L).as("pct_e4"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH ${oracleQ10kWithSource},
      r AS (
        SELECT doc_id, source, q10k,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY q10k, doc_id) AS rk,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM q)
      SELECT doc_id, source, q10k AS quality_e4,
        CAST(CASE WHEN n > 1 THEN (rk - 1) * 10000 // (n - 1) ELSE 0 END AS BIGINT) AS pct_e4
      FROM r ORDER BY doc_id""")),

    GraftQuery("l_length_histogram", (s, dir) => {
      val d = docsWide(s, dir).select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
      d.withColumn("bucket", length(bin(col("toks"))).cast("long") - 1L)
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("sum_tokens"))
        .orderBy("source", "bucket")
    }, Some("""
      WITH d AS (
        SELECT source, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        FROM documents)
      SELECT source, CAST(length(bin(toks)) - 1 AS BIGINT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(toks) AS BIGINT) AS sum_tokens
      FROM d GROUP BY 1, 2 ORDER BY source, bucket"""))
  )

  /** q10k per doc WITH source (the l_curation_pipeline scorer). */
  private def oracleQ10kWithSource: String = """qf AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT doc_id, source,
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS q10k
        FROM qf)"""
}
