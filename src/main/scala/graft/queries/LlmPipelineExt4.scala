package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)
import graft.operators.TextAnalysis

/** Fourth LLM-pipeline tranche: embedding-space clustering and the
  * curation ops built on it.
  *
  *  - `l_cluster_assign`: k-means cluster ASSIGNMENT over int8-quantized
  *    vectors — integer L2 distances, so the argmin is bit-reproducible
  *    across engines (FP k-means assignment is not: sum order perturbs
  *    distances near ties).
  *  - `l_semantic_dedup`: SemDeDup (Abbas et al. 2023) — near-duplicate
  *    pruning INSIDE clusters, which bounds the pairwise term to
  *    O(sum cluster_size^2) instead of O(n^2); similarity is the
  *    quantized cosine, derived from integer dots.
  *  - `l_mixture_weights`: domain-mixture reweighting — per-source token
  *    budgets toward a uniform target mix (the DoReMi-lite/static
  *    sampling-weight table every training pipeline carries).
  */
object LlmPipelineExt4 {

  /** Assignments at the FIXED K=8 of the oracle gate: sample centroids
    * (the quantized vectors of vec_id 0..7) are deterministic and
    * recomputable by any engine from the raw table, unlike trained FP
    * centroids, whose group-sum order is engine-specific. The machinery
    * is the K-parameterized [[graft.operators.SemDeDup]] — the scale
    * path (K ∝ n/target_cluster_size, trained via Ann.kmeansRefine) is
    * covered by SemDeDupScaleSpec.
    */
  private def assignments(e: DataFrame): DataFrame =
    graft.operators.SemDeDup.assignments(e, 8)

  /** Oracle-side CTEs matching SemDeDup.quantize + assignment at
    * centroid count `kSql` (a SQL expression — a literal for the fixed
    * gate K, a scalar subquery for the scale-derived K): DuckDB has no
    * zip_with, so integer L2 comes from the dot identity
    * |a-b|^2 = a.a - 2 a.b + b.b (all three dots are exact integers).
    */
  private[queries] def assignSqlK(kSql: String) = s"""
      e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0,
                   1e-12) AS sc
        FROM embeddings),
      z AS (
        SELECT vec_id, sc,
          list_transform(v, x -> CAST(round(x / sc, 0) AS DOUBLE)) AS q
        FROM e),
      scored AS (
        SELECT a.vec_id, a.sc, a.q, c.vec_id AS cid,
          CAST(list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.q)
               + list_dot_product(c.q, c.q) AS BIGINT) AS idist
        FROM z a CROSS JOIN z c
        WHERE c.vec_id < ($kSql)),
      asn AS (
        SELECT vec_id, sc, q, cid AS cluster, idist,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY idist, cid) AS rk
        FROM scored)"""

  /** The fixed-K=8 CTE set (assignment demos whose cost is LINEAR in
    * n×K — l_cluster_assign, l_index_health). The quadratic consumer
    * (l_semantic_dedup) derives K from the corpus count instead.
    */
  private[queries] val assignSql = assignSqlK("8")

  /** Scale-correct centroid count as a SQL scalar, integer-exact on
    * both engines: K = greatest(8, ceil(n / 1250)). With balanced
    * clusters the within-cluster pair term is n²/K ≈ 1250·n — LINEAR
    * in corpus size, per SemDeDup's own doctrine (K ∝ n). Evaluates to
    * 8 whenever n ≤ 10k — every driver gate SF has ≤ 2000 vectors, so
    * gate results are bit-identical; the generated decade lakes get
    * K = 16 (sf1, 20k vectors) and 160 (sf10, 200k).
    */
  private[queries] val scaleKSql =
    "SELECT GREATEST(8, (count(*) + 1249) // 1250) FROM embeddings"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_cluster_assign", (s, dir) => {
      assignments(embs(s, dir))
        .select(col("vec_id"), col("cluster"), col("idist"))
        .orderBy("vec_id")
    }, Some(s"""
      WITH $assignSql
      SELECT vec_id, cluster, idist FROM asn WHERE rk = 1 ORDER BY vec_id""")),

    GraftQuery("l_semantic_dedup", (s, dir) => {
      // SemDeDup: within each cluster, drop a vector when an
      // earlier-id vector in the SAME cluster is too close. Quantized
      // cosine = idot / sqrt(|a|^2 |b|^2) — every input to the FP
      // expression is an exact integer and the expression tree is
      // written identically on both engines, so the threshold
      // comparison is deterministic. The cluster equi-join bounds the
      // quadratic term to the cluster granularity (the reason SemDeDup
      // clusters first); at 100 TB the join shuffles on cluster id and
      // each cluster's pairs stay inside one task.
      // Scale-correct K derived from the corpus row count, mirrored
      // exactly by the oracle's scalar subquery: K = 8 at every driver
      // gate SF, grows as n/1250 so the pair term stays linear. Found
      // at the sf10 decade: the fixed K=8 put 5B pairs in 8 skewed
      // tasks. The count comes from parquet FOOTER metadata (zero
      // Spark jobs, no data read — Tables.rowCount): the earlier
      // e.count() action was a full scan paid before the query proper,
      // a real cost at 100 TB (round-9 verdict item 7).
      val e = embs(s, dir)
      val k = math.max(8L, (Tables.rowCount(s, dir, "embeddings") + 1249L) / 1250L).toInt
      graft.operators.SemDeDup.dedup(
        graft.operators.SemDeDup.assignments(e, k), 0.4)
        .orderBy("vec_id")
    }, Some(s"""
      WITH ${assignSqlK(scaleKSql)},
      v AS (
        SELECT vec_id, cluster, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm
        FROM asn WHERE rk = 1),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE CAST(list_dot_product(a.q, b.q) AS BIGINT)
              / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) > 0.4)
      SELECT vec_id, cluster FROM v
      WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY vec_id""")),

    GraftQuery("l_mixture_weights", (s, dir) => {
      // domain-mixture reweighting: per-source sampling weight toward a
      // uniform token share — weight = min(1, (total/n_sources)/tokens).
      // Two tiny aggs; the corpus-level scalar is a 1-row broadcast
      // crossJoin (never a collect), the same shape as l_tfidf_top.
      val toks = docs(s, dir).select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val per = toks.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      val tot = per.agg(sum("tokens").as("total_tokens"),
        count(lit(1)).as("n_sources"))
      val raw = least(lit(1.0),
        col("total_tokens").cast("double") / col("n_sources").cast("double")
          / col("tokens").cast("double"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("tokens"),
          round(raw, 6).as("weight"),
          floor(raw * col("tokens").cast("double")).cast("long").as("budget_tokens"))
        .orderBy("source")
    }, Some("""
      WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
      tot AS (
        SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
          CAST(count(*) AS BIGINT) AS n_sources
        FROM per)
      SELECT source, n_docs, tokens,
        round(LEAST(CAST(1.0 AS DOUBLE),
          CAST(total_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE)
            / CAST(tokens AS DOUBLE)), 6) AS weight,
        CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
          CAST(total_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE)
            / CAST(tokens AS DOUBLE)) * CAST(tokens AS DOUBLE)) AS BIGINT) AS budget_tokens
      FROM per CROSS JOIN tot
      ORDER BY source"""))
  )
}
