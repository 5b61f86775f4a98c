package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Curation-pipeline tranche 3: training-set assembly operators —
  * overlapping chunk splitting (context-window shaping), int8 embedding
  * quantization accounting, deterministic train/val/test assignment,
  * TF-IDF salient-term extraction, and MOSS-style winnowing
  * fingerprints. Every output is integer- or md5-exact (or graft-round
  * double) so the DuckDB oracle compares byte-identically.
  */
object LlmPipelineExt3 {

  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_chunk_split", (s, dir) => {
      // overlapping sliding-window chunking (window 48 tokens, stride
      // 32): how pretraining corpora are cut into model context
      // windows. Per-row array math + one explode — no joins, no
      // driver state; rides the scan at any scale.
      val W = 48
      val S = 32
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val starts = sequence(lit(0), greatest(size(t) - 1, lit(0)), lit(S))
      docsWide(s, dir)
        // outer explode + null guard: keeps the token kernel out of a
        // scan-side inferred filter; starts is never empty (greatest
        // clamps the upper bound to >= 0), so the form is row-identical
        .select(col("doc_id"), t.as("t"), explode_outer(starts).as("start"))
        .where(col("start").isNotNull)
        .select(col("doc_id"), (col("start") / S).cast("long").as("chunk_idx"),
          col("start").cast("long").as("start"),
          size(slice(col("t"), col("start") + 1, lit(W))).cast("long").as("n_chunk_tokens"),
          md5(array_join(slice(col("t"), col("start") + 1, lit(W)), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      st AS (SELECT doc_id, t, unnest(range(0, GREATEST(len(t), 1), 32)) AS start FROM tok)
      SELECT doc_id, start // 32 AS chunk_idx, CAST(start AS BIGINT) AS start,
        CAST(len(t[start+1 : start+48]) AS BIGINT) AS n_chunk_tokens,
        md5(array_to_string(t[start+1 : start+48], ' ')) AS chunk_hash
      FROM st ORDER BY doc_id, chunk_idx""")),

    GraftQuery("l_embed_quantize", (s, dir) => {
      // symmetric int8 quantization of the embedding column (the
      // memory-bandwidth play for 100 TB ANN: 4x smaller vectors,
      // integer SIMD distance): per-vector scale = max|v|/127,
      // q_i = round(v_i/scale). Pure per-row array math — zero shuffle.
      val e = col("embedding").cast("array<double>")
      val sc = greatest(array_max(transform(e, v => abs(v))) / lit(127.0), lit(1e-12))
      val q = transform(e, v => round(v / col("sc"), 0).cast("long"))
      embsWide(s, dir)
        .withColumn("sc", sc)
        .withColumn("q", q)
        .select(col("vec_id"), round(col("sc"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
          array_min(col("q")).as("min_q"), array_max(col("q")).as("max_q"),
          size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"))
        .orderBy("vec_id")
    }, Some("""
      WITH e AS (SELECT vec_id, embedding,
          GREATEST(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0,
                   1e-12) AS sc
        FROM embeddings),
      q AS (SELECT vec_id, sc,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)/sc, 0) AS BIGINT)) AS q
        FROM e)
      SELECT vec_id, round(sc, 6) AS scale,
        CAST(list_sum(q) AS BIGINT) AS sum_q,
        list_min(q) AS min_q, list_max(q) AS max_q,
        CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
      FROM q ORDER BY vec_id""")),

    GraftQuery("l_ann_int8", (s, dir) => {
      // quantized ANN: top-k by int8×int8 dot product — the retrieval
      // path l_embed_quantize exists for (4× less memory bandwidth,
      // integer SIMD). The integer dot is EXACT (|term| ≤ 127², 64
      // dims → far inside both long and double-53-bit range), so
      // ranking is deterministic cross-engine; the descaled
      // approximate dot idot·s_a·s_b is a product of identically-
      // computed doubles. Queries broadcast; the corpus never
      // shuffles.
      val e = embsWide(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
        .withColumn("sc", greatest(array_max(transform(col("v"), x => abs(x))) / lit(127.0),
          lit(1e-12)))
        .withColumn("q", transform(col("v"), x => round(x / col("sc"), 0).cast("long")))
        .select(col("vec_id"), col("sc"), col("q"))
      val qs = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("sc").as("sa"), col("q").as("qa"))
      val scored = e.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          aggregate(zip_with(col("qa"), col("q"), (x, y) => x * y),
            lit(0L), (acc, x) => acc + x).as("idot"),
          col("sa"), col("sc"))
      val w = Window.partitionBy("query_id").orderBy(col("idot").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w).cast("long")).where(col("rk") <= 10)
        .select(col("query_id"), col("rk"), col("neighbor_id"), col("idot"),
          round(col("idot").cast("double") * col("sa") * col("sc"), 4).as("approx_dot"))
        .orderBy("query_id", "rk")
    }, Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0,
                   1e-12) AS sc
        FROM embeddings),
      z AS (
        SELECT vec_id, sc,
          list_transform(v, x -> CAST(round(x / sc, 0) AS DOUBLE)) AS q
        FROM e),
      sim AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          CAST(list_dot_product(a.q, b.q) AS BIGINT) AS idot,
          a.sc AS sa, b.sc AS sb
        FROM z a CROSS JOIN z b
        WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id),
      r AS (
        SELECT query_id, neighbor_id, idot, sa, sb,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY idot DESC, neighbor_id) AS rk
        FROM sim)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, idot,
        round(CAST(idot AS DOUBLE) * sa * sb, 4) AS approx_dot
      FROM r WHERE rk <= 10
      ORDER BY query_id, rk""")),

    GraftQuery("l_split_assign", (s, dir) => {
      // deterministic train/val/test assignment: md5-threshold on the
      // doc id — reproducible across engines, runs, and cluster sizes
      // (no RNG, no shuffle; same family as l_stratified_sample).
      // hash_u = 32-bit-prefix / 2^32 is a dyadic rational — exact in
      // binary doubles, so it is emitted raw.
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)).as("hash_u")
      docs(s, dir)
        .select(col("doc_id"), col("source"), u)
        .withColumn("split",
          when(col("hash_u") < 0.8, "train").when(col("hash_u") < 0.9, "val").otherwise("test"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, source,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 AS hash_u
        FROM documents)
      SELECT doc_id, source, hash_u,
        CASE WHEN hash_u < 0.8 THEN 'train' WHEN hash_u < 0.9 THEN 'val'
             ELSE 'test' END AS split
      FROM d ORDER BY doc_id""")),

    GraftQuery("l_tfidf_top", (s, dir) => {
      // salient-term extraction: the top TF-IDF term per document
      // (idf kept as the exact rational N/df — no log, so the score is
      // a product of exactly-represented doubles and compares bitwise
      // cross-engine). Scale shape: explode → two keyed groupBys →
      // term-keyed join → per-doc window; the doc-count scalar joins as
      // a broadcast.
      // token kernel + outer-explode guard (see l_heavy_hitters)
      val tf = docsWide(s, dir)
        .select(col("doc_id"), explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("term"))
        .where(col("term").isNotNull)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val scored = tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf").cast("double") * (col("n").cast("double") / col("df").cast("double")))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
                   FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
          CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS score,
          ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                             ORDER BY CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) DESC,
                                      tf.term) AS rn
        FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      SELECT doc_id, term, tf, df, round(score, 4) AS score
      FROM scored WHERE rn = 1 ORDER BY doc_id""")),

    GraftQuery("l_winnow", (s, dir) => {
      // winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
      // algorithm): positional word-3-gram hashes, then the min hash of
      // each w=4 sliding window, deduplicated — the guarantee is any
      // shared run of >= w+k-1 tokens between two docs shares a
      // fingerprint. Pure per-row array math; fingerprints are md5
      // strings so min/distinct are byte-exact cross-engine.
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val grams = transform(sequence(lit(1), greatest(size(col("t")) - 2, lit(1))),
        i => md5(array_join(slice(col("t"), i, lit(3)), " ")))
      val fps = transform(sequence(lit(1), greatest(size(col("g")) - 3, lit(1))),
        i => array_min(slice(col("g"), i, lit(4))))
      docsWide(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), grams.as("g"))
        .select(col("doc_id"), array_distinct(fps).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      g AS (SELECT doc_id,
          list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
                         i -> md5(array_to_string(t[i:i+2], ' '))) AS g
        FROM tok),
      fp AS (SELECT doc_id,
          list_distinct(list_transform(range(1, GREATEST(len(g) - 3, 1) + 1),
                                       i -> list_min(g[i:i+3]))) AS fp
        FROM g)
      SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
        list_min(fp) AS fp_min, list_max(fp) AS fp_max
      FROM fp ORDER BY doc_id"""))
  )
}
