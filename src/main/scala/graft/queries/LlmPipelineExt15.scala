package graft.queries

import graft.GraftQuery
import graft.operators.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fifteenth LLM-pipeline tranche: corpus-shape diagnostics and the
  * dedup/index accounting a curation run reports.
  *
  *  - `l_intradoc_rep`: WITHIN-document repetition — per doc, the
  *    duplicated fraction of its own 3-gram stream e4 (total vs
  *    distinct occurrences). The self-repetition axis of the Gopher
  *    rules: L17 catches top-word domination, this catches looping
  *    generations and boilerplate stutter that word ratios miss.
  *  - `l_zipf_curve`: per-source rank-frequency table — token types
  *    ranked by frequency, rolled into power-of-two rank buckets with
  *    occurrence share e4. The Zipf read: natural text is ~linear in
  *    log-log; head-heavy sources are template farms and flat tails
  *    are spam/ID noise. Same vocab-bounded window class as
  *    `l_vocab_curve` (counts partial-agg'd first; windows touch the
  *    TYPE table, never tokens).
  *  - `l_dedup_impact`: the dedup report — exact normalization-
  *    fingerprint dedup (L57's scrub) with global min-doc_id
  *    canonical election, rolled up per source: docs/tokens before
  *    and after, removal rate e4. "Which crawl is redundant against
  *    the rest" is the first table a curation review reads.
  *  - `l_cluster_health`: embedding-index health — per k-means
  *    cluster (L29's integer assignment): population, population
  *    share e4, mean and max integer-L2 distance to the centroid.
  *    Unbalanced or wide clusters mean the coarse quantizer needs
  *    retraining before it serves (the IVF list-balance check every
  *    FAISS deployment runs).
  *
  * Scale shape: intradoc rep is per-row array arithmetic (no explode,
  * no shuffle); zipf windows ride the type table (vocab ≪ corpus);
  * dedup-impact shuffles once on the fingerprint then once per-source
  * partial-agg; cluster health is one partial agg over assignments
  * with the total as a broadcast scalar.
  */
object LlmPipelineExt15 {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_intradoc_rep", (s, dir) => {
      // raw (non-distinct) 3-gram stream, whole-doc fallback under 3
      // tokens — the same convention as Dedup.wordShingles minus the
      // distinct
      val tokens = TextAnalysis.whitespaceTokens(col("text"))
      val cnt = size(tokens) - lit(2)
      val grams = when(cnt >= 1,
          transform(sequence(lit(1), greatest(cnt, lit(1))),
            i => array_join(slice(tokens, i, lit(3)), " ")))
        .otherwise(array(array_join(tokens, " ")))
      docsWide(s, dir)
        .select(col("doc_id"), col("source"),
          size(grams).cast("long").as("n_grams"),
          size(array_distinct(grams)).cast("long").as("n_distinct"))
        .withColumn("rep_e4", expr("(n_grams - n_distinct) * 10000 div n_grams"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, source,
          CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END AS grams
        FROM t)
      SELECT doc_id, source,
        CAST(len(grams) AS BIGINT) AS n_grams,
        CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        (CAST(len(grams) AS BIGINT) - CAST(len(list_distinct(grams)) AS BIGINT)) * 10000
          // CAST(len(grams) AS BIGINT) AS rep_e4
      FROM g ORDER BY doc_id""")),

    GraftQuery("l_zipf_curve", (s, dir) => {
      val tok = docsWide(s, dir)
        .select(col("source"), explode(TextAnalysis.whitespaceTokens(col("text"))).as("w"))
      val cnts = tok.groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      val tot = cnts.groupBy("source").agg(sum("cnt").as("src_tokens"))
      val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("w"))
      cnts.withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("rank_bucket", length(bin(col("rk"))).cast("long") - 1L)
        .groupBy("source", "rank_bucket")
        .agg(count(lit(1)).as("n_types"), sum("cnt").as("occurrences"))
        .join(tot, "source")
        .withColumn("share_e4", expr("occurrences * 10000 div src_tokens"))
        .select("source", "rank_bucket", "n_types", "occurrences", "share_e4")
        .orderBy("source", "rank_bucket")
    }, Some("""
      WITH tok AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      cnts AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
      tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS src_tokens FROM cnts GROUP BY 1),
      rk AS (
        SELECT source, cnt,
          CAST(length(bin(ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, w)))
               - 1 AS BIGINT) AS rank_bucket
        FROM cnts)
      SELECT rk.source AS source, rank_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(cnt) AS BIGINT) AS occurrences,
        CAST(SUM(cnt) AS BIGINT) * 10000 // tot.src_tokens AS share_e4
      FROM rk JOIN tot ON rk.source = tot.source
      GROUP BY rk.source, rank_bucket, tot.src_tokens
      ORDER BY rk.source, rank_bucket""")),

    GraftQuery("l_dedup_impact", (s, dir) => {
      val norm = call_function("graft_normalize", col("text"))
      // localCheckpoint: d feeds BOTH join sides (rows + the keeper
      // election), and the join on h was inferring isnotnull(h) and
      // pushing it below the projection — the normalize kernel (a
      // full text pass) evaluated once in the filter and once in the
      // projection, on each of the two scans (ScaleInvariantSpec's
      // kernel-in-filter net caught it). The cut materializes 4
      // narrow columns once; the kernel runs exactly once per row.
      val d = docsWide(s, dir).select(col("doc_id"), col("source"), md5(norm).as("h"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
        .localCheckpoint()
      val keep = d.groupBy("h").agg(min("doc_id").as("keep_id"))
      d.join(keep, "h")
        .withColumn("kept", (col("doc_id") === col("keep_id")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
          sum("toks").as("tokens"),
          sum(when(col("kept") === 1L, col("toks")).otherwise(0L)).as("kept_tokens"))
        .withColumn("removed_e4", expr("(n_docs - n_kept) * 10000 div n_docs"))
        .orderBy("source")
    }, Some("""
      WITH d AS (
        SELECT doc_id, source,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                  '\s+', ' ', 'g'))) AS h,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        FROM documents),
      keep AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY 1)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(toks) AS BIGINT) AS tokens,
        CAST(SUM(CASE WHEN doc_id = keep_id THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
        (CAST(COUNT(*) AS BIGINT) - CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)
          AS BIGINT)) * 10000 // CAST(COUNT(*) AS BIGINT) AS removed_e4
      FROM d JOIN keep USING (h)
      GROUP BY 1 ORDER BY source""")),

    GraftQuery("l_cluster_health", (s, dir) => {
      val asn = graft.operators.SemDeDup.assignments(embs(s, dir), 8)
      val per = asn.groupBy("cluster")
        .agg(count(lit(1)).as("n"), sum("idist").as("sum_idist"),
          max("idist").as("max_idist"))
      val tot = per.agg(sum("n").as("total"))
      per.crossJoin(broadcast(tot))
        .select(col("cluster"), col("n"),
          expr("n * 10000 div total").as("share_e4"),
          expr("sum_idist div n").as("avg_idist"),
          col("max_idist"))
        .orderBy("cluster")
    }, Some(s"""
      WITH ${LlmPipelineExt4.assignSql},
      a AS (SELECT vec_id, cluster, idist FROM asn WHERE rk = 1),
      per AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(idist) AS BIGINT) AS sum_idist,
          CAST(MAX(idist) AS BIGINT) AS max_idist
        FROM a GROUP BY 1),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM per)
      SELECT cluster, n, n * 10000 // tot.total AS share_e4,
        sum_idist // n AS avg_idist, max_idist
      FROM per CROSS JOIN tot
      ORDER BY cluster""")),

    GraftQuery("l_quality_len_corr", (s, dir) => {
      // Pearson correlation of token count vs quality score e4, per
      // source — "is the quality gate just a length gate" (if |corr|
      // is high, the expensive scorer is re-deriving length). Exact
      // integer arithmetic end-to-end: num = n·Σxy − Σx·Σy and both
      // variance terms are exact i64 (per-source n bounds the
      // products: n ≤ 1e6 docs/source · x ≤ 1e4 tokens · y ≤ 1e4
      // keeps n·Σxy·1e4 under i64); the denominator uses the exact
      // ±1-corrected isqrt (L63's trick) on EACH variance term, so
      // the product of roots — not the root of the (overflowing)
      // product — is the shared cross-engine contract.
      def isqrt(x: Column): Column = {
        val s0 = floor(sqrt(x.cast("double"))).cast("long")
        s0 + when((s0 + 1) * (s0 + 1) <= x, 1L).otherwise(0L) -
          when(s0 * s0 > x, 1L).otherwise(0L)
      }
      val q10k = round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0).cast("long")
      val d = docsWide(s, dir).select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("x"), q10k.as("y"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"))
        .withColumn("num", expr("n * sxy - sx * sy"))
        .withColumn("denx", expr("n * sxx - sx * sx"))
        .withColumn("deny", expr("n * syy - sy * sy"))
        .withColumn("rxy", isqrt(col("denx")) * isqrt(col("deny")))
        .withColumn("corr_e4",
          when(col("denx") > 0L && col("deny") > 0L,
            expr("num * 10000 div greatest(1, rxy)"))
            .otherwise(lit(0L)))
        .select("source", "n", "num", "denx", "deny", "corr_e4")
        .orderBy("source")
    }, Some(s"""
      WITH f AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS stop_ratio
        FROM documents),
      d AS (
        SELECT source, CAST(len(t) AS BIGINT) AS x,
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS y
        FROM f),
      agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
        FROM d GROUP BY 1),
      t2 AS (
        SELECT source, n, n * sxy - sx * sy AS num,
          n * sxx - sx * sx AS denx, n * syy - sy * sy AS deny
        FROM agg),
      r AS (
        SELECT *,
          CAST(floor(sqrt(CAST(denx AS DOUBLE))) AS BIGINT) AS rx0,
          CAST(floor(sqrt(CAST(deny AS DOUBLE))) AS BIGINT) AS ry0
        FROM t2),
      rr AS (
        SELECT *,
          rx0 + CASE WHEN (rx0 + 1) * (rx0 + 1) <= denx THEN 1 ELSE 0 END
              - CASE WHEN rx0 * rx0 > denx THEN 1 ELSE 0 END AS rx,
          ry0 + CASE WHEN (ry0 + 1) * (ry0 + 1) <= deny THEN 1 ELSE 0 END
              - CASE WHEN ry0 * ry0 > deny THEN 1 ELSE 0 END AS ry
        FROM r)
      SELECT source, n, num, denx, deny,
        CASE WHEN denx > 0 AND deny > 0
             THEN num * 10000 // GREATEST(1, rx * ry) ELSE 0 END AS corr_e4
      FROM rr ORDER BY source""")),

    GraftQuery("l_dup_size_histogram", (s, dir) => {
      // duplicate-family size distribution: exact normalization-
      // fingerprint groups (L57's scrub) rolled into power-of-two
      // size buckets — "is duplication a long tail of pairs or a few
      // giant families", which decides whether canonical election
      // (L47) or family-level drops pay for themselves.
      val norm = call_function("graft_normalize", col("text"))
      docsWide(s, dir).select(md5(norm).as("h"))
        .groupBy("h").agg(count(lit(1)).as("sz"))
        .withColumn("size_bucket", length(bin(col("sz"))).cast("long") - 1L)
        .groupBy("size_bucket")
        .agg(count(lit(1)).as("n_groups"), sum("sz").as("n_docs"))
        .orderBy("size_bucket")
    }, Some("""
      WITH d AS (
        SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                       '\s+', ' ', 'g'))) AS h
        FROM documents),
      g AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS sz FROM d GROUP BY 1)
      SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS size_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(sz) AS BIGINT) AS n_docs
      FROM g GROUP BY 1 ORDER BY size_bucket"""))
  )
}
