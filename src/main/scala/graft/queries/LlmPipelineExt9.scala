package graft.queries

import graft.GraftQuery
import graft.operators.{Cms, Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Curation-pipeline tranche 9: corpus sketching and cluster-level
  * canonical selection.
  *
  *  - `l_heavy_hitters`: Count-Min sketch (Cormode & Muthukrishnan
  *    2005) made cross-engine exact — d=4 md5-derived hash rows ×
  *    w=256 counters — probed for the corpus's exact top-20 tokens so
  *    the CMS guarantee (estimate ≥ true count) is visible per row.
  *    The sketch is THE streaming/mergeable frequency structure a
  *    100 TB token stream needs: O(d·w) memory regardless of corpus,
  *    built by partial-agg, merged by cell-wise sum.
  *  - `l_source_diversity`: per-source lexical diversity — type-token
  *    ratio and integer Shannon-entropy lower bound in centibits
  *    (the L44 surprisal convention: bits via bit-length, no FP logs)
  *    — the "is this crawl slice repetitive garbage" dashboard row.
  *  - `l_canonical_select`: near-dup clusters (MinHash LSH edges at
  *    Jaccard ≥ 0.5 → connected components) electing ONE canonical
  *    document per cluster by quality score — the step between
  *    near-dup DETECTION (L2/L13) and the curated corpus: every doc
  *    labeled with its cluster and whether it survives.
  *
  * Scale shape: the CMS build shuffles (j, bucket) cells only — 1024
  * groups — and the probe join broadcasts the sketch; diversity is
  * two keyed partial-agg groupBys (token counts ride one shuffle);
  * canonical selection reuses the LSH band join (never all-pairs),
  * label propagation over the (tiny) edge set, and a per-cluster
  * window whose partitions are cluster-sized.
  */
object LlmPipelineExt9 {

  private val topK = 20

  private def oracleCmsBucket(tok: String): String =
    s"CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || $tok), 1, 8)) AS BIGINT) % ${Cms.Width}"

  private val oracleSeeds =
    s"(SELECT CAST(range AS BIGINT) AS j FROM range(0, ${Cms.Depth})) seeds"

  /** The MinHash-LSH near-dup edge chain (→ CTE `e`(a, b), Jaccard
    * ≥ 0.5) shared by l_canonical_select and l_split_leakage.
    */
  private[queries] val oracleLshEdges: String = """tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      shl AS (
        SELECT doc_id, list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
          i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM tok),
      ex AS (SELECT doc_id, unnest(s) AS shingle FROM shl),
      dg AS (SELECT doc_id, md5(shingle) AS d0, md5('x|' || shingle) AS d1 FROM ex),
      mh AS (
        SELECT doc_id, seed.seed,
          min(substring(CASE WHEN seed.seed < 4 THEN d0 ELSE d1 END,
                        1 + 8 * (seed.seed % 4), 8)) AS mh
        FROM dg CROSS JOIN (SELECT CAST(range AS INTEGER) AS seed FROM range(0, 8)) seed
        GROUP BY doc_id, seed.seed),
      sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b.b AS band, md5(sig[2*b.b + 1] || '|' || sig[2*b.b + 2]) AS key
        FROM sig CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 4)) b),
      cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
      hs AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM shl),
      e AS (
        SELECT cand.a, cand.b
        FROM cand JOIN hs sa ON sa.doc_id = cand.a JOIN hs sb ON sb.doc_id = cand.b
        WHERE len(list_intersect(sa.hs, sb.hs)) * 2
                >= len(list_distinct(sa.hs || sb.hs)))"""

  /** The Spark-side LSH near-dup edges (a, b) at Jaccard ≥ 0.5 —
    * shared by l_canonical_select and l_split_leakage.
    */
  private[queries] def lshEdges(d: DataFrame): DataFrame = {
    // fused signature + 56-bit verify sets (r13 item 2): one digest
    // pass, a string-free checkpoint, and the verify joins attach
    // 8 B/shingle longs — this helper was the last LSH site still
    // exchanging shingle STRING arrays (r12 item 1's 860 B/row shape).
    // Jaccard ≥ 0.5 over the hashed sets is integer-exact and lands
    // identically in the DuckDB oracle (md5 is standardized).
    val sh = Dedup.signatureAndHash56(
        d.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles")),
        "shingles", numHashes = 8)
      .localCheckpoint()
    val bands = Dedup.lshBands(sh, "doc_id", numHashes = 8, rowsPerBand = 2)
      .localCheckpoint()
    val cand = Dedup.candidatePairs(bands, "doc_id")
    cand
      // shuffle_hash: same statistics blind spot as every LSH-family
      // attach join (see l_dedup_minhash) — without it the corpus-sized
      // shingle table was statically broadcast (130 MB at sf1)
      .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
      .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
      .where(size(array_intersect(col("sa"), col("sb"))) * 2
        >= size(array_union(col("sa"), col("sb")))) // jac ≥ 0.5, integer
      .select("a", "b")
  }

  /** The l_curation_pipeline quality CTE (q10k BIGINT per doc). */
  private val oracleQ10k = """
      qf AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT doc_id,
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS q10k
        FROM qf)"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_heavy_hitters", (s, dir) => {
      // token kernel (byte-identical to the composed split the oracle
      // keeps, TokenKernelSpec); explode_OUTER + null guard so
      // InferFiltersFromGenerate cannot land the kernel in a scan-side
      // filter (graft_tokens never returns null/empty — "" tokenizes
      // to [""] — so the outer form is row-identical)
      val toks = docsWide(s, dir)
        .select(explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("tok"))
        .where(col("tok").isNotNull)
        .localCheckpoint() // feeds the sketch build AND the exact counts
      val cells = Cms.cells(toks, "tok")
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(topK)
      Cms.estimate(top, "tok", cells)
        .select(col("tok").as("token"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("token"))
    }, Some(s"""
      WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
      hb AS (
        SELECT tok, j, ${oracleCmsBucket("tok")} AS bucket
        FROM tok CROSS JOIN $oracleSeeds),
      cms AS (SELECT j, bucket, COUNT(*) AS cell FROM hb GROUP BY 1, 2),
      exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM tok GROUP BY 1),
      top AS (SELECT * FROM exact ORDER BY exact_cnt DESC, tok LIMIT $topK),
      probe AS (
        SELECT t.tok, t.exact_cnt, j, ${oracleCmsBucket("t.tok")} AS bucket
        FROM top t CROSS JOIN $oracleSeeds),
      est AS (
        SELECT tok, exact_cnt, MIN(cell) AS cms_est
        FROM probe JOIN cms USING (j, bucket) GROUP BY 1, 2)
      SELECT tok AS token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
        CAST(cms_est AS BIGINT) AS cms_est,
        CAST(cms_est - exact_cnt AS BIGINT) AS overcount
      FROM est ORDER BY exact_cnt DESC, token"""), headline = true),

    GraftQuery("l_source_diversity", (s, dir) => {
      val d = docsWide(s, dir)
      val nd = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      // token kernel + outer-explode guard (see l_heavy_hitters)
      val tc = d.select(col("source"), explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("tok"))
        .where(col("tok").isNotNull)
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .localCheckpoint() // totals + per-type surprisal ride one token shuffle
      val tot = tc.groupBy("source").agg(sum("c").as("n_tokens"))
      val ent = tc.join(tot, "source")
        .withColumn("bits", length(bin(expr("n_tokens div c"))).cast("long") - 1L)
        .groupBy("source")
        .agg(count(lit(1)).as("distinct_tokens"),
          sum(col("c") * col("bits")).as("sum_bits"))
      nd.join(tot, "source").join(ent, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("distinct_tokens"),
          expr("distinct_tokens * 10000 div n_tokens").as("ttr_e4"),
          expr("sum_bits * 100 div n_tokens").as("entropy_cbits"))
        .orderBy("source")
    }, Some("""
      WITH tok AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      tc AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      tot AS (SELECT source, SUM(c) AS n_tokens FROM tc GROUP BY 1),
      ent AS (
        SELECT tc.source, COUNT(*) AS distinct_tokens,
          SUM(c * (length(bin(n_tokens // c)) - 1)) AS sum_bits
        FROM tc JOIN tot ON tc.source = tot.source GROUP BY 1),
      nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
        CAST(distinct_tokens * 10000 // n_tokens AS BIGINT) AS ttr_e4,
        CAST(sum_bits * 100 // n_tokens AS BIGINT) AS entropy_cbits
      FROM nd JOIN tot USING (source) JOIN ent USING (source)
      ORDER BY source""")),

    GraftQuery("l_canonical_select", (s, dir) => {
      // near-dup clusters from the SAME LSH chain as l_dedup_minhash
      // (bands → candidate pairs → Jaccard ≥ 0.5 edges → connected
      // components), then per-cluster canonical election by quality
      // (q10k desc, doc_id as tie-break). Unclustered docs are their
      // own canonical. Output: every doc labeled (cluster, quality,
      // survives?).
      val d = docsWide(s, dir)
      val comp = Dedup.connectedComponents(lshEdges(d))
      val scored = d.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0)
          .cast("long").as("q10k"))
      val labeled = scored.join(comp, col("doc_id") === col("node"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"),
          col("q10k"))
      val w = Window.partitionBy("cluster").orderBy(col("q10k").desc, col("doc_id"))
      labeled.withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("cluster"), col("q10k").as("quality_e4"),
          (col("rk") === 1).cast("long").as("is_canonical"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH $oracleLshEdges,
      sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      comp AS (
        SELECT n.node, LEAST(n.node, COALESCE(min(r.b), n.node)) AS component
        FROM nodes n LEFT JOIN (
          WITH RECURSIVE reach(a, b) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.a, s2.dst FROM reach r JOIN sym s2 ON r.b = s2.src)
          SELECT a, b FROM reach) r ON r.a = n.node
        GROUP BY n.node),
      $oracleQ10k,
      labeled AS (
        SELECT q.doc_id, COALESCE(comp.component, q.doc_id) AS cluster, q.q10k
        FROM q LEFT JOIN comp ON q.doc_id = comp.node)
      SELECT doc_id, cluster, q10k AS quality_e4,
        CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY cluster
                         ORDER BY q10k DESC, doc_id) = 1
             THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
      FROM labeled ORDER BY doc_id"""))
  )
}
