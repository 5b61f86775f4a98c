package graft.queries

import graft.GraftQuery
import graft.operators.{Ann, Dedup, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Training-data pipeline operators (SURVEY §2 L-series) over the
  * `documents` and `embeddings` tables: dedup family, similarity
  * search, text analysis. Cross-engine reproducibility comes from
  * md5-based hashing (standardized) and left-to-right FP folds.
  */
object LlmPipeline {

  /** DuckDB word-shingle expression fragments (see Dedup.wordShingles). */
  private def oracleShingles(n: Int): String = {
    val lastTok = n - 1
    s"list_distinct(list_transform(range(1, GREATEST(len(t) - $lastTok, 1) + 1), i -> array_to_string(t[i:i+$lastTok], ' ')))"
  }
  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  /** The LSH hyperplanes are md5-derived constants (Ann.lshSignature),
    * so the oracle can carry the SAME constants as SQL literals — the
    * whole bucketed ANN pipeline becomes cross-engine checkable.
    * Sign decisions have >=1e-6 margin on this corpus vs ~1e-16 FP
    * divergence between engines' fold orders, so bucket membership is
    * deterministic across engines.
    */
  private def lshPlaneValues(nPlanes: Int, dim: Int): String =
    (0 until nPlanes).map { p =>
      val comps = (0 until dim).map { j =>
        ((java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"plane-$p-$j").substring(0, 15), 16)
          .toDouble / math.pow(16, 15)) - 0.5).toString
      }.mkString("[", ", ", "]")
      s"($p, $comps)"
    }.mkString(", ")

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_dedup_exact", (s, dir) => {
      docsWide(s, dir).groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
        .orderBy("h")
    }, Some("""
      SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS keeper
      FROM documents GROUP BY 1 ORDER BY h"""), headline = true),

    GraftQuery("l_dedup_minhash", (s, dir) => {
      // Fused signature + 56-bit verify sets in ONE digest pass
      // (r13 verdict item 2: the separate graft_minhash/graft_hash56
      // kernels both md5'd the bare shingle — one redundant digest per
      // shingle), and the cut materializes ONLY longs/hex chunks —
      // the shingle strings never reach the checkpoint (the verify
      // joins attach the longs; r12 item 1). localCheckpoint (not
      // persist) so the materialization is GC-cleaned with the plan
      // instead of pinned in the CacheManager across later queries.
      val sh = Dedup.signatureAndHash56(
          docsWide(s, dir).select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles")),
          "shingles", numHashes = 8)
        .localCheckpoint()
      // materialized: the candidate self-join reads bands TWICE, and
      // without a cut Spark re-runs the signature pipeline for each
      // side (the broadcast side can't reuse the shuffle stage)
      val bands = Dedup.lshBands(sh, "doc_id", numHashes = 8, rowsPerBand = 2)
        .localCheckpoint()
      val cand = Dedup.candidatePairs(bands, "doc_id")
      // shuffle_hash pins the shingle-set attach joins to SHUFFLED
      // hash joins (here and at every sibling site in the LSH family):
      // the shingle-set side is corpus-proportional, but its size
      // ESTIMATE is blind twice over — ArrayType projections are
      // estimated at near-constant width, and localCheckpoint's
      // LogicalRDD carries those origin stats forward — so Catalyst
      // statically broadcast the 130 MB (at sf1, growing linearly)
      // corpus side, which AQE never demotes. Measured by
      // BroadcastBudgetSpec; the hint keeps the join keyed by doc_id
      // with a per-partition build bounded by AQE partition sizing.
      val withSets = cand
        .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
        .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
      withSets.select(col("a"), col("b"), round(Dedup.jaccard(col("sa"), col("sb")), 4).as("jac"))
        .orderBy("a", "b")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, ${oracleShingles(3)} AS s FROM tok),
      ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
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
      shl AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM sh)
      SELECT cand.a, cand.b,
        round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) / len(list_distinct(sa.hs || sb.hs)), 4) AS jac
      FROM cand JOIN shl sa ON sa.doc_id = cand.a JOIN shl sb ON sb.doc_id = cand.b
      ORDER BY a, b"""), headline = true),

    GraftQuery("l_dup_groups", (s, dir) => {
      // near-dup group assignment: similarity edges → connected
      // components → every doc labeled with its group's min doc_id
      val sh = docsWide(s, dir).where(col("doc_id") < 40)
        .select(col("doc_id"), Dedup.wordShingles(col("text"), 2).as("s"))
      val edges = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          Dedup.jaccard(col("x.s"), col("y.s")).as("jac"))
        .where(col("jac") >= 0.07)
        .select("a", "b")
      Dedup.connectedComponents(edges).orderBy("node")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents WHERE doc_id < 40),
      sh AS (SELECT doc_id, ${oracleShingles(2)} AS s FROM tok),
      e AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) >= 0.07),
      sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
      nodes AS (SELECT DISTINCT src AS node FROM sym)
      SELECT n.node, LEAST(n.node, COALESCE(min(r.b), n.node)) AS component
      FROM nodes n LEFT JOIN (
        WITH RECURSIVE reach(a, b) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.a, s2.dst FROM reach r JOIN sym s2 ON r.b = s2.src)
        SELECT a, b FROM reach) r ON r.a = n.node
      GROUP BY n.node
      ORDER BY node""")),

    GraftQuery("l_dedup_simhash", (s, dir) => {
      // md5-based SimHash (hex string) — bit-reproducible in DuckDB
      val sh = docsWide(s, dir).select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles"))
      sh.select(col("doc_id"), Dedup.simhashHex(col("shingles")).as("simhash"))
        .withColumn("bucket", substring(col("simhash"), 1, 4))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, ${oracleShingles(3)} AS s FROM tok),
      ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      hx AS (SELECT doc_id, substring(md5(g), 1, 16) AS h FROM ex),
      bits AS (
        SELECT doc_id, b.b AS b,
          CASE WHEN ((strpos('0123456789abcdef', substring(h, (b.b // 4) + 1, 1)) - 1)
                     >> (3 - (b.b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS vote
        FROM hx CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 64)) b),
      votes AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY 1, 2),
      digits AS (
        SELECT doc_id, b // 4 AS p,
          sum(CASE WHEN v > 0 THEN (8 >> (b % 4)) ELSE 0 END) AS dv
        FROM votes GROUP BY 1, 2),
      hexstr AS (
        SELECT doc_id,
          string_agg(substring('0123456789abcdef', CAST(dv AS INTEGER) + 1, 1), '' ORDER BY p) AS simhash
        FROM digits GROUP BY doc_id)
      SELECT doc_id, simhash, substring(simhash, 1, 4) AS bucket
      FROM hexstr ORDER BY doc_id""")),

    GraftQuery("l_ngram_jaccard", (s, dir) => {
      val sh = docsWide(s, dir).where(col("doc_id") < 30)
        .select(col("doc_id"), Dedup.wordShingles(col("text"), 2).as("s"))
      val pairs = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          size(array_intersect(col("x.s"), col("y.s"))).as("inter"),
          round(Dedup.jaccard(col("x.s"), col("y.s")), 4).as("jac"))
      pairs.where(col("inter") > 0).select("a", "b", "jac").orderBy("a", "b")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents WHERE doc_id < 30),
      sh AS (SELECT doc_id, ${oracleShingles(2)} AS s FROM tok)
      SELECT x.doc_id AS a, y.doc_id AS b,
        round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)), 4) AS jac
      FROM sh x JOIN sh y ON x.doc_id < y.doc_id
      WHERE len(list_intersect(x.s, y.s)) > 0
      ORDER BY a, b""")),

    GraftQuery("l_embed_neardup", (s, dir) => {
      // raw float arrays: graft_dot widens per element (bit-identical
      // to the cast, without materializing a double copy per row).
      // Brute-force all-pairs is O(n²) BY CONSTRUCTION — it exists as
      // the exact baseline for the scale paths (LSH L7, SemDeDup L30),
      // so it runs on a FIXED calibration slice (vec_id < 20000), the
      // way real pipelines calibrate exact baselines on a bounded
      // sample: constant work at any corpus scale. The cap covers the
      // ENTIRE corpus at every driver gate SF (≤ 2000 vectors), so
      // gate results are unchanged; on GenLake decade lakes it selects
      // the base replica's id range (replicas sit at offsets of 10⁷).
      // Found at the sf10 decade, where the uncapped join was 20B pairs.
      val e = embsWide(s, dir).where(col("vec_id") < 20000)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", Ann.norm(col("e")))
      e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          (Ann.dot(col("x.e"), col("y.e")) / (col("x.nrm") * col("y.nrm"))).as("cos"))
        .where(col("cos") >= 0.4)
        .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
        .orderBy("a", "b")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
                 WHERE vec_id < 20000)
      SELECT x.vec_id AS a, y.vec_id AS b, round(list_cosine_similarity(x.e, y.e), 4) AS cos
      FROM e x JOIN e y ON x.vec_id < y.vec_id
      WHERE list_cosine_similarity(x.e, y.e) >= 0.4
      ORDER BY a, b""")),

    GraftQuery("l_ann_topk", (s, dir) => {
      val e = embsWide(s, dir)
      val q = e.where(col("vec_id") < 5)
      Ann.bruteForceTopK(e, q, k = 10)
        .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rk")
    }, Some("""
      WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sim AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, list_cosine_similarity(q.e, c.e) AS cos
        FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id),
      r AS (
        SELECT query_id, neighbor_id, cos,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM sim)
      SELECT query_id, rk, neighbor_id, round(cos, 4) AS cos FROM r WHERE rk <= 10
      ORDER BY query_id, rk"""), headline = true),

    GraftQuery("l_ann_lsh", (s, dir) => {
      // bucketed scale path; planes are md5-derived constants, so the
      // oracle replays the same constants as SQL literals
      val e = embsWide(s, dir)
      val q = e.where(col("vec_id") < 5)
      Ann.lshTopK(e, q, dim = 64, nPlanes = 6, k = 5)
        .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rk")
    }, Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sg AS (
        SELECT vec_id,
          string_agg(CASE WHEN list_dot_product(e.e, pl.v) >= 0 THEN '1' ELSE '0' END,
                     '' ORDER BY pl.p) AS sig
        FROM e CROSS JOIN (VALUES ${lshPlaneValues(6, 64)}) pl(p, v)
        GROUP BY vec_id),
      es AS (SELECT e.vec_id, e.e, sg.sig FROM e JOIN sg USING (vec_id)),
      cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_cosine_similarity(q.e, c.e) AS cos
        FROM es q JOIN es c ON c.sig = q.sig AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 5),
      r AS (
        SELECT query_id, neighbor_id, cos,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM cand)
      SELECT query_id, rk, neighbor_id, round(cos, 4) AS cos FROM r WHERE rk <= 5
      ORDER BY query_id, rk""")),

    GraftQuery("l_ann_ivf", (s, dir) => {
      // IVF scale path: deterministic coarse centroids (vec_id-sample),
      // inverted-list probe — fully expressible in the oracle
      val e = embsWide(s, dir)
      val q = e.where(col("vec_id") < 5)
      Ann.ivfTopK(e, q, nCentroids = 16, nProbe = 4, k = 5)
        .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rk")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < 16),
      ac AS (
        SELECT vec_id, e, cent_id FROM (
          SELECT n.vec_id, n.e, c.cent_id,
            ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_cosine_similarity(n.e, c.ce) DESC, c.cent_id) AS crk
          FROM e n CROSS JOIN c) WHERE crk = 1),
      pr AS (
        SELECT vec_id, e, cent_id FROM (
          SELECT n.vec_id, n.e, c.cent_id,
            ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_cosine_similarity(n.e, c.ce) DESC, c.cent_id) AS crk
          FROM e n CROSS JOIN c WHERE n.vec_id < 5) WHERE crk <= 4),
      cand AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
          max(list_cosine_similarity(p.e, a.e)) AS cos
        FROM pr p JOIN ac a USING (cent_id)
        WHERE a.vec_id <> p.vec_id
        GROUP BY 1, 2),
      r AS (
        SELECT query_id, neighbor_id, cos,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM cand)
      SELECT query_id, rk, neighbor_id, round(cos, 4) AS cos FROM r WHERE rk <= 5
      ORDER BY query_id, rk""")),

    GraftQuery("l_lang_id", (s, dir) => {
      docsWide(s, dir).select(col("doc_id"), col("lang"),
          TextAnalysis.langIdHeuristic(col("text")).as("predicted"))
        .orderBy("doc_id")
    }, Some("""
      WITH f AS (
        SELECT doc_id, lang,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['the','a','of','and'], x))) AS en,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['el','la','de','que'], x))) AS es,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['der','die','das','und'], x))) AS de
        FROM documents)
      SELECT doc_id, lang,
        CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
             WHEN es >= de AND es > 0 THEN 'es'
             WHEN de > 0 THEN 'de'
             ELSE 'unk' END AS predicted
      FROM f ORDER BY doc_id""")),

    GraftQuery("l_quality_score", (s, dir) => {
      val txt = col("text")
      docsWide(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(txt).as("n_tokens"),
          round(TextAnalysis.meanTokenLength(txt), 4).as("mean_token_len"),
          round(TextAnalysis.punctRatio(txt), 4).as("punct_ratio"),
          round(TextAnalysis.stopwordRatio(txt), 4).as("stopword_ratio"),
          TextAnalysis.qualityScore(txt).as("quality"))
        .orderBy("doc_id")
    }, Some("""
      WITH f AS (
        SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio
        FROM documents)
      SELECT doc_id,
        CAST(len(t) AS BIGINT) AS n_tokens,
        round(CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / GREATEST(len(t), 1), 4) AS mean_token_len,
        round(punct_ratio, 4) AS punct_ratio,
        round(stop_ratio, 4) AS stopword_ratio,
        round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
              + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4) AS quality
      FROM f ORDER BY doc_id""")),

    GraftQuery("l_token_count", (s, dir) => {
      val txt = col("text")
      docsWide(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(txt).as("ws_tokens"),
          TextAnalysis.bpeishTokenCount(txt).as("bpeish_tokens"),
          length(txt).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM documents ORDER BY doc_id""")),

    GraftQuery("l_curation_pipeline", (s, dir) => {
      // end-to-end training-data curation: language gate + quality gate
      // + exact-dedup keeper election + running token budget — the
      // composite the individual L-operators exist to serve. One
      // groupBy (dedup) and one window (budget) shuffle; every gate is
      // a pushdown-friendly scalar predicate.
      //
      // The quality score is carried as q10k = round(quality*10000)
      // BIGINT through the gate, the global order, the prefix sum AND
      // the output projection (quality_e4): every value downstream of
      // the scorer is integer, so the composite is bit-robust by
      // construction — no float column ever reaches a hasher.
      val d = docsWide(s, dir)
      // keeper election is a WINDOW min over the fingerprint, not a
      // groupBy + self-join (r15): min(doc_id) over (partition by h)
      // elects the same keeper with ONE exchange by h, and `scored`
      // now has a single consumer, so the r14 localCheckpoint (which
      // existed to stop the two consumers re-running the textstats
      // kernel) is gone — one scoring pass, zero materialization. The
      // kernel stays out of FilterExec without the cut: the gate's
      // pred_lang/q10k conjuncts cannot push below the Window (they
      // are not partition-key predicates), so they filter the window
      // output where the columns already exist (kernel-in-filter net
      // stays green).
      val scored = d.select(col("doc_id"), col("lang"),
          TextAnalysis.langIdHeuristic(col("text")).as("pred_lang"),
          round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0)
            .cast("long").as("q10k"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          md5(col("text")).as("h"))
      val curated = scored
        .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
        .where(col("doc_id") === col("keeper") &&
          col("pred_lang") === "en" && col("q10k") >= 3000L)
        .select(col("doc_id"), col("q10k"), col("n_tokens"))
      // running budget = distributed prefix sum (range partition +
      // local window + offsets) — a bare global-order window would
      // collapse everything into one task at scale
      graft.operators.Prefix
        .runningSum(curated, Seq(col("q10k").desc, col("doc_id")), col("n_tokens"), "cum_tokens")
        .where(col("cum_tokens") <= 20000L)
        .select(col("doc_id"), col("q10k").as("quality_e4"),
          col("n_tokens"), col("cum_tokens"))
        .orderBy(col("quality_e4").desc, col("doc_id"))
    }, Some("""
      WITH f AS (
        SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t, md5(text) AS h,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['the','a','of','and'], x))) AS en,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['el','la','de','que'], x))) AS es,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['der','die','das','und'], x))) AS de
        FROM documents),
      scored AS (
        SELECT doc_id, h,
          CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
               WHEN es >= de AND es > 0 THEN 'es'
               WHEN de > 0 THEN 'de' ELSE 'unk' END AS pred_lang,
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS q10k,
          CAST(len(t) AS BIGINT) AS n_tokens
        FROM f),
      keepers AS (SELECT h, min(doc_id) AS keeper FROM scored GROUP BY h),
      curated AS (
        SELECT s.doc_id, s.q10k, s.n_tokens
        FROM scored s JOIN keepers k ON s.h = k.h
        WHERE s.doc_id = k.keeper AND s.pred_lang = 'en' AND s.q10k >= 3000),
      budget AS (
        SELECT doc_id, q10k, n_tokens,
          SUM(n_tokens) OVER (ORDER BY q10k DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM curated)
      SELECT doc_id, q10k AS quality_e4, n_tokens,
        CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM budget WHERE cum_tokens <= 20000
      ORDER BY quality_e4 DESC, doc_id"""), headline = true),

    GraftQuery("l_fingerprint", (s, dir) => {
      docsWide(s, dir).select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, ${oracleShingles(4)} AS s FROM tok)
      SELECT doc_id, list_min(list_transform(s, x -> md5(x))) AS fp
      FROM sh ORDER BY doc_id"""))
  )
}
