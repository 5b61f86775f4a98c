package graft.queries

import graft.GraftQuery
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-8 second LLM-pipeline tranche: gate-knob pricing and
  * syndication structure.
  *
  *  - `l_quality_threshold_curve`: the quality-gate counterpart of
  *    L78's dedup-threshold curve — for each candidate quality cutoff
  *    (score e4, 1000-step grid), documents and tokens surviving and
  *    the surviving token share. A quality gate's threshold is a
  *    token-budget decision; this is the table that decision reads
  *    (raise the bar 1 step = lose how many tokens?). Uses the SAME
  *    q10k scorer as l_curation_pipeline / l_quality_quantile_norm so
  *    the priced knob is the one the pipeline actually runs.
  *  - `l_dup_family_sources`: cross-source syndication — for each
  *    shared-prefix duplicate family (L52's first-16-token key, ≥2
  *    docs), how many sources it spans and how concentrated it is
  *    (majority-source share e4). L52 elects keepers WITHIN families;
  *    this reads their source COMPOSITION: families confined to one
  *    source are crawl artifacts (dedup locally), families spanning
  *    sources are syndicated content — removing them changes the
  *    SOURCE MIX, which L31/L63's mixture planning must know about.
  *
  *  - `l_dedup_ladder`: marginal yield of each dedup rung applied in
  *    production order (exact → normalization → MinHash-LSH near-dup),
  *    each rung over the previous rung's survivors — the read that
  *    decides whether the expensive near-dup pass still pays once the
  *    cheap rungs have run.
  *
  * Scale shape: the threshold curve is one scored scan cross-joined
  * with a 10-row broadcast grid and reduced by a partial agg; the
  * family table is two keyed HashAggregates (fingerprint×source →
  * fingerprint), never a pair join; the ladder's rungs are keyed
  * hash-aggregates plus the banded LSH candidate join (never
  * all-pairs), with survivor sets carried as doc_id anti-joins.
  */
object LlmPipelineExt18 {

  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  private val oracleShingles3 =
    "list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' ')))"

  /** The shared q10k scorer as DuckDB CTEs (lock-step with
    * TextAnalysis.qualityScore·10⁴ — the l_curation_pipeline scorer,
    * same text as LlmPipelineExt10.oracleQ10kWithSource).
    */
  private val oracleQ10k = """
      WITH qf AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT doc_id, source, CAST(len(t) AS BIGINT) AS toks,
          CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) AS q10k
        FROM qf)"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_quality_threshold_curve", (s, dir) => {
      // localCheckpoint: scored feeds the total AND the grid
      // expansion, and the threshold predicate was inferring
      // isnotnull(q10k) and pushing it below the projection — the
      // textstats kernel (a full text pass) evaluated once in the
      // filter and once in the projection (ScaleInvariantSpec's
      // kernel-in-filter net caught it). The cut materializes two
      // longs per doc once; the kernel runs exactly once per row.
      val scored = docsWide(s, dir).select(
        round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0)
          .cast("long").as("q10k"),
        // n_tokens off the SAME textstats kernel the score reads —
        // codegen CSE makes the token count free; the java-regex
        // split this replaces was a second full text pass
        TextAnalysis.tokenCount(col("text")).as("toks"))
        .localCheckpoint()
      val tot = scored.agg(sum("toks").as("total_tokens"))
      val grid = s.createDataFrame((0 to 9).map(i => Tuple1(i * 1000L)))
        .toDF("threshold_e4")
      scored.crossJoin(broadcast(grid))
        .where(col("q10k") >= col("threshold_e4"))
        .groupBy("threshold_e4")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
        .crossJoin(broadcast(tot))
        .withColumn("token_share_e4", expr("tokens * 10000 div total_tokens"))
        .select("threshold_e4", "n_docs", "tokens", "token_share_e4")
        .orderBy("threshold_e4")
    }, Some(s"""$oracleQ10k,
      th AS (SELECT CAST(unnest(range(0, 10)) * 1000 AS BIGINT) AS threshold_e4),
      surv AS (
        SELECT th.threshold_e4, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(SUM(q.toks) AS BIGINT) AS tokens
        FROM q JOIN th ON q.q10k >= th.threshold_e4
        GROUP BY 1),
      tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total_tokens FROM q)
      SELECT threshold_e4, n_docs, tokens,
        tokens * 10000 // t.total_tokens AS token_share_e4
      FROM surv CROSS JOIN tot t ORDER BY threshold_e4""")),

    GraftQuery("l_dup_family_sources", (s, dir) => {
      // family key = first-16-token hash (L52's shared-prefix key);
      // token kernel, byte-identical to the composed split
      val t = TextAnalysis.whitespaceTokens(col("text"))
      val prefix = md5(array_join(slice(t, 1, 16), " "))
      val bySrc = docsWide(s, dir)
        .select(prefix.as("norm_h"), col("source"))
        .groupBy("norm_h", "source").agg(count(lit(1)).as("n"))
      bySrc.groupBy("norm_h")
        .agg(sum("n").as("n_docs"),
          count(lit(1)).as("n_sources"),
          max("n").as("top_src_n"))
        .where(col("n_docs") >= 2)
        .withColumn("majority_share_e4", expr("top_src_n * 10000 div n_docs"))
        .withColumn("cross_source", when(col("n_sources") >= 2, 1L).otherwise(0L))
        .select("norm_h", "n_docs", "n_sources", "majority_share_e4", "cross_source")
        .orderBy("norm_h")
    }, Some("""
      WITH tk AS (SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents),
      n AS (
        SELECT md5(array_to_string(t[1:16], ' ')) AS norm_h, source
        FROM tk),
      bs AS (
        SELECT norm_h, source, CAST(count(*) AS BIGINT) AS cnt
        FROM n GROUP BY 1, 2),
      fam AS (
        SELECT norm_h, CAST(SUM(cnt) AS BIGINT) AS n_docs,
          CAST(count(*) AS BIGINT) AS n_sources,
          CAST(max(cnt) AS BIGINT) AS top_src_n
        FROM bs GROUP BY 1)
      SELECT norm_h, n_docs, n_sources,
        top_src_n * 10000 // n_docs AS majority_share_e4,
        CAST(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END AS BIGINT) AS cross_source
      FROM fam WHERE n_docs >= 2
      ORDER BY norm_h""")),

    GraftQuery("l_dedup_ladder", (s, dir) => {
      // marginal yield of each dedup rung, applied in production order:
      // exact (byte hash) → normalization fingerprint → MinHash-LSH
      // near-dup (jaccard ≥ 0.5, smaller doc_id of a qualifying pair
      // is kept). Each rung only sees the previous rung's SURVIVORS —
      // the ladder read that decides whether the expensive near-dup
      // pass still pays after the cheap rungs have run.
      val norm = call_function("graft_normalize", col("text"))
      // ONE text pass computes every rung's fingerprint (byte hash,
      // normalization hash, shingle set), cut once — each rung then
      // works off the checkpoint instead of re-scanning and
      // re-shuffling the text table (measured 5.5s → see PLANS.md)
      // fused signature + 56-bit verify sets (r13 item 2): the
      // signature is computed for ALL docs here, not just rung-2
      // survivors — the exact/norm rungs remove a few percent, so one
      // fused pass over everything costs less than hash56-everything
      // plus minhash-over-survivors did, and the checkpoint drops the
      // shingle strings entirely
      val d = Dedup.signatureAndHash56(
          docsWide(s, dir)
            .select(col("doc_id"), md5(col("text")).as("raw_h"), md5(norm).as("norm_h"),
              Dedup.wordShingles(col("text"), 3).as("shingles")),
          "shingles", numHashes = 8)
        .localCheckpoint()
      // rung 1: exact
      val s1 = d.groupBy("raw_h").agg(min("doc_id").as("doc_id")).select("doc_id")
      // rung 2: normalization fingerprint over rung-1 survivors.
      // shuffle_hash on the survivor-id side: the corpus table d
      // carries a lying ArrayType/checkpoint estimate, so Catalyst
      // statically broadcast ALL OF d (130 MB at sf1,
      // BroadcastBudgetSpec) instead of anything sane; the id list is
      // itself corpus-row-proportional, so the join must stay keyed
      // with the ids as the per-partition build side.
      val s2 = d.join(s1.hint("shuffle_hash"), "doc_id")
        .groupBy("norm_h").agg(min("doc_id").as("doc_id")).select("doc_id")
      // rung 3: LSH near-dup over rung-2 survivors (their fused
      // signature columns ride along from the checkpoint)
      val sh2 = d.join(s2.hint("shuffle_hash"), "doc_id")
        .drop("raw_h", "norm_h")
      // materialized: the candidate self-join reads bands twice (same
      // reason l_dedup_minhash cuts here)
      val bands = Dedup.lshBands(sh2, "doc_id", numHashes = 8, rowsPerBand = 2)
        .localCheckpoint()
      val cand = Dedup.candidatePairs(bands, "doc_id")
      val removed3 = cand
        .join(sh2.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
        .join(sh2.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
        .where(size(array_intersect(col("sa"), col("sb"))) * 2
          >= size(array_union(col("sa"), col("sb")))) // jac ≥ 0.5, integer
        .select(col("b").as("doc_id")).distinct()
      val s3 = s2.join(removed3, Seq("doc_id"), "left_anti")
      val stages = Seq(("0_input", d.select("doc_id")), ("1_exact", s1),
        ("2_norm", s2), ("3_neardup", s3))
      stages.map { case (name, df) =>
        df.agg(count(lit(1)).as("survivors")).select(lit(name).as("stage"), col("survivors"))
      }.reduce(_ union _)
        .withColumn("removed_here",
          coalesce(lag("survivors", 1).over(
            org.apache.spark.sql.expressions.Window.orderBy("stage")) - col("survivors"), lit(0L)))
        .orderBy("stage")
    }, Some(s"""
      WITH raw AS (SELECT doc_id, md5(text) AS raw_h FROM documents),
      s1 AS (SELECT min(doc_id) AS doc_id FROM raw GROUP BY raw_h),
      n2 AS (
        SELECT d.doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9\\s]', '', 'g'),
                                  '\\s+', ' ', 'g'))) AS norm_h
        FROM documents d JOIN s1 USING (doc_id)),
      s2 AS (SELECT min(doc_id) AS doc_id FROM n2 GROUP BY norm_h),
      tok2 AS (SELECT d.doc_id, $oracleTokens AS t FROM documents d JOIN s2 USING (doc_id)),
      sh2 AS (SELECT doc_id, $oracleShingles3 AS s FROM tok2),
      ex2 AS (SELECT doc_id, unnest(s) AS shingle FROM sh2),
      dg AS (SELECT doc_id, md5(shingle) AS d0, md5('x|' || shingle) AS d1 FROM ex2),
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
        FROM sh2),
      rem AS (
        SELECT DISTINCT c.b AS doc_id
        FROM cand c JOIN shl sa ON sa.doc_id = c.a JOIN shl sb ON sb.doc_id = c.b
        WHERE len(list_intersect(sa.hs, sb.hs)) * 2 >= len(list_distinct(sa.hs || sb.hs))),
      s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM rem)),
      st AS (
        SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS survivors FROM documents
        UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT) FROM s1
        UNION ALL SELECT '2_norm', CAST(count(*) AS BIGINT) FROM s2
        UNION ALL SELECT '3_neardup', CAST(count(*) AS BIGINT) FROM s3)
      SELECT stage, survivors,
        CAST(COALESCE(lag(survivors) OVER (ORDER BY stage) - survivors, 0) AS BIGINT)
          AS removed_here
      FROM st ORDER BY stage""")),

    GraftQuery("l_decontam_report", (s, dir) => {
      // decontamination ACCOUNTING (the GPT-3-appendix step after L18's
      // per-doc scan): apply the removal rule — ≥ 20% of a doc's
      // distinct 3-gram shingles hit the benchmark set (integer
      // cross-mult: hits·5 ≥ shingles) — and report what each source
      // loses. The benchmark set ('src0' plays the held-out eval) is
      // a corpus SLICE here, so like l_contamination the probe join is
      // shuffle_hash-pinned (a static broadcast of a lake-growing side
      // never demotes — 179 MB built at sf10, r12 audit); a real fixed
      // eval set would broadcast.
      val sh = docsWide(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("toks"),
        explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
      val bench = sh.where(col("source") === "src0")
        .select("sh").distinct().withColumn("hit", lit(1L))
      val perDoc = sh.where(col("source") =!= "src0")
        .join(bench.hint("shuffle_hash"), Seq("sh"), "left_outer")
        .groupBy("doc_id", "source")
        .agg(max("toks").as("toks"), count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("removed", when(col("n_hits") * 5 >= col("n_shingles"), 1L).otherwise(0L))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("removed").as("docs_removed"),
          sum("toks").as("tokens"),
          sum(when(col("removed") === 1, col("toks")).otherwise(0L)).as("tokens_removed"))
        .withColumn("token_loss_e4", expr("tokens_removed * 10000 div tokens"))
        .select("source", "n_docs", "docs_removed", "tokens", "tokens_removed", "token_loss_e4")
        .orderBy("source")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, source, $oracleTokens AS t FROM documents),
      shl AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS toks,
                unnest($oracleShingles3) AS sh
              FROM tok),
      bench AS (SELECT DISTINCT sh FROM shl WHERE source = 'src0'),
      pd AS (
        SELECT s.doc_id, s.source, max(s.toks) AS toks,
          CAST(count(*) AS BIGINT) AS n_shingles,
          CAST(SUM(CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits
        FROM shl s LEFT JOIN bench b ON s.sh = b.sh
        WHERE s.source <> 'src0'
        GROUP BY 1, 2),
      r AS (
        SELECT *, CASE WHEN n_hits * 5 >= n_shingles THEN 1 ELSE 0 END AS removed
        FROM pd)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(removed) AS BIGINT) AS docs_removed,
        CAST(SUM(toks) AS BIGINT) AS tokens,
        CAST(SUM(CASE WHEN removed = 1 THEN toks ELSE 0 END) AS BIGINT) AS tokens_removed,
        CAST(SUM(CASE WHEN removed = 1 THEN toks ELSE 0 END) AS BIGINT) * 10000
          // CAST(SUM(toks) AS BIGINT) AS token_loss_e4
      FROM r GROUP BY 1 ORDER BY source""")),

    GraftQuery("l_lsh_param_planner", (s, dir) => {
      // LSH (bands, rows) selection table (datasketch optimal_param
      // lineage), made CORPUS-AWARE: the S-curve
      // P(candidate | s) = 1 − (1 − s^r)^b for each way of splitting 8
      // minhashes, evaluated at the design points s = 0.5/0.8 AND
      // against the corpus's OBSERVED candidate-pair similarity
      // histogram (current-config candidates — the observable sample;
      // documented bias) to price expected candidate volume per
      // config. All probability arithmetic is truncating e4
      // fixed-point (identical multiply-div schedules both engines) —
      // no float pow, so the table is cross-engine exact.
      // fused signature + 56-bit verify sets, one digest pass, one
      // string-free checkpoint (r13 item 2; attach longs per r12 item 1)
      val sh = Dedup.signatureAndHash56(
          docsWide(s, dir).select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles")),
          "shingles", numHashes = 8)
        .localCheckpoint()
      val bands = Dedup.lshBands(sh, "doc_id", numHashes = 8, rowsPerBand = 2)
        .localCheckpoint()
      val hist = Dedup.candidatePairs(bands, "doc_id")
        .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
        .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
        .select(size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
          size(array_union(col("sa"), col("sb"))).cast("long").as("uni"))
        .select(least(expr("(inter * 10000 div uni) div 1000"), lit(9L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      val grid = s.createDataFrame(Seq((1L, 8L), (2L, 4L), (4L, 2L)))
        .toDF("rows_per_band", "n_bands")
      // truncating fixed-point s^r then 1-(1-s^r)^b, r ∈ {1,2,4}, b ∈ {8,4,2}
      def powE4(sE4: String, r: String): String =
        s"""CASE $r WHEN 1 THEN $sE4
            WHEN 2 THEN $sE4 * $sE4 div 10000
            ELSE (($sE4 * $sE4 div 10000) * ($sE4 * $sE4 div 10000)) div 10000 END"""
      def pCand(sE4: String): String = {
        val q = s"(10000 - ${powE4(sE4, "rows_per_band")})"
        // q^b for b ∈ {8,4,2} by squaring: q2, q4, q8
        val q2 = s"($q * $q div 10000)"
        val q4 = s"($q2 * $q2 div 10000)"
        val q8 = s"($q4 * $q4 div 10000)"
        s"(10000 - CASE n_bands WHEN 2 THEN $q2 WHEN 4 THEN $q4 ELSE $q8 END)"
      }
      grid.crossJoin(broadcast(hist)) // 3 × ≤10 rows
        .withColumn("p_cand_e4", expr(pCand("(bucket * 1000 + 500)")))
        .groupBy("rows_per_band", "n_bands")
        .agg(sum(expr("n_pairs * p_cand_e4 div 10000")).as("expected_candidates"),
          sum("n_pairs").as("observed_pairs"))
        .withColumn("p50_e4", expr(pCand("5000")))
        .withColumn("p80_e4", expr(pCand("8000")))
        .select("rows_per_band", "n_bands", "p50_e4", "p80_e4",
          "expected_candidates", "observed_pairs")
        .orderBy("rows_per_band")
    }, Some(s"""$oracleCandidatesCte,
      shl AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM sh),
      j AS (
        SELECT CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) * 10000
               // CAST(len(list_distinct(sa.hs || sb.hs)) AS BIGINT) AS jac_e4
        FROM cand c JOIN shl sa ON sa.doc_id = c.a JOIN shl sb ON sb.doc_id = c.b),
      hist AS (
        SELECT LEAST(jac_e4 // 1000, 9) AS bucket, CAST(count(*) AS BIGINT) AS n_pairs
        FROM j GROUP BY 1),
      grid AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(8 AS BIGINT)),
                                     (CAST(2 AS BIGINT), CAST(4 AS BIGINT)),
                                     (CAST(4 AS BIGINT), CAST(2 AS BIGINT)))
               g(rows_per_band, n_bands)),
      scored AS (
        SELECT g.rows_per_band, g.n_bands, h.n_pairs,
          ${oraclePCand("(h.bucket * 1000 + 500)")} AS p_cand_e4
        FROM grid g CROSS JOIN hist h)
      SELECT rows_per_band, n_bands,
        ${oraclePCand("5000")} AS p50_e4,
        ${oraclePCand("8000")} AS p80_e4,
        CAST(SUM(n_pairs * p_cand_e4 // 10000) AS BIGINT) AS expected_candidates,
        CAST(SUM(n_pairs) AS BIGINT) AS observed_pairs
      FROM scored GROUP BY 1, 2 ORDER BY rows_per_band"""))
  )

  /** 1 − (1 − s^r)^b in truncating e4 fixed point, as DuckDB SQL over
    * columns rows_per_band / n_bands — the EXACT multiply-div schedule
    * the Spark side runs (squaring chain q→q²→q⁴→q⁸).
    */
  private def oraclePCand(sE4: String): String = {
    val p = s"""CASE rows_per_band WHEN 1 THEN $sE4
            WHEN 2 THEN $sE4 * $sE4 // 10000
            ELSE ((($sE4 * $sE4 // 10000) * ($sE4 * $sE4 // 10000)) // 10000) END"""
    val q = s"(10000 - ($p))"
    val q2 = s"($q * $q // 10000)"
    val q4 = s"($q2 * $q2 // 10000)"
    val q8 = s"($q4 * $q4 // 10000)"
    s"(10000 - CASE n_bands WHEN 2 THEN $q2 WHEN 4 THEN $q4 ELSE $q8 END)"
  }

  /** The L2 candidate chain (same as LlmPipelineExt17's) — local copy
    * so the planner's oracle stays self-contained.
    */
  private def oracleCandidatesCte: String = s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, $oracleShingles3 AS s FROM tok),
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
        FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)"""
}
