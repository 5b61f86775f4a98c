package graft.queries

import graft.GraftQuery
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Twelfth LLM-pipeline tranche: curation-infrastructure honesty and
  * output planning.
  *
  *  - `l_norm_dedup`: normalization-fingerprint dedup — lowercase,
  *    strip punctuation, collapse whitespace, then hash. Catches the
  *    "same doc, different casing/whitespace" family that byte-exact
  *    dedup (L1) misses and MinHash (L2) only finds probabilistically.
  *    Families also report how many RAW variants they collapse, so the
  *    delta over exact dedup is visible per row.
  *  - `l_minhash_calib`: MinHash estimator calibration — per LSH
  *    candidate pair, the signature-agreement Jaccard estimate
  *    (matches/8) next to the EXACT shingle Jaccard, with the absolute
  *    error. The L2 index's analog of `l_pq_recall`: an index must
  *    publish its measured estimator quality before its threshold can
  *    be trusted to gate (Broder 1997's resemblance estimator is
  *    unbiased, but at 8 hashes the variance is what this surfaces).
  *  - `l_shard_assign`: balanced output sharding — docs ranked by
  *    token count inside each source, round-robined over 8 shards
  *    (the rank-cycling LPT approximation), with per-shard token
  *    totals and signed deviation from the ideal mean. The writer
  *    planning step between "curated corpus" and "training files".
  *  - `l_vocab_curve`: token-occurrence coverage of the top-V
  *    vocabulary for doubling V — the vocab-size-selection curve a
  *    tokenizer budget decision reads (how much of the corpus does a
  *    32k vocab actually cover).
  *  - `l_containment`: asymmetric containment near-dup (Broder's
  *    containment c(A,B) = |S(A)∩S(B)|/|S(A)|): finds docs whose
  *    shingle set is mostly INSIDE another doc (quotes, wrapped
  *    articles, boilerplate-plus-content) — pairs symmetric Jaccard
  *    (L4) structurally cannot flag.
  *
  * Scale shape: norm-dedup is one partial-agg HashAggregate on the
  * normalized hash; calibration reuses the banded LSH candidate join
  * (never all-pairs) and only candidate pairs fetch shingle sets; shard
  * ranking windows stay inside source partitions and only shard-level
  * totals cross; the vocab curve windows over the TYPE table (vocab ≪
  * corpus, counts pre-aggregated map-side); containment joins through
  * the shingle posting list with a df cap, so fan-out is bounded by the
  * cap, not document count.
  */
object LlmPipelineExt12 {

  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  /** DuckDB 3-gram shingle fragment over token list `t` (the
    * LlmPipeline.oracleShingles(3) form, kept lock-step with
    * [[Dedup.wordShingles]]).
    */
  private val oracleShingles3 =
    "list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' ')))"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_norm_dedup", (s, dir) => {
      // normalize: lowercase → strip non-[a-z0-9 whitespace] → collapse
      // runs of whitespace → trim — as the single-pass codegen kernel
      // (functions.TextKernels.normalizeWords), byte-identical to the
      // two-regex form the DuckDB oracle below keeps (the r11 stage
      // profile measured the regex passes at 97% of third-decade wall).
      val norm = call_function("graft_normalize", col("text"))
      docsWide(s, dir)
        .select(col("doc_id"), md5(norm).as("norm_h"), md5(col("text")).as("raw_h"))
        .groupBy("norm_h")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("raw_h").as("n_raw_variants"),
          min("doc_id").as("keeper"))
        // fuzzy_only: this family is INVISIBLE to exact dedup — more
        // than one distinct raw byte form collapsed onto the hash
        .withColumn("fuzzy_only", (col("n_raw_variants") >= 2).cast("long"))
        .orderBy("norm_h")
    }, Some("""
      WITH n AS (
        SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                  '\s+', ' ', 'g'))) AS norm_h,
          md5(text) AS raw_h
        FROM documents)
      SELECT norm_h, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT raw_h) AS BIGINT) AS n_raw_variants,
        MIN(doc_id) AS keeper,
        CAST(CASE WHEN COUNT(DISTINCT raw_h) >= 2 THEN 1 ELSE 0 END AS BIGINT) AS fuzzy_only
      FROM n GROUP BY 1 ORDER BY norm_h"""), headline = true),

    GraftQuery("l_minhash_calib", (s, dir) => {
      // fused signature + 56-bit verify sets, one digest pass, one
      // string-free checkpoint (r13 item 2; attach longs per r12 item 1)
      val sig = Dedup.signatureAndHash56(
          docsWide(s, dir).select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles")),
          "shingles", numHashes = 8)
        .localCheckpoint()
      val sh = sig
      val cand = Dedup.candidatePairs(
        Dedup.lshBands(sig, "doc_id", numHashes = 8, rowsPerBand = 2), "doc_id")
      val mhCols = (0 until 8).map(i => s"mh$i")
      val sigA = sig.select(col("doc_id").as("a") +: mhCols.map(c => col(c).as(s"a_$c")): _*)
      val sigB = sig.select(col("doc_id").as("b") +: mhCols.map(c => col(c).as(s"b_$c")): _*)
      val matches = mhCols.map(c => when(col(s"a_$c") === col(s"b_$c"), 1L).otherwise(0L))
        .reduce(_ + _)
      cand.join(sigA, "a").join(sigB, "b")
        .withColumn("n_sig_match", matches)
        .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
        .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("uni", size(array_union(col("sa"), col("sb"))).cast("long"))
        // estimate = matches/8 (Broder's unbiased resemblance estimator);
        // both ratios as e4 integers, error exact
        .withColumn("est_e4", col("n_sig_match") * 1250L)
        .withColumn("jac_e4", expr("inter * 10000 div uni"))
        .withColumn("err_e4", abs(col("est_e4") - col("jac_e4")))
        .select("a", "b", "n_sig_match", "est_e4", "jac_e4", "err_e4")
        .orderBy("a", "b")
    }, Some(s"""
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
        FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
      m AS (
        SELECT c.a, c.b,
          CAST(len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_sig_match
        FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b),
      shl AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM sh),
      j AS (
        SELECT m.*, CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
          CAST(len(list_distinct(ha.hs || hb.hs)) AS BIGINT) AS uni
        FROM m JOIN shl ha ON ha.doc_id = m.a JOIN shl hb ON hb.doc_id = m.b)
      SELECT a, b, n_sig_match, n_sig_match * 1250 AS est_e4,
        inter * 10000 // uni AS jac_e4,
        abs(n_sig_match * 1250 - inter * 10000 // uni) AS err_e4
      FROM j ORDER BY a, b""")),

    GraftQuery("l_shard_assign", (s, dir) => {
      val nShards = 8
      val d = docsWide(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
      // LPT-flavored round-robin: biggest docs spread across shards
      // first, inside each source partition (windows never cross
      // sources, so ranking scales with the largest source, not the
      // corpus)
      val w = Window.partitionBy("source").orderBy(col("toks").desc, col("doc_id"))
      val assigned = d.withColumn("shard", (row_number().over(w) - 1).cast("long") % nShards)
      val perShard = assigned.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("total_tokens"))
      val grand = perShard.agg(sum("total_tokens").as("grand")) // nShards rows → scalar
      perShard.crossJoin(broadcast(grand))
        // signed deviation from the ideal even split, e4
        .withColumn("dev_e4",
          expr(s"total_tokens * $nShards * 10000 div grand") - 10000L)
        .select("shard", "n_docs", "total_tokens", "dev_e4")
        .orderBy("shard")
    }, Some("""
      WITH d AS (
        SELECT doc_id, source,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        FROM documents),
      a AS (
        SELECT *, (ROW_NUMBER() OVER (PARTITION BY source ORDER BY toks DESC, doc_id) - 1) % 8 AS shard
        FROM d),
      ps AS (
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(toks) AS BIGINT) AS total_tokens
        FROM a GROUP BY 1)
      SELECT CAST(shard AS BIGINT) AS shard, n_docs, total_tokens,
        total_tokens * 8 * 10000 // CAST(SUM(total_tokens) OVER () AS BIGINT) - 10000 AS dev_e4
      FROM ps ORDER BY shard""")),

    GraftQuery("l_vocab_curve", (s, dir) => {
      // token kernel + outer-explode guard (see l_heavy_hitters)
      val types = docsWide(s, dir)
        .select(explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("w"))
        .where(col("w").isNotNull)
        .groupBy("w").agg(count(lit(1)).as("cnt")) // partial-agg: corpus → vocab
        .localCheckpoint() // ranked + totaled below; cut once
      // only the global top-16000 (the largest curve point) can appear in
      // the output, and any global top-K row is in its partition's top-K:
      // per-partition pre-prune caps the global rank window's input at
      // K × partitions rows even if the vocabulary grows with the corpus
      val maxV = 500L << 5
      val pre = types.withColumn("prk", row_number().over(
          Window.partitionBy(spark_partition_id()).orderBy(col("cnt").desc, col("w"))))
        .where(col("prk") <= maxV).drop("prk")
      val wr = Window.orderBy(col("cnt").desc, col("w"))
      val ranked = pre.withColumn("rk", row_number().over(wr).cast("long"))
      val total = types.agg(sum("cnt").as("total"))
      val thresholds = (0 to 5).map(i => 500L << i) // 500..16000
      val vs = s.createDataFrame(thresholds.map(Tuple1(_))).toDF("vocab_size")
      ranked.crossJoin(broadcast(vs))
        .where(col("rk") <= col("vocab_size"))
        .groupBy("vocab_size")
        .agg(count(lit(1)).as("n_types"), sum("cnt").as("covered"))
        .crossJoin(broadcast(total))
        .withColumn("covered_e4", expr("covered * 10000 div total"))
        .select("vocab_size", "n_types", "covered_e4")
        .orderBy("vocab_size")
    }, Some("""
      WITH ty AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
        GROUP BY 1),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rk FROM ty),
      th AS (SELECT CAST(500 * power(2, i) AS BIGINT) AS vocab_size
             FROM (SELECT unnest(range(0, 6)) AS i))
      SELECT vocab_size, CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(cnt) AS BIGINT) * 10000
          // (SELECT CAST(SUM(cnt) AS BIGINT) FROM ty) AS covered_e4
      FROM rk JOIN th ON rk.rk <= th.vocab_size
      GROUP BY 1 ORDER BY vocab_size""")),

    GraftQuery("l_containment", (s, dir) => {
      val dfCap = 50L // posting-list cap: a shingle shared by > cap docs
                      // is boilerplate, not evidence — and the cap is what
                      // bounds join fan-out at corpus scale
      // ONE text pass, ONE exchange-by-shingle (written once, REUSED by
      // every consumer), zero object aggregation. Shape history, three
      // rounds of stage profiles deep:
      //  - the original df-table + posting-self-join shape scanned-and-
      //    shingled the corpus TWICE and Spark silently picked a 3.4 GB
      //    broadcast for the self-join at sf10 — fatal at 1000
      //    executors;
      //  - the r10-r14 posting-list shape (ONE groupBy-shingle
      //    collect_list, pairs exploded in place) fixed all of that but
      //    broke at the THIRD decade (r15 sf100sub StageProfile): the
      //    collect_list final ObjectHashAggregate inflates its 64 MB
      //    AQE partitions ~20x into object state and spilled 134 GB,
      //    and the map-side pair partial agg built an 84 GB hash for a
      //    1% reduction (856M of 863M rows survived partial agg — pairs
      //    are near-unique within a map partition) and spilled 93 GB.
      // Final shape — window-pairing: df via window count over the ONE
      // sorted-by-shingle exchange, cap filter, then collect_list AS A
      // WINDOW FUNCTION over the same runs (state = one capped group,
      // ≤ dfCap rows — never a hash of all lists), pairs exploded per
      // row in place, and the pair aggregate runs AFTER an explicit
      // repartition by (a, b) so every duplicate pair is co-located and
      // the partial agg achieves full reduction in the post-shuffle
      // stage instead of building giant map-side hashes: raw pair rows
      // are 4 longs, and shuffling them beats shuffling an un-reduced
      // aggregation state row for row. (A checkpoint + self-join
      // variant measured WORSE at sf100sub: materializing 249M capped
      // rows round-trips ~15 GB through storage.)
      // sz rides the window (known before the explode —
      // wordShingles is distinct'ed, so sz = size(s)); grouping by
      // (a, b, sz_a, sz_b) leaves cardinality unchanged (sz is
      // functionally dependent on the doc id), so no size join is ever
      // needed. The df cap (df=1 can never pair; df>cap is boilerplate)
      // bounds the per-shingle expansion at cap² and keeps total pairs
      // linear in corpus size (measured: 9.6x pairs per 10x docs,
      // sf10 -> sf100sub).
      // The whole pipeline runs in the 56-BIT HASHED shingle space
      // (r14, the r13 verify-join trick applied to the posting-list
      // build): the groupBy-shingle exchange is this query's dominant
      // cost, and an 8-byte long key both halves the exchanged bytes
      // (vs ~30 B avg shingle strings) and hashes/compares integers in
      // the aggregate. Set structure is preserved up to md5-56
      // collisions, which land IDENTICALLY in the DuckDB oracle (same
      // standardized digests — sz/df/shared all move together), so
      // cross-engine exactness holds by construction.
      val sh = docsWide(s, dir)
        .select(col("doc_id"),
          Dedup.hashShingles56(Dedup.wordShingles(col("text"), 3)).as("s"))
      // explode_OUTER, then drop the (never-occurring) null row:
      // plain explode lets InferFiltersFromGenerate add `size(s) > 0`,
      // and predicate pushdown carries that below the repartition
      // exchange — the FULL shingle expression then evaluates on the
      // scan side of the exchange, serially (one row group per
      // generated file), just to be discarded and recomputed after it.
      // The r10 stage profile measured that inferred filter at 300 s of
      // 327 s sf10 wall on one core. wordShingles never returns an
      // empty array (its else-branch is a 1-element array), so the
      // outer explode is row-identical and the isNotNull guard is free.
      val ex = sh.select(col("doc_id"), size(col("s")).cast("long").as("sz"),
        explode_outer(col("s")).as("shingle"))
        .where(col("shingle").isNotNull)
      // one AQE-sized shuffle by shingle; df via window count over its
      // sorted runs (buffered state = one shingle's rows, cap-free but
      // bounded by the worst boilerplate shingle's df — rows, not lists)
      // TWO window passes over the one sorted-by-shingle exchange,
      // deliberately kept apart (the Filter between them blocks
      // CollapseWindow): pass 1 counts df so boilerplate groups are
      // dropped BEFORE pass 2 collects posting lists — a window
      // collect_list buffers one shingle group at a time (≤ dfCap rows
      // after the filter), so unlike the old groupBy collect_list
      // there is no aggregation hash holding every list at once.
      val wdf = Window.partitionBy("shingle")
      val capped = ex.repartition(col("shingle"))
        .withColumn("df", count(lit(1)).over(wdf))
        .where(col("df") >= 2L && col("df") <= dfCap)
      capped
        .withColumn("ds", collect_list(struct(col("doc_id"), col("sz"))).over(wdf))
        .select(col("doc_id").as("a"), col("sz").as("sz_a"), explode(col("ds")).as("y"))
        .where(col("a") =!= col("y.doc_id"))
        .select(col("a"), col("y.doc_id").as("b"), col("sz_a"), col("y.sz").as("sz_b"))
        .repartition(col("a"), col("b")) // co-locate before counting: see header
        .groupBy("a", "b", "sz_a", "sz_b")
        .agg(count(lit(1)).as("shared"))
        .withColumn("cont_e4", expr("shared * 10000 div sz_a"))
        .where(col("cont_e4") >= 5000L) // a's shingles are mostly inside b
        .select("a", "b", "shared", "sz_a", "sz_b", "cont_e4")
        .orderBy("a", "b")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      shs AS (SELECT doc_id, $oracleShingles3 AS s0 FROM tok),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(s0,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS s
        FROM shs),
      ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM ex GROUP BY 1),
      p AS (
        SELECT * FROM (
          SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM ex)
        WHERE df BETWEEN 2 AND 50),
      pairs AS (
        SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS shared
        FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT pr.a, pr.b, pr.shared, za.n_shingles AS sz_a, zb.n_shingles AS sz_b,
        pr.shared * 10000 // za.n_shingles AS cont_e4
      FROM pairs pr
      JOIN sz za ON za.doc_id = pr.a
      JOIN sz zb ON zb.doc_id = pr.b
      WHERE pr.shared * 10000 // za.n_shingles >= 5000
      ORDER BY a, b"""), headline = true)
  )
}
