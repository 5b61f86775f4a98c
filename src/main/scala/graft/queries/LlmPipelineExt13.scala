package graft.queries

import graft.GraftQuery
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Thirteenth LLM-pipeline tranche: ingest-time planning and drift.
  *
  *  - `l_pack_plan`: packing-strategy planner off token counts — for a
  *    2048-token training window, the window count and padding waste
  *    of (a) one-doc-per-window, (b) power-of-two bucket packing
  *    (docs padded to 2^(k+1), homogeneous windows — the T5/packing-
  *    planner idiom off L50's histogram), (c) boundary-free
  *    concatenation (the GPT-style lower bound). Three integer rows
  *    that decide a real training-infra choice before any shuffle of
  *    the corpus itself.
  *  - `l_temperature_mixture`: temperature-scaled source reweighting
  *    (the UniMax/multilingual-mixing family): per-source token mass
  *    at T=1 (proportional), T=2 (sqrt damping), T=∞ (uniform), all
  *    e4. The sqrt is an EXACT integer isqrt — IEEE sqrt is correctly
  *    rounded in both engines, and a ±1 correction step removes even
  *    that dependency — so the whole table is bit-exact.
  *  - `l_dedup_incremental`: cross-snapshot dedup — a NEW batch
  *    (sources src5..) checked against the EXISTING corpus
  *    (src0..src4) only: exact md5 membership plus MinHash-LSH
  *    near-dup against existing docs. The shape of real ingest: the
  *    arriving batch joins a fingerprint store; the lake is never
  *    re-deduped against itself.
  *  - `l_quality_drift`: per-source quality-score distribution vs the
  *    corpus — decile-bucket shares (q10k div 1000) and the per-source
  *    L1 distance from the corpus-wide share vector, e4. The "is this
  *    crawl slice degrading" check a curation pipeline runs per
  *    snapshot before mixing.
  *
  * Scale shape: the pack plan and mixture reduce the corpus to
  * per-bucket / per-source partial aggregates before any arithmetic;
  * incremental dedup joins the batch against broadcast-or-bucketed
  * fingerprints (band join is new×existing only, never lake×lake);
  * drift operates on the sources×10 grid after one partial-agg pass.
  */
object LlmPipelineExt13 {

  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"
  private val oracleShingles3 =
    "list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' ')))"

  /** Exact integer floor(sqrt(x)) for x ≥ 0: IEEE sqrt is correctly
    * rounded (identical in both engines), and the ±1 correction makes
    * the result exact even at the rounding boundary.
    */
  private def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    s0 + when((s0 + 1) * (s0 + 1) <= x, 1L).otherwise(0L) -
      when(s0 * s0 > x, 1L).otherwise(0L)
  }

  private val isqrtSql = // same ±1-corrected isqrt over BIGINT column `x`
    """CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)
       + CASE WHEN (CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) + 1)
                   * (CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) + 1) <= x
              THEN 1 ELSE 0 END
       - CASE WHEN CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)
                   * CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) > x
              THEN 1 ELSE 0 END"""

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_pack_plan", (s, dir) => {
      val W = 2048L
      val d = docsWide(s, dir)
        .select(TextAnalysis.tokenCount(col("text")).as("toks"))
      // per-doc window math reduces map-side to three partial sums —
      // only (strategy-level scalars × partitions) cross the wire
      val per = d.select(
        expr(s"(toks + $W - 1) div $W").as("naive_w"),       // own window(s)
        // bucket packing: pad to 2^(k+1) (the bucket's upper bound),
        // windows are homogeneous; oversize docs fall back to naive
        when(col("toks") < W,
            expr("shiftleft(1L, cast(length(bin(toks)) as int))").cast("long"))
          .otherwise(lit(0L)).as("padded"),
        when(col("toks") >= W, expr(s"(toks + $W - 1) div $W")).otherwise(lit(0L)).as("big_w"),
        col("toks"))
      // coalesce: empty input sums to null, not 0 — the scalar read
      // below must not NPE on an empty documents table
      val agg = per.agg(
        coalesce(sum("naive_w"), lit(0L)).as("naive_windows"),
        coalesce(sum("padded"), lit(0L)).as("padded_tokens"),
        coalesce(sum("big_w"), lit(0L)).as("big_windows"),
        coalesce(sum("toks"), lit(0L)).as("total_tokens")).head()
      val (naiveW, paddedT, bigW, totalT) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
      val bucketW = (paddedT + W - 1) / W + bigW
      val concatW = (totalT + W - 1) / W
      val rows = Seq(
        ("bucket_pow2", bucketW), ("concat", concatW), ("naive", naiveW))
      val out = s.createDataFrame(rows).toDF("strategy", "n_windows")
      out.withColumn("capacity_tokens", col("n_windows") * W)
        .withColumn("padding_e4",
          expr(s"(n_windows * $W - $totalT) * 10000 div (n_windows * $W)"))
        .orderBy("strategy")
    }, Some("""
      WITH d AS (
        SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        FROM documents),
      per AS (
        SELECT (toks + 2047) // 2048 AS naive_w,
          CASE WHEN toks < 2048 THEN CAST(power(2, length(bin(toks))) AS BIGINT) ELSE 0 END AS padded,
          CASE WHEN toks >= 2048 THEN (toks + 2047) // 2048 ELSE 0 END AS big_w,
          toks
        FROM d),
      a AS (
        SELECT CAST(SUM(naive_w) AS BIGINT) AS naive_windows,
          CAST(SUM(padded) AS BIGINT) AS padded_tokens,
          CAST(SUM(big_w) AS BIGINT) AS big_windows,
          CAST(SUM(toks) AS BIGINT) AS total_tokens
        FROM per),
      st AS (
        SELECT 'bucket_pow2' AS strategy,
          (padded_tokens + 2047) // 2048 + big_windows AS n_windows, total_tokens FROM a
        UNION ALL
        SELECT 'concat', (total_tokens + 2047) // 2048, total_tokens FROM a
        UNION ALL
        SELECT 'naive', naive_windows, total_tokens FROM a)
      SELECT strategy, n_windows, n_windows * 2048 AS capacity_tokens,
        (n_windows * 2048 - total_tokens) * 10000 // (n_windows * 2048) AS padding_e4
      FROM st ORDER BY strategy""")),

    GraftQuery("l_temperature_mixture", (s, dir) => {
      val bySource = docsWide(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("toks"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
        .withColumn("sq", isqrt(col("tokens")))
        .localCheckpoint() // totals + output both read the sources table
      val totals = bySource.agg(sum("tokens").as("tot"), sum("sq").as("sqtot"),
        count(lit(1)).as("ns"))
      bySource.crossJoin(broadcast(totals))
        .withColumn("share_t1_e4", expr("tokens * 10000 div tot"))
        .withColumn("share_t2_e4", expr("sq * 10000 div sqtot"))
        .withColumn("share_unif_e4", expr("10000 div ns"))
        .select("source", "n_docs", "tokens", "share_t1_e4", "share_t2_e4", "share_unif_e4")
        .orderBy("source")
    }, Some(s"""
      WITH b AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS tokens
        FROM documents GROUP BY 1),
      sq AS (
        SELECT source, n_docs, tokens,
          ${isqrtSql.replace("x", "tokens")} AS sq
        FROM b),
      t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot, CAST(SUM(sq) AS BIGINT) AS sqtot,
              CAST(COUNT(*) AS BIGINT) AS ns FROM sq)
      SELECT source, n_docs, tokens,
        tokens * 10000 // tot AS share_t1_e4,
        sq * 10000 // sqtot AS share_t2_e4,
        10000 // ns AS share_unif_e4
      FROM sq CROSS JOIN t ORDER BY source""")),

    GraftQuery("l_dedup_incremental", (s, dir) => {
      val existingSrc = (0 to 4).map(i => s"src$i")
      val d = docsWide(s, dir)
      val isExisting = col("source").isin(existingSrc: _*)
      // fused signature + 56-bit verify sets, one digest pass, one
      // string-free checkpoint (r13 item 2; attach longs per r12 item 1)
      val sh = Dedup.signatureAndHash56(
          d.select(col("doc_id"), isExisting.as("old"),
            md5(col("text")).as("h"), Dedup.wordShingles(col("text"), 3).as("shingles")),
          "shingles", numHashes = 8)
        .localCheckpoint()
      // exact membership: batch hashes vs the existing fingerprint set
      val oldHashes = sh.where(col("old")).select(col("h")).distinct()
        .withColumn("h_hit", lit(1L))
      // near-dup: banded LSH, but candidates are new×existing ONLY
      val bands = Dedup.lshBands(sh, "doc_id", numHashes = 8, rowsPerBand = 2)
        .join(sh.select("doc_id", "old"), "doc_id").localCheckpoint()
      val cand = bands.where(!col("old")).select(col("band"), col("key"), col("doc_id").as("a"))
        .join(bands.where(col("old")).select(col("band"), col("key"), col("doc_id").as("b")),
          Seq("band", "key"))
        .select("a", "b").distinct()
      val near = cand
        .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
        .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("uni", size(array_union(col("sa"), col("sb"))).cast("long"))
        .where(expr("inter * 10000 div uni") >= 5000L)
        .select(col("a").as("doc_id")).distinct()
        .withColumn("near_hit", lit(1L))
      sh.where(!col("old"))
        // both attach sides grow with the lake (old-corpus fingerprint
        // set, near-dup verdicts — 19 MB/1.5 MB built at sf10, r12
        // audit): statically-broadcast post-agg sides never demote
        .join(oldHashes.hint("shuffle_hash"), Seq("h"), "left")
        .join(near.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("h_hit"), lit(0L)).as("exact_dup"),
          coalesce(col("near_hit"), lit(0L)).as("near_dup"))
        .withColumn("keep",
          when(col("exact_dup") === 0L && col("near_dup") === 0L, 1L).otherwise(0L))
        .orderBy("doc_id")
    }, Some(s"""
      WITH d AS (
        SELECT doc_id, source IN ('src0','src1','src2','src3','src4') AS old,
          md5(text) AS h, $oracleTokens AS t
        FROM documents),
      sh AS (SELECT doc_id, old, h, $oracleShingles3 AS s FROM d),
      oldh AS (SELECT DISTINCT h FROM sh WHERE old),
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
        SELECT s2.doc_id, sh.old, b.b AS band,
          md5(sig[2*b.b + 1] || '|' || sig[2*b.b + 2]) AS key
        FROM sig s2 JOIN sh ON sh.doc_id = s2.doc_id
        CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(0, 4)) b),
      cand AS (
        SELECT DISTINCT n.doc_id AS a, o.doc_id AS b
        FROM bands n JOIN bands o ON n.band = o.band AND n.key = o.key
        WHERE NOT n.old AND o.old),
      shl AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM sh),
      near AS (
        SELECT DISTINCT c.a AS doc_id
        FROM cand c JOIN shl ha ON ha.doc_id = c.a JOIN shl hb ON hb.doc_id = c.b
        WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) * 10000
              // CAST(len(list_distinct(ha.hs || hb.hs)) AS BIGINT) >= 5000)
      SELECT n.doc_id,
        CASE WHEN oldh.h IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END AS near_dup,
        CASE WHEN oldh.h IS NULL AND near.doc_id IS NULL THEN 1 ELSE 0 END AS keep
      FROM sh n
      LEFT JOIN oldh ON oldh.h = n.h
      LEFT JOIN near ON near.doc_id = n.doc_id
      WHERE NOT n.old
      ORDER BY n.doc_id"""), headline = true),

    GraftQuery("l_quality_drift", (s, dir) => {
      val q10k = round(TextAnalysis.qualityScore(col("text")) * lit(10000.0), 0).cast("long")
      // decile bucket 0..9 from the integer q10k (shared scorer with
      // l_curation_pipeline — same rounding, same oracle fragment)
      val sb = docsWide(s, dir)
        .select(col("source"), least(floor(q10k / 1000).cast("long"), lit(9L)).as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val sources = sb.select("source").distinct()
      val buckets = s.range(10).select(col("id").as("bucket"))
      val grid = sources.crossJoin(broadcast(buckets))
        .join(sb, Seq("source", "bucket"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val srcTot = grid.groupBy("source").agg(sum("n").as("src_total"))
      val corpus = grid.groupBy("bucket").agg(sum("n").as("bn"))
      val corpusTot = corpus.agg(sum("bn").as("grand"))
      val corpusShare = corpus.crossJoin(broadcast(corpusTot))
        .select(col("bucket"), expr("bn * 10000 div grand").as("corpus_share_e4"))
      grid.join(srcTot, "source")
        .withColumn("share_e4", expr("n * 10000 div src_total"))
        .join(broadcast(corpusShare), "bucket")
        .withColumn("d_e4", abs(col("share_e4") - col("corpus_share_e4")))
        .groupBy("source")
        .agg(sum("n").as("n_docs"), sum("d_e4").as("l1_vs_corpus_e4"))
        .orderBy("source")
    }, Some("""
      WITH f AS (
        SELECT source, string_split_regex(trim(text), '\s+') AS t,
          CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
            / GREATEST(length(text), 1) AS punct_ratio,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
            / GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS stop_ratio
        FROM documents),
      q AS (
        SELECT source,
          LEAST(CAST(round(round(0.5 * stop_ratio + 0.3 * (1.0 - punct_ratio)
                + 0.2 * LEAST(CAST(len(t) AS DOUBLE) / 200.0, 1.0), 4)
               * 10000.0, 0) AS BIGINT) // 1000, 9) AS bucket
        FROM f),
      sb AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
      grid AS (
        SELECT s.source, b.bucket, COALESCE(sb.n, 0) AS n
        FROM (SELECT DISTINCT source FROM sb) s
        CROSS JOIN (SELECT unnest(range(10)) AS bucket) b
        LEFT JOIN sb ON sb.source = s.source AND sb.bucket = b.bucket),
      srct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS src_total FROM grid GROUP BY 1),
      cb AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS bn FROM grid GROUP BY 1),
      cs AS (SELECT bucket, bn * 10000 // (SELECT CAST(SUM(bn) AS BIGINT) FROM cb)
               AS corpus_share_e4 FROM cb),
      dd AS (
        SELECT g.source, g.n,
          abs(g.n * 10000 // st.src_total - cs.corpus_share_e4) AS d_e4
        FROM grid g JOIN srct st USING (source) JOIN cs USING (bucket))
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        CAST(SUM(d_e4) AS BIGINT) AS l1_vs_corpus_e4
      FROM dd GROUP BY 1 ORDER BY source"""))
  )
}
