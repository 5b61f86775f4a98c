package graft.queries

import graft.GraftQuery
import graft.operators.{Ann, Dedup, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 LLM-pipeline tranche: knob pricing, retrieval, and gate
  * ensemble diagnostics.
  *
  *  - `l_dedup_threshold_curve`: the dedup-knob sensitivity curve —
  *    for each candidate Jaccard threshold (0.50 … 0.90), how many LSH
  *    candidate pairs qualify and how many documents they touch. The
  *    pipeline-design read BEFORE committing a threshold: L2 finds the
  *    pairs, this prices what each threshold would delete. Exact
  *    integer qualification (inter·100 ≥ t·union — no float compare).
  *  - `l_ann_nprobe_curve`: IVF recall-vs-nprobe tuning curve — for
  *    nprobe ∈ {1, 2, 4}, recall@5 of the inverted-list probe against
  *    the exact top-5 (FAISS's standard index-tuning sweep). Extends
  *    the index-honesty discipline (l_pq_recall, l_minhash_calib) from
  *    "is the estimator sane" to "which operating point to run".
  *  - `l_embed_norms`: embedding-table health before indexing — per
  *    label, the distribution of int8-quantized squared norms (exact
  *    integers), zero-vector and saturated-vector counts. Zero or
  *    degenerate vectors poison cosine ANN (undefined similarity) and
  *    k-means (ties); every FAISS deployment sweeps for them first.
  *  - `l_keyword_topk`: inverted-index boolean retrieval — the top-3
  *    document-frequency terms as the conjunctive query, documents
  *    containing ALL of them ranked by total term frequency, top-20.
  *    The classic posting-list AND-query: term filter pushes into the
  *    scan, ranking is a distributed TakeOrdered top-k, never a global
  *    sort.
  *  - `l_gate_agreement`: quality-gate ensemble agreement — C4-style
  *    vs Gopher-style keep decisions as a 2×2 confusion matrix with
  *    exact-integer Cohen's kappa (e4). Two named gates that mostly
  *    agree are redundant; two that disagree wildly mean the corpus
  *    needs a human look — the ensemble-curation diagnostic run before
  *    stacking gates in a pipeline.
  *
  * Scale shape: the threshold curve rides the banded LSH candidate
  * join (never all-pairs) and a 5-row broadcast grid; the nprobe sweep
  * broadcasts queries and centroids (corpus never shuffles); norms are
  * per-row array math + one partial agg; retrieval reduces to posting
  * lists with the term set broadcast; the agreement matrix is one
  * conditional-agg pass to a 2×2 grid.
  */
object LlmPipelineExt17 {

  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  private val oracleShingles3 =
    "list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1), i -> array_to_string(t[i:i+2], ' ')))"

  /** The L2 minhash→LSH→candidate chain as DuckDB CTEs (lock-step with
    * Dedup.minhashSignatureExploded/lshBands/candidatePairs at 8
    * hashes × 4 bands).
    */
  private val oracleCandidates = s"""
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

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_dedup_threshold_curve", (s, dir) => {
      // fused signature + 56-bit verify sets, one digest pass (r13
      // item 2), and the checkpoint is string-free: the r12 sf100sub
      // profile put ~1/3 of wall in the 8.4 GB shingle-STRING-array
      // exchange feeding the sa/sb verify joins (PLANS.md item 3);
      // longs carry the same sets at 8 B/shingle
      val sh = Dedup.signatureAndHash56(
          docsWide(s, dir).select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("shingles")),
          "shingles", numHashes = 8)
        .localCheckpoint()
      val bands = Dedup.lshBands(sh, "doc_id", numHashes = 8, rowsPerBand = 2)
        .localCheckpoint()
      val j = Dedup.candidatePairs(bands, "doc_id")
        .join(sh.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
        .join(sh.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")
        .select(col("a"), col("b"),
          size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
          size(array_union(col("sa"), col("sb"))).cast("long").as("uni"))
      val grid = s.createDataFrame(Seq(50L, 60L, 70L, 80L, 90L).map(Tuple1(_)))
        .toDF("threshold_e2")
      j.crossJoin(broadcast(grid))
        // integer qualification: jaccard >= t/100 ⇔ inter·100 >= t·union
        .where(col("inter") * 100 >= col("threshold_e2") * col("uni"))
        .select(col("threshold_e2"), explode(array(col("a"), col("b"))).as("doc"))
        .groupBy("threshold_e2")
        .agg(expr("count(1) div 2").as("n_pairs"),
          countDistinct("doc").as("n_docs"))
        .orderBy("threshold_e2")
    }, Some(s"""$oracleCandidates,
      shl AS (
        SELECT doc_id, list_distinct(list_transform(s,
          x -> CAST(('0x' || substr(md5(x), 1, 14)) AS BIGINT))) AS hs
        FROM sh),
      j AS (
        SELECT c.a, c.b,
          CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS inter,
          CAST(len(list_distinct(sa.hs || sb.hs)) AS BIGINT) AS uni
        FROM cand c JOIN shl sa ON sa.doc_id = c.a JOIN shl sb ON sb.doc_id = c.b),
      th AS (SELECT CAST(unnest([50, 60, 70, 80, 90]) AS BIGINT) AS threshold_e2),
      q AS (
        SELECT th.threshold_e2, j.a, j.b
        FROM j CROSS JOIN th
        WHERE j.inter * 100 >= th.threshold_e2 * j.uni),
      exd AS (SELECT threshold_e2, unnest([a, b]) AS doc FROM q)
      SELECT threshold_e2, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
        CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
      FROM exd GROUP BY 1 ORDER BY threshold_e2"""), headline = true),

    GraftQuery("l_ann_nprobe_curve", (s, dir) => {
      val e = embsWide(s, dir)
      val q = e.where(col("vec_id") < 5)
      val exact = Ann.bruteForceTopK(e, q, k = 5)
        .select("query_id", "neighbor_id")
      val probes = Seq(1, 2, 4)
      // one inverted-list build + one probe pass serves all three
      // operating points (a list probed at rank r is probed by every
      // nprobe ≥ r) — not three independent index scans
      val ivf = Ann.ivfTopKSweep(e, q, nCentroids = 16, probes, k = 5)
        .select("nprobe", "query_id", "neighbor_id")
      val hits = ivf.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
      // recall denominator derived from the exact result itself, NOT a
      // hard-coded 5×5=25: with ≤5 corpus vectors the exact top-5 holds
      // fewer than 5 neighbors per query (self excluded) and a literal
      // 25 would silently understate full recall (ADVICE r8)
      val den = exact.agg(count(lit(1)).as("den"))
      val grid = s.createDataFrame(probes.map(p => Tuple1(p.toLong))).toDF("nprobe")
      grid.join(hits, Seq("nprobe"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .crossJoin(broadcast(den))
        .withColumn("recall_e4", expr("n_hits * 10000 div den"))
        .select("nprobe", "n_hits", "recall_e4")
        .orderBy("nprobe")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < 16),
      ac AS (
        SELECT vec_id, e, cent_id FROM (
          SELECT n.vec_id, n.e, c.cent_id,
            ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_cosine_similarity(n.e, c.ce) DESC, c.cent_id) AS crk
          FROM e n CROSS JOIN c) WHERE crk = 1),
      prq AS (
        SELECT n.vec_id, n.e, c.cent_id,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id
            ORDER BY list_cosine_similarity(n.e, c.ce) DESC, c.cent_id) AS crk
        FROM e n CROSS JOIN c WHERE n.vec_id < 5),
      np AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
      pr AS (SELECT np.nprobe, q.vec_id, q.e, q.cent_id
             FROM prq q JOIN np ON q.crk <= np.nprobe),
      cnd AS (
        SELECT p.nprobe, p.vec_id AS query_id, a.vec_id AS neighbor_id,
          max(list_cosine_similarity(p.e, a.e)) AS cos
        FROM pr p JOIN ac a USING (cent_id)
        WHERE a.vec_id <> p.vec_id
        GROUP BY 1, 2, 3),
      rv AS (
        SELECT nprobe, query_id, neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
            ORDER BY cos DESC, neighbor_id) AS rk
        FROM cnd),
      ivf5 AS (SELECT nprobe, query_id, neighbor_id FROM rv WHERE rk <= 5),
      exq AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.e, n.e) DESC, n.vec_id) AS rk
        FROM e q CROSS JOIN e n
        WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id),
      ex5 AS (SELECT query_id, neighbor_id FROM exq WHERE rk <= 5),
      h AS (
        SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
        FROM ivf5 JOIN ex5 USING (query_id, neighbor_id)
        GROUP BY 1)
      SELECT np.nprobe, COALESCE(h.n_hits, 0) AS n_hits,
        COALESCE(h.n_hits, 0) * 10000 // (SELECT count(*) FROM ex5) AS recall_e4
      FROM np LEFT JOIN h USING (nprobe) ORDER BY nprobe""")),

    GraftQuery("l_embed_norms", (s, dir) => {
      // int8-quantized squared norms are EXACT integers (the float
      // norms themselves are fold-order-dependent doubles — not
      // cross-engine comparable); same quantizer as l_embed_quantize
      val e = embsWide(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("sc",
          greatest(array_max(transform(col("v"), x => abs(x))) / lit(127.0), lit(1e-12)))
        .withColumn("q", transform(col("v"), x => round(x / col("sc"), 0).cast("long")))
        .withColumn("nrm2", aggregate(col("q"), lit(0L), (a, x) => a + x * x))
        .withColumn("n_sat", size(filter(col("q"), x => abs(x) === 127)).cast("long"))
      e.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min("nrm2").as("min_nrm2"), max("nrm2").as("max_nrm2"),
          sum("nrm2").as("sum_nrm2"),
          sum(when(col("nrm2") === 0, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("n_sat") > 0, 1L).otherwise(0L)).as("n_saturated"))
        .withColumn("mean_nrm2", expr("sum_nrm2 div n_vecs"))
        .select("label", "n_vecs", "min_nrm2", "max_nrm2", "mean_nrm2",
          "n_zero", "n_saturated")
        .orderBy("label")
    }, Some("""
      WITH e AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          GREATEST(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0,
                   1e-12) AS sc,
          embedding
        FROM embeddings),
      q AS (
        SELECT vec_id, label,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)/sc, 0) AS BIGINT)) AS q
        FROM e),
      n AS (
        SELECT vec_id, label,
          CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm2,
          CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        FROM q)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        min(nrm2) AS min_nrm2, max(nrm2) AS max_nrm2,
        CAST(SUM(nrm2) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_nrm2,
        CAST(SUM(CASE WHEN nrm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        CAST(SUM(CASE WHEN n_sat > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
      FROM n GROUP BY 1 ORDER BY label""")),

    GraftQuery("l_keyword_topk", (s, dir) => {
      // token kernel + outer-explode guard (see l_heavy_hitters)
      val toks = docsWide(s, dir)
        .select(col("doc_id"), explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("w"))
        .where(col("w").isNotNull)
      val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .localCheckpoint() // read twice: df election + the AND-query
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      // vocab-bounded global window (type table, counts pre-aggregated)
      val wq = Window.orderBy(col("df").desc, col("w"))
      val terms = dfreq.withColumn("trk", row_number().over(wq))
        .where(col("trk") <= 3).select("w")
      val matched = tf.join(broadcast(terms), "w")
        .groupBy("doc_id").agg(count(lit(1)).as("n_terms"), sum("tf").as("tf_total"))
        .where(col("n_terms") === 3)
      // distributed top-k (TakeOrdered), never a global sort; the rank
      // window runs over the 20 surviving rows only
      val top = matched.orderBy(col("tf_total").desc, col("doc_id")).limit(20)
      top.withColumn("rk",
          row_number().over(Window.orderBy(col("tf_total").desc, col("doc_id"))))
        .select("rk", "doc_id", "tf_total")
        .orderBy("rk")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, unnest($oracleTokens) AS w FROM documents),
      tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      terms AS (
        SELECT w FROM (
          SELECT w, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS trk FROM dfq)
        WHERE trk <= 3),
      m AS (
        SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
          CAST(SUM(tf.tf) AS BIGINT) AS tf_total
        FROM tf JOIN terms USING (w)
        GROUP BY 1 HAVING count(*) = 3),
      r AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY tf_total DESC, doc_id) AS rk FROM m)
      SELECT CAST(rk AS BIGINT) AS rk, doc_id, tf_total
      FROM r WHERE rk <= 20 ORDER BY rk""")),

    GraftQuery("l_gate_agreement", (s, dir) => {
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val stop = array(lit("the"), lit("and"), lit("of"), lit("to"), lit("in"))
      val d = docsWide(s, dir)
        .withColumn("t", t)
        .withColumn("nw", size(col("t")).cast("long"))
        .withColumn("chars",
          aggregate(transform(col("t"), w => length(w).cast("long")), lit(0L), (a, x) => a + x))
        .withColumn("alpha_w",
          size(filter(col("t"), w => w.rlike("[a-zA-Z]"))).cast("long"))
        // C4-style: enough words, a stopword present, sane mean word
        // length (3 ≤ chars/nw ≤ 10, cross-multiplied exact)
        .withColumn("c4_keep",
          when(col("nw") >= 20 && arrays_overlap(col("t"), stop) &&
            col("chars") >= col("nw") * 3 && col("chars") <= col("nw") * 10, 1L)
            .otherwise(0L))
        // Gopher-style: word-count bounds + alphabetic-word share ≥ 70%
        .withColumn("gopher_keep",
          when(col("nw") >= 20 && col("nw") <= 100000 &&
            col("alpha_w") * 10 >= col("nw") * 7, 1L).otherwise(0L))
      val cm = d.groupBy("c4_keep", "gopher_keep").agg(count(lit(1)).as("n_docs"))
        .localCheckpoint() // ≤ 4 rows; kappa scalars re-read it
      val k = cm.agg(
        sum("n_docs").as("n"),
        sum(when(col("c4_keep") === col("gopher_keep"), col("n_docs")).otherwise(0L)).as("agree"),
        sum(when(col("c4_keep") === 1, col("n_docs")).otherwise(0L)).as("c4_yes"),
        sum(when(col("gopher_keep") === 1, col("n_docs")).otherwise(0L)).as("g_yes"))
      cm.crossJoin(broadcast(k))
        .withColumn("po_e4", expr("agree * 10000 div n"))
        // marginal e4 shares FIRST (numerators linear in n): the earlier
        // (c4_yes·g_yes + …)·10⁴ form is O(n²)·10⁴ and overflows Long at
        // n ≈ 1e8 docs (ADVICE r8) — at odds with corpus-scale framing.
        // Truncation schedule (div n, then div 10⁴) mirrored in the oracle.
        .withColumn("c4y_e4", expr("c4_yes * 10000 div n"))
        .withColumn("gy_e4", expr("g_yes * 10000 div n"))
        .withColumn("pe_e4",
          expr("(c4y_e4 * gy_e4 + (10000 - c4y_e4) * (10000 - gy_e4)) div 10000"))
        // pe_e4 = 10000 (expected agreement total — both gates' keep
        // shares truncate to 0 or 1) leaves kappa UNDEFINED; define the
        // degenerate case as 0 explicitly on BOTH engines (ADVICE r9 —
        // the old greatest(…,1) guard emitted a meaningless ~-10⁷).
        .withColumn("kappa_e4",
          expr("CASE WHEN pe_e4 >= 10000 THEN CAST(0 AS BIGINT) " +
            "ELSE (po_e4 - pe_e4) * 10000 div (10000 - pe_e4) END"))
        .select("c4_keep", "gopher_keep", "n_docs", "po_e4", "pe_e4", "kappa_e4")
        .orderBy("c4_keep", "gopher_keep")
    }, Some(s"""
      WITH d AS (
        SELECT doc_id, $oracleTokens AS t FROM documents),
      f AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS nw,
          CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) AS chars,
          CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS alpha_w,
          CAST(len(list_intersect(t, ['the','and','of','to','in'])) AS BIGINT) AS n_stop
        FROM d),
      g AS (
        SELECT doc_id,
          CAST(CASE WHEN nw >= 20 AND n_stop > 0
                     AND chars >= nw * 3 AND chars <= nw * 10
               THEN 1 ELSE 0 END AS BIGINT) AS c4_keep,
          CAST(CASE WHEN nw >= 20 AND nw <= 100000 AND alpha_w * 10 >= nw * 7
               THEN 1 ELSE 0 END AS BIGINT) AS gopher_keep
        FROM f),
      cm AS (
        SELECT c4_keep, gopher_keep, CAST(count(*) AS BIGINT) AS n_docs
        FROM g GROUP BY 1, 2),
      k AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN c4_keep = gopher_keep THEN n_docs ELSE 0 END) AS BIGINT) AS agree,
          CAST(SUM(CASE WHEN c4_keep = 1 THEN n_docs ELSE 0 END) AS BIGINT) AS c4_yes,
          CAST(SUM(CASE WHEN gopher_keep = 1 THEN n_docs ELSE 0 END) AS BIGINT) AS g_yes
        FROM cm),
      k2 AS (
        SELECT agree * 10000 // n AS po_e4,
          c4_yes * 10000 // n AS c4y_e4,
          g_yes * 10000 // n AS gy_e4
        FROM k),
      k3 AS (
        SELECT po_e4,
          (c4y_e4 * gy_e4 + (10000 - c4y_e4) * (10000 - gy_e4)) // 10000 AS pe_e4
        FROM k2)
      SELECT cm.c4_keep, cm.gopher_keep, cm.n_docs, k3.po_e4, k3.pe_e4,
        CASE WHEN k3.pe_e4 >= 10000 THEN CAST(0 AS BIGINT)
             ELSE (k3.po_e4 - k3.pe_e4) * 10000 // (10000 - k3.pe_e4)
        END AS kappa_e4
      FROM cm CROSS JOIN k3
      ORDER BY c4_keep, gopher_keep"""))
  )
}
