package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Curation-pipeline tranche 8: binary-signature retrieval and
  * position-level substring dedup — the two remaining index/dedup
  * shapes a 100 TB pipeline runs that earlier tranches don't cover.
  *
  *  - `l_ann_hamming`: sign-bit binary quantization (64 float dims →
  *    64 bits packed as two 32-bit words) + Hamming-distance top-k.
  *    The classic binary-code ANN (Charikar 2002 SimHash lineage,
  *    "hashing for similarity search" family): 32× smaller than the
  *    float corpus, distance = XOR + popcount — both codegen'd integer
  *    ops, no FP anywhere past quantization. Two packed words rather
  *    than one demonstrate the multi-word layout dims > 64 needs, and
  *    sidestep DuckDB's checked `1<<63` overflow in the oracle.
  *  - `l_substring_dedup`: sliding w-token window duplicate detection
  *    (Lee et al. 2021 "Deduplicating Training Data" §4, the
  *    exact-substring variant) — UNALIGNED duplicated spans that
  *    l_chunk_dedup's fixed 20-word chunk grid misses. Every token
  *    position opens a window; a window text occurring more than once
  *    corpus-wide marks its position duplicated.
  *  - `l_corpus_report`: the per-source curation dashboard — doc/token
  *    totals, exact-dup rate, language spread — with a ROLLUP total
  *    row; the first query a pipeline operator runs on a new crawl.
  *
  * Scale shape: hamming codes are 16 B/vector and the corpus never
  * shuffles (queries broadcast); substring windows shuffle as
  * (doc_id, md5) pairs — window text never crosses the wire — with one
  * count-over-hash pass and one per-doc agg; the report is a single
  * partial-agg rollup.
  */
object LlmPipelineExt8 {

  /** 2^0..2^31 as literals: variable-shift-free bit packing keeps the
    * expression a pure zip_with fold (whole-stage codegen).
    */
  private val powers32: Column = array((0 until 32).map(i => lit(1L << i)): _*)

  /** Sign bits of dims [lo, lo+32) packed little-endian into a LONG. */
  private def signWord(e: Column, lo: Int): Column =
    aggregate(
      zip_with(slice(e, lo + 1, 32), powers32,
        (x, p) => when(x > 0d, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)

  /** (vec_id, code_lo, code_hi): the 16-byte binary signature table. */
  private def signCodes(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"),
        signWord(col("e"), 0).as("code_lo"),
        signWord(col("e"), 32).as("code_hi"))

  private val substrW = 20 // window length in tokens (Lee et al. use 50 BPE tokens; 20 words ≈ same span)

  /** Surprisal gate: keep docs whose mean bigram surprisal ≤ this many
    * centibits (4.32 bits/bigram = the sf0.01 corpus median — a real
    * ~50% gate, not a pass-all).
    */
  private val surprisalGateE2 = 432L

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_ann_hamming", (s, dir) => {
      val codes = signCodes(embsWide(s, dir)).localCheckpoint()
      val q = codes.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
      val scored = codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (bit_count(col("code_lo").bitwiseXOR(col("q_lo"))) +
            bit_count(col("code_hi").bitwiseXOR(col("q_hi")))).cast("long").as("hamming"))
      val rw = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
      scored.withColumn("rk", row_number().over(rw).cast("long"))
        .where(col("rk") <= 10)
        .select("query_id", "rk", "neighbor_id", "hamming")
        .orderBy("query_id", "rk")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id,
        CAST(list_sum(list_transform(range(0,32),
          i -> CASE WHEN e[i+1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS code_lo,
        CAST(list_sum(list_transform(range(32,64),
          i -> CASE WHEN e[i+1] > 0 THEN (1::BIGINT << (i-32)) ELSE 0::BIGINT END)) AS BIGINT) AS code_hi
        FROM e),
      s AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          CAST(bit_count(xor(q.code_lo, c.code_lo))
             + bit_count(xor(q.code_hi, c.code_hi)) AS BIGINT) AS hamming
        FROM c q JOIN c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rk
            FROM s)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, hamming
      FROM r WHERE rk <= 10 ORDER BY query_id, rk"""), headline = true),

    GraftQuery("l_substring_dedup", (s, dir) => {
      val d = docsWide(s, dir)
      val toks = d.select(col("doc_id"), TextAnalysis.whitespaceTokens(col("text")).as("t"))
      val wins = toks
        // outer explode + null guard: keeps the token kernel out of a
        // scan-side inferred filter; docs shorter than the window emit
        // an empty sequence -> null row -> dropped, identical to the
        // plain explode that skipped them
        .withColumn("off", explode_outer(
          when(size(col("t")) >= substrW,
            sequence(lit(1), size(col("t")) - (substrW - 1)))
            .otherwise(array().cast("array<int>"))))
        .where(col("off").isNotNull)
        // hash immediately: only (doc_id, 32-hex) crosses the shuffle,
        // never the 20-word window text
        .select(col("doc_id"),
          md5(array_join(slice(col("t"), col("off"), lit(substrW)), " ")).as("hw"))
      val cw = Window.partitionBy("hw")
      val perDoc = wins.withColumn("cnt", count(lit(1)).over(cw))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_windows"))
      d.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
          coalesce(expr("dup_windows * 10000 div n_windows"), lit(0L)).as("dup_frac_e4"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
      o AS (SELECT doc_id, t,
              unnest(generate_series(1, greatest(len(t) - ${substrW - 1}, 0))) AS i
            FROM t),
      w AS (SELECT doc_id, md5(array_to_string(t[i:i+${substrW - 1}], ' ')) AS hw FROM o),
      c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY hw) AS cnt FROM w),
      d AS (SELECT doc_id, COUNT(*) AS n_windows,
              SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS dup_windows
            FROM c GROUP BY doc_id)
      SELECT documents.doc_id,
        CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
        CAST(COALESCE(dup_windows, 0) AS BIGINT) AS dup_windows,
        CAST(COALESCE(dup_windows * 10000 // n_windows, 0) AS BIGINT) AS dup_frac_e4
      FROM documents LEFT JOIN d USING (doc_id) ORDER BY doc_id"""), headline = true),

    GraftQuery("l_surprisal_gate", (s, dir) => {
      // CCNet's perplexity-gate shape (Wenzek et al. 2020: keep docs a
      // reference LM finds unsurprising) made cross-engine-exact: FP
      // log-probs are replaced by INTEGER surprisal bits,
      // floor(log2(w1_total / c)) = length(bin(w1_total div c)) - 1 —
      // the bigram's probability rounded down to a power of two. The
      // "LM" is the corpus's own bigram table (l_bigram_lm's pc/w1t
      // rollups); per doc, mean surprisal bits (e2-scaled integer)
      // gates at ≤ MEAN_BITS_E2. Scale shape: the count table shards
      // by (w1,w2) key; the instance stream joins it keyed — never
      // broadcast (it's vocabulary², corpus-sized) — then one per-doc
      // partial agg. Same two-shuffle budget as l_bigram_lm.
      val t = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val d = docsWide(s, dir)
      // outer explode + null guard (see l_bigram_lm): one-token docs
      // zip to an empty array -> null row -> dropped, row-identical
      val pairs = d.select(col("doc_id"), explode_outer(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .where(col("p").isNotNull)
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .localCheckpoint() // feeds the model build AND the probe join
      val pc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val w1t = pc.groupBy("w1").agg(sum("c").as("w1_total"))
      // shuffle_hash: the bigram model is vocabulary²-sized (corpus-
      // proportional) but post-aggregate size estimates undershoot the
      // broadcast threshold — the executed plan statically broadcast
      // 329 MB at sf1 (BroadcastBudgetSpec), contradicting the sharded
      // shape documented above. Pin both model joins keyed.
      val model = pc.join(w1t.hint("shuffle_hash"), "w1")
        .withColumn("bits", length(bin(expr("w1_total div c"))).cast("long") - 1L)
      val perDoc = pairs.join(model.hint("shuffle_hash"), Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("total_bits"))
      d.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("total_bits"), lit(0L)).as("total_bits"),
          coalesce(expr("total_bits * 100 div n_bigrams"), lit(0L)).as("mean_bits_e2"))
        .withColumn("keep",
          (col("n_bigrams") > 0L && col("mean_bits_e2") <= surprisalGateE2).cast("long"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
      bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
             FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
      pc AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      w1t AS (SELECT w1, SUM(c) AS w1_total FROM pc GROUP BY 1),
      model AS (SELECT pc.w1, pc.w2,
                  length(bin(w1_total // c)) - 1 AS bits
                FROM pc JOIN w1t ON pc.w1 = w1t.w1),
      pd AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(bits) AS total_bits
             FROM bg JOIN model USING (w1, w2) GROUP BY doc_id)
      SELECT documents.doc_id,
        CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        CAST(COALESCE(total_bits, 0) AS BIGINT) AS total_bits,
        CAST(COALESCE(total_bits * 100 // n_bigrams, 0) AS BIGINT) AS mean_bits_e2,
        CAST(CASE WHEN COALESCE(n_bigrams, 0) > 0
                   AND COALESCE(total_bits * 100 // n_bigrams, 0) <= $surprisalGateE2
             THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM documents LEFT JOIN pd USING (doc_id) ORDER BY doc_id""")),

    GraftQuery("l_corpus_report", (s, dir) => {
      val base = docsWide(s, dir).select(col("source"), col("lang"), col("n_chars"),
        TextAnalysis.tokenCount(col("text")).as("toks"),
        md5(col("text")).as("h"))
      base.rollup(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum("toks").as("tokens"),
          countDistinct(col("h")).as("distinct_texts"),
          countDistinct(col("lang")).as("langs"),
          sum("n_chars").as("chars"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          col("docs"), col("tokens"),
          col("distinct_texts"), col("langs"),
          expr("(docs - distinct_texts) * 10000 div docs").as("dup_frac_e4"),
          expr("chars div docs").as("mean_chars"))
        .orderBy("source")
    }, Some("""
      WITH b AS (SELECT source, lang, n_chars,
        len(string_split_regex(trim(text), '\s+')) AS toks, md5(text) AS h
        FROM documents)
      SELECT COALESCE(source, 'ALL') AS source,
        CAST(COUNT(*) AS BIGINT) AS docs,
        CAST(SUM(toks) AS BIGINT) AS tokens,
        CAST(COUNT(DISTINCT h) AS BIGINT) AS distinct_texts,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs,
        CAST((COUNT(*) - COUNT(DISTINCT h)) * 10000 // COUNT(*) AS BIGINT) AS dup_frac_e4,
        CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars
      FROM b GROUP BY ROLLUP(source) ORDER BY source"""))
  )
}
