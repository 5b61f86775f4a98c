package graft.queries

import graft.GraftQuery
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Curation-pipeline tranche 2: the remaining operators a production
  * training-data pipeline runs at scale — repetition/boilerplate
  * scoring (Gopher-style quality rule), benchmark-contamination
  * checking (n-gram overlap vs an eval set), deterministic stratified
  * sampling (hash-threshold, zero-shuffle), and PII redaction.
  */
object LlmPipelineExt2 {

  /** DuckDB word-shingle fragments (same family as LlmPipeline's). */
  private def oracleShingles(n: Int): String = {
    val lastTok = n - 1
    s"list_distinct(list_transform(range(1, GREATEST(len(t) - $lastTok, 1) + 1), i -> array_to_string(t[i:i+$lastTok], ' ')))"
  }
  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  /** Fixed n-word chunk array of `text` (≥1 chunk; the "paragraphs" of
    * this punctuation-free corpus) — the ONE chunking definition
    * `l_chunk_dedup` (accounting) and `l_paragraph_scrub` (removal)
    * share: the scrub must remove exactly what the accounting counts.
    * r16: the one-pass chunk kernel (ChunkKernelSpec pins it
    * byte-identical to the composed transform/slice form the oracle
    * keeps) — the composed form's transform HOF is CodegenFallback and
    * re-evaluated the tokenizer per chunk (VERDICT r15 item 2:
    * l_paragraph_scrub 0.54x).
    */
  private def chunkArr(n: Int): org.apache.spark.sql.Column =
    TextAnalysis.wordChunks(col("text"), n)

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_repetition", (s, dir) => {
      // repeated-word / low-diversity scoring (the Gopher "fraction of
      // most common word" rule): top_count/n_tokens and
      // n_distinct/n_tokens per doc. Two partial-agg-friendly groupBys;
      // all comparisons integer-exact.
      // token kernel + outer-explode guard: InferFiltersFromGenerate
      // must not land the kernel in a scan-side filter; graft_tokens
      // never yields null/empty, so the outer form is row-identical
      val tok = docsWide(s, dir).select(col("doc_id"),
        explode_outer(TextAnalysis.whitespaceTokens(col("text"))).as("w"))
        .where(col("w").isNotNull)
      tok.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), max("c").as("top_count"),
          count(lit(1)).as("n_distinct"))
        .select(col("doc_id"), col("n_tokens"), col("top_count"), col("n_distinct"),
          round(col("top_count").cast("double") / col("n_tokens"), 4).as("rep_ratio"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 4).as("diversity"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
                   FROM documents),
      c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
      a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(max(c) AS BIGINT) AS top_count,
              CAST(count(*) AS BIGINT) AS n_distinct
            FROM c GROUP BY 1)
      SELECT doc_id, n_tokens, top_count, n_distinct,
        round(CAST(top_count AS DOUBLE)/n_tokens, 4) AS rep_ratio,
        round(CAST(n_distinct AS DOUBLE)/n_tokens, 4) AS diversity
      FROM a ORDER BY doc_id""")),

    GraftQuery("l_contamination", (s, dir) => {
      // benchmark-contamination check: fraction of each candidate doc's
      // distinct 3-gram shingles that appear in the eval set (source
      // 'src0' plays the held-out benchmark). With a REAL fixed eval
      // set the bench side is bounded and broadcast is the standard
      // decontamination sweep shape — but here 'src0' is a corpus
      // SLICE, so the side grows with the lake (179 MB built at sf10,
      // the r12 sf10 broadcast audit) and a static broadcast never
      // demotes; shuffle_hash co-partitions both sides on the shingle
      // key instead, which is the correct form whenever the eval set
      // is itself lake-scale.
      val sh = docsWide(s, dir).select(col("doc_id"), col("source"),
        explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
      val bench = sh.where(col("source") === "src0")
        .select("sh").distinct().withColumn("hit", lit(1L))
      sh.where(col("source") =!= "src0")
        .join(bench.hint("shuffle_hash"), Seq("sh"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("doc_id"), col("n_shingles"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_shingles"), 4).as("contamination"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tok AS (SELECT doc_id, source, $oracleTokens AS t FROM documents),
      sh AS (SELECT doc_id, source, unnest(${oracleShingles(3)}) AS sh FROM tok),
      bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
      j AS (SELECT s.doc_id, CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END AS hit
            FROM sh s LEFT JOIN bench b ON s.sh = b.sh
            WHERE s.source <> 'src0')
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(sum(hit) AS BIGINT) AS n_hits,
        round(CAST(sum(hit) AS DOUBLE)/count(*), 4) AS contamination
      FROM j GROUP BY doc_id ORDER BY doc_id""")),

    GraftQuery("l_stratified_sample", (s, dir) => {
      // deterministic stratified sampling: per-language rates applied
      // via an md5 hash threshold — reproducible across engines AND
      // across runs/cluster sizes (no RNG, no shuffle; the sample
      // decision is a scalar predicate that rides the scan). Output is
      // the per-(source, lang) sample accounting.
      val d = docs(s, dir)
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)
      val rate = when(col("lang") === "en", 0.5)
        .when(col("lang") === "fr", 0.25).otherwise(0.1)
      d.withColumn("keep", (u < rate).cast("long"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_total"), sum("keep").as("n_sampled"))
        .orderBy("source", "lang")
    }, Some("""
      WITH d AS (
        SELECT source, lang,
          CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0
                 < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'fr' THEN 0.25 ELSE 0.1 END)
               THEN 1 ELSE 0 END AS keep
        FROM documents)
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_total,
        CAST(sum(keep) AS BIGINT) AS n_sampled
      FROM d GROUP BY source, lang ORDER BY source, lang""")),

    GraftQuery("l_sequence_pack", (s, dir) => {
      // GPT-style sequence packing: documents concatenated in a global
      // order and chunked into fixed 2048-token training windows. Each
      // doc's placement = (bin, offset) from the running token total —
      // computed with Prefix.runningSum (range partition + local
      // window + k offsets), NEVER a single-task global window.
      val d = docsWide(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Prefix
        .runningSum(d, Seq(col("doc_id")), col("n_tokens"), "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
          expr("(cum_tokens - n_tokens) div 2048").as("bin"),
          expr("(cum_tokens - n_tokens) % 2048").as("bin_offset"),
          expr("((cum_tokens - 1) div 2048) - ((cum_tokens - n_tokens) div 2048) + 1")
            .as("n_bins_spanned"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS cum_tokens
        FROM d)
      SELECT doc_id, n_tokens, cum_tokens,
        (cum_tokens - n_tokens) // 2048 AS bin,
        (cum_tokens - n_tokens) % 2048 AS bin_offset,
        ((cum_tokens - 1) // 2048) - ((cum_tokens - n_tokens) // 2048) + 1
          AS n_bins_spanned
      FROM c ORDER BY doc_id""")),

    GraftQuery("l_chunk_dedup", (s, dir) => {
      // repeated-chunk accounting (the RefinedWeb/CCNet "duplicated
      // paragraph" signal; this corpus has no punctuation, so fixed
      // 20-word chunks play the paragraphs): per doc, how many of its
      // distinct chunks appear in at least one OTHER doc. Scale shape:
      // explode → distinct (doc, hash) → hash-count groupBy → hash
      // join back → per-doc agg; every count integer-exact.
      // outer explode + null guard: chunkArr's sequence is never empty
      // (nChunks >= 1), so the form is row-identical — and the token
      // kernel inside chunkArr stays out of scan-side inferred filters
      val ch = docsWide(s, dir)
        .select(col("doc_id"), explode_outer(chunkArr(20)).as("chunk"))
        .where(col("chunk").isNotNull)
        .select(col("doc_id"), md5(col("chunk")).as("h")).distinct()
      val byHash = ch.groupBy("h").agg(count(lit(1)).as("n_docs"))
      // shuffle_hash: byHash is chunk-vocabulary-sized (corpus-
      // proportional) and its post-aggregate estimate lies under the
      // broadcast threshold (26 MB statically broadcast at sf1,
      // BroadcastBudgetSpec) — keep the join hash-keyed as documented
      ch.join(byHash.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum((col("n_docs") > 1).cast("long")).as("n_dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4).as("dup_ratio"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                   FROM documents),
      ch AS (
        SELECT DISTINCT doc_id,
          md5(array_to_string(t[i*20+1 : i*20+20], ' ')) AS h
        FROM tok, LATERAL (SELECT unnest(range(0,
          GREATEST(CAST(ceil(len(t)/20.0) AS INTEGER), 1))) AS i) gen),
      byh AS (SELECT h, count(*) AS n_docs FROM ch GROUP BY h)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        round(CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 4)
          AS dup_ratio
      FROM ch JOIN byh USING (h)
      GROUP BY doc_id ORDER BY doc_id""")),

    GraftQuery("l_paragraph_scrub", (s, dir) => {
      // duplicated-paragraph REMOVAL with document reconstruction —
      // the transform l_chunk_dedup only accounts for (RefinedWeb §3:
      // duplicated spans are cut out of the kept documents, not just
      // counted). A chunk instance is removed when its hash occurs in
      // more than one distinct document; survivors are reassembled in
      // position order and the cleaned text rides as its md5 (rows
      // stay narrow — the full cleaned corpus would be the same plan
      // minus the final hash). Same chunking core as l_chunk_dedup by
      // construction. Scale shape: explode → distinct-doc hash counts
      // (partial-agg) → hash-keyed join back → per-doc
      // ordered reassembly via array_sort over (idx, chunk) structs —
      // no window, no global order, every count integer.
      // ch feeds both the hash-count build side and the join probe;
      // checkpointing materializes the chunk explode ONCE (2 scans →
      // 1). Same tradeoff as minhash's corpus checkpoint: wins while
      // the chunk table fits storage, recompute is the >memory-scale
      // fallback.
      // outer posexplode + null guard: same rationale as l_chunk_dedup
      val ch = docsWide(s, dir)
        .select(col("doc_id"), posexplode_outer(chunkArr(20)).as(Seq("idx", "chunk")))
        .where(col("chunk").isNotNull)
        .withColumn("h", md5(col("chunk")))
        .localCheckpoint()
      val byHash = ch.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("n_docs"))
      // shuffle_hash: same corpus-proportional hash-count side as
      // l_chunk_dedup (45 MB statically broadcast at sf1)
      ch.join(byHash.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum((col("n_docs") > 1).cast("long")).as("n_removed"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("n_docs") === 1,
              struct(col("idx"), col("chunk"))))),
            _.getField("chunk")), " ")).as("clean_md5"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                   FROM documents),
      ch AS (
        SELECT doc_id, i AS idx,
          array_to_string(t[i*20+1 : i*20+20], ' ') AS chunk,
          md5(array_to_string(t[i*20+1 : i*20+20], ' ')) AS h
        FROM tok, LATERAL (SELECT unnest(range(0,
          GREATEST(CAST(ceil(len(t)/20.0) AS INTEGER), 1))) AS i) gen),
      byh AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY h)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        md5(COALESCE(string_agg(CASE WHEN n_docs = 1 THEN chunk END, ' ' ORDER BY idx),
                     '')) AS clean_md5
      FROM ch JOIN byh USING (h)
      GROUP BY doc_id ORDER BY doc_id"""), headline = true),

    GraftQuery("l_pii_scrub", (s, dir) => {
      // PII redaction: emails and phone-shaped strings replaced with
      // placeholder tags + per-doc match accounting. The corpus is
      // synthetic word soup, so PII is injected deterministically
      // first — the redaction pipeline (regexp_replace chain riding
      // the scan, no shuffle) is what's under test.
      val full = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"), lit(" now"))
      val emailRe = "u[0-9]+@[a-z.]+com"
      val phoneRe = "555-[0-9]{4}"
      docs(s, dir).select(col("doc_id"),
          size(regexp_extract_all(full, lit(emailRe), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(full, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(full, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS ftext
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(ftext, 'u[0-9]+@[a-z.]+com')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(ftext, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        md5(regexp_replace(regexp_replace(ftext, 'u[0-9]+@[a-z.]+com', '<EMAIL>', 'g'),
          '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
      FROM d ORDER BY doc_id"""))
  )
}
