package graft.queries

import graft.GraftQuery
import graft.operators.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 third tranche: tokenizer-health + boilerplate symmetry.
  *
  *  - `l_fertility`: tokenizer fertility per (lang, source) — subword
  *    tokens per whitespace word, e4 fixed-point (fertility is THE
  *    standard tokenizer-suitability metric per language: a tokenizer
  *    that explodes one language into 3× the subwords of another buys
  *    that language less context and more compute per sentence). Here
  *    the BPE-ish regex tokenizer (L10's) plays the subword encoder;
  *    corpus reduces to one partial-agg pass, ratios on the
  *    (lang × source) grid.
  *  - `l_suffix_families`: shared-SUFFIX boilerplate families — docs
  *    keyed by their last-k-token hash: the footer/disclaimer/
  *    signature counterpart of L52's prefix families (headers).
  *    Same one-HashAggregate shape; families of ≥2 docs with a
  *    deterministic keeper election.
  */
object LlmPipelineExt16 {

  // 3 on the synthetic corpus: its duplicate mass is prefix-heavy and
  // tails diverge fast, so 3 tokens is where sign-off phrases repeat;
  // real footers/disclaimers are longer — the knob widens with them
  private val suffixTokens = 3

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_fertility", (s, dir) => {
      val txt = col("text")
      docs(s, dir).select(col("lang"), col("source"),
          TextAnalysis.tokenCount(txt).as("words"),
          TextAnalysis.bpeishTokenCount(txt).as("subwords"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("words").as("total_words"),
          sum("subwords").as("total_subwords"))
        .withColumn("fertility_e4",
          expr("total_subwords * 10000 div total_words"))
        .orderBy("lang", "source")
    }, Some("""
      WITH t AS (
        SELECT lang, source,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS words,
          CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS subwords
        FROM documents)
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(words) AS BIGINT) AS total_words,
        CAST(sum(subwords) AS BIGINT) AS total_subwords,
        CAST(sum(subwords) AS BIGINT) * 10000 // CAST(sum(words) AS BIGINT) AS fertility_e4
      FROM t GROUP BY 1, 2
      ORDER BY lang, source"""), headline = true),

    GraftQuery("l_gopher_rules", (s, dir) => {
      // the full Gopher rule battery (Rae et al. 2021 §A1.1.1), the
      // OTHER named heuristic gate next to L33's C4 rules — every
      // comparison integer-exact (cross-multiplied, no ratios):
      //   word count in [50, 100000]
      //   mean word length in [3, 10]        ⇔ 3w ≤ chars ≤ 10w
      //   symbol-to-word ratio ('#'/'...') ≤ 0.1 ⇔ 10·sym ≤ w
      //   bullet-start lines ≤ 10%           ⇔ 10·bullet ≤ lines
      //   ellipsis-end lines ≤ 30%           ⇔ 10·ell ≤ 3·lines
      //   words with an alphabetic char ≥ 80% ⇔ 5·alpha ≥ 4·w
      //   ≥ 2 of the 8 Gopher stopwords present
      // Per-row string arithmetic only — the gate rides the scan with
      // NO shuffle; one output sort. (L17 covers the top-word-fraction
      // repetition rule of the same paper.)
      val words = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val lines = split(col("text"), "\n")
      val sw = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val d = docs(s, dir).select(col("doc_id"),
        size(words).cast("long").as("w"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("chars"),
        ((length(col("text")) - length(regexp_replace(col("text"), "#", ""))) +
          (length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
          .cast("long").as("sym"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => ltrim(l).startsWith("-") || ltrim(l).startsWith("*")))
          .cast("long").as("bullet_lines"),
        size(filter(lines, l => rtrim(l).endsWith("..."))).cast("long").as("ellipsis_lines"),
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long").as("alpha_words"),
        sw.map(t => array_contains(words, t).cast("long")).reduce(_ + _).as("stopword_hits"))
      d.select(col("doc_id"), col("w").as("n_words"), col("stopword_hits"),
          (col("w") >= 50L && col("w") <= 100000L).as("r_word_count"),
          (col("chars") >= lit(3L) * col("w") && col("chars") <= lit(10L) * col("w"))
            .as("r_mean_word_len"),
          (lit(10L) * col("sym") <= col("w")).as("r_symbol_ratio"),
          (lit(10L) * col("bullet_lines") <= col("n_lines")).as("r_bullets"),
          (lit(10L) * col("ellipsis_lines") <= lit(3L) * col("n_lines")).as("r_ellipsis"),
          (lit(5L) * col("alpha_words") >= lit(4L) * col("w")).as("r_alpha_words"),
          (col("stopword_hits") >= 2L).as("r_stopwords"))
        .withColumn("passes_all",
          col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
            col("r_bullets") && col("r_ellipsis") && col("r_alpha_words") && col("r_stopwords"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS words,
          string_split(text, chr(10)) AS lines,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
          CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS chars,
          CAST((length(text) - length(replace(text, '#', '')))
            + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS sym
        FROM documents),
      m AS (
        SELECT doc_id, w, chars, sym,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(list_filter(lines, x -> starts_with(ltrim(x), '-')
            OR starts_with(ltrim(x), '*'))) AS BIGINT) AS bullet_lines,
          CAST(len(list_filter(lines, x -> ends_with(rtrim(x), '...'))) AS BIGINT)
            AS ellipsis_lines,
          CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
            AS alpha_words,
          CAST(CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END AS BIGINT)
            AS stopword_hits
        FROM t)
      SELECT doc_id, w AS n_words, stopword_hits,
        w >= 50 AND w <= 100000 AS r_word_count,
        chars >= 3*w AND chars <= 10*w AS r_mean_word_len,
        10*sym <= w AS r_symbol_ratio,
        10*bullet_lines <= n_lines AS r_bullets,
        10*ellipsis_lines <= 3*n_lines AS r_ellipsis,
        5*alpha_words >= 4*w AS r_alpha_words,
        stopword_hits >= 2 AS r_stopwords,
        (w >= 50 AND w <= 100000) AND (chars >= 3*w AND chars <= 10*w)
          AND 10*sym <= w AND 10*bullet_lines <= n_lines
          AND 10*ellipsis_lines <= 3*n_lines AND 5*alpha_words >= 4*w
          AND stopword_hits >= 2 AS passes_all
      FROM m ORDER BY doc_id""")),

    GraftQuery("l_mixture_epochs", (s, dir) => {
      // data-constrained epoch accounting (Muennighoff et al. 2023
      // "Scaling Data-Constrained Language Models" lineage): under a
      // training budget of 2× the corpus, each source's UNIFORM share
      // implies an epoch count over its available tokens —
      // epochs_e4 = share·1e4 div available — plus the repeated-token
      // mass and the >4-epochs flag (the point where repetition's
      // value decays in the paper's fits). The planning table that
      // says WHICH sources the mixture will be forced to repeat.
      // Exact integers end-to-end; the budget/share scalars ride a
      // 1-row broadcast; the remainder election ranks sources by name
      // (deterministic, sources ≪ corpus).
      val toks = docs(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("t"))
        .groupBy("source").agg(sum("t").as("n_tokens"))
      val tot = toks.agg(sum("n_tokens").as("tot"),
        count(lit(1)).as("n_sources"))
      val w = Window.orderBy("source")
      toks.crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(w).cast("long"))
        // budget = 2·tot, split evenly; first (budget % n_sources)
        // sources by name absorb the remainder so shares sum EXACTLY
        .withColumn("share",
          expr("(2 * tot) div n_sources + if(rk <= (2 * tot) % n_sources, 1, 0)"))
        .withColumn("epochs_e4", expr("share * 10000 div n_tokens"))
        .withColumn("repeated_tokens", greatest(col("share") - col("n_tokens"), lit(0L)))
        .withColumn("over_4_epochs", (col("epochs_e4") > 40000L).cast("boolean"))
        .select("source", "n_tokens", "share", "epochs_e4", "repeated_tokens",
          "over_4_epochs")
        .orderBy("source")
    }, Some("""
      WITH toks AS (
        SELECT source,
          SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS n_tokens
        FROM documents GROUP BY 1),
      tot AS (SELECT SUM(n_tokens) AS tot, CAST(COUNT(*) AS BIGINT) AS n_sources FROM toks),
      rk AS (
        SELECT toks.*, tot.*, ROW_NUMBER() OVER (ORDER BY source) AS rk
        FROM toks CROSS JOIN tot),
      sh AS (
        SELECT *, (2 * tot) // n_sources
            + CASE WHEN rk <= (2 * tot) % n_sources THEN 1 ELSE 0 END AS share
        FROM rk)
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(share AS BIGINT) AS share,
        CAST(share * 10000 // n_tokens AS BIGINT) AS epochs_e4,
        CAST(greatest(share - n_tokens, 0) AS BIGINT) AS repeated_tokens,
        share * 10000 // n_tokens > 40000 AS over_4_epochs
      FROM sh ORDER BY source""")),

    GraftQuery("l_suffix_families", (s, dir) => {
      // last `suffixTokens` tokens via a clamped POSITIVE start index:
      // negative-start slice semantics on short arrays differ between
      // engines, greatest(1, n-9) is exact in both
      val toks = TextAnalysis.whitespaceTokens(col("text")) // kernel == composed split
      val p = docs(s, dir).select(col("doc_id"), col("source"),
        md5(concat_ws(" ",
          slice(toks, greatest(lit(1), size(toks) - lit(suffixTokens - 1)),
            lit(suffixTokens)))).as("suffix_hash"))
      p.groupBy("suffix_hash")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          min("doc_id").as("keeper"))
        .where(col("n_docs") >= 2)
        .orderBy("suffix_hash")
    }, Some(s"""
      WITH p AS (
        SELECT doc_id, source,
          md5(array_to_string(
            (string_split_regex(trim(text), '\\s+'))[greatest(1, len(string_split_regex(trim(text), '\\s+')) - ${suffixTokens - 1}):],
            ' ')) AS suffix_hash
        FROM documents)
      SELECT suffix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        MIN(doc_id) AS keeper
      FROM p GROUP BY 1 HAVING COUNT(*) >= 2
      ORDER BY suffix_hash""")))
}
