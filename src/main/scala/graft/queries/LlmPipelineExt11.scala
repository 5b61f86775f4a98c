package graft.queries

import graft.GraftQuery
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Curation-pipeline tranche 11: cross-source contamination accounting
  * and boilerplate-family detection.
  *
  *  - `l_source_overlap`: the source×source contamination matrix —
  *    per source pair, how many distinct 3-gram shingles they share,
  *    plus the overlap coefficient (shared / min(|A|,|B|), e4
  *    integer). The "is src A scraped from src B" dashboard; run
  *    before mixing sources so duplicated material doesn't get
  *    double-weighted.
  *  - `l_prefix_families`: shared-prefix boilerplate detection — docs
  *    keyed by the hash of their first 10 tokens; families of ≥2 are
  *    template boilerplate (headers, licence blocks, scraper chrome)
  *    that position-level dedup (L42) treats as content. Per family:
  *    size, source spread, keeper election.
  *
  * Scale shape: the overlap join is shingle-keyed on DISTINCT
  * (shingle, source) pairs — fan-out per shingle is bounded by
  * sources², not corpus size, and the matrix itself is sources²
  * rows. Prefix families are one hash groupBy (partial-agg) over one
  * row per document.
  */
object LlmPipelineExt11 {

  private val prefixTokens = 10

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_source_overlap", (s, dir) => {
      val sh = docsWide(s, dir)
        .select(col("source"), explode(Dedup.wordShingles(col("text"), 3)).as("g"))
        .distinct()
        .localCheckpoint() // feeds sizes AND both join sides
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val shared = sh.as("a")
        // shuffle_hash: both self-join sides are the corpus-wide
        // (source, shingle) table whose checkpoint-carried estimate
        // lies (305 MB statically broadcast at sf1, BroadcastBudgetSpec)
        .join(sh.as("b").hint("shuffle_hash"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared_shingles"))
      shared
        .join(sizes.select(col("source").as("source_a"), col("n").as("na")), "source_a")
        .join(sizes.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
        .select(col("source_a"), col("source_b"), col("shared_shingles"),
          expr("shared_shingles * 10000 div least(na, nb)").as("overlap_e4"))
        .orderBy("source_a", "source_b")
    }, Some("""
      WITH tok AS (SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents),
      sh AS (
        SELECT DISTINCT source,
          unnest(list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
            i -> array_to_string(t[i:i+2], ' ')))) AS g
        FROM tok),
      sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
      shared AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_shingles
        FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
      SELECT source_a, source_b, CAST(shared_shingles AS BIGINT) AS shared_shingles,
        CAST(shared_shingles * 10000 // LEAST(na.n, nb.n) AS BIGINT) AS overlap_e4
      FROM shared
      JOIN sizes na ON na.source = shared.source_a
      JOIN sizes nb ON nb.source = shared.source_b
      ORDER BY source_a, source_b""")),

    GraftQuery("l_lang_confusion", (s, dir) => {
      // lang-ID quality audit: declared label vs L8's prediction as a
      // confusion matrix — the calibration view that says whether the
      // classifier is good enough to GATE on (and for which
      // languages). One (lang, predicted) HashAggregate.
      docsWide(s, dir)
        .select(col("lang"),
          graft.operators.TextAnalysis.langIdHeuristic(col("text")).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("correct", (col("lang") === col("predicted")).cast("long"))
        .orderBy("lang", "predicted")
    }, Some("""
      WITH f AS (
        SELECT lang,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['the','a','of','and'], x))) AS en,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['el','la','de','que'], x))) AS es,
          len(list_filter(string_split_regex(trim(text), '\s+'), x -> list_contains(['der','die','das','und'], x))) AS de
        FROM documents),
      p AS (
        SELECT lang,
          CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
               WHEN es >= de AND es > 0 THEN 'es'
               WHEN de > 0 THEN 'de'
               ELSE 'unk' END AS predicted
        FROM f)
      SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(CASE WHEN lang = predicted THEN 1 ELSE 0 END AS BIGINT) AS correct
      FROM p GROUP BY 1, 2 ORDER BY lang, predicted""")),

    GraftQuery("l_token_apportion", (s, dir) => {
      // token-budget apportionment: allocate a fixed training budget
      // across sources proportionally to their token mass with the
      // LARGEST-REMAINDER method (Hamilton apportionment) — floor the
      // integer quota, then hand the leftover seats to the largest
      // remainders (source name breaking ties). Pure integer, sums
      // EXACTLY to the budget — the planner that turns mixture
      // weights into concrete per-source token counts. Scalars (total
      // mass, leftover) ride 1-row broadcast cross joins; the rank
      // window is over sources (tiny).
      val budget = 100000L
      val toks = docsWide(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("t"))
        .groupBy("source").agg(sum("t").as("n_tokens"))
      val tot = toks.agg(sum("n_tokens").as("tot"))
      val quota = toks.crossJoin(broadcast(tot))
        .withColumn("floor_alloc", expr(s"$budget * n_tokens div tot"))
        .withColumn("rem", expr(s"($budget * n_tokens) % tot"))
      val left = quota.agg((lit(budget) - sum("floor_alloc")).as("leftover"))
      val w = Window.orderBy(col("rem").desc, col("source"))
      quota.crossJoin(broadcast(left))
        .withColumn("rk", row_number().over(w).cast("long"))
        .select(col("source"), col("n_tokens"), col("floor_alloc"),
          (col("floor_alloc") + (col("rk") <= col("leftover")).cast("long"))
            .as("allocated"))
        .orderBy("source")
    }, Some("""
      WITH toks AS (
        SELECT source,
          SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS n_tokens
        FROM documents GROUP BY 1),
      tot AS (SELECT SUM(n_tokens) AS tot FROM toks),
      quota AS (
        SELECT source, n_tokens,
          100000 * n_tokens // tot AS floor_alloc,
          (100000 * n_tokens) % tot AS rem
        FROM toks CROSS JOIN tot),
      lf AS (SELECT 100000 - SUM(floor_alloc) AS leftover FROM quota),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS r
        FROM quota)
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(floor_alloc AS BIGINT) AS floor_alloc,
        CAST(floor_alloc + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS BIGINT) AS allocated
      FROM rk CROSS JOIN lf ORDER BY source""")),

    GraftQuery("l_split_leakage", (s, dir) => {
      // train/val/test leakage audit: does any near-dup pair cross a
      // split boundary? The eval-integrity gate every pipeline should
      // run after splitting — a val doc near-duplicating a train doc
      // inflates eval. Composes the deterministic split rule (L25)
      // with the LSH near-dup edges (Jaccard ≥ 0.5): per ordered
      // split pair, the crossing count and a leak flag.
      val d = docsWide(s, dir)
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0))
      val splits = d.select(col("doc_id"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"))
      LlmPipelineExt9.lshEdges(d)
        .join(splits.select(col("doc_id").as("a"), col("split").as("sa")), "a")
        .join(splits.select(col("doc_id").as("b"), col("split").as("sb")), "b")
        .select(least(col("sa"), col("sb")).as("split_1"),
          greatest(col("sa"), col("sb")).as("split_2"))
        .groupBy("split_1", "split_2")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leak", (col("split_1") =!= col("split_2")).cast("long"))
        .orderBy("split_1", "split_2")
    }, Some(s"""
      WITH ${LlmPipelineExt9.oracleLshEdges},
      sp AS (
        SELECT doc_id,
          CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0 < 0.8 THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0 < 0.9 THEN 'val'
               ELSE 'test' END AS split
        FROM documents),
      cls AS (
        SELECT LEAST(pa.split, pb.split) AS split_1,
          GREATEST(pa.split, pb.split) AS split_2
        FROM e JOIN sp pa ON pa.doc_id = e.a JOIN sp pb ON pb.doc_id = e.b)
      SELECT split_1, split_2, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(CASE WHEN split_1 <> split_2 THEN 1 ELSE 0 END AS BIGINT) AS leak
      FROM cls GROUP BY 1, 2 ORDER BY split_1, split_2""")),

    GraftQuery("l_novelty_score", (s, dir) => {
      // per-doc originality: the fraction (e4) of the doc's distinct
      // 3-gram shingles that appear in NO other document — synthetic
      // or dup-heavy docs score near 0, novel text near 10000. The
      // inverse of contamination: measures what a doc ADDS to the
      // corpus. Shingle doc-frequencies ride one (shingle) shuffle;
      // the probe join is shingle-keyed (fan-out = df, bounded by the
      // corpus's duplication itself); one per-doc agg closes it.
      val sh = docsWide(s, dir)
        .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), 3)).as("g"))
        .localCheckpoint() // feeds the df build AND the probe join
      val df = sh.groupBy("g").agg(countDistinct("doc_id").as("df"))
      // shuffle_hash: df is shingle-vocabulary-sized (corpus-
      // proportional; 309 MB built at sf1 when Catalyst statically
      // broadcast it off a lying post-aggregate estimate — caught by
      // BroadcastBudgetSpec). Keep the probe join shingle-keyed as the
      // docstring promises.
      sh.join(df.hint("shuffle_hash"), "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1L, 1L).otherwise(0L)).as("unique_shingles"))
        .select(col("doc_id"), col("n_shingles"), col("unique_shingles"),
          expr("unique_shingles * 10000 div n_shingles").as("novelty_e4"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      sh AS (
        SELECT doc_id,
          unnest(list_distinct(list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
            i -> array_to_string(t[i:i+2], ' ')))) AS g
        FROM tok),
      dfq AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY 1),
      pd AS (
        SELECT doc_id, COUNT(*) AS n_shingles,
          SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS unique_shingles
        FROM sh JOIN dfq USING (g) GROUP BY 1)
      SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        CAST(unique_shingles AS BIGINT) AS unique_shingles,
        CAST(unique_shingles * 10000 // n_shingles AS BIGINT) AS novelty_e4
      FROM pd ORDER BY doc_id""")),

    GraftQuery("l_prefix_families", (s, dir) => {
      val p = docsWide(s, dir).select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(TextAnalysis.whitespaceTokens(col("text")), 1, prefixTokens)))
          .as("prefix_hash"))
      p.groupBy("prefix_hash")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          min("doc_id").as("keeper"))
        .where(col("n_docs") >= 2)
        .orderBy("prefix_hash")
    }, Some(s"""
      WITH p AS (
        SELECT doc_id, source,
          md5(array_to_string(string_split_regex(trim(text), '\\s+')[1:$prefixTokens], ' '))
            AS prefix_hash
        FROM documents)
      SELECT prefix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        MIN(doc_id) AS keeper
      FROM p GROUP BY 1 HAVING COUNT(*) >= 2
      ORDER BY prefix_hash"""))
  )
}
