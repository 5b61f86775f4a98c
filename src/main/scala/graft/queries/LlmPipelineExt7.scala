package graft.queries

import graft.GraftQuery
import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** Curation-pipeline tranche 7: tokenizer SERVING — applying a trained
  * BPE vocabulary to text (Sennrich et al. 2016 §3's encode loop), the
  * stage every downstream token count/packing/budget query consumes.
  * `l_bpe_merge` (L36) pins one induction round cross-engine and
  * BpeSpec pins multi-round training against an independent in-memory
  * implementation; this tranche closes the remaining edge: a FULL
  * train→encode composition checked cross-engine, with the encode
  * target deliberately different from the training corpus slice so
  * application is exercised as its own operator, not a byproduct of
  * training.
  *
  * Scale shape: training iterates on the driver (one broadcast winning
  * pair per rank — the Lloyd convention); encoding is rank-sequential
  * window passes over the TARGET only (O(ranks · target tokens)),
  * with the corpus untouched at serve time — exactly how a trained
  * tokenizer deploys against a new document stream.
  */
object LlmPipelineExt7 {

  private val oracleTokens = "string_split_regex(trim(text), '\\s+')"

  /** How many merge ranks to train/apply, and the encode target's
    * token prefix length. The target (first `targetLen` tokens of
    * each doc) overlaps the corpus but is NOT a training-time slice:
    * merges that straddle position `targetLen` in the corpus must not
    * fire in the target, which only a genuine separate application
    * pass gets right.
    */
  private val ranks = 3
  private val targetLen = 16

  /** The merge-application CTE chain (gaps-and-islands parity,
    * identical to Bpe.applyMergeJoined and l_bpe_merge's oracle),
    * parameterized so the training unroll and the target application
    * share one definition. Reads `src`, pairs from `top`, emits
    * `out(doc_id, pos, w)` with positions renumbered.
    */
  private def applyCtes(src: String, top: String, out: String, sfx: String): String = s"""
      p$sfx AS (SELECT *, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM $src),
      m$sfx AS (SELECT p$sfx.*, tw1, tw2,
              COALESCE(p$sfx.w = tw1 AND p$sfx.w2 = tw2, FALSE) AS mergeable
            FROM p$sfx CROSS JOIN $top),
      r$sfx AS (SELECT *, SUM(CASE WHEN mergeable THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS runm
            FROM m$sfx),
      i$sfx AS (SELECT *, MIN(CASE WHEN mergeable THEN pos END)
              OVER (PARTITION BY doc_id, pos - runm) AS island_start
            FROM r$sfx),
      ma$sfx AS (SELECT *, (mergeable AND (pos - island_start) % 2 = 0) AS merged_at FROM i$sfx),
      c$sfx AS (SELECT *, COALESCE(LAG(merged_at) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS consumed
            FROM ma$sfx),
      $out AS (
        SELECT doc_id,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
          CASE WHEN merged_at THEN w || '_' || w2 ELSE w END AS w
        FROM c$sfx WHERE merged_at OR NOT consumed)"""

  /** Oracle: `ranks` unrolled training rounds over the corpus (pair
    * stats → deterministic winning pair → merge), then the SAME ranks
    * applied in order to the token-prefix target. Generated, so the
    * round count always matches the Spark side.
    */
  private def bpeEncodeOracle: String = {
    val trainRounds = (1 to ranks).map { r =>
      val prev = if (r == 1) "tok" else s"tok${r - 1}"
      s"""
      pc$r AS (SELECT w, w2, COUNT(*) AS pair_n FROM (
               SELECT *, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM $prev)
             WHERE w2 IS NOT NULL GROUP BY 1, 2),
      top$r AS (SELECT w AS tw1, w2 AS tw2 FROM pc$r ORDER BY pair_n DESC, w, w2 LIMIT 1),${applyCtes(prev, s"top$r", s"tok$r", s"t$r")}"""
    }.mkString(",")
    val applyRounds = (1 to ranks).map { r =>
      val prev = if (r == 1) "enc0" else s"enc${r - 1}"
      applyCtes(prev, s"top$r", s"enc$r", s"e$r")
    }.mkString(",")
    s"""
      WITH tok0w AS (SELECT doc_id, $oracleTokens AS t FROM documents),
      tok AS (
        SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS w FROM tok0w),$trainRounds,
      enc0 AS (SELECT doc_id, pos, w FROM tok WHERE pos < $targetLen),$applyRounds,
      enc AS (
        SELECT doc_id, COUNT(*) AS n_enc,
          md5(string_agg(w, ' ' ORDER BY pos)) AS enc_md5
        FROM enc$ranks GROUP BY doc_id),
      raw AS (SELECT doc_id, COUNT(*) AS n_raw FROM enc0 GROUP BY doc_id)
      SELECT raw.doc_id, CAST(n_raw AS BIGINT) AS n_raw,
        CAST(n_enc AS BIGINT) AS n_enc, enc_md5
      FROM raw JOIN enc USING (doc_id)
      ORDER BY raw.doc_id"""
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_bpe_encode", (s, dir) => {
      val corpus = docsWide(s, dir)
      val (_, merges) = Bpe.train(corpus, "text", rounds = ranks)
      // the generated oracle unrolls EXACTLY `ranks` rounds; if the
      // corpus ran out of pairs early its empty top-CTE would CROSS
      // JOIN every token away and the engines would silently diverge
      // — fail loudly instead (can't happen on real text corpora)
      require(merges.size == ranks,
        s"l_bpe_encode: corpus exhausted pairs after ${merges.size}/$ranks merges")
      val target = Bpe.tokens(corpus, "text").where(col("pos") < targetLen)
        .localCheckpoint()
      val enc = Bpe.encode(target, merges.map(m => (m.w1, m.w2)))
      val out = enc.groupBy("doc_id").agg(
        count(lit(1)).as("n_enc"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ")).as("enc_md5"))
      val raw = target.groupBy("doc_id").agg(count(lit(1)).as("n_raw"))
      raw.join(out, "doc_id")
        .select(col("doc_id"), col("n_raw"), col("n_enc"), col("enc_md5"))
        .orderBy("doc_id")
    }, Some(bpeEncodeOracle))
  )
}
