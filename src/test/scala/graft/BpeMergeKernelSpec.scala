package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** graft_bpe_merge (one-pass greedy merge over a token array) must be
  * row-for-row identical to the relational gaps-and-islands form
  * [[Bpe.applyMergeJoined]] — the core the trained loop and the DuckDB
  * oracle keep evaluating. The tiny vocabulary forces overlapping runs
  * ("a a a a"), the self-pair (w1 == w2) and pairs at array edges —
  * the parity cases where a wrong scan would diverge.
  */
class BpeMergeKernelSpec extends SparkSpec with TmpDirSupport {

  /** The relational form's answer for one doc, via Spark. */
  private def relational(docs: Seq[(Long, Seq[String])], w1: String, w2: String)
      : Map[Long, Seq[String]] = {
    import spark.implicits._
    val tok = docs.toDF("doc_id", "toks")
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "w")))
    Bpe.applyMergeJoined(tok.withColumn("tw1", lit(w1)).withColumn("tw2", lit(w2)))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (d, rows) =>
        d -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toSeq
      }
  }

  private def kernel(docs: Seq[(Long, Seq[String])], w1: String, w2: String)
      : Map[Long, Seq[String]] = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    docs.toDF("doc_id", "toks")
      .select(col("doc_id"), Bpe.mergeTokens(col("toks"), lit(w1), lit(w2)).as("m"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq)
      .toMap
  }

  private def check(docs: Seq[(Long, Seq[String])], w1: String, w2: String): Unit = {
    val want = relational(docs.filter(_._2.nonEmpty), w1, w2)
    val got = kernel(docs, w1, w2).filter(_._2.nonEmpty)
    // the relational form has no row for an empty token array (nothing
    // to explode); the kernel maps [] -> [] — compare non-empty docs
    assert(got == want, s"bpe merge kernel diverges for ($w1,$w2): got=$got want=$want")
  }

  test("edge cases: runs, self-pairs, edges") {
    val docs = Seq[(Long, Seq[String])](
      1L -> Seq("a", "a", "a"), // odd run of self-pair: merge at 0, survivor tail
      2L -> Seq("a", "a", "a", "a"), // even run: merges at 0 and 2
      3L -> Seq("a", "b", "a", "b", "a"), // alternating: merges at 0 and 2
      4L -> Seq("a", "b"), // exactly the pair
      5L -> Seq("b", "a"), // reversed — no merge
      6L -> Seq("x"), // single token
      7L -> Seq("x", "a", "b", "y", "a", "b"), // pair at middle and end
      8L -> Seq("a", "b", "b", "a", "a", "b"), // mixed adjacency
      9L -> Seq("", "a", "b", ""), // empty-string tokens are real tokens
      10L -> Seq.empty[String])
    check(docs, "a", "b")
    check(docs, "a", "a")
    check(docs, "b", "b")
    check(docs, "", "a") // empty string as a merge side
  }

  test("property: kernel equals relational gaps-and-islands form") {
    val tokG = Gen.oneOf("a", "b", "c")
    val docG = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, tokG))
    val corpusG = Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, docG))
    val pairG = for { x <- tokG; y <- tokG } yield (x, y)
    val prop = Prop.forAll(corpusG, pairG) { (docs, pair) =>
      val indexed = docs.zipWithIndex.map { case (t, i) => (i.toLong, t: Seq[String]) }
      check(indexed, pair._1, pair._2)
      true
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(result.passed, s"scalacheck: ${result.status}")
  }

  test("l_bpe_merge drops a null-text doc, as the oracle's unnest(NULL) does") {
    import spark.implicits._
    val dir = tmpDir("bpe_null")
    Seq[(Long, Option[String], String, String, Long)](
      (1L, Some("a b a b c"), "en", "s", 9L),
      (2L, None, "en", "s", 0L),
      (3L, Some("a b"), "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("l_bpe_merge")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_before"),
        r.getAs[Long]("n_after"), r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("pair_n"), r.getAs[String]("merged_md5")))
    // the oracle SQL's rows on this table (DuckDB): the winning pair
    // (a, b) occurs 3 times; doc 1 merges twice, doc 3 once
    assert(got.toSeq == Seq(
      (1L, 5L, 3L, "a", "b", 3L, "5e3ccabf6f6c096df9e9bc5ca7242862"),
      (3L, 2L, 1L, "a", "b", 3L, "dbf08e00b01fd58a4a5967753b43784f")), got.mkString("; "))
  }
}
