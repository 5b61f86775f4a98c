package graft

import graft.operators.{Ann, Dedup, TextAnalysis}

class DedupAnnSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different words about spark catalyst optimizer and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today")   // exact dup of 1
  ).toDF("doc_id", "text")

  test("word shingles") {
    val sh = docs.where($"doc_id" === 1)
      .select(Dedup.wordShingles($"text", 3)).head().getSeq[String](0)
    assert(sh.contains("the quick brown"))
    assert(sh.forall(_.split(" ").length == 3))
  }

  test("minhash LSH surfaces the near-dup pair") {
    val sh = docs.select($"doc_id", Dedup.wordShingles($"text", 3).as("shingles"))
    val sig = Dedup.minhashSignature(sh, "doc_id", "shingles", 8)
    val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
    val pairs = Dedup.candidatePairs(bands, "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))   // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup collides on some band
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard on shingle sets") {
    val sh = docs.select($"doc_id", Dedup.wordShingles($"text", 3).as("s"))
    val j = sh.as("x").join(sh.as("y"), $"x.doc_id" === 1 && $"y.doc_id" === 4)
      .select(Dedup.jaccard($"x.s", $"y.s")).head().getDouble(0)
    assert(j === 1.0)
  }

  test("simhash: exact dups share the hash, near-dups are close in hamming") {
    val sh = docs.select($"doc_id", Dedup.simhashHex(Dedup.wordShingles($"text", 3)).as("h"))
    val m = sh.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L).length === 16 && m(1L).forall(c => c.isDigit || (c >= 'a' && c <= 'f')))
    assert(m(1L) === m(4L))
    val hamming = java.lang.Long.bitCount(
      java.lang.Long.parseUnsignedLong(m(1L), 16) ^ java.lang.Long.parseUnsignedLong(m(2L), 16))
    assert(hamming <= 16, s"near-dup hamming $hamming")
  }

  test("brute-force ANN ranks the self-similar vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), 2)
      .orderBy("rk").collect()
    assert(top.head.getAs[Long]("neighbor_id") === 1L)
    assert(top.head.getAs[Double]("cos") > 0.99)
  }

  test("k-means refinement improves centroid quality, probe stays sane") {
    val e = Tables.df(spark, sfDir, "embeddings")
    val sample = Ann.kmeansRefine(e, nCentroids = 8, iters = 0)   // raw vec_id sample
    val refined = Ann.kmeansRefine(e, nCentroids = 8, iters = 2)  // 2 Lloyd rounds
    val d0 = Ann.ivfDistortion(e, sample)
    val d2 = Ann.ivfDistortion(e, refined)
    assert(d2 >= d0, s"refined distortion $d2 should beat sample $d0")
    val top = Ann.ivfTopKWith(e, e.where($"vec_id" < 2), refined, nProbe = 3, k = 4)
      .collect()
    assert(top.nonEmpty && top.forall(_.getAs[Int]("rk") <= 4))
    assert(top.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
  }

  test("text analysis: counts and quality bounds") {
    val r = docs.select(
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.punctRatio($"text").as("p"),
      TextAnalysis.stopwordRatio($"text").as("s"),
      TextAnalysis.qualityScore($"text").as("q")).collect()
    assert(r.forall(_.getAs[Long]("n") > 5))
    assert(r.forall(x => x.getAs[Double]("q") >= 0 && x.getAs[Double]("q") <= 1))
    assert(r.forall(_.getAs[Double]("p") === 0.0)) // no punctuation in fixtures
  }

  test("connected components labels each node with its group minimum") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (3L, 4L))
      .toDF("a", "b")
    val cc = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("fingerprint is stable and equal for exact dups") {
    val fp = docs.select($"doc_id", TextAnalysis.fingerprint($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(4L))
    assert(fp(1L) !== fp(3L))
  }
}
