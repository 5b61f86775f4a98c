package graft

/** Every registered operator runs end-to-end on sf0.001 and returns a
  * sane shape. Exact value correctness is covered by the DuckDB oracle
  * gate (tools/compare_oracle.py / driver t2).
  */
class QueriesSmokeSpec extends SparkSpec {

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs on sf0.001") {
      val df = q.fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0)
      assert(df.columns.nonEmpty)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names are unique (Map would silently drop duplicates)") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicate names: ${names.diff(names.distinct).mkString(", ")}")
  }

  test("query catalog is pinned: names, oracle SQL and headline flags") {
    // SHA-256 over the name-sorted (name, oracle, headline) triples. It
    // moves only when a query is added, dropped or renamed, its oracle
    // SQL changes, or it joins or leaves the bench: a change that means
    // to do none of these (moving queries between files, sharing
    // loaders) must leave it alone.
    val triples = SparkEntry.allQueries.map(q => (q.name, q.oracle.toString, q.headline))
      .sortBy(_._1)
    val digest = tools.PlanDigest.sha256(
      triples.map { case (n, o, h) => s"$n\u0000$o\u0000$h" }.mkString("\n"))
    assert(digest === "d6028bdcf630a99c51e8e8f337f2cbfafdc28dd223e7b8480af094c55eb4560a")
  }

  test("oracle keys are a subset of query keys") {
    val qk = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qk))
  }
}
