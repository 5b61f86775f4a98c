package graft

/** Plan-audit helper: print the formatted physical plan (post-AQE
  * re-optimization happens at runtime; this shows the static pick) for
  * the named queries, on the [[GraftSession.base]] session.
  * Usage: runMain graft.Explain <sfDir> <name>...
  * Env: SPARK_GRAFT_CPUS (default 8).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    // Shared session config: GraftSession.base — the plan printed is
    // the plan the bench runs.
    val spark = GraftSession.base(sfDir, sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // conf-driven spill budget (spark.graft.query.maxSpillMb) live in every
    // session-building driver, not just the gate (ADVICE r12)
    SpillBudget.fromConf(spark): Unit
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
