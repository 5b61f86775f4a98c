package graft


/** Isolated per-query timing — the adjudication tool for bench
  * regressions (the full Bench interleaves 30 queries, so one noisy
  * neighbor muddies the read). Usage:
  *   sbt "runMain graft.MicroBench <sfDir> <reps> <query> [query ...]"
  * Prints one JSON line per query with every rep, best and median.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shared session config: GraftSession.base (same plan as Bench).
    val spark = GraftSession.base(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // conf-driven spill budget (spark.graft.query.maxSpillMb) live in every
    // session-building driver, not just the gate (ADVICE r12)
    SpillBudget.fromConf(spark): Unit
    val qs = SparkEntry.allQueries.filter(q => names(q.name))
    require(qs.map(_.name).toSet == names,
      s"unknown queries: ${(names -- qs.map(_.name)).mkString(",")}")
    val warmDir = "/root/testdata/sf0.001"
    val warm = if (new java.io.File(warmDir).exists()) warmDir else sfDir
    qs.foreach(q => try q.fn(spark, warm).count() catch { case _: Throwable => () })
    qs.foreach { q =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = times.sorted
      println(s"""{"query":"${q.name}","best":${sorted.head},"median":${sorted(reps / 2)},"reps":[${times.map(t => f"$t%.3f").mkString(",")}]}""")
    }
    spark.stop()
  }
}
