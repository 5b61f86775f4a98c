package graft


/** Headline-query benchmark. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shared session config lives in GraftSession.base (rationale
    // documented there) so the bench and every diagnostic tool run the
    // same plan. r16: the r15 64 KB minPartitionSize floor is gone —
    // it cost 15-35% on ~20 untouched queries per the driver's bench.
    val spark = GraftSession.base(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: run every headline query once at the smallest sf so the
    // timed loop measures steady-state throughput, not codegen/JIT
    // warm-up (plans are identical across sf → codegen cache hits).
    val warmDir = "/root/testdata/sf0.001"
    val warm = if (new java.io.File(warmDir).exists()) warmDir else sfDir
    SparkEntry.headlineQueries.foreach { q =>
      try q.fn(spark, warm).count() catch { case _: Throwable => () }
    }
    // drop warm-up persisted data so timed runs do their own work
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.clearCache()
    // The machine's timing is noisy (same plan 1-10x across runs, see
    // NOTES_r3); best-of-N per query is the steady-state signal and 3
    // reps proved too few to establish a stable floor (the r3 "4x
    // regressions" did not reproduce). Default is 9 reps; the JSON
    // carries reps plus per-query MEDIANS next to the bests so a noisy
    // outlier round is identifiable from the artifact alone.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "9").toInt.max(1)
    // per-query peak execution memory rides along (QueryAudit sums the
    // executed plans' Tungsten peakMemory metrics): the throughput
    // number alone can hide a plan that got faster by ballooning its
    // hash tables — at cluster scale that trade matters
    val audit = QueryAudit.attach(spark, maxRecords = reps * 4)
    // spill budget live under the full sweep (r12 verdict item 6):
    // the accounting path runs on every rep, the per-query spill
    // rides next to peak_mem_mb, and the process-wide high-water is
    // the temp-directory-pressure gauge. Default cap (100 GB, the
    // reference's own default) never cancels honest work;
    // spark.graft.query.maxSpillMb overrides.
    val budget = SpillBudget.fromConfOrDefault(spark)
    var lastAuditId = 0L
    val headliners = SparkEntry.headlineQueries
    val times = collection.mutable.Map.empty[String, List[Double]]
    val peakByQuery = collection.mutable.Map.empty[String, Long]
    val spillByQuery = collection.mutable.Map.empty[String, Long]
    // rep-major with a per-rep SHUFFLED order (fixed seed = rep, so runs
    // are reproducible): with 36 headliners a fixed order gives every
    // query the same heavy neighbor on all reps, and page-cache /GC
    // interference reads as a fake 2x regression of the victim (round-8
    // verdict adjudicated four of those). Shuffling decorrelates the
    // neighbor noise so the median converges to the isolated time.
    for (rep <- 1 to reps) {
      val order = new scala.util.Random(rep).shuffle(headliners)
      order.foreach { q =>
        val t0 = System.nanoTime()
        // a failed query reports -1 and poisons the total to null below —
        // a failure must never improve the headline number
        val t =
          try { q.fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}"); -1.0 }
        times(q.name) = t :: times.getOrElse(q.name, Nil)
        try audit.awaitQuiesce(lastAuditId + 1, 2000) catch { case _: Throwable => () }
        val recs = audit.recordsRaw().filter(_.query_id > lastAuditId)
        if (recs.nonEmpty) {
          lastAuditId = recs.map(_.query_id).max
          val p = recs.map(_.peak_memory_bytes).max
          peakByQuery(q.name) = math.max(peakByQuery.getOrElse(q.name, -1L), p)
          val s = recs.map(_.spilled_bytes).sum
          spillByQuery(q.name) = math.max(spillByQuery.getOrElse(q.name, -1L), s)
        }
      }
    }
    val results = headliners.map { q =>
      val ts = times(q.name)
      val ok = !ts.exists(_ < 0)
      val sorted = ts.sorted
      val median = sorted(reps / 2)
      (q.name, if (ok) ts.min else -1.0, if (ok) median else -1.0,
        peakByQuery.getOrElse(q.name, -1L) match { case -1L => -1L; case p => p >> 20 },
        spillByQuery.getOrElse(q.name, -1L) match { case -1L => -1L; case s => s >> 20 })
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val meds = results.map { case (k, _, m, _, _) => "\"" + k + "\":" + m }.mkString("{", ",", "}")
    val peaks = results.map { case (k, _, _, p, _) => "\"" + k + "\":" + p }.mkString("{", ",", "}")
    val spills = results.map { case (k, _, _, _, s) => "\"" + k + "\":" + s }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = if (failed > 0) "null" else results.map(_._2).sum.toString
    val report = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"failed":$failed,"queries":$qs,"medians":$meds,"peak_mem_mb":$peaks,"spill_mb":$spills,"spill_hw_mb":${budget.outstandingHighWater.get() >> 20},"spill_cancels":${budget.cancelCount.get()},"sf":"$sfDir"}"""
    println(report)
    // ALSO persist the report: the driver keeps only the tail of stdout,
    // which truncated BENCH_r08 into an unparseable artifact (round-8
    // verdict item 1) — a file on disk survives regardless and the round
    // can commit it as the auditable bench record
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_report.json"))
    try {
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (report + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    // Compact bests-only line LAST (round-9 verdict item 4): the driver
    // persists only the final ~2 KB of stdout, which truncates the full
    // report above (BENCH_r09 parsed:null). This line is ~1.2 KB — small
    // enough that the kept tail always contains it whole, so the driver
    // artifact alone yields the complete per-query bests map. 4-decimal
    // rounding keeps it compact; the full-precision record is the file.
    def r4(v: Double) = math.rint(v * 1e4) / 1e4
    val qs4 = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val total4 = if (failed > 0) "null" else r4(results.map(_._2).sum).toString
    println(s"""{"metric":"best_total","value":$total4,"unit":"sec","reps":$reps,"failed":$failed,"queries":$qs4,"sf":"$sfDir"}""")
    spark.stop()
  }
}
