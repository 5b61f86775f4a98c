package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operator metric dump for ONE query — the constant-factor
  * profiler the round-9 verdict asked for (item 2: l_containment is
  * 47% of the sf10 bench and its time split across shingle build / df
  * agg / pair join / verify has never been measured). Runs the named
  * query once (after a small-SF warm-up), captures the action's
  * QueryExecution via listener, and prints every physical node with
  * its SQLMetrics — timing metrics normalized to milliseconds — in
  * execution (pre-order) position, so wall time can be attributed to
  * plan stages instead of guessed.
  *
  * Usage: runMain graft.StageProfile <sfDir> <query> [reps]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shared session config: GraftSession.base (same plan as Bench).
    val spark = GraftSession.base(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // conf-driven spill budget (spark.graft.query.maxSpillMb) live in every
    // session-building driver, not just the gate (ADVICE r12)
    SpillBudget.fromConf(spark): Unit
    val q = SparkEntry.allQueries.find(_.name == name)
      .getOrElse(sys.error(s"unknown query: $name"))
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).exists())
      try q.fn(spark, warmDir).count() catch { case _: Throwable => () }

    @volatile var captured: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        captured = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // SQL node metrics measure pipeline CPU, not wall — stage rows
    // (submission→completion wall vs Σtask run/cpu/gc) expose what the
    // node view can't: stragglers, GC stalls, scheduling gaps.
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
          .getOrElse(-1L)
        val m = si.taskMetrics
        stages.add(
          f"stage=${si.stageId}%4d tasks=${si.numTasks}%4d wall=${wall}ms " +
          f"run=${m.executorRunTime}ms cpu=${m.executorCpuTime / 1000000}ms " +
          f"gc=${m.jvmGCTime}ms deser=${m.executorDeserializeTime}ms " +
          f"shRead=${m.shuffleReadMetrics.totalBytesRead >> 20}MB " +
          f"shWrite=${m.shuffleWriteMetrics.bytesWritten >> 20}MB " +
          f"spill=${m.memoryBytesSpilled >> 20}MB  ${si.name.takeWhile(_ != '\n').take(60)}")
      }
    })
    for (rep <- 1 to reps) {
      captured = null
      stages.clear()
      val t0 = System.nanoTime()
      val n = q.fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      var waited = 0
      while (captured == null && waited < 200) { Thread.sleep(50); waited += 1 }
      println(f"== $name rep $rep: wall=$wall%.2fs rows=$n ==")
      Thread.sleep(500) // let late stage-completed events drain
      stages.toArray(Array.empty[String]).sorted.foreach(s => println("  " + s))
      if (captured == null) { println("  (no QueryExecution captured)"); sys.exit(2) }
      var idx = 0
      QueryAudit.walk(captured.executedPlan) { node =>
        val ms = node.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
          val shown = m.metricType match {
            case "nsTiming" => f"${m.value / 1e6}%.0fms"
            case "timing" => s"${m.value}ms"
            case _ => m.value.toString
          }
          s"$k=$shown"
        }.mkString(" ")
        println(f"[$idx%3d] ${node.nodeName}%-45s $ms")
        idx += 1
      }
    }
    spark.stop()
  }
}
