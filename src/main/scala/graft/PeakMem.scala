package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operator peak-memory breakdown — the adjudication tool for
  * `peak_mem_mb` outliers in the bench report. `QueryAudit.planMetrics`
  * SUMS each operator's Tungsten `peakMemory` metric over the whole
  * plan, and Spark's per-operator metric value is itself the SUM over
  * that operator's tasks — so the published number is dominated by
  * fixed page reservations × tasks × operator count, not by data. This
  * main makes that visible: it prints every operator carrying a
  * peakMemory metric with its summed value, so an 18 GB headline can be
  * read as "36 operators × 32 tasks × ~16 MB page floor" versus a
  * genuine data-driven hash-table blowup.
  *
  * Usage: runMain graft.PeakMem <sfDir> <query> [query ...]
  */
object PeakMem {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shared session config: GraftSession.base (same plan as Bench).
    val spark = GraftSession.base(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // conf-driven spill budget (spark.graft.query.maxSpillMb) live in every
    // session-building driver, not just the gate (ADVICE r12)
    SpillBudget.fromConf(spark): Unit
    names.foreach { n =>
      // a query fn may trigger SEVERAL query executions (internal
      // collects: prefix-sum subtotals, training rounds, checkpoint
      // writes) — the bench's peak_mem_mb is the MAX execution's sum,
      // so accumulate every execution and break down the max one
      val execs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Long)]]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
          val b = Seq.newBuilder[(String, Long)]
          QueryAudit.walk(qe.executedPlan) { node =>
            node.metrics.get("peakMemory").foreach(m => b += ((node.nodeName, m.value)))
          }
          execs.add(b.result())
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      SparkEntry.queries(n)(spark, sfDir).count()
      // quiesce: listener posts are async — wait until no new
      // execution arrives for 2s
      var last = -1
      var stable = 0L
      val t0 = System.currentTimeMillis()
      while (stable < 2000 && System.currentTimeMillis() - t0 < 30000) {
        Thread.sleep(100)
        if (execs.size == last) stable += 100 else { stable = 0; last = execs.size }
      }
      spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      val all = execs.asScala.toSeq
      val totals = all.map(_.map(_._2).sum)
      println(f"========== $n: ${all.size} query executions; summed-peak per execution " +
        s"[${totals.sorted.reverse.take(8).map(t => f"${t / 1048576.0}%.0f").mkString(", ")} ...] MB ==========")
      val top = if (all.isEmpty) Nil else all.maxBy(_.map(_._2).sum)
      top.groupBy(_._1).map { case (k, v) =>
        (k, v.size, v.map(_._2).sum)
      }.toSeq.sortBy(-_._3).foreach { case (name, cnt, sum) =>
        println(f"  $name%-28s x$cnt%-3d ${sum / 1048576.0}%10.0f MB  (${sum / 1048576.0 / cnt}%.0f MB/op)")
      }
    }
    spark.stop()
  }
}
