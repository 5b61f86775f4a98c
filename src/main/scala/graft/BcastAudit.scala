package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** Broadcast-site diagnostic behind BroadcastBudgetSpec: execute the
  * named queries and print every BroadcastExchange's built dataSize
  * plus a one-line sketch of WHAT is being broadcast (its child plan
  * chain), so a budget violation can be traced to a join site.
  *
  * Usage: runMain graft.BcastAudit <sfDir> <query>...
  * Env: GRAFT_AUDIT_CPUS (default 8), GRAFT_AUDIT_BCAST_MB threshold
  * for printing (default 0 = print all).
  * It builds its own session, not [[GraftSession.base]], because it
  * mirrors the test session's audit conditions (1 MB pages, default
  * broadcast threshold) that BroadcastBudgetSpec asserts under.
  */
object BcastAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("GRAFT_AUDIT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Scan size estimates are FILE bytes x column fraction, but
      // snappy parquet expands 24-31x in memory (sf10 audit: the
      // customer/part dims hid a decade of growth under the broadcast
      // threshold and statically built 192 MB hash relations). 16x
      // keeps the estimate within ~2x of built size, so scan-backed
      // broadcast picks demote on schedule while AQE still re-converts
      // genuinely small sides from ACTUAL compressed bytes.
      .config("spark.sql.sources.fileCompressionFactor", "16")
      // mirror the test session: honest page granularity, DEFAULT
      // autoBroadcastJoinThreshold (10 MB) — the audit conditions
      .config("spark.buffer.pageSize", "1m")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // conf-driven spill budget (spark.graft.query.maxSpillMb) live in every
    // session-building driver, not just the gate (ADVICE r12)
    SpillBudget.fromConf(spark): Unit

    def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
      f(p)
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case o => o.children
      }
      p.subqueries.foreach(walk(_)(f))
      kids.foreach(walk(_)(f))
    }

    def chain(p: SparkPlan, depth: Int = 6): String = {
      def step(n: SparkPlan): String = n.nodeName
      val sb = new StringBuilder
      var cur: SparkPlan = p
      var i = 0
      while (i < depth) {
        sb ++= step(cur)
        val kids: Seq[SparkPlan] = cur match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        if (kids.isEmpty) i = depth
        else { sb ++= " <- "; cur = kids.head; i += 1 }
      }
      sb.toString
    }

    val printMb = sys.env.getOrElse("GRAFT_AUDIT_BCAST_MB", "0").toLong
    names.foreach { n =>
      val q = SparkEntry.allQueries.find(_.name == n).getOrElse(sys.error(s"unknown: $n"))
      val qe = q.fn(spark, sfDir).queryExecution
      qe.executedPlan.execute().foreach(_ => ())
      println(s"===== $n")
      walk(qe.executedPlan) {
        case b: BroadcastExchangeExec =>
          val sz = b.metrics.get("dataSize").map(_.value).getOrElse(0L)
          val rows = b.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
          if (sz >= printMb * 1024 * 1024)
            println(f"  bcast ${sz / 1024.0 / 1024.0}%8.1f MB rows=$rows%-9d ${chain(b.child)}")
        case _ => ()
      }
    }
    spark.stop()
  }
}
