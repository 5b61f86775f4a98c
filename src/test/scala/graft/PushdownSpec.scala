package graft

/** Scan-level pushdown is the difference between reading a slice and
  * reading the lake at 100 TB. These queries' filters must reach the
  * parquet reader (PLANS.md documents the audits; this pins them).
  */
class PushdownSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private val qs = SparkEntry.allQueries.map(q => q.name -> q).toMap

  // full (untruncated) pushed-filter lists from every parquet scan —
  // plan toString elides long filter lists
  private def executedPlan(name: String): String = pushedFilters(qs(name).fn(spark, sfDir))

  private def pushedFilters(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString("\n")
  }

  test("q6_forecast pushes all three predicates into the lineitem scan") {
    val plan = executedPlan("q6_forecast")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("LessThan(l_shipdate"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_discount"), plan)
    assert(plan.contains("LessThan(l_quantity"), plan)
  }

  test("m_view_instance scopes the RAW user_id column in the scan") {
    val plan = executedPlan("m_view_instance")
    assert(plan.contains("EqualTo(user_id"), s"process scope not pushed:\n$plan")
  }

  test("view_instance() over the registered events view scopes the RAW user_id in the scan") {
    Seq("log_entries", "thread_spans").foreach { v =>
      val plan = pushedFilters(
        Graft.query(spark, sfDir, s"SELECT * FROM view_instance('$v', '7')"))
      assert(plan.contains("EqualTo(user_id"), s"$v: process scope not pushed:\n$plan")
    }
  }

  test("q19_disjunctive pushes the decomposed OR to both scans") {
    val plan = executedPlan("q19_disjunctive")
    assert(plan.contains("In(p_brand") || plan.contains("EqualTo(p_brand"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_quantity"), plan)
  }

  test("date-windowed queries prune via the orders scan") {
    val plan = executedPlan("q4_order_priority")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
  }

  test("star-schema dims join via broadcast, not shuffle") {
    Seq("q_star_broadcast", "q5_multi_join").foreach { n =>
      val df = qs(n).fn(spark, sfDir)
      df.collect()
      val bhj = collectWithSubqueries(df.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty, s"$n has no broadcast joins")
    }
  }
}
