package graft

/** Print one registered query's AQE-finalized physical plan — the
  * plan-shape iteration tool (MicroBench times it, StageProfile
  * attributes it, this one shows it), on the [[GraftSession.base]]
  * session.
  * Usage: runMain graft.ExplainOne <sfDir> <query>
  * Env: SPARK_GRAFT_CPUS (default 4).
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    // Shared session config: GraftSession.base (same plan as Bench).
    val spark = GraftSession.base(args(0), sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val q = SparkEntry.allQueries.find(_.name == args(1))
      .getOrElse(sys.error(s"unknown query: ${args(1)}"))
    val df = q.fn(spark, args(0))
    df.count() // materialize so AQE finalizes the stages the plan shows
    println(df.queryExecution.executedPlan.toString.take(12000))
    spark.stop()
  }
}
