package graft

import org.apache.spark.sql.functions._

/** Negative-path spill-budget probe (r13 verdict item 5): the unit
  * suite proves the accounting and both cancellation directions, but
  * no BENCH-shaped run had ever actually cancelled. This main builds
  * the exact Bench session (same confs, audit + budget attached the
  * same way), runs a healthy control, then a deliberately over-cap
  * window query (spill forced via the windowExec buffer thresholds,
  * cap from spark.graft.query.maxSpillMb), then two registry
  * neighbors — and prints ONE JSON line recording that the cancel
  * landed `resource_exhausted` through M87's taxonomy, the marker
  * never misfired on a neighbor, and the session kept serving.
  *
  *   SPARK_GRAFT_MAX_SPILL_MB=1 sbt "runMain graft.SpillProbe target/sf10"
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val capMb = sys.env.getOrElse("SPARK_GRAFT_MAX_SPILL_MB", "1")
    // Shared session config: GraftSession.base (same plan as Bench),
    // plus the probe's own spill cap.
    val spark = GraftSession.base(sfDir, cpus)
      .config("spark.graft.query.maxSpillMb", capMb)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val audit = QueryAudit.attach(spark, maxRecords = 64)
    val budget = SpillBudget.fromConfOrDefault(spark)

    def run(name: String): (Boolean, String) =
      try { SparkEntry.queries(name)(spark, sfDir).count(); (true, "") }
      catch { case e: Exception => (false, QueryAudit.classifyCode(e)) }

    val before = run("q1_agg")
    // the over-cap victim: a full-table window whose group buffers are
    // forced to disk (same spill mechanics the suite uses — honest
    // sf-scale queries are zero-spill by design, so the probe forces
    // the buffers like a pathological user query would)
    // 4096-row buffers: at sf10 every ~23k-row window group spills a
    // few MB of chunks (a tiny threshold like the unit suite's 4
    // would shatter sf10 into millions of spill files and OOM the
    // read-ahead buffers — the probe wants REALISTIC spill, just > cap)
    Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold").foreach(spark.conf.set(_, "4096"))
    val victim =
      try {
        val grp = pmod(col("event_id"), lit(256))
        spark.read.parquet(s"$sfDir/events.parquet")
          .repartition(256, grp)
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(grp).orderBy(col("event_id"))))
          .where(col("rnk") > 0).count()
        (true, "")
      } catch { case e: Exception => (false, QueryAudit.classifyCode(e)) }
    Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold").foreach(spark.conf.unset)
    val after1 = run("q1_agg")
    val after2 = run("l_dedup_minhash")

    // let the failure + neighbor records land
    val deadline = System.nanoTime() + 30e9.toLong
    while (System.nanoTime() < deadline &&
      !(audit.recordsRaw().exists(_.error_class == "resource") &&
        audit.recordsRaw().count(_.status == "ok") >= 3)) Thread.sleep(50)
    val recs = audit.recordsRaw()
    val resourceRecs = recs.filter(_.error_class == "resource")
    val okRecs = recs.filter(_.status == "ok")
    val misfires = okRecs.count(r => r.error_class.nonEmpty ||
      r.error_message.contains(SpillBudget.CancelReason))
    println(Seq(
      s""""sf_dir":"$sfDir"""",
      s""""cap_mb":$capMb""",
      s""""control_before_ok":${before._1}""",
      s""""victim_cancelled":${!victim._1}""",
      s""""victim_code":"${victim._2}"""",
      s""""neighbor_q1_ok":${after1._1}""",
      s""""neighbor_dedup_ok":${after2._1}""",
      s""""audit_resource_records":${resourceRecs.size}""",
      s""""audit_ok_records":${okRecs.size}""",
      s""""neighbor_misfires":$misfires""",
      s""""spill_cancels":${budget.cancelCount.get()}""",
      s""""spill_hw_mb":${budget.outstandingHighWater.get() >> 20}""").mkString("{", ",", "}"))
    val pass = before._1 && !victim._1 && victim._2 == "resource_exhausted" &&
      after1._1 && after2._1 && resourceRecs.nonEmpty && misfires == 0
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
