package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Tables.rowCount is the metadata path for corpus-size scale knobs
  * (round-9 verdict item 7): it must equal the scanned count exactly
  * and must launch ZERO Spark jobs — the whole point is that deriving
  * K for l_semantic_dedup no longer pays a full scan before the query.
  */
class LakeStatsSpec extends SparkSpec {

  private def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      // listener events are async; any job `body` ran has completed
      // (runJob blocks), so its JobStart is already posted — give the
      // bus a moment to deliver, then wait for the count to go stable
      var prev = -1
      var settles = 0
      while (settles < 3 && prev != jobs.get()) {
        prev = jobs.get(); Thread.sleep(150); settles += 1
      }
      (a, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("footer row count matches the scanned count, with zero Spark jobs") {
    for (t <- Seq("embeddings", "documents", "lineitem")) {
      val (meta, jobs) = jobsDuring(Tables.rowCount(spark, sfDir, t))
      assert(jobs === 0, s"$t: metadata count launched $jobs Spark jobs")
      val scanned = spark.read.parquet(s"$sfDir/$t.parquet").count()
      assert(meta === scanned, s"$t: footer count $meta != scanned $scanned")
    }
  }

  test("footer row count sums a multi-file partitioned lake and skips hidden files") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-rowcount").toString
    Seq.tabulate(100)(i => (i.toLong, i % 5))
      .toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(s"$out/t.parquet")
    // a root marker file (underscore-hidden) must not break the walk
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/t.parquet/_graft_day_partitioned"),
      "timeColumn=ts\n".getBytes("UTF-8"))
    assert(Tables.rowCount(spark, out, "t") === 100L)
  }

  test("l_semantic_dedup derives K without a pre-query full-scan job") {
    // the query itself runs jobs, of course — assert the KNOB
    // derivation alone is job-free by reproducing it here
    val (k, jobs) = jobsDuring(
      math.max(8L, (Tables.rowCount(spark, sfDir, "embeddings") + 1249L) / 1250L).toInt)
    assert(jobs === 0)
    assert(k === 8) // gate SFs all sit below the 10k-vector knee
  }
}
