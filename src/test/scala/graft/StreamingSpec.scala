package graft

import java.sql.Timestamp

import graft.streaming.LogStatsStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class StreamDoc(ts: Timestamp, doc_id: Long, text: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int, sec: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  test("streaming log_stats aggregates per-minute counts with watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = LogStatsStream.logStats(mem.toDF(), watermark = "5 minutes")
      .writeStream.format("memory").queryName("log_stats_test").outputMode("update").start()
    try {
      mem.addData(
        Ev(t(0, 10), 1, "error", 1.0), Ev(t(0, 20), 2, "error", 1.0),
        Ev(t(0, 30), 1, "view", 1.0), Ev(t(1, 5), 1, "signup", 1.0))
      q.processAllAvailable()
      val rows = spark.table("log_stats_test")
        .groupBy("time_bin", "level").agg(sum("count").as("count"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getLong(2))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", 2, 2L)))
      assert(rows.contains(("2024-01-01 10:00:00.0", 5, 1L)))
      assert(rows.contains(("2024-01-01 10:01:00.0", 4, 1L)))
      // incremental: a second batch updates the same window
      mem.addData(Ev(t(0, 45), 3, "error", 1.0))
      q.processAllAvailable()
      val updated = spark.table("log_stats_test")
        .where(col("level") === 2).agg(max("count")).head().getLong(0)
      assert(updated === 3L)
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped like a closed partition") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = LogStatsStream.logStats(mem.toDF(), watermark = "2 minutes")
      .writeStream.format("memory").queryName("log_stats_late").outputMode("update").start()
    try {
      mem.addData(Ev(t(0, 10), 1, "error", 1.0))
      q.processAllAvailable()
      // advance event time far past minute 0 + watermark, twice so the
      // watermark actually commits before the late row arrives
      mem.addData(Ev(t(30, 0), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(t(31, 0), 1, "view", 1.0))
      q.processAllAvailable()
      // now a very late error for minute 0: must be dropped
      mem.addData(Ev(t(0, 50), 9, "error", 1.0))
      q.processAllAvailable()
      val errCount = spark.table("log_stats_late")
        .where(col("level") === 2).agg(max("count")).head().getLong(0)
      assert(errCount === 1L, "late row must not reopen the closed window")
    } finally q.stop()
  }

  test("streaming histogram sketch merges across micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = LogStatsStream.measuresHistogram(mem.toDF(), 0.0, 10.0, 5)
      .writeStream.format("memory").queryName("histo_stream").outputMode("update").start()
    try {
      mem.addData(Ev(t(0, 10), 1, "view", 1.0), Ev(t(0, 20), 1, "view", 3.0))
      q.processAllAvailable()
      mem.addData(Ev(t(0, 30), 2, "view", 9.0)) // second batch, same window
      q.processAllAvailable()
      // update-mode memory sink keeps one row PER update of the window;
      // the latest state is the one with the largest sketch count
      val h = spark.table("histo_stream").where(col("name") === "view")
        .select("histo.count", "histo.sum", "histo.bins")
        .orderBy(col("count").desc).head()
      assert(h.getAs[Long]("count") === 3L)
      assert(h.getAs[Double]("sum") === 13.0)
      assert(h.getAs[Seq[Long]]("bins").sum === 3L)
    } finally q.stop()
  }

  test("streaming HLL registers merge across micro-batches to the batch sketch") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = LogStatsStream.approxUsers(mem.toDF())
      .writeStream.format("memory").queryName("hll_stream").outputMode("update").start()
    try {
      mem.addData((1 to 40).map(i => Ev(t(0, 10), i.toLong, "view", 1.0)): _*)
      q.processAllAvailable()
      // second batch overlaps 21..40 — duplicates must not move registers
      mem.addData((21 to 60).map(i => Ev(t(0, 30), i.toLong, "view", 1.0)): _*)
      q.processAllAvailable()
      // update-mode sink keeps one row per register update; mrho is
      // monotone, so max over updates IS the latest state
      val regs = spark.table("hll_stream")
        .groupBy("idx").agg(max("mrho").as("mrho"))
        .withColumn("k", lit("view"))
      val est = graft.operators.Hll.estimate(regs, Seq("k")).head()
      // batch sketch over the same 60 distinct users must agree bitwise
      val batch = graft.operators.Hll.registers(
        (1 to 60).map(i => (i.toLong, "view")).toDF("user_id", "k"), Seq("k"), col("user_id"))
      val bEst = graft.operators.Hll.estimate(batch, Seq("k")).head()
      assert(est.getAs[Long]("n_reg") === bEst.getAs[Long]("n_reg"))
      assert(est.getAs[Double]("hll_estimate") === bEst.getAs[Double]("hll_estimate"))
      val exact = 60.0
      val err = math.abs(est.getAs[Double]("hll_estimate") - exact) / exact
      assert(err < 0.6, s"m=16 estimate should be in the right ballpark, err=$err")
    } finally q.stop()
  }

  test("streaming dedup suppresses same-hash docs across micro-batches, state watermark-bounded") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    val q = LogStatsStream.dedupStream(mem.toDF(), watermark = "5 minutes")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      mem.addData(
        StreamDoc(t(0, 10), 1L, "the quick brown fox"),
        StreamDoc(t(0, 20), 2L, "the quick brown fox"), // same batch dup
        StreamDoc(t(0, 30), 3L, "something else"))
      q.processAllAvailable()
      mem.addData(StreamDoc(t(1, 0), 4L, "the quick brown fox")) // cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(3L))
      assert((ids & Set(1L, 2L, 4L)).size === 1, s"exactly one copy must survive, got $ids")
    } finally q.stop()
  }

  test("hour rollup re-aggregates minute stats") {
    val minute = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 2, 5L),
      (Timestamp.valueOf("2024-01-01 10:30:00"), 2, 7L),
      (Timestamp.valueOf("2024-01-01 11:00:00"), 2, 1L)).toDF("time_bin", "level", "count")
    val hours = LogStatsStream.rollupToHour(minute).orderBy("time_bin").collect()
    assert(hours.map(_.getAs[Long]("count")).toSeq === Seq(12L, 1L))
  }
}
