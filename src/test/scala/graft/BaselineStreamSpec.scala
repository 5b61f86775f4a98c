package graft

import java.sql.Timestamp

import graft.streaming.BaselineStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class NamedEvent(ts: Timestamp, name: String)

/** Stream-static seasonal deviation (M90's live leg): the windowed
  * live count joins a BATCH-built baseline by broadcast, and the
  * deviation arithmetic matches the batch e4 formulation exactly.
  */
class BaselineStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:$minute%02d:00")

  test("hodBaseline: exact per-(name, hod) mean e4 over distinct days") {
    // 2 days of history: "login" at 09h → 3 then 1 events; at 03h → 1 event on day 1
    val hist = Seq(
      NamedEvent(ts(1, 9, 0), "login"), NamedEvent(ts(1, 9, 10), "login"),
      NamedEvent(ts(1, 9, 20), "login"), NamedEvent(ts(2, 9, 5), "login"),
      NamedEvent(ts(1, 3, 0), "login")).toDF()
    val base = BaselineStream.hodBaseline(hist).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(base(("login", 9L)) === 20000L, "(3+1)/2 days = 2.0 → 20000 e4")
    assert(base(("login", 3L)) === 5000L, "1/2 days = 0.5 → 5000 e4")
  }

  test("stream-static join: live hourly counts vs static baseline, exact deviation and alert") {
    implicit val sc = spark.sqlContext
    val baseline = Seq(("login", 9L, 20000L), ("login", 3L, 10000L))
      .toDF("name", "hod", "mean_e4")
    val mem = MemoryStream[NamedEvent]
    val q = BaselineStream.deviations(mem.toDF(), baseline)
      .writeStream.format("memory").queryName("hod_devs").outputMode("update").start()
    try {
      // live day 3, 09h: 4 logins (baseline mean 2.0 → +100% = 10000 e4)
      mem.addData(NamedEvent(ts(3, 9, 1), "login"), NamedEvent(ts(3, 9, 2), "login"),
        NamedEvent(ts(3, 9, 3), "login"), NamedEvent(ts(3, 9, 4), "login"),
        // 03h: 1 login vs mean 1.0 → 0 deviation, no alert
        NamedEvent(ts(3, 3, 30), "login"),
        // a name with NO baseline row must not surface (inner join)
        NamedEvent(ts(3, 9, 5), "brand_new"))
      q.processAllAvailable()
      val out = spark.table("hod_devs")
        .groupBy("name", "hod").agg(max("cnt").as("cnt"),
          last("deviation_e4").as("dev"), last("alert").as("alert"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
      assert(out(("login", 9L)) === ((4L, 10000L, true)), "+100% pages")
      assert(out(("login", 3L)) === ((1L, 0L, false)), "on-baseline stays quiet")
      assert(!out.contains(("brand_new", 9L)), "baseline-less names are novelty, not deviation")
    } finally q.stop()
  }

  test("streamed deviation equals the batch m_seasonal_baseline arithmetic") {
    implicit val sc = spark.sqlContext
    // baseline built by the SAME code path a batch materializer runs
    val hist = Seq(NamedEvent(ts(1, 9, 0), "x"), NamedEvent(ts(2, 9, 0), "x"),
      NamedEvent(ts(2, 9, 30), "x")).toDF() // mean at 09h = 3/2 = 15000 e4
    val baseline = BaselineStream.hodBaseline(hist)
    val mem = MemoryStream[NamedEvent]
    val q = BaselineStream.deviations(mem.toDF(), baseline)
      .writeStream.format("memory").queryName("hod_devs2").outputMode("update").start()
    try {
      mem.addData(NamedEvent(ts(3, 9, 10), "x"), NamedEvent(ts(3, 9, 20), "x"),
        NamedEvent(ts(3, 9, 40), "x"))
      q.processAllAvailable()
      val dev = spark.table("hod_devs2").orderBy(desc("cnt")).head()
      // batch formula: (cnt·1e4 − mean_e4)·1e4 div mean_e4 =
      // (30000 − 15000)·10000 div 15000 = 10000
      assert(dev.getAs[Long]("deviation_e4") === 10000L)
    } finally q.stop()
  }
}
