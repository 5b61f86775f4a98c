package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** bulk_ingest analog (reference client.py:533): append into a
  * directory-backed lake table with an exact schema gate, immediately
  * queryable through the registered views.
  */
class BulkIngestSpec extends SparkSpec with TmpDirSupport {
  import spark.implicits._

  private def eventRows(ids: Range, typ: String) = ids.map { i =>
    (i.toLong, new Timestamp(1704067200000L + i * 1000L), (i % 5).toLong,
      typ, i.toDouble, s"p$i")
  }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  /** A lake dir with every registered table present: the non-ingested
    * tables are copied from the sf0.001 fixtures (view registration
    * reads all of them), events arrives via bulkIngest.
    */
  private def seededLake(): String = {
    val dir = tmpDir("bulk_ingest")
    Tables.all.filter(_ != "events").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    dir
  }

  test("append + immediate queryability through refreshed views") {
    val dir = seededLake()
    assert(Graft.bulkIngest(spark, dir, "events", eventRows(1 to 50, "error")) === 50L)
    val before = Graft.query(spark, dir, "SELECT count(*) AS n FROM events")
      .head().getLong(0)
    assert(before === 50L)
    // second batch appends — and the memoized views must serve it
    // without any manual refresh (bulkIngest refreshes)
    assert(Graft.bulkIngest(spark, dir, "events", eventRows(51 to 80, "view")) === 30L)
    val after = Graft.query(spark, dir, "SELECT count(*) AS n FROM events")
      .head().getLong(0)
    assert(after === 80L)
  }

  /** The plan a temp view is registered with (getTempView wraps the
    * stored plan in a fresh View node per call; the child is stored). */
  private def tempView(name: String) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTempView(name).get.child

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("targeted refresh: events views serve the new rows, other tables stay registered") {
    val dir = seededLake()
    Graft.bulkIngest(spark, dir, "events", eventRows(1 to 40, "signup"))
    def instanceRows() = Graft.query(spark, dir,
      "SELECT count(*) FROM view_instance('log_entries', '1')").head().getLong(0)
    assert(instanceRows() === 8L) // registers the session for dir
    val lineitem = tempView("lineitem")
    val events = tempView("events")
    val before = new Lakehouse(spark, dir).globalViews.map { case (n, df) => n -> sortedRows(df) }

    val batch = Seq("view", "error", "purchase", "signup").zipWithIndex
      .map { case (t, k) => eventRows(41 + 10 * k to 50 + 10 * k, t) }.reduce(_ union _)
    assert(Graft.bulkIngest(spark, dir, "events", batch) === 40L)

    assert(Graft.registeredDir(spark) === Some(dir))
    assert(tempView("lineitem") eq lineitem, "a table that was not written was re-registered")
    assert(!(tempView("events") eq events), "the written table was not re-registered")
    // every events-derived view serves exactly what a fresh read gives,
    // and each one changed
    new Lakehouse(spark, dir).globalViews.zip(before).foreach { case ((n, fresh), (_, old)) =>
      val served = sortedRows(Graft.query(spark, dir, s"SELECT * FROM $n"))
      assert(served === sortedRows(fresh), s"$n is stale after bulkIngest")
      assert(served !== old, s"$n did not change after bulkIngest")
    }
    assert(instanceRows() === 16L)
  }

  test("ingest into another dir leaves the session's registration and results unchanged") {
    val dir = seededLake()
    Graft.bulkIngest(spark, dir, "events", eventRows(1 to 30, "error"))
    def n() = Graft.query(spark, dir, "SELECT count(*) FROM log_entries").head().getLong(0)
    assert(n() === 30L)
    val events = tempView("events")
    Graft.bulkIngest(spark, tmpDir("bulk_ingest_other"), "events", eventRows(31 to 40, "view"))
    assert(Graft.registeredDir(spark) === Some(dir))
    assert(tempView("events") eq events)
    assert(n() === 30L)
  }

  test("schema gate: a drifted batch is rejected, table untouched") {
    val dir = tmpDir("bulk_ingest_schema")
    Graft.bulkIngest(spark, dir, "events", eventRows(1 to 10, "error"))
    val drifted = eventRows(11 to 12, "error").withColumn("value", col("value").cast("float"))
    val e = intercept[IllegalArgumentException] {
      Graft.bulkIngest(spark, dir, "events", drifted)
    }
    assert(e.getMessage.contains("schema mismatch"))
    assert(spark.read.parquet(s"$dir/events.parquet").count() === 10L)
  }

  test("single-file source tables are refused, not corrupted") {
    val e = intercept[IllegalArgumentException] {
      Graft.bulkIngest(spark, sfDir, "events", eventRows(1 to 2, "error"))
    }
    assert(e.getMessage.contains("single-file table"))
  }

  test("bad table names are refused before touching the filesystem") {
    intercept[IllegalArgumentException] {
      Graft.bulkIngest(spark, tmpDir("bi"), "../escape", eventRows(1 to 2, "x"))
    }
  }
}
