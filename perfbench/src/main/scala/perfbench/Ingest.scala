package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.ZoneOffset

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Graft, QueryAudit, Tables}

/** `ingest`: live writes beside reads. One writer in a closed loop on a
  * fresh copy of the lake whose `events` table is a directory (the
  * other tables link to the read-only lake). Each cycle
  *  1. `Graft.bulkIngest`s one seeded minute of events past the lake's
  *     end (`inputs/ingest.parquet`, one batch per minute),
  *  2. `Graft.materializePartitions` the `log_stats` view into a
  *     day-partitioned directory,
  *  3. runs a tail query over the last hour, which must return exactly
  *     the rows just ingested.
  * Freshness is the cycle's time: from the ingest call until the tail
  * query returned the new rows.
  */
object Ingest {
  final case class Batch(id: Int, rows: Seq[Row], minuteMs: Long) {
    val ids: Set[Long] = rows.map(_.getLong(0)).toSet
  }

  final case class Lake(spark: SparkSession, audit: QueryAudit.Audited, dir: Path, views: Path,
      schema: StructType)

  val WarmCycles = 2

  def tailSql(minuteMs: Long): String =
    s"SELECT event_id FROM log_entries WHERE time_ms >= $minuteMs"

  /** A fresh lake copy with `WarmCycles` cycles run on it. */
  def setUp(o: Opts, k: Int, batch: SparkSession => Batch): Lake = {
    val root = Paths.get(o.work, "ingest")
    val dir = root.resolve(s"lake-$k")
    val views = root.resolve(s"views-$k")
    Harness.deleteTree(dir)
    Harness.deleteTree(views)
    Files.createDirectories(dir.resolve("events.parquet"))
    Tables.all.filter(_ != "events").foreach { t =>
      Files.createSymbolicLink(dir.resolve(s"$t.parquet"), Paths.get(o.lake, s"$t.parquet").toAbsolutePath)
    }
    Files.copy(Paths.get(o.lake, "events.parquet"), dir.resolve("events.parquet/part-00000-lake.parquet"))
    val s = Harness.session(o, dir.toString)
    val a = QueryAudit.attach(s, 1 << 20)
    val lake = Lake(s, a, dir, views, s.read.parquet(dir.resolve("events.parquet").toString).schema)
    Graft.materializePartitions(s, Graft.query(s, dir.toString, "SELECT * FROM log_stats"), views.toString)
    val warm = new Segment(s, a, false)
    for (_ <- 1 to WarmCycles) warm.op("cycle")((tr, m) => cycle(lake, batch(s), tr, m))
    if (warm.failed > 0) throw new IllegalStateException(s"warm-up cycle failed: ${warm.errors}")
    lake
  }

  def cycle(l: Lake, b: Batch, tr: Tracer, m: Segment#Marks): Unit = {
    val s = l.spark
    val dir = l.dir.toString
    val rows = s.createDataFrame(b.rows.asJava, l.schema)
    m.time("operators.bulk_ingest")(tr.span("operators.bulk_ingest")(
      Graft.bulkIngest(s, dir, "events", rows)))
    val stats = m.time("graft.analyze_after_refresh")(tr.span("graft.analyze")(
      Graft.query(s, dir, "SELECT * FROM log_stats")))
    m.time("operators.materialize")(tr.span("operators.materialize")(
      Graft.materializePartitions(s, stats, l.views.toString)))
    val end = b.minuteMs + 60000L
    val tail = m.time("graft.analyze")(tr.span("graft.analyze")(
      Graft.query(s, dir, tailSql(b.minuteMs), Some((end - 3600000L) * 1000L), Some(end * 1000L))))
    m.time("plans.plan")(tr.span("plans.plan")(tail.queryExecution.executedPlan))
    val got = m.time("exec.run")(tr.span("exec.run")(tail.collect())).map(_.getLong(0))
    m.scanned(Harness.scannedRows(tail.queryExecution.executedPlan), got.length)
    if (got.length != b.rows.size || got.toSet != b.ids)
      throw new IllegalStateException(
        s"batch ${b.id}: tail query returned ${got.length} rows, ingested ${b.rows.size}")
  }

  def loadBatches(s: SparkSession, o: Opts): Seq[Batch] =
    s.read.parquet(Paths.get(o.inputs, "ingest.parquet").toString).collect().toSeq
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (id, rs) =>
        val rows = rs.map(r => Row.fromSeq(r.toSeq.tail)).sortBy(_.getLong(0))
        val firstMs = rows.map(_.getAs[java.time.LocalDateTime](1).toInstant(ZoneOffset.UTC).toEpochMilli).min
        Batch(id, rows, firstMs - firstMs % 60000L)
      }

  def bytes(l: Lake): Map[String, (Long, Long)] =
    Harness.files(l.dir.resolve("events.parquet")) ++ Harness.files(l.views)

  def run(o: Opts): Report = {
    val r = new Report
    var batches: Iterator[Batch] = null
    val next = (s: SparkSession) => {
      if (batches == null) batches = loadBatches(s, o).iterator
      batches.next()
    }
    val (lake, setupS) = Harness.setUp(o.setups)(k => setUp(o, k, next)) { l =>
      Harness.stop(l.spark)
      Harness.deleteTree(l.dir)
      Harness.deleteTree(l.views)
    }
    r.metrics("setup_s") = setupS

    val ingested = collection.mutable.Map.empty[Segment, Long].withDefaultValue(0L)
    val written = collection.mutable.Map.empty[Segment, Long].withDefaultValue(0L)
    val rewritten = collection.mutable.ArrayBuffer.empty[Double]
    def measure(seg: Segment, seconds: Double): Unit = {
      val before = bytes(lake).values.map(_._1).sum
      seg.wall += Harness.closedLoop(1, seconds, batches) { b =>
        val snap = if (seg.tracer.on) bytes(lake) else Map.empty[String, (Long, Long)]
        seg.op("cycle")((tr, m) => cycle(lake, b, tr, m))
        ingested(seg) += b.rows.size
        if (seg.tracer.on) rewritten += bytes(lake).collect {
          case (p, (n, t)) if !snap.get(p).contains((n, t)) => n.toDouble
        }.sum
      }
      written(seg) += bytes(lake).values.map(_._1).sum - before
    }
    val (plain, traced) =
      Segment.finish(o, r, new Segment(lake.spark, lake.audit, _), measure, "ingest")
    r.info("ingest_rows_per_s") = ingested(plain) / plain.wall
    r.info("write_bytes_per_row") = written(plain).toDouble / math.max(1L, ingested(plain))
    traced.foreach { t =>
      r.layers("graft.analyze_after_refresh_ms") = t.part("graft.analyze_after_refresh")
      r.layers("operators.bulk_ingest_ms") = t.part("operators.bulk_ingest")
      r.layers("operators.materialize_ms") = t.part("operators.materialize")
      r.layers("operators.bytes_rewritten_per_cycle") = Stats.median(rewritten)
      r.layers("operators.lake_files") = bytes(lake).size.toDouble
    }
    r.info("lake") = lake.dir.toString
    r.info("views") = lake.views.toString
    if (o.trace) Kernels.run(lake.spark, o, r)
    Harness.stop(lake.spark)
    r
  }
}
