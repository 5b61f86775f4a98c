package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.{GraftSession, QueryAudit}

/** What one workload run hands back to run.py. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (errors.size < 20) errors += what
  }

  def json: String = Json(Map(
    "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics,
    "layers" -> layers, "info" -> info, "errors" -> errors))
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  /** Percentile with linear interpolation between closest ranks, the
    * same rule as Python's `statistics.quantiles(..., method='inclusive')`.
    */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

object Harness {
  private val started = System.nanoTime()

  /** Progress line on stderr, which run.py keeps as the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - started) / 1e9}%7.1f s: $msg")

  /** The session every workload measures: `GraftSession.base`, the
    * builder `graft.Bench` uses, with Spark's scratch space kept inside
    * the benchmark's work directory.
    */
  def session(o: Opts, lake: String): SparkSession = {
    val s = GraftSession.base(lake, o.cpus.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  /** Runs `setup` `times` times, tearing down all but the last result,
    * and returns that one with the median set-up time in seconds.
    */
  def setUp[T](times: Int)(setup: Int => T)(teardown: T => Unit): (T, Double) = {
    val runs = (1 to times).map { i =>
      val (r, ns) = timed(setup(i))
      if (i < times) teardown(r)
      (r, ns / 1e9)
    }
    log(s"set-up times ${runs.map(_._2).mkString(", ")} s")
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** Closed loop: each of `clients` threads takes the next item and
    * sends it only after its previous op has returned, until `seconds`
    * have passed or the items run out. Returns the wall seconds from
    * the start until the last op returned.
    */
  def closedLoop[A](clients: Int, seconds: Double, items: Iterator[A])(op: A => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    def next(): Option[A] = items.synchronized(if (items.hasNext) Some(items.next()) else None)
    val threads = (1 to clients).map { i =>
      val t = new Thread(() => {
        var item = if (System.nanoTime() < deadline) next() else None
        while (item.nonEmpty) {
          op(item.get)
          item = if (System.nanoTime() < deadline) next() else None
        }
      }, s"client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Records land on the listener bus asynchronously: wait until the
    * record count stops changing.
    */
  def settle(audit: QueryAudit.Audited): Seq[QueryAudit.Record] = {
    var last = -1L
    while (audit.recordCount != last) { last = audit.recordCount; Thread.sleep(100) }
    audit.recordsRaw()
  }

  def peakMemMb(recs: Seq[QueryAudit.Record]): Double =
    if (recs.isEmpty) 0.0 else recs.map(_.peak_memory_bytes).max / 1048576.0

  def spillMb(recs: Seq[QueryAudit.Record]): Double =
    recs.map(_.spilled_bytes).sum / 1048576.0

  /** Used storage memory of the block manager, MB. */
  def storageMb(s: SparkSession): Double =
    s.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

  /** Rows output by the file scans of an executed plan (through AQE
    * stages and subqueries).
    */
  def scannedRows(plan: SparkPlan): Long = {
    var n = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s @ (_: FileSourceScanExec | _: BatchScanExec) =>
        n += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case node =>
        node.subqueries.foreach(walk)
        node.children.foreach(walk)
    }
    walk(plan)
    n
  }

  /** Files and bytes under `root`, by path. */
  def files(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else scala.util.Using.resource(Files.walk(root)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) scala.util.Using.resource(Files.walk(root)) { w =>
      w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }
}
