package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.{Graft, QueryAudit}

/** `dashboard`: the interactive user. Two client threads share one
  * session in a closed loop; each query is `Graft.query(sql, begin,
  * end)` plus `collect`. The query stream (template, time window,
  * process id, SQL) comes from `inputs/dashboard.tsv`; rows of the
  * queries it marks for checking are kept and digested after the timed
  * loop, for `checks.py`, which re-evaluates them over the raw `events`
  * parquet.
  */
object Dashboard {
  final case class Q(phase: String, id: Int, template: String, begin: Long, end: Long,
      pid: String, check: Boolean, sql: String)

  val Clients = 2

  def load(o: Opts): Seq[Q] =
    Files.readAllLines(Paths.get(o.inputs, "dashboard.tsv")).asScala.toSeq.map { l =>
      val f = l.split("\t", 8)
      Q(f(0), f(1).toInt, f(2), f(3).toLong, f(4).toLong, f(5), f(6) == "1", f(7))
    }

  def run(o: Opts): Report = {
    val r = new Report
    val qs = load(o)
    val warm = qs.filter(_.phase == "warm")
    val stream = qs.filter(_.phase == "run").iterator
    val ((spark, audit), setupS) = Harness.setUp(o.setups) { _ =>
      val s = Harness.session(o, o.lake)
      val a = QueryAudit.attach(s, 1 << 20)
      warm.foreach(q => Graft.query(s, o.lake, q.sql, Some(q.begin), Some(q.end)).collect())
      (s, a)
    } { case (s, _) => Harness.stop(s) }
    r.metrics("setup_s") = setupS

    val sampled = mutable.ArrayBuffer.empty[(Q, Array[Row])]
    def measure(seg: Segment, seconds: Double): Unit =
      seg.wall += Harness.closedLoop(Clients, seconds, stream) { q =>
        seg.op("query") { (tr, m) =>
          val df = m.time("graft.analyze")(tr.span("graft.analyze")(
            Graft.query(spark, o.lake, q.sql, Some(q.begin), Some(q.end))))
          m.time("plans.plan")(tr.span("plans.plan")(df.queryExecution.executedPlan))
          val rows = m.time("exec.run")(tr.span("exec.run")(df.collect()))
          m.scanned(Harness.scannedRows(df.queryExecution.executedPlan), rows.length)
          if (q.check) sampled.synchronized(sampled += ((q, rows)))
        }
      }
    Segment.finish(o, r, new Segment(spark, audit, _), measure, "dashboard")
    r.info("checks") = sampled.toList.map { case (q, rows) =>
      val (n, d) = Digest.of(rows.toSeq)
      Map("id" -> q.id, "template" -> q.template, "begin" -> q.begin, "end" -> q.end,
        "pid" -> q.pid, "rows" -> n, "digest" -> d)
    }
    Harness.stop(spark)
    if (o.trace) Headliners.pass(o, r)
    r
  }
}
