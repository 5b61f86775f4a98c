package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.QueryAudit

/** Op timings of one measured stretch of a workload, and the per-layer
  * numbers derived from them.
  */
final class Segment(val spark: SparkSession, audit: QueryAudit.Audited, trace: Boolean) {
  val tracer = new Tracer(spark.sparkContext, trace)
  private def lastRecord = audit.recordsRaw().map(_.query_id).foldLeft(0L)(math.max)
  private val firstRecord = lastRecord
  private var endRecord = Long.MaxValue
  val latencies = mutable.ArrayBuffer.empty[Double]
  val parts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var scannedRows = 0L
  var rowsOut = 0L
  var failed = 0L
  var wall = 0.0
  val errors = mutable.ArrayBuffer.empty[String]

  /** Per-op timer for the calls inside one op. */
  final class Marks {
    def time[T](part: String)(f: => T): T = {
      val (v, ns) = Harness.timed(f)
      Segment.this.synchronized(parts.getOrElseUpdate(part, mutable.ArrayBuffer.empty) += ns / 1e6)
      v
    }
    def scanned(in: Long, out: Long): Unit = Segment.this.synchronized {
      scannedRows += in
      rowsOut += out
    }
  }

  /** Times one op; an exception counts it as failed. */
  def op(kind: String)(body: (Tracer, Marks) => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = try { tracer.op(body(tracer, new Marks)); true } catch {
      case e: Exception =>
        synchronized { if (errors.size < 10) errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized { if (ok) latencies += ms else failed += 1 }
  }

  def ops: Int = latencies.size + failed.toInt

  def records: Seq[QueryAudit.Record] =
    Harness.settle(audit).filter(r => r.query_id > firstRecord && r.query_id <= endRecord)

  /** Ends the segment's recording: later ops' audit records and Spark
    * events are not its own.
    */
  def close(): Unit = {
    Harness.settle(audit)
    endRecord = lastRecord
    tracer.stop()
  }

  def part(name: String): Double = parts.get(name).map(Stats.median(_)).getOrElse(0.0)

  /** Per-layer numbers common to every workload. */
  def layers(r: Report, cpus: Int, traceFile: String): Unit = {
    val n = math.max(1, ops).toDouble
    val recs = records
    r.layers("graft.analyze_ms") = part("graft.analyze")
    r.layers("plans.plan_ms") = part("plans.plan")
    r.layers("plans.rows_scanned_per_row_out") = scannedRows.toDouble / math.max(1L, rowsOut)
    r.layers("exec.run_ms") = part("exec.run")
    r.layers("mem.spill_mb") = Harness.spillMb(recs) / n
    if (trace) {
      val sp = tracer.spark
      val tasks = sp.taskList
      r.layers("exec.jobs_per_op") = sp.jobCount / n
      r.layers("exec.stages_per_op") = sp.stageCount / n
      r.layers("exec.tasks_per_op") = tasks.size / n
      r.layers("exec.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9 / n
      r.layers("exec.gc_s") = tasks.map(_.gcMs).sum / 1e3 / n
      r.layers("exec.idle_core_frac") = 1.0 - tasks.map(_.runMs).sum / 1e3 / (wall * cpus)
      r.layers("shuffle.write_mb") = tasks.map(_.shuffleWrite).sum / 1048576.0 / n
      r.layers("shuffle.read_mb") = tasks.map(_.shuffleRead).sum / 1048576.0 / n
      r.layers("shuffle.fetch_wait_ms") = tasks.map(_.fetchWaitMs).sum.toDouble / n
      val spans = tracer.spans
      tracer.selfMs(spans).foreach { case (layer, ms) => r.layers(s"self.${layer}_ms") = ms / n }
      tracer.write(traceFile, spans)
    }
  }

  def endToEnd(r: Report): Unit = {
    r.metrics("op_p50_ms") = Stats.median(latencies)
    r.info("op_p95_ms") = Stats.pct(latencies, 95)
    r.metrics("ops_per_s") = latencies.size / wall
    r.metrics("peak_mem_mb") = Harness.peakMemMb(records)
  }
}

object Segment {
  /** The end-to-end run measures one untraced segment of `--seconds`.
    * The traced run measures untraced, traced, untraced stretches of
    * half, all and half of `--seconds`, so a drift in speed during the
    * run cancels out of the tracing overhead: the untraced throughput
    * over the traced one, minus 1. It reports the traced segment's
    * per-layer numbers and writes its spans out.
    */
  def finish(o: Opts, r: Report, make: Boolean => Segment, measure: (Segment, Double) => Unit,
      name: String): (Segment, Option[Segment]) = {
    val plain = make(false)
    val traced = if (!o.trace) {
      measure(plain, o.seconds)
      None
    } else {
      measure(plain, o.seconds / 2)
      val t = make(true)
      measure(t, o.seconds)
      t.close()
      measure(plain, o.seconds / 2)
      Some(t)
    }
    plain.close()
    Harness.log(s"untraced: ${plain.ops} ops in ${plain.wall} s, ms: " +
      plain.latencies.map(x => f"$x%.0f").mkString(" "))
    plain.parts.foreach { case (k, v) => Harness.log(s"  $k ms: " + v.map(x => f"$x%.0f").mkString(" ")) }
    traced.foreach(t => Harness.log(s"traced: ${t.ops} ops in ${t.wall} s"))
    val segs = plain +: traced.toSeq
    r.attempted = segs.map(_.ops.toLong).sum
    segs.foreach { s => r.failed += s.failed; r.errors ++= s.errors }
    traced match {
      case None => plain.endToEnd(r)
      case Some(t) =>
        val file = s"traces/$name-seed${o.seed}.json"
        t.layers(r, o.cpus, s"${o.work}/$file")
        r.info("trace_file") = file
        val rate = (s: Segment) => s.latencies.size / s.wall
        r.layers("trace.overhead_frac") = rate(plain) / rate(t) - 1.0
    }
    (plain, traced)
  }
}
