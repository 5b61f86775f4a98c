package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are ns on the `System.nanoTime` clock;
  * Spark's millisecond event times are mapped onto it.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long,
    lane: String)

/** In-memory span recorder around the benchmark's calls into graft.
  * Off, `span` and `op` just run their body: the end-to-end run
  * measures with tracing off. On, every op gets a root span, every
  * call inside it a child span, and Spark jobs, stages and tasks are
  * tied to their op through a local property the op's thread sets.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val ids = new AtomicLong(0L)
  private val client = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (span id, op id)
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  val spark = new SparkSpans(this)
  if (on) sc.addSparkListener(spark)

  def fromMs(ms: Long): Long = originNs + (ms - originMs) * 1000000L
  def nextId(): Long = ids.incrementAndGet()

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId()
      val (parent, op) = stack.get().headOption.getOrElse((0L, id))
      stack.set((id, op) :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        client.add(Span(id, parent, op, name, t0, System.nanoTime(), Thread.currentThread.getName))
        stack.set(stack.get().tail)
      }
    }

  /** A root span; Spark work submitted inside it carries its id. */
  def op[T](f: => T): T =
    if (!on) f
    else span("op") {
      sc.setLocalProperty(Tracer.OpProperty, stack.get().head._2.toString)
      try f finally sc.setLocalProperty(Tracer.OpProperty, null)
    }

  def stop(): Unit = if (on) sc.removeSparkListener(spark)

  /** Every span, Spark's parented under the innermost client span of
    * their op that was open when the job started.
    */
  def spans: Seq[Span] = {
    val cs = client.asScala.toSeq
    val byOp = cs.groupBy(_.op)
    def host(op: Long, t: Long): Long =
      // Spark's event times have millisecond resolution
      byOp.getOrElse(op, Nil).filter(s => s.start - 1000000L <= t && t <= s.end)
        .sortBy(-_.start).headOption.map(_.id).getOrElse(0L)
    cs ++ spark.spans(host)
  }

  /** Self time per layer, ms: each span's duration minus the part of
    * it that its children cover.
    */
  def selfMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(i => i._1 < i._2))
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }

  /** Writes the spans as a Chrome trace (opens in Perfetto). */
  def write(path: String, all: Seq[Span]): Unit = {
    val events = all.map { s =>
      Map("name" -> s.name, "ph" -> "X", "pid" -> 1, "tid" -> s.lane,
        "ts" -> (s.start - originNs) / 1000.0, "dur" -> (s.end - s.start) / 1000.0,
        "args" -> Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op))
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), Json(Map("traceEvents" -> events)).getBytes("UTF-8"))
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Total length of the union of intervals. */
  def union(is: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    is.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}

/** Spark listener half of the tracer: job, stage and task intervals
  * and the task metrics the per-layer report sums.
  */
final class SparkSpans(t: Tracer) extends SparkListener {
  import SparkSpans._

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, (Long, Long)]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = Job(e.jobId, op, t.fromMs(e.time), t.fromMs(e.time))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = t.fromMs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages(i.stageId) = (t.fromMs(s), t.fromMs(c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += Task(e.stageId, t.fromMs(i.launchTime), t.fromMs(i.finishTime),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime)
  }

  def opOf(stage: Int): Long = stageJob.get(stage).flatMap(jobs.get).map(_.op).getOrElse(0L)

  def jobCount: Int = synchronized(jobs.size)
  def stageCount: Int = synchronized(stages.size)
  def taskList: Seq[Task] = synchronized(tasks.toList)

  def spans(host: (Long, Long) => Long): Seq[Span] = synchronized {
    val jobSpan = jobs.values.map(j => j.id -> t.nextId()).toMap
    val stageSpan = stages.keys.map(s => s -> t.nextId()).toMap
    val js = jobs.values.map(j => Span(jobSpan(j.id), host(j.op, j.start), j.op, "spark.job",
      j.start, j.end, "jobs"))
    val ss = stages.map { case (s, (b, e)) =>
      Span(stageSpan(s), stageJob.get(s).map(jobSpan).getOrElse(0L), opOf(s), "spark.stage",
        b, e, "stages")
    }
    val ts = tasks.map(k => Span(t.nextId(), stageSpan.getOrElse(k.stage, 0L), opOf(k.stage),
      "spark.task", k.start, k.end, s"stage-${k.stage}"))
    (js ++ ss ++ ts).toSeq
  }
}

object SparkSpans {
  final case class Job(id: Int, op: Long, start: Long, var end: Long)
  final case class Task(stage: Int, start: Long, end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long)
}
