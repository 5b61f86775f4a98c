package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** The 36 `SparkEntry.headlineQueries`, the batch and LLM-pipeline
  * user's load. Too slow for a timed workload of its own: one pass is
  * ~30 s on 4 cores, and its times settle only after two warm-up
  * passes. So the traced `dashboard` run ends with one pass of them for
  * the `queries.*` layer metrics: a fresh `GraftSession.base` session on
  * the batch lake, then one pass in the seeded order from
  * `inputs/headliners.tsv`, each query as `q.fn(spark, lake).count()`.
  * There is no headliner warm-up, so each time includes that query's
  * code generation. Every count is checked against the committed row
  * count, and the sampled queries' result digests against the committed
  * digests (`headliner_digests.json`).
  */
object Headliners {
  def pass(o: Opts, r: Report): Unit = {
    val lines = Files.readAllLines(Paths.get(o.inputs, "headliners.tsv")).asScala.toSeq
      .map(_.split("\t"))
    def field(kind: String) = lines.filter(_(0) == kind)
    val order = field("pass").head(1).split(",").toSeq
    val sample = field("check").flatMap(_(1).split(","))
    val expected = field("expect").map(f => f(1) -> (f(2).toLong, f(3))).toMap
    val byName = SparkEntry.headlineQueries.map(q => q.name -> q).toMap

    val spark = Harness.session(o, o.batchLake)
    val t0 = System.nanoTime()
    order.foreach { name =>
      r.attempted += 1
      val (n, ns) = Harness.timed(scala.util.Try(byName(name).fn(spark, o.batchLake).count()))
      r.layers(s"queries.${name}_s") = ns / 1e9
      if (!n.toOption.exists(c => expected.get(name).exists(_._1 == c)))
        r.fail(s"$name: $n rows, expected ${expected.get(name).map(_._1)}")
    }
    r.layers("queries.suite_s") = (System.nanoTime() - t0) / 1e9
    Harness.log(s"headliners pass: ${r.layers("queries.suite_s")} s")
    r.layers("mem.storage_mb_after_pass") = Harness.storageMb(spark)

    sample.foreach { name =>
      r.attempted += 1
      val got = scala.util.Try(Digest.of(byName(name).fn(spark, o.batchLake).collect().toSeq))
      if (!got.toOption.exists(expected.get(name).contains))
        r.fail(s"$name: digest $got, expected ${expected.get(name)}")
    }
    Harness.stop(spark)
  }

  /** Row count, digest and oracle SQL of every headliner. */
  def digests(o: Opts): Report = {
    val r = new Report
    val spark = Harness.session(o, o.batchLake)
    val oracle = SparkEntry.oracleSql
    r.info("digests") = SparkEntry.headlineQueries.map { q =>
      val (n, d) = Digest.of(q.fn(spark, o.batchLake).collect().toSeq)
      q.name -> Map("rows" -> n, "digest" -> d, "oracle" -> oracle.get(q.name))
    }.toMap
    Harness.stop(spark)
    r
  }
}
