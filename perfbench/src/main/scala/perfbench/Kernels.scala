package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Microbench of graft's `functions` kernels, run at the end of the
  * traced `ingest` run. Inputs are the run's seeded documents
  * (`inputs/kernel_docs.parquet`, shaped like the lake's `documents`),
  * vector pairs (`inputs/kernel_vecs.parquet`, shaped like
  * `embeddings`) and the vectors' elements as values, cached before
  * timing. Each kernel's time is the median over `Reps` of a query of
  * it written to Spark's no-op sink, minus the same for the baseline
  * query over its input; reported per input row.
  */
object Kernels {
  val Reps = 3

  /** metric suffix -> (input, kernel expression, baseline expression) */
  val cases: Seq[(String, (String, String, String))] = Seq(
    "graft_chunks" -> ("docs", "graft_chunks(text, 16)", "text"),
    "graft_bpe_merge" -> ("docs", "graft_bpe_merge(tokens, 'spark', 'window')", "tokens"),
    "graft_shingles" -> ("docs", "graft_shingles(text, 3)", "text"),
    "graft_minhash" -> ("docs", "graft_minhash(shingles, 8)", "shingles"),
    "graft_textstats" -> ("docs", "graft_textstats(text)", "text"),
    "graft_dot" -> ("vecs", "graft_dot(a, b)", "a"),
    "graft_make_histogram" -> ("values", "graft_make_histogram(-1.0, 1.0, 100, e)", "sum(e)"))

  def run(spark: SparkSession, o: Opts, r: Report): Unit = {
    def load(name: String, exprs: String*): DataFrame = {
      val df = spark.read.parquet(Paths.get(o.inputs, s"kernel_$name.parquet").toString)
        .selectExpr(exprs: _*).cache()
      df.count()
      df
    }
    val inputs = Map(
      "docs" -> load("docs", "text", "graft_tokens(text) AS tokens",
        "graft_shingles(text, 3) AS shingles"),
      "vecs" -> load("vecs", "a", "b"),
      "values" -> load("vecs", "explode(a) AS e"))
    def time(df: DataFrame, expr: String): Double = Stats.median((1 to Reps).map { _ =>
      Harness.timed(df.selectExpr(expr).write.format("noop").mode("overwrite").save())._2.toDouble
    })
    cases.foreach { case (name, (input, kernel, baseline)) =>
      val df = inputs(input)
      time(df, kernel) // warm-up: code generation
      r.layers(s"functions.${name}_ns_per_row") = (time(df, kernel) - time(df, baseline)) / df.count()
      Harness.log(s"kernel $name: ${r.layers(s"functions.${name}_ns_per_row")} ns/row")
    }
    inputs.values.foreach(_.unpersist())
  }
}
