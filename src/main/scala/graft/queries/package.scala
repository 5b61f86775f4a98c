package graft

import graft.operators.SpanAssembly
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{round => _, _}

/** The query catalog's shared inputs: one loader per lake-table shape
  * (every query reads its tables through these, never a private copy)
  * plus the DuckDB-compatible column helpers.
  */
package object queries {
  def events(s: SparkSession, dir: String): DataFrame = Tables.df(s, dir, "events")
  def docs(s: SparkSession, dir: String): DataFrame = Tables.df(s, dir, "documents")
  def embs(s: SparkSession, dir: String): DataFrame = Tables.df(s, dir, "embeddings")

  /** The test tables are single-file/single-row-group parquet, so the
    * scan is one input split; the md5/shingle/cosine pipelines are
    * CPU-bound and would run on one core until the first shuffle. An
    * up-front repartition on the key spreads them across the cluster —
    * on a real multi-split layout this is a no-op decision (splits
    * already provide parallelism) and would be dropped. Scan-riding
    * queries (sampling, PII scrub, scalar maps) read [[docs]] instead
    * and stay zero-shuffle.
    */
  def docsWide(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).repartition(Tables.workPartitions(s, dir, "documents"), col("doc_id"))

  /** [[embs]] spread the same way as [[docsWide]]. */
  def embsWide(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).repartition(Tables.workPartitions(s, dir, "embeddings"), col("vec_id"))

  /** Thread spans from the synthesized begin/end stream: per process
    * (`user_id`), `signup`/`view` events open a span and the rest close
    * one. [[ObservabilityExt2.oracleSpansCte]] is its DuckDB twin.
    */
  def spans(s: SparkSession, dir: String): DataFrame =
    SpanAssembly.beginEndSpans(events(s, dir), "user_id", epochMs(col("ts")), "event_id",
      "event_type", col("event_type").isin("signup", "view"))

  /** Epoch milliseconds of a (possibly ntz) timestamp column. Session
    * timezone is UTC everywhere, so ntz→ltz cast is the identity
    * instant and matches DuckDB's `epoch_ms` on the same parquet.
    */
  def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** DuckDB-compatible rounding. Deliberately SHADOWS
    * `functions.round(Column, Int)` inside the `graft.queries` package:
    * Spark's builtin rounds the decimal expansion of the double
    * (BigDecimal HALF_UP) while DuckDB computes
    * `std::round(x * 10^k) / 10^k` in doubles — near .xxx5 boundaries
    * the two disagree, which breaks exact hash comparison against the
    * oracle. Delegates to the native [[graft.functions.DuckRound]]
    * expression (sign-of-zero preserving; a floor()-based column
    * emulation routes through BIGINT and turns DuckDB's -0.0 into +0.0,
    * breaking byte-exact hashes). Requires GraftFunctions registration —
    * [[graft.Tables.df]] guarantees it for every query.
    */
  def round(c: Column, scale: Int): Column =
    call_function("graft_round", c.cast("double"), lit(scale))
}
