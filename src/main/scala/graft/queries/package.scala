package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col => _, round => _, _}

package object queries {
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
