package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: each row renders to a
  * canonical string (columns in name order), the first 8 bytes of its
  * SHA-256 are summed modulo 2^64. `checks.py` renders DuckDB results
  * the same way, so a digest computed here compares with one computed
  * from an independent engine.
  *
  * Canonical values: null is "~"; doubles, floats and decimals are the
  * hex of the IEEE bits of their value as a double, NaN "nan" (so a
  * DuckDB DECIMAL literal compares with a Spark double, as in the oracle
  * compare); arrays "[a,b]", structs "{a,b}"; everything else its
  * string form.
  */
object Digest {
  def value(v: Any): String = v match {
    case null => "~"
    case d: Double => bits(d)
    case f: Float => bits(f.toDouble)
    case b: java.math.BigDecimal => bits(b.doubleValue)
    case b: BigDecimal => bits(b.toDouble)
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def bits(d: Double): String =
    if (d.isNaN) "nan" else java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  def row(r: Row): String = {
    val names = r.schema.fieldNames
    names.indices.sortBy(names(_)).map(i => value(r.get(i))).mkString("\u001f")
  }

  def rowHash(s: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    h.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  /** (rows, digest as 16 hex digits). */
  def of(rows: Seq[Row]): (Long, String) =
    (rows.size.toLong, f"${rows.foldLeft(0L)((acc, r) => acc + rowHash(row(r)))}%016x")
}
