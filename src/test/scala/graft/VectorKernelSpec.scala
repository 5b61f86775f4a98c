package graft

import org.apache.spark.sql.functions._

/** Contract tests for the native vector kernels `graft_dot` /
  * `graft_l2sq` (functions/VectorExpressions.scala): value parity with
  * the composable zip_with/aggregate fold they replaced, including the
  * null-on-dims-mismatch behavior (ADVICE r10: truncating to
  * min(len) would fabricate plausible distances and silently corrupt
  * LSH signatures / dedup thresholds).
  */
class VectorKernelSpec extends SparkSpec {
  import spark.implicits._

  private def foldDot = "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (s, v) -> s + v)"
  private def foldL2 = "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (s, v) -> s + v)"

  test("graft_dot / graft_l2sq match the zip_with fold on equal-length arrays") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, -5.0, 6.0)),
      (Array(0.0, 0.0), Array(0.0, 0.0)),
      (Array(2.5), Array(-1.5))
    ).toDF("a", "b")
    val rows = df.select(
      expr("graft_dot(a, b)"), expr(foldDot),
      expr("graft_l2sq(a, b)"), expr(foldL2)).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"dot mismatch: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"l2sq mismatch: $r")
    }
  }

  test("dims mismatch yields null, matching the zip_with fold (codegen path)") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0)),
      (Array(1.0), Array(1.0, 2.0, 3.0))
    ).toDF("a", "b")
    val rows = df.select(
      expr("graft_dot(a, b)"), expr(foldDot),
      expr("graft_l2sq(a, b)"), expr(foldL2)).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1), s"dot should be null on mismatch: $r")
      assert(r.isNullAt(2) && r.isNullAt(3), s"l2sq should be null on mismatch: $r")
    }
  }

  test("dims mismatch yields null in the interpreted eval path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def lit(xs: Double*) =
      Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(DoubleType, false))
    assert(graft.functions.DotProduct(lit(1.0, 2.0), lit(3.0)).eval() == null)
    assert(graft.functions.L2Sq(lit(1.0, 2.0), lit(3.0)).eval() == null)
    assert(graft.functions.DotProduct(lit(1.0, 2.0), lit(3.0, 4.0)).eval() == 11.0)
    assert(graft.functions.L2Sq(lit(1.0, 3.0), lit(3.0, 6.0)).eval() == 13.0)
  }

  test("float arrays: elements widened to double, mismatch still null") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.5, 2.5, 3.5)),
      (Array(1.0f, 2.0f), Array(1.5, 2.5, 3.5))
    ).toDF("a", "b")
    val rows = df.select(expr("graft_dot(a, b)")).collect()
    assert(rows(0).getDouble(0) == 1.0 * 1.5 + 2.0 * 2.5 + 3.0 * 3.5)
    assert(rows(1).isNullAt(0))
  }
}
