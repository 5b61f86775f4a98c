package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `graft_dot(a, b)` — dot product of two array<double|float> columns
  * as a native Catalyst expression with whole-stage codegen.
  *
  * The composable alternative (`aggregate(zip_with(a,b,*),0,+)`) walks
  * the arrays through interpreted higher-order lambdas with boxed
  * doubles — fine for a few thousand rows, dominant at
  * corpus×queries pair counts. This generates the tight primitive
  * loop instead. Summation is left-to-right, bit-identical to the
  * sequential-loop oracle.
  *
  * Float arrays (the natural embedding storage type) are read in place
  * with each ELEMENT widened to double before the multiply —
  * bit-identical to casting the whole array to array<double> first,
  * without materializing the cast copy per row. (A float×float
  * multiply would round to float precision and diverge; the codegen
  * widens before multiplying.)
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // Mismatched lengths return null (below), independent of child nullability.
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val lFloat = elemIsFloat(left)
  private lazy val rFloat = elemIsFloat(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // Mismatched dims → null, matching the zip_with fold this kernel
    // replaced (zip_with pads the short side with null → sum is null).
    // Truncating instead would fabricate a plausible-looking distance
    // and silently corrupt LSH signatures / dedup thresholds.
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rFloat) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val xv = if (lFloat) s"((double) $a.getFloat($i))" else s"$a.getDouble($i)"
      val yv = if (rFloat) s"((double) $b.getFloat($i))" else s"$b.getDouble($i)"
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $s += $xv * $yv;
          }
          ${ev.value} = $s;
        }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_l2sq(a, b)` — squared L2 distance of two array<double|float>
  * columns as a native codegen'd expression; the interpreted-HOF
  * alternative (`aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)),0,+)`) is
  * CodegenFallback and dominates PQ encode (corpus × subspaces ×
  * codebook evals). Same element-widening and left-to-right summation
  * contract as [[DotProduct]]: on integer-valued inputs every term and
  * partial sum stays far inside double's exact range, so the result is
  * bit-identical to the integer fold.
  */
case class L2Sq(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"
  // Mismatched lengths return null (below), independent of child nullability.
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val lFloat = elemIsFloat(left)
  private lazy val rFloat = elemIsFloat(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // Mismatched dims → null (see DotProduct.nullSafeEval).
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rFloat) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val xv = if (lFloat) s"((double) $a.getFloat($i))" else s"$a.getDouble($i)"
      val yv = if (rFloat) s"((double) $b.getFloat($i))" else s"$b.getDouble($i)"
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $d = $xv - $yv;
            $s += $d * $d;
          }
          ${ev.value} = $s;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

/** `graft_pq_encode(qv, cbflat, m, dims, k)` — ALL m nearest-codeword
  * PQ codes of one scaled-integer vector in a single pass, as a native
  * codegen'd expression.
  *
  * `qv` is the array<long> vector (length m·dims); `cbflat` is the
  * codebook flattened in (sub, cent_id, dim) order (length m·k·dims —
  * [[graft.operators.Pq.encodeFast]] builds it with one ordered
  * collect over the ≤ m·k-row codebook). Returns array<long> of m
  * codes.
  *
  * Replaces the explode(m) → broadcast-join(k) → groupBy-argmin
  * pipeline inside PQ encoding, whose intermediate is corpus × m × k
  * rows and whose argmin pays a (vec, sub)-keyed exchange: the kernel
  * rides the SCAN — per-vector state is one m-length array, zero
  * shuffle, and the arithmetic is the same m·k integer-L2 folds.
  *
  * Exactness contract, pinned by PqSpec against [[graft.operators.Pq.encode]]:
  * pure long arithmetic (every squared diff and partial sum far inside
  * i64 at the scaled-component magnitudes), ascending-cent iteration
  * with STRICT `<` improvement = the packed-long `min(l2·k + cent)`
  * tie-break (lowest cent_id wins ties). Length mismatch on either
  * array → null, same null-on-mismatch contract as [[L2Sq]].
  */
case class PqEncode(left: Expression, right: Expression, m: Int, dims: Int, k: Int)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  require(m > 0 && dims > 0 && k > 0, s"graft_pq_encode: bad shape m=$m dims=$dims k=$k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    if (q.numElements() != m * dims || cb.numElements() != m * k * dims) return null
    val codes = new Array[Long](m)
    var sub = 0
    while (sub < m) {
      var best = Long.MaxValue
      var bestC = 0L
      var c = 0
      while (c < k) {
        var s = 0L
        val qoff = sub * dims
        val coff = (sub * k + c) * dims
        var d = 0
        while (d < dims) {
          val diff = q.getLong(qoff + d) - cb.getLong(coff + d)
          s += diff * diff
          d += 1
        }
        if (s < best) { best = s; bestC = c.toLong }
        c += 1
      }
      codes(sub) = bestC
      sub += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val codes = ctx.freshName("codes")
      val sub = ctx.freshName("sub")
      val best = ctx.freshName("best")
      val bestC = ctx.freshName("bestC")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      s"""
        if ($a.numElements() != ${m * dims} || $b.numElements() != ${m * k * dims}) {
          ${ev.isNull} = true;
        } else {
          long[] $codes = new long[$m];
          for (int $sub = 0; $sub < $m; $sub++) {
            long $best = Long.MAX_VALUE;
            long $bestC = 0L;
            for (int $c = 0; $c < $k; $c++) {
              long $s = 0L;
              for (int $d = 0; $d < $dims; $d++) {
                long $diff = $a.getLong($sub * $dims + $d)
                  - $b.getLong(($sub * $k + $c) * $dims + $d);
                $s += $diff * $diff;
              }
              if ($s < $best) { $best = $s; $bestC = (long) $c; }
            }
            $codes[$sub] = $bestC;
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}
