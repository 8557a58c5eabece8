package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression for the 2-D HILBERT CURVE index on a
  * fixed 2¹⁶ × 2¹⁶ grid — the multi-dimensional clustering key that
  * beats Z-order (Morton) on locality: the Hilbert curve never takes
  * the long diagonal jumps Morton takes at power-of-two boundaries, so
  * equal-size key ranges cover tighter axis-aligned boxes, which is
  * exactly what min/max data skipping prunes on (the device behind
  * Databricks' liquid clustering class of layouts; see the q284 layout
  * audit that measures the difference).
  *
  * Algorithm: the classic bit-interleave-with-rotation loop (Hamilton's
  * compact Hilbert indices, in the standard `xy2d` form): for each bit
  * plane s = 2¹⁵ … 1, take quadrant bits (rx, ry), accumulate
  * s²·((3·rx) XOR ry), and rotate/reflect the frame. Both coordinates
  * must already be in [0, 65536) — out-of-range input throws
  * (fail-loudly convention), callers scale first. 16 iterations of
  * integer ops inside whole-stage codegen — no boxing, no UDF.
  *
  * The (3·rx) XOR ry term is spelled `rx=1 ? 3-ry : ry` so the DuckDB
  * oracle can state the identical arithmetic without dialect-specific
  * XOR (rx, ry ∈ {0,1} makes them equal). The oracle unrolls the same
  * 16 steps as generated SQL — see `LayoutKeys.hilbertSqlChain`. */
case class HilbertIndex2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_hilbert2"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (BIGINT, BIGINT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(x: Any, y: Any): Any =
    HilbertIndex2.xy2d(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xc, yc) => {
      val x = ctx.freshName("hx"); val y = ctx.freshName("hy")
      val d = ctx.freshName("hd"); val s = ctx.freshName("hs")
      val rx = ctx.freshName("hrx"); val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      s"""
         |if ($xc < 0L || $xc > 65535L || $yc < 0L || $yc > 65535L)
         |  throw new IllegalArgumentException(
         |    "graft_hilbert2: coordinates must be in [0, 65536), got ("
         |      + $xc + ", " + $yc + ")");
         |long $x = $xc; long $y = $yc; long $d = 0L;
         |for (long $s = 32768L; $s > 0L; $s >>= 1) {
         |  long $rx = ($x & $s) > 0L ? 1L : 0L;
         |  long $ry = ($y & $s) > 0L ? 1L : 0L;
         |  $d += $s * $s * ($rx == 1L ? 3L - $ry : $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = 65535L - $x; $y = 65535L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HilbertIndex2 =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex2 {
  val Side = 65536L

  /** Interpreted path + ground truth for specs. */
  def xy2d(x0: Long, y0: Long): Long = {
    require(x0 >= 0L && x0 < Side && y0 >= 0L && y0 < Side,
      s"graft_hilbert2: coordinates must be in [0, 65536), got ($x0, $y0)")
    var x = x0; var y = y0; var d = 0L; var s = Side / 2
    while (s > 0L) {
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      d += s * s * (if (rx == 1L) 3L - ry else ry)
      if (ry == 0L) {
        if (rx == 1L) { x = Side - 1L - x; y = Side - 1L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse (spec referee only — proves bijectivity/locality). */
  def d2xy(d0: Long): (Long, Long) = {
    var x = 0L; var y = 0L; var t = d0; var s = 1L
    while (s < Side) {
      val rx = (t / 2) & 1L
      val ry = (t ^ rx) & 1L
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1L - x; y = s - 1L - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx; y += s * ry
      t /= 4; s *= 2
    }
    (x, y)
  }

  /** Column-API access (no session registration needed). */
  def apply(x: Column, y: Column): Column =
    GraftBridge.column(
      HilbertIndex2(GraftBridge.expression(x), GraftBridge.expression(y)))

  private[functions] val sqlBuilder: Seq[Expression] => Expression = {
    case Seq(x, y) => HilbertIndex2(x, y)
    case other => throw new IllegalArgumentException(
      s"graft_hilbert2 expects exactly 2 arguments, got ${other.size}")
  }
}
