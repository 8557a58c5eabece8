package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the MinHash+LSH BAND KEYS of a text
  * — the SQL-callable form of the dedup battery's banding stage
  * (`graft.ops.MinHash.bandTable`, q35/q72/q144), registered as
  * `graft_minhash_bands(text, bands, rows)` by [[GraftExtensions]] so
  * a pure-SQL user reaches LSH dedup with
  *
  * {{{ SELECT doc_id, explode(graft_minhash_bands(text, 4, 2)) AS band
  *     FROM documents }}}
  *
  * and a self-join on `band` yields exactly the battery's candidate
  * pairs. Bit-identical to the DataFrame stage by construction: word
  * 3-shingles (split on single space, trailing empties kept — the
  * `split(text, ' ')` semantics), hash family = two keyed md5 digests
  * per shingle split into four 8-hex chunks each (bands·rows ≤ 8),
  * signature h_i = lexicographic min over shingles of chunk i, band
  * key b = md5("b:" ++ its rows' chunks) — the same strings the
  * DuckDB oracle CTEs spell out. Texts with fewer than 3 words yield
  * an empty array (the battery filters them out before banding).
  *
  * Stays inside whole-stage codegen: `doGenCode` emits one static
  * call, so banding a 100-TB corpus from SQL pays no interpreted-row
  * overhead. */
case class MinHashBands(text: Expression, bandsN: Expression,
    rowsN: Expression) extends TernaryExpression {

  override def first: Expression = text
  override def second: Expression = bandsN
  override def third: Expression = rowsN

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    if (text.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_bands expects STRING text, got ${text.dataType.simpleString}")
    if (bandsN.dataType != IntegerType || rowsN.dataType != IntegerType)
      return TypeCheckResult.TypeCheckFailure(
        "graft_minhash_bands expects INT bands and rows")
    if (!bandsN.foldable || !rowsN.foldable)
      return TypeCheckResult.TypeCheckFailure(
        "graft_minhash_bands: bands and rows must be literals")
    val (b, r) = (bandsN.eval().asInstanceOf[Int], rowsN.eval().asInstanceOf[Int])
    if (b < 1 || r < 1 || b * r > 8)
      TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_bands: need 1 <= bands*rows <= 8 (got $b x $r); " +
          "the hash family draws from two md5 digests")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(t: Any, b: Any, r: Any): Any =
    MinHashBands.compute(t.asInstanceOf[UTF8String],
      b.asInstanceOf[Int], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, b, r) =>
      s"graft.functions.MinHashBands.compute($t, $b, $r)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): MinHashBands =
    copy(text = newFirst, bandsN = newSecond, rowsN = newThird)

  override def prettyName: String = "graft_minhash_bands"
}

object MinHashBands {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5hex(s: String): String = {
    val d = md.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((bytes(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(bytes(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** Interpreted/codegen shared path (public: codegen calls it). */
  def compute(text: UTF8String, bands: Int, rows: Int): ArrayData = {
    val ws = text.toString.split(" ", -1)
    if (ws.length < 3) return new GenericArrayData(Array.empty[Any])
    val n = bands * rows
    val mins = new Array[String](n)
    var i = 0
    while (i <= ws.length - 3) {
      val sh = ws(i) + " " + ws(i + 1) + " " + ws(i + 2)
      val ha = md5hex("a:" + sh)
      lazy val hb = md5hex("b:" + sh)
      var j = 0
      while (j < n) {
        val chunk = {
          val src = if (j < 4) ha else hb
          src.substring((j % 4) * 8, (j % 4) * 8 + 8)
        }
        if (mins(j) == null || chunk.compareTo(mins(j)) < 0) mins(j) = chunk
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder().append(b).append(':')
      var k = 0
      while (k < rows) { sb.append(mins(b * rows + k)); k += 1 }
      out(b) = UTF8String.fromString(md5hex(sb.toString))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API access (no session registration needed). */
  def apply(text: Column, bands: Int, rows: Int): Column =
    GraftBridge.column(MinHashBands(GraftBridge.expression(text),
      org.apache.spark.sql.catalyst.expressions.Literal(bands),
      org.apache.spark.sql.catalyst.expressions.Literal(rows)))

  private[functions] val sqlBuilder: Seq[Expression] => Expression = {
    case Seq(t, b, r) => MinHashBands(t, b, r)
    case other => throw new IllegalArgumentException(
      s"graft_minhash_bands expects exactly 3 arguments, got ${other.size}")
  }
}

/** Native predicate `edit_distance(a, b) <= 1` in ONE LINEAR PASS —
  * the verify stage of deletion-1 blocking (q227) calls this on every
  * candidate pair, where the general Levenshtein DP is O(len²) per
  * pair and was measured as the whole query cost at sf0.1. Semantics
  * match `levenshtein(a, b) <= 1` exactly (the oracle spells it that
  * way): equal lengths → at most one mismatched position; lengths off
  * by one → the longer equals the shorter with one char inserted;
  * otherwise false. Character-level (not byte-level), so multibyte
  * text agrees with Levenshtein too. */
case class WithinEdit1(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_within_edit1 expects two STRING arguments")

  override def nullSafeEval(a: Any, b: Any): Any =
    WithinEdit1.check(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.WithinEdit1.check($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): WithinEdit1 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_within_edit1"
}

object WithinEdit1 {
  /** Interpreted/codegen shared path (public: codegen calls it). */
  def check(ua: UTF8String, ub: UTF8String): Boolean = {
    val a = ua.toString
    val b = ub.toString
    val (la, lb) = (a.length, b.length)
    if (la == lb) {
      var i = 0
      var diff = 0
      while (i < la && diff <= 1) {
        if (a.charAt(i) != b.charAt(i)) diff += 1
        i += 1
      }
      diff <= 1
    } else {
      val (s, l) = if (la < lb) (a, b) else (b, a)
      if (l.length - s.length != 1) false
      else {
        var i = 0
        var j = 0
        var skipped = false
        var ok = true
        while (ok && i < s.length) {
          if (s.charAt(i) == l.charAt(j)) { i += 1; j += 1 }
          else if (skipped) ok = false
          else { skipped = true; j += 1 }
        }
        ok
      }
    }
  }

  /** Column-API access (no session registration needed). */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(WithinEdit1(GraftBridge.expression(a),
      GraftBridge.expression(b)))

  private[functions] val sqlBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => WithinEdit1(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_within_edit1 expects exactly 2 arguments, got ${other.size}")
  }
}
