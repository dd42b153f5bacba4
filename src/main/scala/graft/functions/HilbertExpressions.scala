package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionColumns.{column, expression}

/** Native Catalyst expression for the d-dimensional Hilbert index
  * (Butz 1971; Skilling's transpose formulation, AIP Conf. Proc. 707,
  * 2004 — both public).
  *
  * Why an Expression and not the `aggregate` higher-order fold the 2-D
  * curve uses (ops/Layout.hilbertValue): the d-dim walk updates X[0]
  * after EVERY dim within a level, so a fold lambda either inlines each
  * step's X[0] into the next (~4× interpreted-subtree growth per dim —
  * measured 14.8 s for q162 at sf0.1) or pays a struct allocation per
  * (level, dim) step (measured 11.5 s). This expression is the
  * vec_dot precedent applied to the curve: one tight primitive loop,
  * whole-stage-codegen'd, a single scalar-replaceable long[d] per row
  * (measured ~1 s for the identical q162 — see PERF.md r11). The
  * oracle replays the identical walk, so swapping the implementation
  * changes no result bit.
  *
  * Children are the d coordinate expressions (longs; masked to `bits`
  * inside the walk) — `bits` is captured at construction from the
  * `bits` argument of [[HilbertFunctions.hilbertIndex]], or from the
  * trailing literal of a SQL `hilbert_index` call.
  * Null in → null out. */
case class HilbertIndex(children: Seq[Expression], bits: Int)
    extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "hilbert_index"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size < 2)
      TypeCheckResult.TypeCheckFailure("hilbert_index needs >= 2 coordinates")
    else if (bits < 1)
      // without this, bits=0 would reach walk()'s 1L << (bits-1) with a
      // negative shift and silently return garbage instead of failing
      // analysis (hilbert_xy pins the same bound)
      TypeCheckResult.TypeCheckFailure(
        s"hilbert_index requires bits >= 1, got $bits")
    else if (children.size * bits > 63)
      TypeCheckResult.TypeCheckFailure(
        s"hilbert_index: d=${children.size} x bits=$bits exceeds one long")
    else if (!children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckFailure(
        s"hilbert_index requires bigint coordinates, got " +
          children.map(_.dataType.catalogString).mkString(", "))
    else TypeCheckResult.TypeCheckSuccess

  override def eval(input: InternalRow): Any = {
    val n = children.size
    val xs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Long]
      i += 1
    }
    HilbertIndex.walk(bits, xs)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("hxs")
    val childCode = evals.map(_.code.toString).mkString("\n")
    val anyNull = evals.map(_.isNull.toString).mkString(" || ")
    val vals = evals.map(_.value.toString).mkString(", ")
    ev.copy(code = code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          long[] $arr = new long[]{$vals};
          ${ev.value} = graft.functions.HilbertIndex.walk($bits, $arr);
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HilbertIndex =
    copy(children = newChildren)
}

object HilbertIndex {

  /** The Skilling walk: coordinates (masked to `bits`) → Hilbert index.
    * Called from both the interpreted eval and the generated code (via
    * the companion's static forwarder). Public algorithm, imperative on
    * purpose — this is the per-row hot loop of a layout job. */
  def walk(bits: Int, xs: Array[Long]): Long = {
    val n = xs.length
    val mask = (1L << bits) - 1
    val X = new Array[Long](n)
    var i = 0
    while (i < n) { X(i) = xs(i) & mask; i += 1 }
    // inverse undo: Q = 2^(bits-1) down to 2; invert or exchange-low-bits
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      i = 0
      while (i < n) {
        if ((X(i) & q) != 0) X(0) ^= p
        else { val t = (X(0) ^ X(i)) & p; X(0) ^= t; X(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode + twist
    i = 1
    while (i < n) { X(i) ^= X(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) { if ((X(n - 1) & q) != 0) t ^= q - 1; q >>= 1 }
    // transposed-form interleave: X[i] bit k -> index bit k*n + (n-1-i)
    var h = 0L
    var k = 0
    while (k < bits) {
      i = 0
      while (i < n) {
        h |= (((X(i) ^ t) >> k) & 1L) << (k * n + (n - 1 - i))
        i += 1
      }
      k += 1
    }
    h
  }
}

/** Native 2-D Hilbert index — the classic xy2d walk, bit-identical to
  * ops/Layout.hilbertValueFold (LayoutSpec pins equality on the
  * exhaustive grid). Exists for the same reason as [[HilbertIndex]]:
  * the interpreted `aggregate` fold costs ~4 s for q160 at sf0.1; this
  * loop is whole-stage-codegen'd (~0.5 s, same bits out). */
case class HilbertIndexXY(left: Expression, right: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_xy"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType &&
        bits >= 1 && bits <= 31)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_xy requires bigint coords and 1<=bits<=31, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}, $bits")

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndexXY.walk(bits, a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HilbertIndexXY.walk($bits, $a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndexXY =
    copy(left = newLeft, right = newRight)
}

object HilbertIndexXY {

  /** xy2d (Hilbert 1891, the standard bit-level walk): exactly the
    * per-level algebra of the reference fold — d += s²·((3rx)^ry),
    * then on ry=0 reflect-if-rx and swap. */
  def walk(bits: Int, x0: Long, y0: Long): Long = {
    val mask = (1L << bits) - 1
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        val nx = if (rx == 1) s - 1 - y else y
        val ny = if (rx == 1) s - 1 - x else x
        x = nx; y = ny
      }
      s >>= 1
    }
    d
  }
}

/** SQL function info + column API, mirroring [[VectorFunctions]]. */
object HilbertFunctions {

  val info: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hilbert_index"),
    new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
    (args: Seq[Expression]) => {
      // >= 2 coords + the bits literal; checked here so an empty or
      // 1-arg call fails with a message instead of NoSuchElementException
      if (args.size < 3) throw new IllegalArgumentException(
        s"hilbert_index takes (x1, ..., xd, bits) with d >= 2, got ${args.size} arguments")
      val bits = args.last match {
        case Literal(b: Int, IntegerType) => b
        case other => throw new IllegalArgumentException(
          s"hilbert_index: last argument must be a literal int bit width, got $other")
      }
      HilbertIndex(args.init, bits)
    })

  val xyInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hilbert_xy"),
    new ExpressionInfo(classOf[HilbertIndexXY].getName, "hilbert_xy"),
    (args: Seq[Expression]) => {
      // exact arity, checked before indexing: hilbert_xy(x, 16) must fail
      // analysis with a message, not a raw IndexOutOfBoundsException, and
      // extra arguments must be rejected, not silently ignored
      if (args.size != 3) throw new IllegalArgumentException(
        s"hilbert_xy takes exactly (x, y, bits), got ${args.size} arguments")
      val bits = args.last match {
        case Literal(b: Int, IntegerType) => b
        case other => throw new IllegalArgumentException(
          s"hilbert_xy: last argument must be a literal int bit width, got $other")
      }
      HilbertIndexXY(args(0), args(1), bits)
    })

  /** `hilbert_index(xs..., bits)` as a Column. Coordinates are cast to
    * long here. */
  def hilbertIndex(xs: Seq[Column], bits: Int): Column =
    column(HilbertIndex(xs.map(x => expression(x.cast("long"))), bits))

  /** `hilbert_xy(x, y, bits)` as a Column. */
  def hilbertXY(x: Column, y: Column, bits: Int): Column =
    column(HilbertIndexXY(expression(x.cast("long")), expression(y.cast("long")), bits))
}
