package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionColumns.{column, expression}

/** Native sorted-set intersection COUNT: `|a ∩ b|` for two ASC-sorted
  * long arrays, as one linear merge walk — the per-edge kernel of the
  * adjacency-intersection triangle count (`Advanced.q129Triangles`).
  *
  * The declarative spelling, `size(array_intersect(a, b))`, builds a
  * hash set and an intermediate array PER ROW; on the triangle path
  * that is one allocation-heavy evaluation per oriented edge over
  * arrays the plan just sorted anyway. The merge walk does the same
  * count allocation-free in a tight codegen'd loop, the
  * vec_dot/hilbert/minhash/shingle precedent (per-row walks are native
  * expressions, not interpreted trees).
  *
  * CONTRACT: both inputs must be sorted ascending (the producer is
  * `sort_array(collect_list(...))`) and duplicate-free within each
  * array — exactly what a distinct edge set's adjacency lists are. On
  * unsorted input the walk undercounts (it never crashes); the spec
  * pins equality against `size(array_intersect(...))` on sorted
  * fixtures and on the real adjacency build. Null array → null
  * (standard unary propagation); null ELEMENTS are rejected by type
  * (containsNull inputs fail analysis, matching the producer's
  * non-null guarantee).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(LongType, false) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        "sorted_intersect_count requires two array<bigint> (non-null elements) " +
          s"arguments, got ${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.walk(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectCount.walk($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {

  /** The merge walk — static so interpreted eval and codegen share one
    * body (the MinhashSignature.walk pattern). */
  def walk(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}

/** SQL function info + column API, mirroring [[VectorFunctions]]. */
object IntersectFunctions {

  val info: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("sorted_intersect_count"),
    new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
    (args: Seq[Expression]) => {
      if (args.size != 2) throw new IllegalArgumentException(
        s"sorted_intersect_count takes exactly (a, b), got ${args.size} arguments")
      SortedIntersectCount(args(0), args(1))
    })

  /** `sorted_intersect_count(a, b)` as a Column. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}
