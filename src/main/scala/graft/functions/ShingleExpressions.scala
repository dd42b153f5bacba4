package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** Native 3-gram shingling: token array → DISTINCT space-joined word
  * 3-grams in first-occurrence order — value- and order-identical to the
  * declarative form it replaces,
  *
  *   array_distinct(transform(sequence(0, size(ws) - 3),
  *     i => concat(ws[i+1], ' ', ws[i+2], ' ', ws[i+3])))
  *
  * which is kept as `Dedup.shinglesHofReference` and spec-pinned equal
  * (the hilbertValueFold / minhashSigHofReference pattern).
  *
  * Why native: the r11 lesson once more — Catalyst HOF lambdas are
  * INTERPRETED per evaluation, and this one runs |tokens| interpreted
  * concat+element_at trees per document, upstream of every shingle
  * consumer (q30/q31/q78/q96/q125/q142 and each LSH ingest batch);
  * profiling put the shingle stage at 3.5 s of q31's chain at sf0.1,
  * the largest term after the r11 signature fusion. This is one fused
  * loop (one UTF8String.concat per gram, LinkedHashSet dedup),
  * whole-stage-codegen'd via the vec_dot precedent. Output strings are
  * fresh allocations (UTF8String.concat copies), so nothing aliases the
  * input row buffer. Null in → null out; a null TOKEN yields a null
  * gram exactly like concat(null) does (corpus tokens are never null —
  * regexp_extract_all yields []). */
case class Shingle3(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "shingle3"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle3 requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    Shingle3.walk(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ws =>
      s"${ev.value} = graft.functions.Shingle3.walk($ws);")

  override protected def withNewChildInternal(newChild: Expression): Shingle3 =
    copy(child = newChild)
}

object Shingle3 {

  private val Space = UTF8String.fromString(" ")

  /** One pass: n−2 three-token concats, first-occurrence-order dedup. */
  def walk(ws: ArrayData): ArrayData = {
    val n = ws.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    // LinkedHashSet = array_distinct semantics (keep the FIRST
    // occurrence, preserve encounter order)
    val seen = new java.util.LinkedHashSet[UTF8String]((n - 2) * 2)
    var i = 0
    while (i + 2 < n) {
      val a = ws.getUTF8String(i)
      val b = ws.getUTF8String(i + 1)
      val c = ws.getUTF8String(i + 2)
      // concat(null, ...) is null — mirror the declarative form exactly
      // (array_distinct keeps ONE null at its first occurrence, which a
      // LinkedHashSet with a null element reproduces)
      seen.add(if (a == null || b == null || c == null) null
        else UTF8String.concat(a, Space, b, Space, c))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}

/** SQL function info + column API, mirroring [[HilbertFunctions]]. */
object ShingleFunctions {

  val info: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle3"),
    new ExpressionInfo(classOf[Shingle3].getName, "shingle3"),
    (args: Seq[Expression]) => {
      if (args.size != 1) throw new IllegalArgumentException(
        s"shingle3 takes exactly (tokens), got ${args.size} arguments")
      Shingle3(args.head)
    })

  /** `shingle3(ws)` as a Column. */
  def shingle3(ws: Column): Column = column(Shingle3(expression(ws)))
}
