package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionColumns.{column, expression}

/** Native MinHash signature: all K affine-permutation minima of a
  * document's (ha, hb) shingle-hash pairs in ONE pass —
  * sig[k] = min over shingles of (ha·A(k) + hb·B(k) + C(k)) mod M.
  *
  * Replaces `array((0..K).map(k => array_min(transform(hp, affine_k))))`
  * — K interpreted higher-order lambdas per ROW, each walking the
  * shingle array (the q162 lesson: Catalyst HOFs are linear-size plans
  * but interpreted evaluation — measured 3.2 s of q31's 5.7 at sf0.1,
  * and the dominant term of every 50k-doc LSH ingest batch). This is
  * the identical Long arithmetic in a tight fused loop (|shingles| × K
  * multiply-adds, no per-lambda dispatch, no K intermediate arrays),
  * whole-stage-codegen'd via the vec_dot precedent — so the value is
  * BIT-IDENTICAL and the q31/q78 oracles are untouched
  * (MinhashExpressionsSpec pins equality against the HOF formula).
  *
  * Empty shingle array → K nulls (array_min of an empty array is null
  * — the degenerate-doc behavior downstream banding relies on). A NULL
  * input array → NULL signature (UnaryExpression null propagation) —
  * this is the CONTRACT, and it deliberately differs from the pre-r11
  * HOF reference formula, which mapped NULL to an array of K NULLs:
  * graft's shingle arrays are never NULL (regexp_extract_all returns []
  * on no match), and null-in/null-out is the Catalyst-native behavior
  * every other scalar expression here follows
  * (MinhashExpressionsSpec pins both edge cases). The
  * permutation constants are embedded at construction; inputs are
  * non-negative 32-bit halves and constants < 2^20, so products stay
  * ≤ 2^52 and `%` equals the non-negative pmod both engines replay. */
case class MinhashSignature(child: Expression,
    a: Array[Long], b: Array[Long], c: Array[Long], mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<struct<long,long>>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinhashSignature.walk(input.asInstanceOf[ArrayData], a, b, c, mod)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", a, "long[]")
    val bRef = ctx.addReferenceObj("mhB", b, "long[]")
    val cRef = ctx.addReferenceObj("mhC", c, "long[]")
    nullSafeCodeGen(ctx, ev, hp =>
      s"${ev.value} = graft.functions.MinhashSignature.walk($hp, $aRef, $bRef, $cRef, ${mod}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashSignature {

  /** One fused pass: K running minima over the shingle pairs. */
  def walk(hp: ArrayData, a: Array[Long], b: Array[Long], c: Array[Long],
      mod: Long): ArrayData = {
    val n = hp.numElements()
    val k = a.length
    if (n == 0) return new GenericArrayData(new Array[Any](k)) // K nulls
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val row = hp.getStruct(i, 2)
      val ha = row.getLong(0)
      val hb = row.getLong(1)
      var j = 0
      while (j < k) {
        val v = (ha * a(j) + hb * b(j) + c(j)) % mod
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Fully-fused MinHash signature STRAIGHT FROM THE SHINGLE STRINGS:
  * per shingle, derive the (ha, hb) 32-bit halves inside the loop —
  * md5 bytes 0-3/4-7 for the replayable family, seeded xxhash64 for the
  * production family — then fold the K affine minima, all in one pass.
  *
  * Replaces the remaining interpreted stage of the signature path: the
  * r11 fusion removed the K per-permutation lambdas but still built an
  * intermediate `transform(shingles, s => struct(md5/conv/substring))`
  * array — |shingles| INTERPRETED hash-projection trees per row plus a
  * materialized struct array. This expression is bit-identical to that
  * two-step route for BOTH hash families (spec-pinned):
  *
  *  - md5 family: `conv(substring(md5(s),1,8),16,10)` is exactly the
  *    unsigned value of the digest's first 4 bytes (and 9-16 ↔ bytes
  *    4-7) — recomputed here from the raw digest, no hex round-trip;
  *  - xxhash64 family: `pmod(xxhash64(s), 2^32)` is floorMod of
  *    XXH64.hashUnsafeBytes(bytes, seed=42), and `xxhash64(s, 1L)`
  *    chains hashLong(1L, <hash of s>) exactly as Spark's variadic
  *    XxHash64 folds its children.
  *
  * Same edge contract as [[MinhashSignature]]: empty array → K nulls,
  * NULL array → NULL; a null SHINGLE contributes nothing to any minimum
  * (the per-permutation array_min-ignores-null semantics of the
  * reference formula). */
case class MinhashSignatureText(child: Expression,
    a: Array[Long], b: Array[Long], c: Array[Long], mod: Long,
    replayable: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String =
    if (replayable) "minhash_sig_text_md5" else "minhash_sig_text_xxh"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinhashSignatureText.walk(input.asInstanceOf[ArrayData], a, b, c, mod, replayable)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhtA", a, "long[]")
    val bRef = ctx.addReferenceObj("mhtB", b, "long[]")
    val cRef = ctx.addReferenceObj("mhtC", c, "long[]")
    nullSafeCodeGen(ctx, ev, sh =>
      s"${ev.value} = graft.functions.MinhashSignatureText.walk(" +
        s"$sh, $aRef, $bRef, $cRef, ${mod}L, $replayable);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatureText =
    copy(child = newChild)
}

object MinhashSignatureText {

  // MessageDigest is not thread-safe and getInstance per row would
  // dominate the loop — one instance per executor thread
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def u32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
      ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)

  /** One fused pass: per-shingle hash halves + K running minima. */
  def walk(sh: ArrayData, a: Array[Long], b: Array[Long], c: Array[Long],
      mod: Long, replayable: Boolean): ArrayData = {
    val n = sh.numElements()
    val k = a.length
    if (n == 0) return new GenericArrayData(new Array[Any](k)) // K nulls
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val digest = if (replayable) md5.get() else null
    var any = false
    var i = 0
    while (i < n) {
      val s = sh.getUTF8String(i)
      if (s != null) {
        any = true
        var ha = 0L
        var hb = 0L
        if (replayable) {
          digest.reset()
          val d = digest.digest(s.getBytes)
          ha = u32(d, 0)
          hb = u32(d, 4)
        } else {
          val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
          ha = java.lang.Math.floorMod(h1, 4294967296L)
          // xxhash64(s, lit(1)) chains the INT literal 1 (hashInt, not
          // hashLong — lit(1) is IntegerType) with the string's hash as
          // its seed, exactly as Spark's variadic XxHash64 folds children
          hb = java.lang.Math.floorMod(
            org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(1, h1),
            4294967296L)
        }
        var j = 0
        while (j < k) {
          val v = (ha * a(j) + hb * b(j) + c(j)) % mod
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    // an all-null shingle array behaves like the reference formula:
    // every array_min sees only nulls → K nulls
    if (!any) new GenericArrayData(new Array[Any](k))
    else new GenericArrayData(out)
  }
}

/** SQL function info + column API, mirroring [[VectorFunctions]]. The
  * permutation constants live in the expression: a Column helper takes
  * them as arguments, and the SQL names [[graft.plans.GraftExtensions]]
  * injects are bound to the Dedup minhash family. */
object MinhashFunctions {

  def info(a: Array[Long], b: Array[Long], c: Array[Long], mod: Long):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_sig"),
    (args: Seq[Expression]) => {
      if (args.size != 1) throw new IllegalArgumentException(
        s"minhash_sig takes exactly (hash_pairs), got ${args.size} arguments")
      MinhashSignature(args.head, a, b, c, mod)
    })

  /** Info triple for a fused text-input variant (`minhash_sig_text_md5`
    * or `minhash_sig_text_xxh`), for extension injection — one name per
    * hash family. */
  def textInfo(name: String, a: Array[Long], b: Array[Long], c: Array[Long],
      mod: Long, replayable: Boolean):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[MinhashSignatureText].getName, name),
    (args: Seq[Expression]) => {
      if (args.size != 1) throw new IllegalArgumentException(
        s"$name takes exactly (shingles), got ${args.size} arguments")
      MinhashSignatureText(args.head, a, b, c, mod, replayable)
    })

  /** `minhash_sig(hp)` as a Column over the permutation family
    * (a, b, c, mod). */
  def minhashSig(hp: Column, a: Array[Long], b: Array[Long], c: Array[Long],
      mod: Long): Column =
    column(MinhashSignature(expression(hp), a, b, c, mod))

  /** The fused text-input signature as a Column over the permutation
    * family (a, b, c, mod): md5 shingle halves when `replayable`, else
    * seeded xxhash64 (`minhash_sig_text_md5` / `_xxh` in SQL). */
  def minhashSigText(shingles: Column, a: Array[Long], b: Array[Long],
      c: Array[Long], mod: Long, replayable: Boolean): Column =
    column(MinhashSignatureText(expression(shingles), a, b, c, mod, replayable))
}
