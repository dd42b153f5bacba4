package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native fused minhash pass must be BIT-IDENTICAL to the K-lambda
  * HOF formula it replaced — the q31/q78/ingest oracles replay the
  * affine family value for value, so any arithmetic drift here breaks
  * the whole LSH chain's hash checks. */
class MinhashExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("native minhash_sig equals the HOF reference on the real corpus, incl. degenerate docs") {
    val sh = dedup.Dedup.shingles(spark, "/root/testdata/sf0.001")
    // minhashSignaturesOf computes the native sig; recompute the
    // reference from the same hp projection
    val native = dedup.Dedup.minhashSignaturesOf(sh)
      .select(col("doc_id"), col("sig"))
    val hp = transform(col("shingles"), s => struct(
      conv(substring(md5(s), 1, 8), 16, 10).cast("long").as("ha"),
      conv(substring(md5(s), 9, 8), 16, 10).cast("long").as("hb")))
    val ref = sh.withColumn("hp", hp)
      .select(col("doc_id"), dedup.Dedup.minhashSigHofReference.as("ref_sig"))
    val diff = native.join(ref, "doc_id")
      .where(!(col("sig") <=> col("ref_sig"))).count()
    assert(diff == 0, s"native signatures diverge from the HOF reference on $diff docs")
    // empty shingle array -> K nulls, exactly like array_min over empty
    import spark.implicits._
    val empty = Seq((1L, Seq.empty[String])).toDF("doc_id", "shingles")
    val sig = dedup.Dedup.minhashSignaturesOf(empty).select(col("sig")).head.getSeq[Any](0)
    assert(sig.size == 64 && sig.forall(_ == null), "empty doc must yield K nulls")
  }

  test("fused text signature equals the struct route for BOTH hash families (the full ladder)") {
    // ladder: fused-text native (r12) ≡ struct-input native (r11) ≡ the
    // K-lambda HOF reference (pinned in the first test). The md5 leg is
    // additionally covered corpus-wide by the first test
    // (minhashSignaturesOf now IS the fused text path), so this pins the
    // xxh leg and the md5 leg on the same frame, value for value.
    val sh = dedup.Dedup.shingles(spark, "/root/testdata/sf0.001")
    val (a, b, c, mod) = dedup.Dedup.minhashFamily
    for (replayable <- Seq(true, false)) {
      val hp = transform(col("shingles"),
        s => dedup.Dedup.minhashHpReference(replayable)(s))
      val structRoute = dedup.Dedup
        .minhashSignaturesStructRouteForSpec(sh.withColumn("hp", hp))
      val fn = if (replayable) "minhash_sig_text_md5" else "minhash_sig_text_xxh"
      val diff = sh.select(col("doc_id"), functions.MinhashFunctions
          .minhashSigText(col("shingles"), a, b, c, mod, replayable).as("sig"))
        .join(structRoute.select(col("doc_id"), col("sig").as("ref_sig")), "doc_id")
        .where(!(col("sig") <=> col("ref_sig"))).count()
      assert(diff == 0, s"family=$fn: fused text diverges from the struct route on $diff docs")
    }
  }

  test("NULL input array yields NULL signature (the documented contract)") {
    // null-in/null-out IS the contract — deliberately unlike the HOF
    // reference formula (array of K nulls): corpus shingle arrays are
    // never NULL, and the native expression follows Catalyst's standard
    // unary null propagation. Pinned so the divergence stays documented
    // behavior, not silent drift.
    import spark.implicits._
    val df = Seq((1L, Option.empty[Seq[String]]), (2L, Some(Seq("a b c"))))
      .toDF("doc_id", "shingles")
    val sigs = dedup.Dedup.minhashSignaturesOf(df)
      .orderBy(col("doc_id")).select(col("sig")).collect()
    assert(sigs(0).isNullAt(0), "NULL shingle array must yield a NULL signature")
    assert(!sigs(1).isNullAt(0) && sigs(1).getSeq[Any](0).forall(_ != null),
      "a real shingle array must yield a fully non-null signature")
  }

  test("two permutation families in one plan each give their own signatures") {
    // the constants live in each expression, not behind a session-global
    // function name: a second family beside the production one in the
    // SAME projection must follow its own constants and leave the
    // production signatures untouched
    val k = 4
    val a = Array.tabulate(k)(i => 3L + i)
    val b = Array.tabulate(k)(i => 5L + i)
    val c = Array.tabulate(k)(i => 7L + i)
    val mod = 97L
    val (pa, pb, pc, pmodulus) = dedup.Dedup.minhashFamily
    val hp = transform(col("shingles"), s => dedup.Dedup.minhashHpReference(true)(s))
    val ownRef = array((0 until k).map { i =>
      array_min(transform(col("hp"),
        p => pmod(p.getField("ha") * a(i) + p.getField("hb") * b(i) + c(i), lit(mod))))
    }: _*)
    val both = dedup.Dedup.shingles(spark, "/root/testdata/sf0.001")
      .withColumn("hp", hp)
      .select(
        functions.MinhashFunctions.minhashSig(col("hp"), pa, pb, pc, pmodulus).as("prod"),
        functions.MinhashFunctions.minhashSig(col("hp"), a, b, c, mod).as("second"),
        dedup.Dedup.minhashSigHofReference.as("prod_ref"),
        ownRef.as("second_ref"))
    assert(both.count() > 0)
    val bad = both.where(!(col("prod") <=> col("prod_ref")) ||
      !(col("second") <=> col("second_ref"))).count()
    assert(bad == 0, s"$bad docs: a family diverges from its own HOF reference")
    val sizes = both.select(size(col("prod")), size(col("second"))).distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(sizes == Seq((64, k)), s"signature widths $sizes")
  }

  test("minhash_sig participates in whole-stage codegen") {
    val sh = dedup.Dedup.shingles(spark, "/root/testdata/sf0.001").limit(10)
    val df = dedup.Dedup.minhashSignaturesOf(sh)
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"expected a WholeStageCodegen stage in:\n${df.queryExecution.executedPlan}")
    assert(df.count() == 10)
  }
}
