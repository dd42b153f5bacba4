package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native fused 3-gram shingler must be VALUE- AND ORDER-identical
  * to the declarative array_distinct(transform(...)) form it replaced —
  * every shingle consumer (q30/q31/q78/q96/q125/q142, the LSH ingest)
  * and every oracle's list_distinct replay depends on the same set. */
class ShingleExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("native shingle3 equals the declarative reference on the real corpus, order included") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ws = docs.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
      .where(size(col("ws")) >= 3)
    val diff = ws.select(col("doc_id"),
        graft.functions.ShingleFunctions.shingle3(col("ws")).as("a"),
        dedup.Dedup.shinglesHofReference.as("b"))
      .where(!(col("a") <=> col("b"))).count()
    assert(diff == 0, s"native shingles diverge from the declarative form on $diff docs")
  }

  test("shingle3 edge cases: repeats keep first occurrence, short arrays empty, null tokens mirror concat") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq("a", "b", "c", "a", "b", "c", "a")),    // wraps: dup grams
      (2L, Seq("x", "x", "x", "x")),                   // one distinct gram
      (3L, Seq("a", "b")),                             // < 3 tokens
      (4L, Seq[String]()),                             // empty
      (5L, Seq("a", null, "c", "d", "e"))              // null token
    ).toDF("doc_id", "ws")
    // the declarative reference is only TOTAL for size >= 3 (its
    // sequence(0, size-3) walks backwards below that and element_at
    // throws — which is why shinglesOf filters first); the native
    // expression is total and returns [] there, asserted separately
    val cmp = rows.where(size(col("ws")) >= 3)
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.shingle3(col("ws")).as("a"),
        dedup.Dedup.shinglesHofReference.as("b"))
      .orderBy(col("doc_id")).collect()
    cmp.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
    }
    assert(cmp(0).getSeq[String](1) == Seq("a b c", "b c a", "c a b"),
      "first-occurrence order must be preserved")
    assert(cmp(1).getSeq[String](1) == Seq("x x x"))
    val short = rows.where(size(col("ws")) < 3)
      .select(graft.functions.ShingleFunctions.shingle3(col("ws")).as("a"))
      .collect()
    assert(short.length == 2 && short.forall(_.getSeq[String](0).isEmpty),
      "short token arrays must yield empty shingle sets")
  }

  test("shingle3 participates in whole-stage codegen") {
    val df = Tables.documents(spark, "/root/testdata/sf0.001").limit(10)
      .select(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
      .select(graft.functions.ShingleFunctions.shingle3(col("ws")).as("s"))
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"expected a WholeStageCodegen stage in:\n${df.queryExecution.executedPlan}")
    assert(df.count() == 10)
  }
}
