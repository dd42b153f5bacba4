package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native SortedIntersectCount merge walk must equal
  * `size(array_intersect(a, b))` on sorted duplicate-free arrays — the
  * contract the q129 adjacency plan relies on — including the edge
  * shapes (empty, disjoint, identical, null). */
class IntersectExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sic(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.IntersectFunctions.sortedIntersectCount(a, b)

  test("sorted_intersect_count equals size(array_intersect) on random sorted sets") {
    val rnd = new scala.util.Random(41)
    // random sorted duplicate-free long arrays, including empties and
    // heavy overlaps (drawn from a small universe)
    val rows = Seq.fill(500)((
      rnd.shuffle((0L until 60L).toList).take(rnd.nextInt(30)).sorted,
      rnd.shuffle((0L until 60L).toList).take(rnd.nextInt(30)).sorted))
    import spark.implicits._
    val df = rows.toDF("a", "b")
    val cmp = df.select(
      sic(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    val bad = cmp.filter(col("fast") =!= col("ref")).count()
    assert(bad == 0L, s"$bad rows diverge from array_intersect")
    // non-vacuity: some overlaps must actually be non-zero
    assert(cmp.filter(col("fast") > 0).count() > 0)
  }

  test("sorted_intersect_count: null input yields null; empty yields 0") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1L, 2L)), None),
      (None, Some(Seq(1L))),
      (Some(Seq.empty[Long]), Some(Seq(1L, 2L)))).toDF("a", "b")
    val out = df.select(sic(col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(!out(2).isNullAt(0) && out(2).getLong(0) == 0L)
  }

  test("sorted_intersect_count participates in whole-stage codegen") {
    val df = spark.range(4)
      .select(array(col("id"), col("id") + 2L).as("a"),
        array(lit(2L), lit(3L)).as("b"))
      .select(sic(col("a"), col("b")).as("n"))
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"expected a WholeStageCodegen stage in:\n${df.queryExecution.executedPlan}")
    // id=0: {0,2}∩{2,3}=1; id=1: {1,3}∩{2,3}=1; id=2: {2,4}∩{2,3}=1; id=3: {3,5}∩{2,3}=1
    assert(df.agg(sum(col("n"))).head().getLong(0) == 4L)
  }

  test("malformed arity from SQL is rejected by name") {
    val e = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_count(array(1L), array(2L), 3)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("sorted_intersect_count")), s"unhelpful error: $e")
  }
}
