package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native DotProduct expression must be bit-identical to the
  * higher-order-function formula it replaced (same left-to-right IEEE-754
  * accumulation), or the DuckDB-oracle threshold/order comparisons in
  * q33/q34 would drift. */
class VectorExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("vec_dot is bit-identical to aggregate(zip_with) on random vectors") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextGaussian()),
      Seq.fill(64)(rnd.nextGaussian())))
    import spark.implicits._
    val df = rows.toDF("a", "b")
    val cmp = df.select(
      graft.functions.VectorFunctions.vecDot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("ref"))
    val all = cmp.collect()
    assert(all.forall(r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
  }

  test("vec_dot: length mismatch and null input yield null") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0, 3.0))),
      (None, Some(Seq(1.0)))).toDF("a", "b")
    val out = df.select(graft.functions.VectorFunctions.vecDot(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("vec_dot participates in whole-stage codegen") {
    // spark.range (not a local Seq) so ConvertToLocalRelation can't fold
    // the projection away before the physical plan is built.
    val df = spark.range(4)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
      .select(graft.functions.VectorFunctions.vecDot(col("a"), col("b")).as("d"))
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"expected a WholeStageCodegen stage in:\n${df.queryExecution.executedPlan}")
    assert(df.orderBy("d").head().getDouble(0) == 8.0)
  }
}
