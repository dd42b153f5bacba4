package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native Hilbert expressions must agree with a driver-side replay
  * of the same walks, survive nulls, and actually participate in
  * whole-stage codegen (the whole point of replacing the interpreted
  * fold — see PERF.md r11). The curve-correctness properties themselves
  * (bijection, unit-step, fold equality) are pinned in LayoutSpec. */
class HilbertExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("hilbert_index matches the driver-side walk on random 3-D points; negative inputs mask like the oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(300)((rnd.nextLong(), rnd.nextLong(), rnd.nextLong()))
    val got = pts.toDF("x", "y", "z")
      .select(graft.functions.HilbertFunctions.hilbertIndex(
        Seq(col("x"), col("y"), col("z")), bits = 8).as("h"))
      .collect().map(_.getLong(0))
    val want = pts.map { case (x, y, z) =>
      graft.functions.HilbertIndex.walk(8, Array(x, y, z)) }
    assert(got.toSeq == want, "distributed evaluation diverged from the driver walk")
  }

  test("the d-dim Skilling walk restricted to d=2 IS the classic xy2d curve (exhaustive)") {
    // transitively pins the d-dim implementation against the q160
    // oracle: hilbert_xy is spec-pinned bit-identical to the 2-D
    // aggregate fold, whose 16-level algebra the DuckDB oracle replays
    // as CTE stages — and the d-dim transpose walk collapses to that
    // exact curve at d=2, same axis order, all 256 cells at bits=4 and
    // 4096 at bits=6
    for (bits <- Seq(4, 6); lim = 1 << bits; x <- 0 until lim; y <- 0 until lim) {
      val d = graft.functions.HilbertIndex.walk(bits, Array(x.toLong, y.toLong))
      val xy = graft.functions.HilbertIndexXY.walk(bits, x.toLong, y.toLong)
      assert(d == xy, s"bits=$bits ($x,$y): d-dim $d vs xy2d $xy")
    }
  }

  test("malformed calls fail analysis with a message, not garbage or a raw index error") {
    // bits=0 must be an analysis failure: walk()'s 1L << (bits-1) would
    // otherwise hit a negative shift and silently return a wrong index
    val e0 = intercept[Exception] {
      spark.range(1).select(graft.functions.HilbertFunctions.hilbertIndex(
        Seq(col("id"), col("id")), bits = 0)).collect()
    }
    assert(e0.getMessage.contains("bits"), s"unexpected: ${e0.getMessage}")
    // wrong arity at hilbert_xy must be a descriptive rejection — both
    // too few (x, bits) and too many (extra args silently ignored before)
    val e1 = intercept[Exception] {
      spark.range(1).selectExpr("hilbert_xy(id, 16)").collect()
    }
    assert(e1.getMessage.contains("exactly"), s"unexpected: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      spark.range(1).selectExpr("hilbert_xy(id, id, id, 16)").collect()
    }
    assert(e2.getMessage.contains("exactly"), s"unexpected: ${e2.getMessage}")
    // hilbert_index with one coordinate: descriptive, not NoSuchElement
    val e3 = intercept[Exception] {
      spark.range(1).selectExpr("hilbert_index(id, 8)").collect()
    }
    assert(e3.getMessage.contains("d >= 2"), s"unexpected: ${e3.getMessage}")
  }

  test("hilbert_index and hilbert_xy: null in, null out") {
    import spark.implicits._
    val df = Seq((Some(1L), None: Option[Long])).toDF("x", "y")
    val out = df.select(
      graft.functions.HilbertFunctions.hilbertIndex(Seq(col("x"), col("y")), 8).as("h"),
      graft.functions.HilbertFunctions.hilbertXY(col("x"), col("y"), 8).as("h2"))
      .head()
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("both hilbert expressions participate in whole-stage codegen") {
    val df = spark.range(8)
      .select(graft.functions.HilbertFunctions.hilbertIndex(
        Seq(col("id"), col("id") + 1, col("id") + 2), bits = 8).as("h"),
        graft.functions.HilbertFunctions.hilbertXY(col("id"), col("id") + 1, 16).as("h2"))
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"expected a WholeStageCodegen stage in:\n${df.queryExecution.executedPlan}")
    // and the generated path computes the same values as interpreted eval
    val rows = df.collect()
    (0 until 8).foreach { i =>
      assert(rows(i).getLong(0) ==
        graft.functions.HilbertIndex.walk(8, Array(i.toLong, i + 1L, i + 2L)))
      assert(rows(i).getLong(1) ==
        graft.functions.HilbertIndexXY.walk(16, i.toLong, i + 1L))
    }
  }
}
