package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** `geo_intersects` (r16): exact planar intersection over two raw
  * GeoJSON strings — every decision path of the helper (edge crossing,
  * containment in both directions with no edge contact, collinear
  * boundary touch, point/line members, MultiPolygon parts,
  * GeometryCollection recursion), the envelope-overlap-but-disjoint
  * decoys the refine exists to drop, null discipline, symmetry, and a
  * whole-stage-codegen pass. */
class GeoIntersectsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("geo-intersects-spec")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ix(a: String, b: String): Option[Boolean] = {
    import spark.implicits._
    val r = Seq((a, b)).toDF("a", "b")
      .select(graft.functions.GeoFunctions.intersects(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("i"))
      .collect()(0)
    if (r.isNullAt(0)) None else Some(r.getBoolean(0))
  }

  private def rect(x1: Double, y1: Double, x2: Double, y2: Double): String =
    s"""{"type":"Polygon","coordinates":[[[$x1,$y1],[$x2,$y1],[$x2,$y2],[$x1,$y2],[$x1,$y1]]]}"""
  private val tri = // right triangle, hypotenuse from (0,0) to (4,4)
    """{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,0]]]}"""

  test("edge crossing with no vertex containment (the plus-sign case)") {
    // two crossing thin rectangles: no vertex of either inside the other
    val horiz = rect(-3, -0.5, 3, 0.5)
    val vert = rect(-0.5, -3, 0.5, 3)
    assert(ix(horiz, vert) === Some(true))
    assert(ix(vert, horiz) === Some(true), "intersects must be symmetric")
  }

  test("containment without edge contact, both directions") {
    val outer = rect(0, 0, 10, 10)
    val inner = rect(4, 4, 5, 5)
    assert(ix(outer, inner) === Some(true))
    assert(ix(inner, outer) === Some(true))
  }

  test("collinear boundary touch counts (ST_Intersects is boundary-inclusive)") {
    val a = rect(0, 0, 2, 2)
    val shareEdge = rect(2, 0.5, 3, 1.5) // shares part of a's right edge
    val shareCorner = rect(2, 2, 3, 3) // touches only at (2, 2)
    val disjoint = rect(2.01, 0, 3, 2)
    assert(ix(a, shareEdge) === Some(true))
    assert(ix(a, shareCorner) === Some(true))
    assert(ix(a, disjoint) === Some(false))
  }

  test("envelope-overlap decoy: disjoint triangles whose bboxes overlap") {
    // tri's interior is below y = x; this square sits inside tri's
    // envelope but entirely above the hypotenuse
    val decoy = rect(0.2, 2.5, 1.0, 3.5)
    assert(ix(tri, decoy) === Some(false))
    assert(ix(decoy, tri) === Some(false))
  }

  test("point and line members; MultiPolygon parts; GeometryCollection recursion") {
    val inPt = """{"type":"Point","coordinates":[3, 1]}""" // below y = x
    val outPt = """{"type":"Point","coordinates":[1, 3]}"""
    assert(ix(tri, inPt) === Some(true))
    assert(ix(tri, outPt) === Some(false))
    val crossingLine = """{"type":"LineString","coordinates":[[1, -1],[1, 5]]}"""
    val missLine = """{"type":"LineString","coordinates":[[-2, -1],[-2, 5]]}"""
    assert(ix(tri, crossingLine) === Some(true))
    assert(ix(tri, missLine) === Some(false))
    val mp = """{"type":"MultiPolygon","coordinates":[
      [[[10,10],[12,10],[12,12],[10,10]]],
      [[[3,0],[5,0],[5,2],[3,0]]]]}""" // second part overlaps tri
    assert(ix(tri, mp) === Some(true))
    val gc = s"""{"type":"GeometryCollection","geometries":[
      {"type":"Point","coordinates":[50,50]}, $inPt]}"""
    assert(ix(tri, gc) === Some(true))
    // point-point
    assert(ix(inPt, inPt) === Some(true))
    assert(ix(inPt, outPt) === Some(false))
    // point ON a line segment
    val onLine = """{"type":"Point","coordinates":[1, 2]}"""
    assert(ix(crossingLine, onLine) === Some(true))
  }

  test("polygon holes: a probe inside the hole does not intersect... unless it crosses the hole ring") {
    val holed = """{"type":"Polygon","coordinates":[
      [[0,0],[10,0],[10,10],[0,10],[0,0]],
      [[3,3],[7,3],[7,7],[3,7],[3,3]]]}"""
    assert(ix(holed, rect(4, 4, 6, 6)) === Some(false), "fully inside the hole")
    assert(ix(holed, rect(4, 4, 8, 6)) === Some(true), "crosses the hole ring")
    assert(ix(holed, rect(1, 1, 2, 2)) === Some(true), "in the solid part")
  }

  test("null discipline and degenerate inputs") {
    assert(ix("not json", tri) === None)
    assert(ix(tri, """{"type":"Polygon"}""") === Some(false),
      "a geometry with no positions intersects nothing")
    import spark.implicits._
    val r = Seq((Option.empty[String], tri)).toDF("a", "b")
      .selectExpr("geo_intersects(a, b) AS i").collect()(0)
    assert(r.isNullAt(0), "SQL null in, SQL null out")
  }

  test("property: 300 random integer rectangle pairs match exact interval-overlap math") {
    // axis-aligned rectangles have a closed-form intersects answer
    // (closed intervals overlap on BOTH axes) that matches the
    // boundary-inclusive ST_Intersects contract exactly; integer
    // coordinates keep the oracle ulp-free. Seeded: failures reproduce.
    val rnd = new scala.util.Random(20260816L)
    import spark.implicits._
    val cases = (0 until 300).map { _ =>
      def r() = { // small domain so touching/overlap/disjoint all occur
        val x1 = rnd.nextInt(12); val y1 = rnd.nextInt(12)
        (x1, y1, x1 + 1 + rnd.nextInt(5), y1 + 1 + rnd.nextInt(5))
      }
      val (ax1, ay1, ax2, ay2) = r(); val (bx1, by1, bx2, by2) = r()
      val want = ax1 <= bx2 && bx1 <= ax2 && ay1 <= by2 && by1 <= ay2
      (rect(ax1, ay1, ax2, ay2), rect(bx1, by1, bx2, by2), want)
    }
    val got = cases.toDF("a", "b", "want")
      .selectExpr("geo_intersects(a, b) AS got", "want").collect()
    got.zip(cases).foreach { case (row, (a, b, want)) =>
      assert(row.getBoolean(0) === want, s"\nA=$a\nB=$b expected $want")
    }
    assert(cases.count(_._3) > 30 && cases.count(!_._3) > 30,
      "the domain must generate both outcomes in bulk")
  }

  test("whole-stage codegen path agrees with interpreted eval") {
    import spark.implicits._
    val pairs = Seq(
      (tri, rect(1, -1, 3, 0.5), true), // crosses the bottom edge
      (tri, rect(0.2, 2.5, 1.0, 3.5), false),
      (rect(0, 0, 4, 4), rect(1, 1, 2, 2), true))
    // repartition first: a bare LocalTableScan projection would collapse
    // without a codegen stage
    val df = pairs.toDF("a", "b", "want").repartition(1)
      .selectExpr("geo_intersects(a, b) AS got", "want")
    df.collect().foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
    // AQE finalizes the plan on execution — check the codegen'd
    // projection AFTER the collect (the `*(n)` prefix is the
    // WholeStageCodegen marker in the abbreviated plan string)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") ||
      plan.contains("*(1) Project"), s"projection fell out of codegen:\n$plan")
  }
}
