package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** `geo_envelope` (r15): envelope extraction over raw GeoJSON strings —
  * every geometry type the spec defines, ragged nesting included, plus
  * the null-discipline edges (malformed, empty, null, missing
  * coordinates) and a whole-stage-codegen pass (the expression's
  * doGenCode path, not just interpreted eval). */
class GeoEnvelopeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("geo-envelope-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def env(json: String): Option[(Double, Double, Double, Double)] = {
    import spark.implicits._
    graft.functions.GeoFunctions.register(spark)
    val r = Seq(json).toDF("g")
      .select(graft.functions.GeoFunctions.envelope(org.apache.spark.sql.functions.col("g")).as("e"))
      .selectExpr("e.xmin", "e.ymin", "e.xmax", "e.ymax")
      .collect()(0)
    if (r.isNullAt(0)) None
    else Some((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  test("every GeoJSON geometry type, ragged nesting included") {
    assert(env("""{"type":"Point","coordinates":[-105.5,40.1]}""") ===
      Some((-105.5, 40.1, -105.5, 40.1)))
    assert(env("""{"type":"LineString","coordinates":[[-105.6,40.0],[-105.2,40.4]]}""") ===
      Some((-105.6, 40.0, -105.2, 40.4)))
    assert(env("""{"type":"Polygon","coordinates":[[[-105.6,40.0],[-105.2,40.0],[-105.2,40.4],[-105.6,40.0]]]}""") ===
      Some((-105.6, 40.0, -105.2, 40.4)))
    assert(env("""{"type":"MultiPolygon","coordinates":[
        [[[-106.5,39.5],[-106.1,39.5],[-106.1,39.9],[-106.5,39.5]]],
        [[[-106.9,39.2],[-106.6,39.2],[-106.6,39.6],[-106.9,39.2]]]]}""") ===
      Some((-106.9, 39.2, -106.1, 39.9)),
      "a MultiPolygon's envelope spans every part")
    assert(env("""{"type":"GeometryCollection","geometries":[
        {"type":"Point","coordinates":[1.0,2.0]},
        {"type":"LineString","coordinates":[[-3.0,5.0],[4.0,-6.0]]}]}""") ===
      Some((-3.0, -6.0, 4.0, 5.0)))
    // a third (z) dimension is ignored, per the bbox definition
    assert(env("""{"type":"Point","coordinates":[10.0,20.0,999.0]}""") ===
      Some((10.0, 20.0, 10.0, 20.0)))
  }

  test("null discipline: malformed, empty, and null geometries read as NULL, never throw") {
    assert(env("""not json at all""") === None)
    assert(env("""{"type":"Polygon"}""") === None, "missing coordinates")
    assert(env("""{"type":"Polygon","coordinates":[]}""") === None, "empty coordinates")
    assert(env("""{"type":"GeometryCollection","geometries":[]}""") === None)
    import spark.implicits._
    graft.functions.GeoFunctions.register(spark)
    val r = Seq(Option.empty[String]).toDF("g")
      .select(graft.functions.GeoFunctions.envelope(org.apache.spark.sql.functions.col("g")))
      .collect()(0)
    assert(r.isNullAt(0), "null input -> null envelope")
  }

  private def contains(json: String, x: Double, y: Double): Option[Boolean] = {
    import spark.implicits._
    graft.functions.GeoFunctions.register(spark)
    val c = org.apache.spark.sql.functions
    val r = Seq((json, x, y)).toDF("g", "x", "y")
      .select(graft.functions.GeoFunctions.contains(c.col("g"), c.col("x"), c.col("y")))
      .collect()(0)
    if (r.isNullAt(0)) None else Some(r.getBoolean(0))
  }

  test("geo_contains: ray cast over Polygon, holes, MultiPolygon, collections, degenerates") {
    val square = """{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]]]}"""
    assert(contains(square, 5, 5) === Some(true))
    assert(contains(square, 15, 5) === Some(false))
    // a hole flips back out; a point in the solid part stays in
    val donut = """{"type":"Polygon","coordinates":[
        [[0,0],[10,0],[10,10],[0,10],[0,0]],
        [[4,4],[6,4],[6,6],[4,6],[4,4]]]}"""
    assert(contains(donut, 5, 5) === Some(false), "inside the hole = outside")
    assert(contains(donut, 2, 2) === Some(true), "the solid ring is inside")
    // MultiPolygon: either part contains; the gap between them does not
    val two = """{"type":"MultiPolygon","coordinates":[
        [[[0,0],[2,0],[2,2],[0,2],[0,0]]],
        [[[5,5],[7,5],[7,7],[5,7],[5,5]]]]}"""
    assert(contains(two, 1, 1) === Some(true))
    assert(contains(two, 6, 6) === Some(true))
    assert(contains(two, 3.5, 3.5) === Some(false), "between the parts (the envelope decoy)")
    assert(contains(
      s"""{"type":"GeometryCollection","geometries":[$square]}""", 5, 5) === Some(true))
    // non-areal geometries contain nothing; malformed JSON reads null
    assert(contains("""{"type":"Point","coordinates":[5,5]}""", 5, 5) === Some(false))
    assert(contains("""{"type":"LineString","coordinates":[[0,0],[10,10]]}""", 5, 5)
      === Some(false))
    assert(contains("nope", 1, 1) === None)
  }

  test("the expression runs inside whole-stage codegen over the CAIC fixture areas") {
    import spark.implicits._
    graft.functions.GeoFunctions.register(spark)
    val areas = graft.caic.CaicPipeline
      .areaFeatures(Seq(graft.caic.CaicFixtures.areasJson).toDF("value"))
      .select(org.apache.spark.sql.functions.col("id"),
        graft.functions.GeoFunctions.envelope(
          org.apache.spark.sql.functions.col("geometry")).as("e"))
    areas.collect() // materialize so AQE finalizes the physical plan
    val plan = areas.queryExecution.executedPlan.toString
    // the '*(n)' star on the Project node IS WholeStageCodegen in the
    // adaptive plan rendering — the envelope projection must carry it
    assert(raw"\*\(\d+\) Project \[.*geo_envelope".r.findFirstIn(plan).isDefined,
      s"geo_envelope must not break whole-stage codegen on its projection:\n$plan")
    val got = areas.selectExpr("CAST(id AS STRING)", "e.xmin", "e.ymax")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got("NC-01") === ((-105.6, 40.4)))
    assert(got("NC-02") === ((-106.9, 39.9)))
    assert(got("3") === ((-105.6, 38.0)))
  }
}
