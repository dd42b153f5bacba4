package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

/** Shared evaluator for [[GeoEnvelope]] — a static entry point so the
  * generated code stays inside whole-stage codegen (one virtual-free
  * static call per row, the regexp-function pattern). GeoJSON
  * coordinates are RAGGED (Point nests 1 deep, MultiPolygon 4), which
  * is exactly why the engine keeps geometry as an opaque JSON string
  * (SURVEY §1.2); the envelope walk is depth-agnostic: any array whose
  * first element is numeric is a POSITION `[x, y, ...]`, anything else
  * recurses. GeometryCollection recurses through `geometries`. */
object GeoEnvelopeHelper {
  private val mapper = new ObjectMapper()

  /** Envelope of one GeoJSON geometry document as
    * (xmin, ymin, xmax, ymax), or null for null/invalid/empty
    * geometry — SQL-null discipline, never a throw on data. */
  def eval(json: UTF8String): InternalRow = {
    if (json == null) return null
    try {
      val node = mapper.readTree(json.toString)
      var xmin = Double.PositiveInfinity
      var ymin = Double.PositiveInfinity
      var xmax = Double.NegativeInfinity
      var ymax = Double.NegativeInfinity
      def walkPositions(n: JsonNode): Unit =
        if (n != null && n.isArray && n.size() > 0) {
          if (n.get(0).isNumber) {
            // a position: [x, y, (z...)] — ignore any third dimension
            if (n.size() >= 2 && n.get(1).isNumber) {
              val x = n.get(0).asDouble(); val y = n.get(1).asDouble()
              if (x < xmin) xmin = x; if (x > xmax) xmax = x
              if (y < ymin) ymin = y; if (y > ymax) ymax = y
            }
          } else {
            var i = 0
            while (i < n.size()) { walkPositions(n.get(i)); i += 1 }
          }
        }
      def walkGeometry(g: JsonNode): Unit =
        if (g != null && g.isObject) {
          walkPositions(g.get("coordinates"))
          val coll = g.get("geometries")
          if (coll != null && coll.isArray) {
            var i = 0
            while (i < coll.size()) { walkGeometry(coll.get(i)); i += 1 }
          }
        }
      walkGeometry(node)
      if (xmin > xmax) null // no positions found: empty/invalid geometry
      else new GenericInternalRow(Array[Any](xmin, ymin, xmax, ymax))
    } catch { case _: Exception => null } // malformed JSON reads as null
  }
}

/** Shared evaluator for [[GeoContains]]: even-odd ray casting (PNPOLY)
  * over the raw GeoJSON — Polygon rings XOR (outer ring minus holes),
  * MultiPolygon = any part contains, GeometryCollection recurses;
  * non-areal types (Point/LineString) contain nothing. Boundary points
  * follow PNPOLY's half-open edge convention (consistent, not
  * symmetric — exact-boundary observations are the caller's modeling
  * decision, as in every planar geometry library). */
object GeoContainsHelper {
  private val mapper = new ObjectMapper()

  private def pnpolyRing(ring: JsonNode, x: Double, y: Double): Boolean = {
    var inside = false
    val n = ring.size()
    var i = 0
    var j = n - 1
    while (i < n) {
      val pi = ring.get(i); val pj = ring.get(j)
      if (pi.isArray && pj.isArray && pi.size() >= 2 && pj.size() >= 2) {
        val xi = pi.get(0).asDouble(); val yi = pi.get(1).asDouble()
        val xj = pj.get(0).asDouble(); val yj = pj.get(1).asDouble()
        if (((yi > y) != (yj > y)) &&
          (x < (xj - xi) * (y - yi) / (yj - yi) + xi)) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  /** Even-odd across all rings: outer ring in, holes flip back out.
    * Package-visible — [[GeoIntersectsHelper]] reuses it for its
    * containment legs. */
  private[functions] def polygonContains(rings: JsonNode, x: Double, y: Double): Boolean = {
    var inside = false
    var i = 0
    while (i < rings.size()) {
      if (pnpolyRing(rings.get(i), x, y)) inside = !inside
      i += 1
    }
    inside
  }

  private def geometryContains(g: JsonNode, x: Double, y: Double): Boolean =
    if (g == null || !g.isObject) false
    else {
      val t = Option(g.get("type")).map(_.asText()).getOrElse("")
      val coords = g.get("coordinates")
      t match {
        case "Polygon" if coords != null && coords.isArray =>
          polygonContains(coords, x, y)
        case "MultiPolygon" if coords != null && coords.isArray =>
          (0 until coords.size()).exists(i => polygonContains(coords.get(i), x, y))
        case "GeometryCollection" =>
          val gs = g.get("geometries")
          gs != null && gs.isArray &&
            (0 until gs.size()).exists(i => geometryContains(gs.get(i), x, y))
        case _ => false
      }
    }

  /** Boxed Boolean so null (invalid JSON) survives the codegen seam. */
  def eval(json: UTF8String, x: Double, y: Double): java.lang.Boolean = {
    if (json == null) return null
    try java.lang.Boolean.valueOf(
      geometryContains(mapper.readTree(json.toString), x, y))
    catch { case _: Exception => null }
  }
}

/** Shared evaluator for [[GeoIntersects]]: exact planar intersection
  * test between two GeoJSON geometries (r16 — the polygon-polygon
  * refine the r15 verdict asked for on top of the q202 grid join). OGC
  * `ST_Intersects` semantics: true when the geometries share ANY point,
  * boundaries included. Decomposition: two geometries intersect iff
  *   (a) some boundary segment of one crosses/touches a segment of the
  *       other (orientation test + collinear on-segment handling), or
  *   (b) with no edge contact, one lies fully inside the other — tested
  *       by one REPRESENTATIVE VERTEX per ring/line (if no edges cross,
  *       every vertex of a component is on the same side), or
  *   (c) a Point member sits in/on the other geometry.
  * Cost is O(|segs(a)| x |segs(b)|) per pair — the refine step on grid
  * candidates, never the join itself. Note the boundary convention is
  * INCLUSIVE here (standard ST_Intersects), while `geo_contains` keeps
  * PNPOLY's half-open edges — intersects(A, point B) can be true where
  * contains(A, B) is false on an exact boundary, matching the
  * OGC contains/intersects asymmetry. */
object GeoIntersectsHelper {
  private val mapper = new ObjectMapper()

  /** One geometry flattened: polygon ring-sets (for containment), all
    * boundary segments (rings + linestrings), and bare points. */
  private final class Geom {
    val polys = scala.collection.mutable.ArrayBuffer.empty[JsonNode] // rings arrays
    val segs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    val pts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    // one representative vertex per ring/line component (containment probe)
    val reps = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
  }

  private def xy(n: JsonNode): Option[(Double, Double)] =
    if (n != null && n.isArray && n.size() >= 2 &&
      n.get(0).isNumber && n.get(1).isNumber)
      Some((n.get(0).asDouble(), n.get(1).asDouble()))
    else None

  private def addPath(g: Geom, path: JsonNode, closed: Boolean): Unit = {
    if (path == null || !path.isArray) return
    var first = true
    var i = 0
    while (i < path.size() - 1) {
      (xy(path.get(i)), xy(path.get(i + 1))) match {
        case (Some((ax, ay)), Some((bx, by))) =>
          g.segs += ((ax, ay, bx, by))
          if (first) { g.reps += ((ax, ay)); first = false }
        case _ => ()
      }
      i += 1
    }
    if (first) xy(path.get(0)).foreach(g.reps += _) // degenerate 1-point path
  }

  private def collect(g: Geom, node: JsonNode): Unit = {
    if (node == null || !node.isObject) return
    val t = Option(node.get("type")).map(_.asText()).getOrElse("")
    val c = node.get("coordinates")
    t match {
      case "Point" => xy(c).foreach(g.pts += _)
      case "MultiPoint" if c != null && c.isArray =>
        (0 until c.size()).foreach(i => xy(c.get(i)).foreach(g.pts += _))
      case "LineString" => addPath(g, c, closed = false)
      case "MultiLineString" if c != null && c.isArray =>
        (0 until c.size()).foreach(i => addPath(g, c.get(i), closed = false))
      case "Polygon" if c != null && c.isArray =>
        g.polys += c
        (0 until c.size()).foreach(i => addPath(g, c.get(i), closed = true))
      case "MultiPolygon" if c != null && c.isArray =>
        (0 until c.size()).foreach { i =>
          val rings = c.get(i)
          if (rings != null && rings.isArray) {
            g.polys += rings
            (0 until rings.size()).foreach(j => addPath(g, rings.get(j), closed = true))
          }
        }
      case "GeometryCollection" =>
        val gs = node.get("geometries")
        if (gs != null && gs.isArray)
          (0 until gs.size()).foreach(i => collect(g, gs.get(i)))
      case _ => ()
    }
  }

  private def sgn(px: Double, py: Double, qx: Double, qy: Double,
      rx: Double, ry: Double): Int =
    math.signum((qx - px) * (ry - py) - (qy - py) * (rx - px)).toInt

  private def onSeg(ax: Double, ay: Double, bx: Double, by: Double,
      px: Double, py: Double): Boolean =
    px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
      py >= math.min(ay, by) && py <= math.max(ay, by)

  /** Closed-segment intersection (touching counts). */
  private def segInt(a: (Double, Double, Double, Double),
      b: (Double, Double, Double, Double)): Boolean = {
    val (ax, ay, bx, by) = a
    val (cx, cy, dx, dy) = b
    val o1 = sgn(ax, ay, bx, by, cx, cy)
    val o2 = sgn(ax, ay, bx, by, dx, dy)
    val o3 = sgn(cx, cy, dx, dy, ax, ay)
    val o4 = sgn(cx, cy, dx, dy, bx, by)
    if (o1 != o2 && o3 != o4) true
    else (o1 == 0 && onSeg(ax, ay, bx, by, cx, cy)) ||
      (o2 == 0 && onSeg(ax, ay, bx, by, dx, dy)) ||
      (o3 == 0 && onSeg(cx, cy, dx, dy, ax, ay)) ||
      (o4 == 0 && onSeg(cx, cy, dx, dy, bx, by))
  }

  /** Is point p in/on geometry g (polygons even-odd, points equal,
    * on-segment for lines)? Boundary-INCLUSIVE: an exact-boundary point
    * also shows up through the segment tests of the caller, so the
    * half-open PNPOLY convention can't lose a touching pair. */
  private def pointTouches(p: (Double, Double), g: Geom): Boolean = {
    val (x, y) = p
    g.polys.exists(GeoContainsHelper.polygonContains(_, x, y)) ||
      g.pts.exists { case (px, py) => px == x && py == y } ||
      g.segs.exists { case (ax, ay, bx, by) =>
        sgn(ax, ay, bx, by, x, y) == 0 && onSeg(ax, ay, bx, by, x, y) }
  }

  def eval(a: UTF8String, b: UTF8String): java.lang.Boolean = {
    if (a == null || b == null) return null
    try {
      val ga = new Geom; collect(ga, mapper.readTree(a.toString))
      val gb = new Geom; collect(gb, mapper.readTree(b.toString))
      if (ga.segs.isEmpty && ga.pts.isEmpty) return java.lang.Boolean.FALSE
      if (gb.segs.isEmpty && gb.pts.isEmpty) return java.lang.Boolean.FALSE
      val hit =
        ga.pts.exists(pointTouches(_, gb)) ||
        gb.pts.exists(pointTouches(_, ga)) ||
        ga.segs.exists(s1 => gb.segs.exists(segInt(s1, _))) ||
        // no edge contact: full containment probes, one vertex per component
        ga.reps.exists { case (x, y) =>
          gb.polys.exists(GeoContainsHelper.polygonContains(_, x, y)) } ||
        gb.reps.exists { case (x, y) =>
          ga.polys.exists(GeoContainsHelper.polygonContains(_, x, y)) }
      java.lang.Boolean.valueOf(hit)
    } catch { case _: Exception => null }
  }
}

/** `geo_intersects(geojson_a, geojson_b)` → BOOLEAN — exact planar
  * intersection test (OGC ST_Intersects: shares any point, boundary
  * inclusive) over two opaque GeoJSON strings; the polygon-polygon /
  * line / point REFINE on top of the q202 envelope grid join. Native
  * expression; the test runs in a static helper the generated code
  * calls directly. */
case class GeoIntersects(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "geo_intersects requires (STRING geojson, STRING geojson), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "geo_intersects"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = GeoIntersectsHelper.eval(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    if (r == null) null else r.booleanValue()
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Boolean $boxed = graft.functions.GeoIntersectsHelper.eval($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.booleanValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): GeoIntersects = copy(left = l, right = r)
}

/** `geo_contains(geometry_json, x, y)` → BOOLEAN — exact planar
  * point-in-polygon over the opaque GeoJSON column: the REFINE step on
  * top of `geo_envelope`'s grid-join prefilter (the standard two-phase
  * spatial join: cheap envelope candidates, exact predicate on the
  * survivors — q204 runs the full flow over the reference's own
  * forecast areas). Native expression; the ray cast runs in a static
  * helper the generated code calls directly. */
case class GeoContains(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == DoubleType &&
      third.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "geo_contains requires (STRING geojson, DOUBLE x, DOUBLE y), got " +
        s"(${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
        s"${third.dataType.catalogString})")

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "geo_contains"

  override def nullSafeEval(g: Any, x: Any, y: Any): Any = {
    val r = GeoContainsHelper.eval(g.asInstanceOf[UTF8String],
      x.asInstanceOf[Double], y.asInstanceOf[Double])
    if (r == null) null else r.booleanValue()
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, x, y) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Boolean $boxed = graft.functions.GeoContainsHelper.eval($g, $x, $y);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.booleanValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GeoContains = copy(first = f, second = s, third = t)
}

/** Static haversine evaluator for [[GeoDistance]] — great-circle
  * distance in METERS on the IUGG mean-earth sphere (R = 6371008.8 m),
  * the same model PostGIS' `ST_DistanceSphere` and H3 use. Spherical,
  * not ellipsoidal, documented: sub-0.5% error everywhere, monotone in
  * true distance — exactly what radius filters and KNN ordering need;
  * geodesic (Vincenty/Karney) precision is a projection concern this
  * engine's opaque-GeoJSON model deliberately leaves to the caller. */
object GeoDistanceHelper {
  val EarthRadiusM: Double = 6371008.8

  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1)
    val p2 = math.toRadians(lat2)
    val dp = math.toRadians(lat2 - lat1)
    val dl = math.toRadians(lon2 - lon1)
    val a = math.sin(dp / 2) * math.sin(dp / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
    2.0 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(a)))
  }
}

/** `geo_distance(lon1, lat1, lon2, lat2)` → DOUBLE meters — the
  * haversine great-circle distance ([[GeoDistanceHelper]]), codegen'd:
  * one static call per row inside whole-stage codegen, the refine step
  * of geographic radius joins and the ordering key of KNN (q225/q226).
  */
case class GeoDistance(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  // ImplicitCastInputTypes semantics: numeric literals (SQL decimals,
  // ints) coerce to DOUBLE like every built-in math function
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "geo_distance"

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoDistanceHelper.haversine(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.GeoDistanceHelper.haversine($a, $b, $c, $d);")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): GeoDistance =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `geo_envelope(geometry_json)` → `struct<xmin, ymin, xmax, ymax>` —
  * the map-side envelope extraction that turns the reference's opaque
  * GeoJSON column (task.ts:14 `Type.Any`, kept as a raw string for
  * ragged-coordinate fidelity) into a joinable bounding box: feed the
  * result to the q202 grid-binned bbox join and "which forecast area
  * covers this observation" is a plain equi hash join at any scale.
  * Native expression (not a UDF): the parse happens once per row in a
  * static helper the generated code calls directly, keeping the scan
  * inside whole-stage codegen. */
case class GeoEnvelope(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"geo_envelope requires a STRING (GeoJSON) argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = GeoEnvelope.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "geo_envelope"

  override def nullSafeEval(g: Any): Any =
    GeoEnvelopeHelper.eval(g.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val rowType = CodeGenerator.javaType(dataType)
      s"""
         |${ev.value} = ($rowType) graft.functions.GeoEnvelopeHelper.eval($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GeoEnvelope =
    copy(child = newChild)
}

object GeoEnvelope {
  val Schema: StructType = StructType(Seq(
    StructField("xmin", DoubleType, nullable = false),
    StructField("ymin", DoubleType, nullable = false),
    StructField("xmax", DoubleType, nullable = false),
    StructField("ymax", DoubleType, nullable = false)))
}

object GeoFunctions {
  val envelopeInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("geo_envelope"),
    new ExpressionInfo(classOf[GeoEnvelope].getName, "geo_envelope"),
    (args: Seq[Expression]) => GeoEnvelope(args.head))

  val containsInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("geo_contains"),
    new ExpressionInfo(classOf[GeoContains].getName, "geo_contains"),
    (args: Seq[Expression]) => GeoContains(args(0), args(1), args(2)))

  val intersectsInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("geo_intersects"),
    new ExpressionInfo(classOf[GeoIntersects].getName, "geo_intersects"),
    (args: Seq[Expression]) => GeoIntersects(args(0), args(1)))

  val distanceInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("geo_distance"),
    new ExpressionInfo(classOf[GeoDistance].getName, "geo_distance"),
    (args: Seq[Expression]) => GeoDistance(args(0), args(1), args(2), args(3)))

  def envelope(g: Column): Column = column(GeoEnvelope(expression(g)))
  def distance(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    column(GeoDistance(expression(lon1), expression(lat1),
      expression(lon2), expression(lat2)))
  def contains(g: Column, x: Column, y: Column): Column =
    column(GeoContains(expression(g), expression(x), expression(y)))
  def intersects(a: Column, b: Column): Column =
    column(GeoIntersects(expression(a), expression(b)))
}
