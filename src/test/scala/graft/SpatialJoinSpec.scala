package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** q202 spatial bbox join (r15): the 2-D grid-binned equi join must
  * equal the brute-force theta join EXACTLY (same pairs, same
  * intersection corners) at two scale factors, and the plan must be a
  * hash join on the grid key — no cartesian/broadcast-nested-loop
  * anywhere (the shape that dies at 100 TB). */
class SpatialJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("spatial-spec")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def brute(dir: String) = {
    import org.apache.spark.sql.functions._
    ops.TimeSeries.bboxAreas(spark, dir)
      .join(ops.TimeSeries.bboxZones(spark, dir),
        col("axmin") <= col("bxmax") && col("bxmin") <= col("axmax") &&
          col("aymin") <= col("bymax") && col("bymin") <= col("aymax"))
      .select(col("area_id"), col("zone_id"),
        greatest(col("axmin"), col("bxmin")).as("ix"),
        greatest(col("aymin"), col("bymin")).as("iy"))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"grid + min-corner dedup equals brute force at $sf") {
      val dir = s"/root/testdata/$sf"
      val grid = rowsOf(ops.TimeSeries.q202BboxJoin(spark, dir))
      val ref = rowsOf(brute(dir))
      assert(grid === ref,
        s"missing=${(ref -- grid).take(3)} extra=${(grid -- ref).take(3)} " +
          s"(grid=${grid.size}, brute=${ref.size})")
      assert(grid.nonEmpty, "degenerate fixture: no overlapping pairs at all")
      // exactly-once: result pairs are unique (the Set above would mask
      // duplicates — count through the DataFrame)
      val df = ops.TimeSeries.q202BboxJoin(spark, dir)
      assert(df.count() === df.dropDuplicates("area_id", "zone_id").count(),
        "a pair was emitted from more than one grid cell")
    }
  }

  test("the plan is an equi hash join on the grid key — no cartesian, no nested loop") {
    val plan = ops.TimeSeries.q202BboxJoin(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "bbox join degenerated to a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "bbox join degenerated to a nested-loop join")
    assert(plan.contains("HashJoin"), s"expected a hash join on (gx, gy):\n$plan")
  }

  test("r16: polygon-polygon (q216), radius (q217), and KNN (q219) joins stay cartesian-free") {
    for (df <- Seq(ops.TimeSeries.q216CaicIntersects(spark, "/root/testdata/sf0.001"),
      ops.TimeSeries.q217RadiusJoin(spark, "/root/testdata/sf0.001"),
      ops.TimeSeries.q219KnnJoin(spark, "/root/testdata/sf0.001"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"spatial join degenerated:\n$plan")
      assert(plan.contains("HashJoin"), s"expected a hash join on the cell key:\n$plan")
    }
  }

  test("r16: radius grid join equals the brute-force theta join at two SFs") {
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      val grid = ops.TimeSeries.q217RadiusJoin(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val p = graft.Tables.customer(spark, dir).select(col("c_custkey").as("p_id"),
        pmod(col("c_custkey") * 13L, lit(1000L)).as("px"),
        pmod(col("c_custkey") * 41L, lit(1000L)).as("py"))
      val q = graft.Tables.supplier(spark, dir).select(col("s_suppkey").as("q_id"),
        pmod(col("s_suppkey") * 23L, lit(1000L)).as("qx"),
        pmod(col("s_suppkey") * 53L, lit(1000L)).as("qy"))
      val ref = p.crossJoin(q)
        .withColumn("dist2", (col("px") - col("qx")) * (col("px") - col("qx")) +
          (col("py") - col("qy")) * (col("py") - col("qy")))
        .where(col("dist2") <= 64L)
        .select("p_id", "q_id", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(grid === ref,
        s"$sf: missing=${(ref -- grid).take(3)} extra=${(grid -- ref).take(3)}")
      assert(grid.nonEmpty, s"degenerate fixture at $sf: no pairs within the radius")
    }
  }

  test("r17: unbounded KNN (expanding rings) equals brute force at two SFs; cartesian-free") {
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      val rings = ops.TimeSeries.q225KnnUnbounded(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val p = graft.Tables.customer(spark, dir).select(col("c_custkey").as("p_id"),
        pmod(col("c_custkey") * 13L, lit(1000L)).as("px"),
        pmod(col("c_custkey") * 41L, lit(1000L)).as("py"))
      val q = graft.Tables.supplier(spark, dir).select(col("s_suppkey").as("q_id"),
        pmod(col("s_suppkey") * 23L, lit(1000L)).as("qx"),
        pmod(col("s_suppkey") * 53L, lit(1000L)).as("qy"))
      val ref = p.crossJoin(q)
        .withColumn("dist2", (col("px") - col("qx")) * (col("px") - col("qx")) +
          (col("py") - col("qy")) * (col("py") - col("qy")))
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
          .Window.partitionBy(col("p_id")).orderBy(col("dist2"), col("q_id"))))
        .where(col("rn") <= 3)
        .select(col("p_id"), col("q_id"), col("dist2"), col("rn").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rings === ref,
        s"$sf: missing=${(ref -- rings).take(3)} extra=${(rings -- ref).take(3)}")
      // every probe resolved with exactly k rows (the build side has >= k points)
      assert(rings.size === p.count() * 3, s"$sf: a probe is missing neighbors")
    }
    // cartesian-free: each round is an equi hash join on the cell key
    val plan = ops.TimeSeries.q225KnnUnbounded(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"degenerated:\n$plan")
  }

  test("r17: unbounded KNN crosses a LONG void (many rings) and stays exact") {
    import spark.implicits._
    // probe at the origin, every build point far across the domain: the
    // ring search must walk ~14 empty rings (w = 64) before the first
    // candidate, then keep expanding until the termination bound clears
    val p = Seq((1L, 0L, 0L)).toDF("p_id", "px", "py")
    val q = Seq((7L, 900L, 900L), (8L, 901L, 900L), (9L, 999L, 999L))
      .toDF("q_id", "qx", "qy")
    val df = ops.TimeSeries.knnUnbounded(p, q, k = 2, w = 64L,
      maxRing = 1000 / 64 + 2)
    val got = df.collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(got === Seq((7L, 1L), (8L, 2L)), s"got $got")
    // r18: the resolved-output union folds down every 8 rings, so a
    // ~17-ring walk must NOT hand the final action an O(rings)-wide
    // plan (one union node per ring); the checkpointed plan stays a
    // small constant
    val nodes = df.queryExecution.optimizedPlan.collect { case n => n }.size
    assert(nodes <= 60,
      s"the long-void final plan grew with the ring count: $nodes nodes")
  }

  test("ring KNN retires superseded ring checkpoints at each fold and stays exact") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val p = graft.Tables.customer(spark, dir).select(col("c_custkey").as("p_id"),
      pmod(col("c_custkey") * 13L, lit(1000L)).as("px"),
      pmod(col("c_custkey") * 41L, lit(1000L)).as("py"))
    val q = graft.Tables.supplier(spark, dir).select(col("s_suppkey").as("q_id"),
      pmod(col("s_suppkey") * 23L, lit(1000L)).as("qx"),
      pmod(col("s_suppkey") * 53L, lit(1000L)).as("qy"))
    val ref = p.crossJoin(q)
      .withColumn("dist2", (col("px") - col("qx")) * (col("px") - col("qx")) +
        (col("py") - col("qy")) * (col("py") - col("qy")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("p_id")).orderBy(col("dist2"), col("q_id"))))
      .where(col("rn") <= 3)
      .select(col("p_id"), col("q_id"), col("dist2"), col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // with 16-wide cells the farthest probe's third neighbor is more than
    // 16 rings out, so the output union folds at least twice
    val w = 16L
    val farthest = math.sqrt(ref.map(_._3).max.toDouble)
    assert(farthest > 16 * w, s"only ${farthest / w} rings: fewer than 2 folds")
    val sc = spark.sparkContext
    graft.Caches.drain()
    val before = sc.getPersistentRDDs.size
    val got = ops.TimeSeries.knnUnbounded(p, q, k = 3, w = w, maxRing = 1000 / 16 + 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // held until the drain: the build cache, the pending set, the last
    // fold and at most 8 unfolded rings' topk; not one store per ring
    val held = sc.getPersistentRDDs.size - before
    graft.Caches.drain()
    assert(got === ref, s"missing=${(ref -- got).take(3)} extra=${(got -- ref).take(3)}")
    assert(held <= 11, s"$held checkpoint stores held after ${farthest / w} rings")
  }

  test("r17: unbounded KNN with FEWER than k build points emits the global set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 2 build points, k = 3: the ring loop must exhaust the domain and
    // emit both, never spin or drop the probe
    val p = Seq((1L, 10L, 10L), (2L, 900L, 900L)).toDF("p_id", "px", "py")
    val q = Seq((7L, 500L, 500L), (8L, 20L, 20L)).toDF("q_id", "qx", "qy")
    val got = ops.TimeSeries.knnUnbounded(p, q, k = 3, w = 64L, maxRing = 1000 / 64 + 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === Set((1L, 8L, 1L), (1L, 7L, 2L), (2L, 7L, 1L), (2L, 8L, 2L)),
      s"got $got")
  }

  test("r17: geo_distance — known values, symmetry, zero, and SQL registration") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Boulder -> Denver is ~38.6 km (public geodesic calculators;
    // spherical model lands within 0.5%)
    val d = spark.sql(
      "SELECT geo_distance(-105.2705, 40.0150, -104.9903, 39.7392) AS d")
      .collect()(0).getDouble(0)
    assert(d > 38000 && d < 39500, s"Boulder->Denver ~38.6 km, got $d m")
    // equator degree: ~111.19 km on the mean sphere
    val eq = spark.sql("SELECT geo_distance(0.0, 0.0, 1.0, 0.0) AS d")
      .collect()(0).getDouble(0)
    assert(math.abs(eq - 111195.0) < 100, s"one equator degree, got $eq")
    // symmetry + identity + null propagation
    val r = spark.sql("SELECT geo_distance(-105.27, 40.01, -104.99, 39.74) = " +
      "geo_distance(-104.99, 39.74, -105.27, 40.01) AS sym, " +
      "geo_distance(7.0, 7.0, 7.0, 7.0) AS zero, " +
      "geo_distance(CAST(NULL AS DOUBLE), 1.0, 2.0, 3.0) AS n").collect()(0)
    assert(r.getBoolean(0) && r.getDouble(1) === 0.0 && r.isNullAt(2))
    // antipodal cap: asin clamps, never NaN
    val anti = spark.sql("SELECT geo_distance(0.0, 0.0, 180.0, 0.0) AS d")
      .collect()(0).getDouble(0)
    assert(math.abs(anti - math.Pi * 6371008.8) < 1.0)
    // antimeridian: ±179.9° at the equator are ~22.2 km apart, not half
    // the planet (the sin² periodicity handles the wrap natively)
    val wrap = spark.sql("SELECT geo_distance(179.9, 0.0, -179.9, 0.0) AS d")
      .collect()(0).getDouble(0)
    assert(wrap > 21000 && wrap < 23500, s"antimeridian wrap: $wrap")
    // poles: every longitude is the same point at lat 90
    val pole = spark.sql("SELECT geo_distance(0.0, 90.0, 137.0, 90.0) AS d")
      .collect()(0).getDouble(0)
    assert(pole < 1.0, s"pole degeneracy: $pole")
  }
}
