package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 2-D grid-join fan-out stress under a HEAVY-TAILED point density and
  * a STORM CELL (r17, verdict item 7 — [[IntervalSkewStress]] is the
  * 1-D model). The q217 radius join trades nothing on the explode axis
  * (the 3×3 neighborhood is a CONSTANT 9 rows per build point — the
  * 2-D advantage over interval binning's length-proportional fan-out)
  * but everything on OCCUPANCY: cell width w scales candidates as
  * (points per cell)², and a storm cell is a hot reducer AQE cannot
  * split. Run manually, results recorded in PERF.md:
  *
  *   sbt "runMain graft.SpatialSkewStress"
  *
  * The adversarial corpus: probe density collapses toward the origin
  * as u³ (heavy tail — the geo reality of cities), and 5% of the
  * BUILD side lands inside one radius-sized storm cell. At two cell
  * widths (w = r, the q217 production choice, and w = 4r) the probe
  * asserts:
  *
  *  - the fan-out LAW: the build explode emits EXACTLY 9·n rows and
  *    the probe side exactly n (an off-by-one in the neighborhood
  *    arithmetic silently duplicates or drops boundary pairs);
  *  - EXACTLY-ONCE at full size: pair count == distinct pair count
  *    (the probe's single cell is the uniqueness proof), and full
  *    set-equality vs the quadratic theta twin on a subsampled corpus;
  *  - the measured trade: per-cell occupancy, the storm cell's
  *    candidate product at each width (the hazard that motivates
  *    width choice: 4× the width ≈ 16× the product), pairs, seconds.
  *
  * Determinism: all pseudo-randomness is xxhash64 of the row id. */
object SpatialSkewStress {

  private def u(salt: Int) =
    (xxhash64(col("id"), lit(salt)).bitwiseAND(lit(Long.MaxValue)) % 1000000L)
      .cast("double") / 1000000.0

  private val Domain = 1000000L
  private val R = 1000L // join radius

  /** `n` integer points: heavy-tailed toward the origin (coordinate =
    * u³·Domain); `hotFrac` of them land inside the storm cell
    * [0, R)². */
  def points(spark: SparkSession, n: Long, side: String, hotFrac: Double,
      seed: Int): DataFrame = {
    def coord(s1: Int, s2: Int) =
      when(u(seed) < hotFrac, (u(s1 + seed) * R).cast("long"))
        .otherwise((pow(u(s2 + seed), 3.0) * Domain).cast("long"))
    spark.range(n).select(col("id").as(s"${side}_id"),
      coord(1, 2).as(s"${side}x"), coord(3, 4).as(s"${side}y"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(defaultCpus = 32)
    val json = new StringBuilder("{")
    try {
      val nP = 300000L
      val nQ = 30000L
      for ((w, tag) <- Seq(R -> "1x", R * 4 -> "4x")) {
        val p = points(spark, nP, "p", 0.0, 11)
        val q = points(spark, nQ, "q", 0.05, 77)
        val pG = p.withColumn("gx", expr(s"px div $w")).withColumn("gy", expr(s"py div $w"))
        val qG = q
          .withColumn("gx", explode(sequence(expr(s"qx div $w - 1"), expr(s"qx div $w + 1"))))
          .withColumn("gy", explode(sequence(expr(s"qy div $w - 1"), expr(s"qy div $w + 1"))))
        // fan-out law: 3x3 neighborhood = exactly 9 rows per build point
        val expQ = qG.count()
        assert(expQ == 9L * nQ, s"[$tag] build fan-out law broken: $expQ vs ${9L * nQ}")
        assert(pG.count() == nP, s"[$tag] probe side must not explode")
        // occupancy + the storm cell's candidate product
        val occ = pG.groupBy(col("gx"), col("gy")).agg(count(lit(1)).as("cp"))
          .join(qG.groupBy(col("gx"), col("gy")).agg(count(lit(1)).as("cq")),
            Seq("gx", "gy"))
          .agg(max(col("cp")).as("maxP"), max(col("cq")).as("maxQ"),
            max(col("cp") * col("cq")).as("hotProduct"),
            sum(col("cp") * col("cq")).as("candidates")).head
        val t0 = System.nanoTime()
        val pairs = pG.join(qG, Seq("gx", "gy"))
          .withColumn("dist2", (col("px") - col("qx")) * (col("px") - col("qx")) +
            (col("py") - col("qy")) * (col("py") - col("qy")))
          .where(col("dist2") <= lit(R * R))
          .select(col("p_id"), col("q_id"))
        val nPairs = pairs.count()
        val secs = (System.nanoTime() - t0) / 1e9
        // exactly-once at FULL size: the probe's unique cell is the proof
        val nDistinct = pairs.distinct().count()
        assert(nPairs == nDistinct, s"[$tag] duplicate pairs: $nPairs vs $nDistinct")
        val line = f""""$tag":{"w":$w,"maxCellP":${occ.getLong(0)},""" +
          f""""maxCellQ":${occ.getLong(1)},"hotProduct":${occ.getLong(2)},""" +
          f""""candidates":${occ.getLong(3)},"pairs":$nPairs,"secs":$secs%.2f},"""
        json.append(line)
        System.err.println(s"[sp-stress] $line")
        Caches.drain()
      }
      // adversarial-shape semantic equality vs the quadratic theta twin
      // (20k x 2k = 4e7 predicate evaluations — feasible)
      val pS = points(spark, 20000L, "p", 0.0, 11)
      val qS = points(spark, 2000L, "q", 0.05, 77)
      val w = R
      val got = pS.withColumn("gx", expr(s"px div $w")).withColumn("gy", expr(s"py div $w"))
        .join(qS
          .withColumn("gx", explode(sequence(expr(s"qx div $w - 1"), expr(s"qx div $w + 1"))))
          .withColumn("gy", explode(sequence(expr(s"qy div $w - 1"), expr(s"qy div $w + 1")))),
          Seq("gx", "gy"))
        .where((col("px") - col("qx")) * (col("px") - col("qx")) +
          (col("py") - col("qy")) * (col("py") - col("qy")) <= lit(R * R))
        .select(col("p_id"), col("q_id"))
      val naive = pS.crossJoin(qS)
        .where((col("px") - col("qx")) * (col("px") - col("qx")) +
          (col("py") - col("qy")) * (col("py") - col("qy")) <= lit(R * R))
        .select(col("p_id"), col("q_id"))
      val onlyGot = got.exceptAll(naive).count()
      val onlyNaive = naive.exceptAll(got).count()
      assert(onlyGot == 0 && onlyNaive == 0,
        s"theta-twin divergence on the adversarial shape: +$onlyGot/-$onlyNaive")
      json.append(s""""theta_twin_pairs":${got.count()},"theta_twin_diff":0}""")
      println("ALL ASSERTIONS PASSED")
      println(json.toString)
    } finally spark.stop()
  }
}
