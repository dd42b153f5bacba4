package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interval-join fan-out stress under HEAVY-TAILED interval lengths and
  * a HOT bin — the one r10 plan with a data-dependent blowup parameter
  * (VERDICT r10 "Next round" #1). Run manually, results recorded in
  * PERF.md:
  *
  *   sbt "runMain graft.IntervalSkewStress /tmp/graft_ivstress"
  *
  * [[ops.TimeSeries.intervalOverlapPairs]] trades explode fan-out
  * (len/binUs + 1 rows per interval) against bucket occupancy (rows
  * per bin → candidate products) exactly like band width does for
  * MinHash. q155's corpus is benign on both axes (gap-capped sessions,
  * ±10-min incident windows over 1-h bins); this tool runs the
  * ADVERSARIAL shape — 1% of intervals spanning 100–300 bins, plus an
  * incident storm concentrating 15% of the probe side into one bin —
  * at three bin widths, and records the measured trade:
  *
  *  - the fan-out LAW: exploded rows == Σ(bins-per-interval), computed
  *    with the operator's own [[ops.TimeSeries.binFdiv]] binning (an
  *    off-by-one here silently duplicates or drops boundary pairs);
  *  - bucket occupancy: max and mean rows/bin per side, and the hot
  *    bin's candidate product (the 100 TB skew hazard — a hot bin is a
  *    hot REDUCER, the same pathology as a hot join key);
  *  - exact-once output: pair count == distinct pair count at full
  *    size, and full set-equality vs the quadratic theta twin on a
  *    subsampled corpus (the property spec proves the semantics on
  *    random sets; here it's re-proved on the adversarial shape).
  *
  * Determinism: all pseudo-randomness is xxhash64 of the row id — same
  * corpus on any partitioning, any rerun, no RNG.
  */
object IntervalSkewStress {

  /** U[0,1) from (id, salt) — content-hash pseudo-random. */
  private def u(salt: Int) =
    (xxhash64(col("id"), lit(salt)).bitwiseAND(lit(Long.MaxValue)) % 1000000L)
      .cast("double") / 1000000.0

  /** `n` closed intervals over a `nBins`-bin horizon of width `binUs`:
    * 90% sub-bin, 9% spanning 1–10 bins, 1% spanning 100–300 bins
    * (heavy tail). `hotFrac` of the STARTS collapse into bin 0 (the
    * storm). Columns named for `side` ("a"/"b") per the
    * intervalOverlapPairs contract. */
  def intervals(spark: SparkSession, n: Long, binUs: Long, nBins: Int,
      side: String, hotFrac: Double, seed: Int): DataFrame = {
    val start = when(u(seed) < hotFrac, (u(seed + 1) * binUs).cast("long"))
      .otherwise((u(seed + 2) * nBins * binUs).cast("long"))
    val len = when(u(seed + 3) < 0.90, (u(seed + 4) * binUs / 2).cast("long"))
      .when(u(seed + 3) < 0.99, ((lit(1.0) + u(seed + 5) * 9.0) * binUs).cast("long"))
      .otherwise(((lit(100.0) + u(seed + 6) * 200.0) * binUs).cast("long"))
    spark.range(n).select(col("id").as(s"${side}_id"),
      start.as(s"s_$side"), (start + len).as(s"e_$side"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(defaultCpus = 32)
    val json = new StringBuilder("{")
    try {
      val binUs = 3600000000L // the q155 production width: 1 h in micros
      val nBins = 1000        // ~42-day horizon
      val nA = 500000L        // sessions
      val nB = 50000L         // incident windows, 15% in the storm bin
      // three widths around the production one: width trades explode
      // rows (narrow = more bins per long interval) against occupancy
      // (wide = more intervals per bin → bigger candidate products)
      for ((w, tag) <- Seq(binUs / 4 -> "quarter", binUs -> "1x", binUs * 4 -> "4x")) {
        val a = intervals(spark, nA, binUs, nBins, "a", 0.0, 11)
        val b = intervals(spark, nB, binUs, nBins, "b", 0.15, 77)
        def fdivSum(df: DataFrame, s: String, e: String): Long =
          df.agg(sum(expr(ops.TimeSeries.binFdiv(e, w)) -
            expr(ops.TimeSeries.binFdiv(s, w)) + lit(1L))).head.getLong(0)
        def exploded(df: DataFrame, s: String, e: String): DataFrame =
          df.withColumn("bin", explode(sequence(
            expr(ops.TimeSeries.binFdiv(s, w)), expr(ops.TimeSeries.binFdiv(e, w)))))
        // fan-out law: the explode emits EXACTLY Σ(bins-per-interval)
        val (lawA, lawB) = (fdivSum(a, "s_a", "e_a"), fdivSum(b, "s_b", "e_b"))
        val (expA, expB) = (exploded(a, "s_a", "e_a").count(), exploded(b, "s_b", "e_b").count())
        assert(expA == lawA && expB == lawB,
          s"[$tag] fan-out law broken: a $expA vs $lawA, b $expB vs $lawB")
        // occupancy: rows per bin, and the hot candidate product
        val occ = exploded(a, "s_a", "e_a").groupBy(col("bin")).count()
          .join(exploded(b, "s_b", "e_b").groupBy(col("bin"))
            .agg(count(lit(1)).as("cb")), "bin")
          .agg(max(col("count")).as("maxA"), avg(col("count")).as("avgA"),
            max(col("cb")).as("maxB"),
            max(col("count") * col("cb")).as("hotProduct"),
            sum(col("count") * col("cb")).as("candidates")).head
        // the join itself, timed end-to-end
        val t0 = System.nanoTime()
        val pairs = ops.TimeSeries.intervalOverlapPairs(a, b, w)
        val nPairs = pairs.count()
        val secs = (System.nanoTime() - t0) / 1e9
        // exact-once at full size: no pair twice
        val nDistinct = pairs.select(col("a_id"), col("b_id")).distinct().count()
        assert(nPairs == nDistinct, s"[$tag] duplicate pairs: $nPairs vs $nDistinct")
        val line = f""""$tag":{"binUs":$w,"fanoutA":${expA.toDouble / nA}%.2f,""" +
          f""""fanoutB":${expB.toDouble / nB}%.2f,"maxBinA":${occ.getLong(0)},""" +
          f""""maxBinB":${occ.getLong(2)},"hotProduct":${occ.getLong(3)},""" +
          f""""candidates":${occ.getLong(4)},"pairs":$nPairs,"secs":$secs%.2f},"""
        json.append(line)
        System.err.println(s"[iv-stress] $line")
        Caches.drain()
      }
      // ---- hot-bin salting (r12): the 4x-width configuration is the
      // measured worst case (storm-bin candidate product 14.4 M). The
      // salted variant must (a) cut the max per-reducer product by ~S on
      // the hot bins, (b) emit the identical pair set. The reducer
      // metric is the max candidate product per JOIN KEY — (bin) before,
      // (bin, salt) after — which is exactly the work AQE cannot split.
      {
        val w = binUs * 4
        val S = 8
        val hp = 1000000L // production-style threshold: only storm-scale bins salt
        val a = intervals(spark, nA, binUs, nBins, "a", 0.0, 11)
        val b = intervals(spark, nB, binUs, nBins, "b", 0.15, 77)
        def ex(df: DataFrame, s: String, e: String): DataFrame =
          df.withColumn("bin", explode(sequence(
            expr(ops.TimeSeries.binFdiv(s, w)), expr(ops.TimeSeries.binFdiv(e, w)))))
        val hot = ex(a, "s_a", "e_a").groupBy(col("bin")).agg(count(lit(1)).as("ca"))
          .join(ex(b, "s_b", "e_b").groupBy(col("bin"))
            .agg(count(lit(1)).as("cb")), "bin")
          .filter(col("ca") * col("cb") > lit(hp)).cache()
        val nHot = hot.count()
        val maxBefore = hot.agg(max(col("ca") * col("cb"))).head.getLong(0)
        // per-(bin, salt) products after salting: the probe side splits
        // ~uniformly across S salts, the build side is replicated whole,
        // so each reducer's product is ~(ca/S)·cb
        val aS = ex(a, "s_a", "e_a").join(hot.select(col("bin")), Seq("bin"))
          .withColumn("slt", pmod(xxhash64(col("s_a"), col("e_a"), col("bin")), lit(S)))
          .groupBy(col("bin"), col("slt")).agg(count(lit(1)).as("ca"))
        val maxAfter = aS.join(ex(b, "s_b", "e_b").groupBy(col("bin"))
            .agg(count(lit(1)).as("cb")), "bin")
          .agg(max(col("ca") * col("cb"))).head.getLong(0)
        hot.unpersist()
        val t0 = System.nanoTime()
        val nSalted = ops.TimeSeries.intervalOverlapPairsSalted(a, b, w, S, hp).count()
        val saltedSecs = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nPlain = ops.TimeSeries.intervalOverlapPairs(a, b, w).count()
        val plainSecs = (System.nanoTime() - t1) / 1e9
        assert(nSalted == nPlain,
          s"salted pair count diverged: $nSalted vs $nPlain")
        val diff = ops.TimeSeries.intervalOverlapPairsSalted(a, b, w, S, hp)
          .select(col("a_id"), col("b_id"))
          .exceptAll(ops.TimeSeries.intervalOverlapPairs(a, b, w)
            .select(col("a_id"), col("b_id"))).count()
        assert(diff == 0, s"salted emitted $diff pairs the unsalted form did not")
        val line = f""""salted_4x":{"hotBins":$nHot,"maxReducerProductBefore":$maxBefore,""" +
          f""""maxReducerProductAfter":$maxAfter,""" +
          f""""reduction":${maxBefore.toDouble / maxAfter}%.1f,"pairs":$nSalted,""" +
          f""""saltedSecs":$saltedSecs%.2f,"plainSecs":$plainSecs%.2f},"""
        json.append(line)
        System.err.println(s"[iv-stress] $line")
        Caches.drain()
      }
      // adversarial-shape semantic equality vs the quadratic theta twin,
      // at a size where the theta join is feasible (20k × 2k = 4e7
      // predicate evaluations)
      val aS = intervals(spark, 20000L, binUs, nBins, "a", 0.0, 11)
      val bS = intervals(spark, 2000L, binUs, nBins, "b", 0.15, 77)
      val got = ops.TimeSeries.intervalOverlapPairs(aS, bS, binUs)
        .select(col("a_id"), col("b_id"))
      val naive = aS.crossJoin(bS)
        .where(col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
        .select(col("a_id"), col("b_id"))
      val onlyGot = got.exceptAll(naive).count()
      val onlyNaive = naive.exceptAll(got).count()
      assert(onlyGot == 0 && onlyNaive == 0,
        s"theta-twin divergence on the adversarial shape: +$onlyGot/-$onlyNaive")
      json.append(s""""theta_twin_pairs":${got.count()},"theta_twin_diff":0}""")
      println(json.toString)
    } finally spark.stop()
  }
}
