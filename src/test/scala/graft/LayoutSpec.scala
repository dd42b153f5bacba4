package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout features that carry the read side at scale: hive-style
  * partitioned writes must produce partition PRUNING on read (the
  * predicate removes directories before any file is opened — at 100 TB
  * the difference between scanning 1/5 of the data and all of it). */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("partitionBy write → partition-pruned read") {
    val out = Files.createTempDirectory("graft_part").toFile.getAbsolutePath
    Tables.documents(spark, dir)
      .write.mode("overwrite").partitionBy("lang").parquet(out)

    val read = spark.read.parquet(out).filter(col("lang") === "en")
    val scan = read.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }.head
    // the lang predicate must be a PartitionFilter (directory-level), not
    // a data filter evaluated per row
    assert(scan.metadata("PartitionFilters").contains("lang"),
      scan.metadata("PartitionFilters"))
    assert(!scan.metadata.getOrElse("PushedFilters", "").contains("lang"))
    // pruning must actually reduce the files read (numFiles metric is
    // populated by execution; inputFiles on the DataFrame is pre-pruning)
    val want = Tables.documents(spark, dir).filter(col("lang") === "en").count()
    assert(read.count() == want)
    val executedScan = read.queryExecution.executedPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f
    }.head
    val prunedFiles = executedScan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(out).inputFiles.length
    assert(prunedFiles < totalFiles, s"read $prunedFiles of $totalFiles files")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    val keep = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      // thresholds lowered so test-sized data exhibits the 100 TB shape:
      // one hot key's partition exceeds the skew threshold and AQE
      // splits it across tasks instead of letting one task carry it
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000).select(
        when(col("id") % 10 =!= 0, 1L).otherwise(col("id")).as("k"),
        col("id").as("payload"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val j = left.join(right, "k")
      // execute THIS dataset's QueryExecution (write/count would plan a
      // new one), so the inspected adaptive plan is the final executed one
      assert(j.collect().length === 180100)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), s"no skew split in:\n$finalPlan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("mergeSchema read reconciles evolved parquet schemas") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_evolve").toFile.getAbsolutePath
    // v1 files carry (id, x); later v2 files add a column — the normal
    // life of a long-lived dataset directory
    Seq((1L, "a"), (2L, "b")).toDF("id", "x").write.parquet(s"$out/v=1")
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "x", "y").write.parquet(s"$out/v=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.toSet === Set("id", "x", "y", "v"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length === 4)
    assert(rows(0).isNullAt(rows(0).fieldIndex("y"))) // old files null-pad
    assert(rows(2).getAs[Long]("y") === 30L)
  }

  test("sortWithinPartitions clusters rows without a global sort") {
    import spark.implicits._
    val parts = Tables.lineitem(spark, dir)
      .repartition(4, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .select(col("l_orderkey")).as[Long]
    // every partition is internally ordered — the write-side layout that
    // makes parquet min/max rowgroup skipping effective at scale
    val ordered = parts.mapPartitions { it =>
      var ok = true; var prev = Long.MinValue
      it.foreach { v => if (v < prev) ok = false; prev = v }
      Iterator(ok)
    }.collect()
    assert(ordered.nonEmpty && ordered.forall(identity))
  }

  test("z-order layout: every file covers a narrow slice of BOTH dimensions") {
    import ops.Layout
    val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    val src = Tables.orders(spark, "/root/testdata/sf0.01")
      .select(col("o_custkey").as("x"), dayNum.cast("long").as("y"))

    def fileExtents(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] = {
      val out = Files.createTempDirectory("graft_z").toFile.getAbsolutePath
      df.write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("dx"),
          (max(col("y")) - min(col("y"))).as("dy"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    }

    val nFiles = 16
    val zed = fileExtents(Layout.layoutZOrder(src, col("x"), col("y"), nFiles))
    val linear = fileExtents(
      src.repartitionByRange(nFiles, col("x")).sortWithinPartitions(col("x")))
    assert(zed.length == nFiles && linear.length == nFiles)
    def avg(a: Array[Long]): Double = a.sum.toDouble / a.length
    // linear x-sort: x-extents tiny, y-extents ~ the FULL y range per
    // file (no y locality at all). Z-order: both extents must be a
    // fraction of their full range — that's what lets min/max stats
    // prune files for predicates on either column.
    val (fullX, fullY) = {
      val r = src.agg(max(col("x")) - min(col("x")),
        max(col("y")) - min(col("y"))).head
      (r.getLong(0).toDouble, r.getLong(1).toDouble)
    }
    val zDx = avg(zed.map(_._1));    val zDy = avg(zed.map(_._2))
    val linDy = avg(linear.map(_._2))
    assert(linDy > 0.9 * fullY, s"x-sorted layout should have no y locality (dy=$linDy of $fullY)")
    assert(zDy < 0.5 * fullY, s"z-order should bound y extents (dy=$zDy of $fullY)")
    assert(zDx < 0.5 * fullX, s"z-order should bound x extents (dx=$zDx of $fullX)")
  }

  test("hilbert layout: bounds both dimensions on written parquet, at least as tight as z-order on average") {
    import ops.Layout
    val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    val src = Tables.orders(spark, "/root/testdata/sf0.01")
      .select(col("o_custkey").as("x"), dayNum.cast("long").as("y"))
    def fileAreas(df: org.apache.spark.sql.DataFrame): Array[Double] = {
      val out = Files.createTempDirectory("graft_h").toFile.getAbsolutePath
      df.write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("dx"),
          (max(col("y")) - min(col("y"))).as("dy"))
        .collect().map(r => (r.getLong(1) + 1).toDouble * (r.getLong(2) + 1))
    }
    val nFiles = 16
    val hil = fileAreas(Layout.layoutHilbert(src, col("x"), col("y"), nFiles))
    val zed = fileAreas(Layout.layoutZOrder(src, col("x"), col("y"), nFiles))
    // <= not ==: repartitionByRange's sampled boundaries can in principle
    // leave a partition empty (fewer files) — that's sampling, not a
    // layout bug (r10 advice)
    assert(hil.length <= nFiles && hil.nonEmpty, s"hilbert files=${hil.length}")
    assert(zed.length <= nFiles && zed.nonEmpty, s"zorder files=${zed.length}")
    val (fullX, fullY) = {
      val r = src.agg(max(col("x")) - min(col("x")),
        max(col("y")) - min(col("y"))).head
      (r.getLong(0).toDouble, r.getLong(1).toDouble)
    }
    def mean(a: Array[Double]): Double = a.sum / a.length
    // both-dimension pruning holds (the z-order property), and the mean
    // min/max ENVELOPE AREA — what a 2-D predicate prunes against — is
    // no worse than Morton's on real keys with sampled (misaligned)
    // file boundaries. 1.15 slack: repartitionByRange samples.
    assert(mean(hil) < 0.3 * (fullX + 1) * (fullY + 1),
      s"hilbert files should cover small 2-D envelopes (${mean(hil)})")
    assert(mean(hil) <= 1.15 * mean(zed),
      s"hilbert mean envelope ${mean(hil)} should not lose to z-order's ${mean(zed)}")
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    val out = Files.createTempDirectory("graft_dpo").toFile.getAbsolutePath
    val docs = Tables.documents(spark, dir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    val before = spark.read.parquet(out).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // an incremental rerun rewrites ONE partition's data (here: en,
    // truncated to 5 rows); dynamic mode must leave the others intact
    // instead of static overwrite's whole-table wipe
    val en5 = docs.where(col("lang") === "en").limit(5)
    withDynamicOverwrite {
      en5.write.mode("overwrite").partitionBy("lang").parquet(out)
    }
    val after = spark.read.parquet(out).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("en") == 5L)
    (before.keySet - "en").foreach { l => assert(after(l) == before(l), l) }
  }

  private def withDynamicOverwrite(body: => Unit): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("compaction rewrites a fragmented table into target-size files, rows intact") {
    import ops.Layout
    val frag = Files.createTempDirectory("graft_frag").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_compact").toFile.getAbsolutePath
    Tables.documents(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(frag)
    def parquetFiles(p: String): Array[java.io.File] =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(frag).length == 64)
    val total = parquetFiles(frag).map(_.length).sum
    val n = Layout.compact(spark, frag, out, targetBytes = total / 4)
    // ceil(total / (total/4)) = 4 or 5 (integer-division remainder)
    assert(n >= 4 && n <= 5, s"n=$n")
    assert(parquetFiles(out).length == n)
    assert(spark.read.parquet(out).count() ==
      Tables.documents(spark, dir).count())
  }

  test("zValue interleave is order-preserving on tiles and bijective on the grid") {
    import ops.Layout
    import spark.implicits._
    // 256 grid points (16x16): all z-values distinct (bijection) and the
    // top-left quadrant's codes all sort before the bottom-right's
    // (tile-level clustering — the property pruning relies on)
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val z = grid.select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(z.values.toSet.size == 256)
    val q00max = (for (x <- 0 until 8; y <- 0 until 8) yield z((x, y))).max
    val q11min = (for (x <- 8 until 16; y <- 8 until 16) yield z((x, y))).min
    assert(q00max < q11min)
  }

  test("hilbertValue: bijective, UNIT-STEP continuous (the property Morton lacks), and better neighbor locality") {
    import ops.Layout
    import spark.implicits._
    // the native hot path and the declarative fold are the SAME curve:
    // bit-identical on the exhaustive grid (so the q160 oracle replaying
    // the fold's algebra pins the native walk too)
    val g16 = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val diff = g16.select(
        Layout.hilbertValue(col("x"), col("y"), bits = 4).as("fast"),
        Layout.hilbertValueFold(col("x"), col("y"), bits = 4).as("fold"))
      .where(col("fast") =!= col("fold")).count()
    assert(diff == 0, s"native hilbert_xy diverges from the fold on $diff grid cells")
    // and at the production width (bits=16, the q160 configuration) on
    // content-hash-scattered points across the full 2^16 domain
    val pts = spark.range(512).select(
      pmod(xxhash64(col("id"), lit(1)), lit(65536L)).as("x"),
      pmod(xxhash64(col("id"), lit(2)), lit(65536L)).as("y"))
    val diff16 = pts.select(
        Layout.hilbertValue(col("x"), col("y"), bits = 16).as("fast"),
        Layout.hilbertValueFold(col("x"), col("y"), bits = 16).as("fold"))
      .where(col("fast") =!= col("fold")).count()
    assert(diff16 == 0, s"bits=16 divergence on $diff16 of 512 scattered points")
    // exhaustive 16x16 grid at bits=4: every cell visited exactly once
    // (bijection onto 0..255) and consecutive indices are always grid
    // NEIGHBORS — the defining Hilbert property; any bug in the
    // rotation/fold breaks it somewhere in 256 steps
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val h = grid.select(col("x"), col("y"),
        Layout.hilbertValue(col("x"), col("y"), bits = 4).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(h.values.toSet == (0L until 256L).toSet, "not a bijection onto 0..255")
    val byD = h.map(_.swap)
    (0L until 255L).foreach { d =>
      val (x0, y0) = byD(d); val (x1, y1) = byD(d + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"step $d -> ${d + 1} jumps from ($x0,$y0) to ($x1,$y1)")
    }
    // locality vs Morton, measured the way pruning feels it: cut the
    // curve into consecutive "files" of 13 cells (13 ∤ 2^k, so file
    // boundaries are MISALIGNED with quadrant boundaries — the general
    // case; power-of-two-aligned Z ranges are exact tiles and the only
    // case Z handles well) and compare the mean bounding-box area per
    // file — literally the min/max footer envelope a scan prunes on.
    // Hilbert's unit-step continuity keeps every contiguous range
    // CONNECTED, so its files stay compact wherever they start.
    val z = grid.select(col("x"), col("y"),
        Layout.zValue(col("x"), col("y"), bits = 4).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    def meanFileBBox(m: Map[(Long, Long), Long]): Double = {
      val files = m.toSeq.sortBy(_._2).map(_._1).grouped(13).toSeq
      val areas = files.map { cells =>
        val (xs, ys) = (cells.map(_._1), cells.map(_._2))
        ((xs.max - xs.min + 1) * (ys.max - ys.min + 1)).toDouble
      }
      areas.sum / areas.size
    }
    val (hBox, zBox) = (meanFileBBox(h), meanFileBBox(z))
    assert(hBox < zBox,
      f"Hilbert mean file bbox $hBox%.1f should beat Morton's $zBox%.1f")
  }

  test("hilbertValueD: bijective and unit-step in 3-D and 4-D (exhaustive grids)") {
    import ops.Layout
    import spark.implicits._
    // d=3, bits=3: all 512 cells — bijection onto 0..511 and every
    // consecutive index pair at Manhattan distance EXACTLY 1 (the
    // defining Hilbert property; any bug in the transpose walk's
    // invert/exchange or the twist constant breaks it within 512 steps)
    val g3 = (for (x <- 0 until 8; y <- 0 until 8; z <- 0 until 8)
      yield (x.toLong, y.toLong, z.toLong)).toDF("x", "y", "z")
    val h3 = g3.select(col("x"), col("y"), col("z"),
        Layout.hilbertValueD(Seq(col("x"), col("y"), col("z")), bits = 3).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(h3.values.toSet == (0L until 512L).toSet, "3-D: not a bijection onto 0..511")
    val by3 = h3.map(_.swap)
    (0L until 511L).foreach { d =>
      val (a, b) = (by3(d), by3(d + 1))
      val dist = math.abs(a._1 - b._1) + math.abs(a._2 - b._2) + math.abs(a._3 - b._3)
      assert(dist == 1, s"3-D step $d -> ${d + 1}: $a to $b (dist $dist)")
    }
    // d=4, bits=2: all 256 cells, same two properties
    val g4 = (for (x <- 0 until 4; y <- 0 until 4; z <- 0 until 4; w <- 0 until 4)
      yield (x.toLong, y.toLong, z.toLong, w.toLong)).toDF("x", "y", "z", "w")
    val h4 = g4.select(col("x"), col("y"), col("z"), col("w"),
        Layout.hilbertValueD(Seq(col("x"), col("y"), col("z"), col("w")), bits = 2).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)), r.getLong(4))).toMap
    assert(h4.values.toSet == (0L until 256L).toSet, "4-D: not a bijection onto 0..255")
    val by4 = h4.map(_.swap)
    (0L until 255L).foreach { d =>
      val (a, b) = (by4(d), by4(d + 1))
      val dist = math.abs(a._1 - b._1) + math.abs(a._2 - b._2) +
        math.abs(a._3 - b._3) + math.abs(a._4 - b._4)
      assert(dist == 1, s"4-D step $d -> ${d + 1}: $a to $b (dist $dist)")
    }
    // zValueD: bijective on the 3-D grid (flat interleave), and the
    // first-octant codes all sort before the opposite octant's
    val z3 = g3.select(col("x"), col("y"), col("z"),
        Layout.zValueD(Seq(col("x"), col("y"), col("z")), bits = 3).as("zv"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(z3.values.toSet.size == 512, "3-D Morton: not a bijection")
    val o0max = (for (x <- 0 until 4; y <- 0 until 4; z <- 0 until 4)
      yield z3((x.toLong, y.toLong, z.toLong))).max
    val o1min = (for (x <- 4 until 8; y <- 4 until 8; z <- 4 until 8)
      yield z3((x.toLong, y.toLong, z.toLong))).min
    assert(o0max < o1min)
  }

  test("3-D hilbert layout bounds ALL THREE dimensions; 2-D leaves the third unbounded") {
    import ops.Layout
    val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    val src = Tables.orders(spark, "/root/testdata/sf0.01")
      .select(col("o_custkey").as("x"), dayNum.cast("long").as("y"),
        round(col("o_totalprice") * 100).cast("long").as("p"))
    def fileExtents(df: org.apache.spark.sql.DataFrame): Array[(Double, Double, Double)] = {
      val out = Files.createTempDirectory("graft_h3").toFile.getAbsolutePath
      df.write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("dx"),
          (max(col("y")) - min(col("y"))).as("dy"),
          (max(col("p")) - min(col("p"))).as("dp"))
        .collect().map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble, r.getLong(3).toDouble))
    }
    val nFiles = 27 // 3^3: at least one full octant split per dimension
    val d3 = fileExtents(Layout.layoutHilbertD(src,
      Seq(col("x"), col("y"), col("p")), nFiles))
    val z3 = fileExtents(Layout.layoutZOrderD(src,
      Seq(col("x"), col("y"), col("p")), nFiles))
    val d2 = fileExtents(Layout.layoutHilbert(src, col("x"), col("y"), nFiles))
    val full = src.agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y")),
      max(col("p")) - min(col("p"))).head
    val (fx, fy, fp) = (full.getLong(0).toDouble, full.getLong(1).toDouble, full.getLong(2).toDouble)
    def mean(a: Array[Double]): Double = a.sum / a.length
    // 3-D clustering: every dimension's mean extent strictly bounded —
    // a price predicate prunes files, which the 2-D layout cannot do
    assert(mean(d3.map(_._1)) < 0.8 * fx, s"3-D x extent ${mean(d3.map(_._1))} of $fx")
    assert(mean(d3.map(_._2)) < 0.8 * fy, s"3-D y extent ${mean(d3.map(_._2))} of $fy")
    assert(mean(d3.map(_._3)) < 0.8 * fp, s"3-D p extent ${mean(d3.map(_._3))} of $fp")
    // the 2-D layout never saw p: its files cover ~the whole p range
    assert(mean(d2.map(_._3)) > 0.9 * fp,
      s"2-D files should span p (${mean(d2.map(_._3))} of $fp)")
    // 3-D Morton also bounds all three dims, and Hilbert's mean
    // ENVELOPE VOLUME does not lose to it (the 2-D 1.15-slack policy)
    assert(mean(z3.map(_._3)) < 0.8 * fp, s"3-D Morton p extent ${mean(z3.map(_._3))}")
    def vol(a: Array[(Double, Double, Double)]): Double =
      mean(a.map(t => (t._1 + 1) * (t._2 + 1) * (t._3 + 1)))
    assert(vol(d3) <= 1.15 * vol(z3),
      s"3-D hilbert volume ${vol(d3)} should not lose to Morton's ${vol(z3)}")
    // and adding the third dimension costs SOME 2-D tightness but not
    // the clustering property itself
    assert(mean(d3.map(_._1)) < 0.9 * mean(d2.map(_._1)) * 8 + fx * 0.8,
      "sanity: 3-D x extent in a sane band")
  }

  test("stream-static broadcast enrichment join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.Ev]
    mem.addData(
      graft.streaming.Ev(1, 10, "view", new java.sql.Timestamp(0), 1.0),
      graft.streaming.Ev(2, 11, "view", new java.sql.Timestamp(1), 2.0))
    val dim = Seq((10L, "gold"), (12L, "silver")).toDF("dim_user_id", "tier")
    val q = graft.streaming.Streaming.enrichEvents(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enriched").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("enriched").select("event_id", "tier").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows == Map(1L -> "gold", 2L -> null)) // left join keeps unmatched
  }
}
