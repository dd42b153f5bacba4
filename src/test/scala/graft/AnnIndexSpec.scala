package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** PERSISTED ANN INDEX (r17, [[graft.sim.AnnIndex]]): IVF postings as a
  * cell-partitioned graft table maintained from the base's change
  * feed. Pins: the persisted search equals the in-memory q55 path
  * row-for-row after a delete+insert fold, refresh is exactly-once
  * (re-CALL is a no-op), refresh work is DELTA-proportional (the MERGE
  * reads O(|delta|) feed rows and touches only matching postings
  * files, never the corpus), the postings scan PLANS only the probed
  * cells' partitions, and the vector string roundtrip is bit-exact. */
class AnnIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("ann-index-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.01"

  test("persisted search == in-memory q55 after the delete+insert fold; no-op re-refresh") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val got = sim.Similarity.q227AnnPersisted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ref = sim.Similarity.q55AnnIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === ref, "the persisted index must reproduce q55 exactly " +
      s"(same pinned fit, same corpus after the fold)\n got=$got\n ref=$ref")
    // the index q227 left behind: find it and re-refresh -> empty range
    val roots = new java.io.File(RunTag.scratch("probe")).getParentFile
    val idx = Option(roots.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s"graft_q227_") &&
        f.getName.endsWith(RunTag.tag) &&
        new java.io.File(f, "idx/_ann_index.json").isFile)
      .maxBy(_.lastModified())
    val (from, to) = sim.AnnIndex.refresh(spark, "graftcat",
      new java.io.File(idx, "idx").getAbsolutePath)
    assert(from > to, s"second refresh must fold nothing: ($from, $to)")
    // an OPTIMIZE commit has an empty feed: its refresh folds through
    // the postings ledger alone, and the next refresh is a no-op
    val root = new java.io.File(idx, "idx").getAbsolutePath
    val (_, _, head) = sim.AnnIndex.stateOf(root)
    val opt = spark.sql(s"CALL graftcat.optimize('${new java.io.File(idx, "base")}', " +
      s"${32 * 1024 * 1024})").collect()(0).getLong(0)
    assert(opt === head + 1L, s"OPTIMIZE must commit one base version: $opt")
    sim.AnnIndex.refresh(spark, "graftcat", root)
    val (_, last2, head2) = sim.AnnIndex.stateOf(root)
    assert(last2 === head2 && head2 === head + 1,
      s"the empty range must advance the watermark: last=$last2 head=$head2")
    val (from2, to2) = sim.AnnIndex.refresh(spark, "graftcat", root)
    assert(from2 > to2, s"the refresh after it must fold nothing: ($from2, $to2)")
  }

  test("persisted PQ (stored codes) == in-memory q137 after the fold") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val got = sim.Similarity.q228AnnPqPersisted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val ref = sim.Similarity.q137AnnPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got === ref,
      s"stored-code ADC must reproduce q137 exactly\n got=$got\n ref=$ref")
  }

  test("the persisted PQ encode compiles and gives the q137 codes at create and refresh") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_pq_codegen").toString
    val cat = "graftcat"
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE $cat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    val full = sim.Similarity.vectors(spark, dir).select(col("vec_id"),
      concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
    full.filter(col("vec_id") < 3000).writeTo(s"$cat.`$base`").append() // v1
    val rnd = new scala.util.Random(7L)
    val books = Seq.fill(8, 16, 8)(rnd.nextDouble() * 0.6 - 0.3)
    val cents = Seq.tabulate(8)(i => Seq.tabulate(64)(j => if (j % 8 == i) 1.0 else 0.0))
    // the q137 encode replayed on the driver with the same IEEE op order:
    // unit-normalize, then per subspace argmin of |c|² - 2·u·c, ties
    // toward the smaller code
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).foldLeft(0.0) { case (t, (x, y)) => t + x * y }
    def code(vec: String): String = {
      val v = vec.split(",").map(_.toDouble).toSeq
      val n = math.sqrt(dot(v, v))
      val u = v.map(_ / n)
      books.zipWithIndex.map { case (book, s) =>
        val us = u.slice(s * 8, s * 8 + 8)
        book.map(c => c.map(x => x * x).sum - 2.0 * dot(us, c)).zipWithIndex
          .reduceLeft((a, b) => if (b._1 < a._1) b else a)._2
      }.mkString(",")
    }
    def checkCodes(stage: String, below: Long): Unit = {
      val rows = spark.sql(s"SELECT vec, code FROM $cat.`${sim.AnnIndex.postingsPath(s"$root/idx")}`")
        .collect()
      assert(rows.length === full.filter(col("vec_id") < below).count(), stage)
      val wrong = rows.filter(r => r.getString(1) != code(r.getString(0)))
      assert(wrong.isEmpty, s"$stage: ${wrong.length} of ${rows.length} codes differ, " +
        wrong.take(2).map(r => s"${r.getString(1)} vs ${code(r.getString(0))}").mkString("; "))
    }
    // a whole-stage method that does not compile fails the query here,
    // instead of running the stage interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      sim.AnnIndex.create(spark, cat, s"$root/idx", base, cents, pq = Some(books))
      checkCodes("create", 3000)
      full.filter(col("vec_id") >= 3000 && col("vec_id") < 3500)
        .writeTo(s"$cat.`$base`").append() // v2
      val (from, to) = sim.AnnIndex.refresh(spark, cat, s"$root/idx")
      assert(from <= to, "the append must fold")
      checkCodes("refresh", 3500)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("refresh cost is delta-proportional; probe scan plans only probed cells") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_delta").toString
    val cat = "graftcat"
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE $cat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    val full = sim.Similarity.vectors(spark, dir).select(col("vec_id"),
      concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
    full.writeTo(s"$cat.`$base`").append() // v1: the whole corpus
    val n = full.count()
    val cents = Seq.tabulate(8)(i => Seq.tabulate(64)(j =>
      if (j % 8 == i) 1.0 else 0.0)) // any fixed coarse quantizer works here
    sim.AnnIndex.create(spark, cat, s"$root/idx", base, cents)
    val postings = sim.AnnIndex.postingsPath(s"$root/idx")
    val filesBefore = graft.sources.JsonDocVersions.latest(postings).get._2

    // a SMALL delta: update 10 vectors (MOR: DV-delete + insert rows)
    spark.sql(s"UPDATE $cat.`$base` SET vec = vec WHERE vec_id % 97 = 1 AND vec_id < 970")
    val (f1, t1) = sim.AnnIndex.refresh(spark, cat, s"$root/idx")
    assert(f1 <= t1, "the update must fold")
    // postings row count unchanged (pure upsert), content still complete
    val cnt = spark.sql(s"SELECT count(*) AS c FROM $cat.`$postings`")
      .collect()(0).getLong(0)
    assert(cnt === n, s"upsert fold must keep the corpus complete: $cnt vs $n")
    // DELTA-proportionality: merge-on-read postings rewrite NOTHING —
    // the fold lands delete vectors + insert files only (r17,
    // PERF.md "AnnIndex refresh": COW would rewrite ~every cell because
    // upsert keys spread across cells)
    val filesAfter = graft.sources.JsonDocVersions.latest(postings).get._2
    val kept = filesAfter.intersect(filesBefore)
    assert(kept === filesBefore,
      "a MOR fold must keep every prior postings file " +
        s"(before=${filesBefore.size}, after=${filesAfter.size}, kept=${kept.size})")

    // partition pruning: a probe over 2 of 8 cells plans only those
    // partitions' files
    val probed = spark.sql(s"SELECT * FROM $cat.`$postings`")
      .where(col("cell").isin(0L, 1L))
    probed.collect()
    val planned = probed.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.length
    val all = spark.sql(s"SELECT * FROM $cat.`$postings`")
    all.collect()
    val allPlanned = all.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.length
    assert(planned < allPlanned,
      s"cell probe must prune partitions: $planned vs $allPlanned")
  }

  test("the pure-SQL surface: CALL create_ann fits + builds; refresh_ann folds appends") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_sql").toString
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE graftcat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc`")
    val full = sim.Similarity.vectors(spark, dir).select(col("vec_id"),
      concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
    full.filter(col("vec_id") < 3000).writeTo(s"graftcat.`$base`").append() // v1
    val created = spark.sql(
      s"CALL graftcat.create_ann('$root/idx', '$base', 8)").collect()(0).getLong(0)
    assert(created === 1L, "the index must record the base head it built at")
    full.filter(col("vec_id") >= 3000).writeTo(s"graftcat.`$base`").append() // v2
    val r = spark.sql(s"CALL graftcat.refresh_ann('$root/idx')").collect()(0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L, s"fold (v2, v2]: $r")
    // the searched top-10 is a plausible ANN answer: every hit's cosine
    // matches the exact cosine for that id (probing only prunes)
    val got = sim.AnnIndex.search(spark, "graftcat", s"$root/idx",
      queryVecId = 0L, nProbe = 3, k = 10).collect()
      .map(r2 => (r2.getLong(0), r2.getDouble(1))).toMap
    assert(got.size === 10)
    val exact = sim.Similarity.q33CosineTopk(spark, dir).collect()
      .map(r2 => (r2.getLong(0), r2.getDouble(1))).toMap
    val overlap = got.keySet.intersect(exact.keySet)
    assert(overlap.size >= 5, s"fitted-from-base IVF should keep most of the " +
      s"exact top-10 at nProbe=3/8: ${overlap.size}")
    overlap.foreach(id => assert(got(id) === exact(id),
      s"cosine for $id must be exact, never approximated"))
    // ann_state reports the watermark; current after the fold
    val st = spark.sql(s"CALL graftcat.ann_state('$root/idx')").collect()(0)
    assert(st.getLong(1) === 2L && st.getLong(2) === 2L && st.getLong(3) === 0L,
      s"state drifted: $st")
    // OPTIMIZE on the postings (the MOR repayment) keeps search exact
    spark.sql(s"CALL graftcat.optimize(" +
      s"'${sim.AnnIndex.postingsPath(s"$root/idx")}', ${32 * 1024 * 1024})")
    val got2 = sim.AnnIndex.search(spark, "graftcat", s"$root/idx",
      queryVecId = 0L, nProbe = 3, k = 10).collect()
      .map(r2 => (r2.getLong(0), r2.getDouble(1))).toMap
    assert(got2 === got, "compacting the postings must not move one result")
  }

  test("create sweeps a crash orphan and refuses an existing index") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_orphan").toString
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE graftcat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc`")
    sim.Similarity.vectors(spark, dir).filter(col("vec_id") < 3000)
      .select(col("vec_id"),
        concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
      .writeTo(s"graftcat.`$base`").append()
    def create() = spark.sql(s"CALL graftcat.create_ann('$root/idx', '$base', 8)").collect()
    def search() = sim.AnnIndex.search(spark, "graftcat", s"$root/idx",
      queryVecId = 0L, nProbe = 3, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    create()
    val fresh = search()
    // re-CALL on a live index refuses loudly
    val e = intercept[Exception](create())
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // a crash orphan (postings dir, no def file) is swept by re-CREATE
    assert(new java.io.File(s"$root/idx/${sim.AnnIndex.DefName}").delete())
    assert(create()(0).getLong(0) === 1L)
    assert(search() === fresh, "the re-created index must equal the fresh build")
  }

  test("ann_search takes an external vector: recall vs exact, CALL == API") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_vec").toString
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE graftcat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc`")
    val full = sim.Similarity.vectors(spark, dir).select(col("vec_id"),
      concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
    full.writeTo(s"graftcat.`$base`").append()
    spark.sql(s"CALL graftcat.create_ann('$root/idx', '$base', 8)").collect()
    // a fresh out-of-corpus embedding: the mean of vectors 5 and 6
    val seeds = sim.Similarity.vectors(spark, dir)
      .filter(col("vec_id").isin(5L, 6L)).orderBy(col("vec_id"))
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    val qv = seeds(0).zip(seeds(1)).map { case (a, b) => (a + b) / 2.0 }.toSeq
    val got = sim.AnnIndex.searchVec(spark, "graftcat", s"$root/idx",
      qv, nProbe = 3, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size === 10)
    // the CALL surface delivers the identical rows (Double.toString
    // round-trips exactly through the comma-separated argument)
    val viaCall = spark.sql(s"CALL graftcat.ann_search('$root/idx', " +
      s"'${qv.map(_.toString).mkString(",")}', 3, 10)").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaCall === got, "CALL ann_search must equal the API result")
    // recall vs the EXACT brute-force cosine top-10 over the corpus
    val exact = sim.Similarity.vectors(spark, dir)
      .select(col("vec_id"),
        round(sim.Similarity.dot(col("v"), typedLit(qv)) /
          (col("norm") * lit(math.sqrt(qv.map(x => x * x).sum))), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val overlap = got.map(_._1).toSet.intersect(exact.map(_._1).toSet)
    assert(overlap.size >= 5,
      s"external-vector IVF recall collapsed at nProbe=3/8: ${overlap.size}")
    // and every returned cosine is exact, never approximated
    val exactMap = exact.toMap
    got.filter(t => exactMap.contains(t._1)).foreach { case (id, s) =>
      assert(s === exactMap(id), s"cosine for $id drifted") }
    // a dimension mismatch refuses loudly
    val e = intercept[IllegalArgumentException] {
      sim.AnnIndex.searchVec(spark, "graftcat", s"$root/idx",
        Seq(1.0, 2.0), 3, 10)
    }
    assert(e.getMessage.contains("dims"))
  }

  test("continuous refresh follows commits; redelivery never double-folds") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_auto").toString
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE graftcat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    val full = sim.Similarity.vectors(spark, dir).select(col("vec_id"),
      concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
    full.filter(col("vec_id") < 3000).writeTo(s"graftcat.`$base`").append()
    spark.sql(s"CALL graftcat.create_ann('$root/idx', '$base', 8)").collect()
    val ck = java.nio.file.Files.createTempDirectory("graft_ann_auto_ck").toString
    val q = sim.AnnIndex.autoRefresh(spark, "graftcat", s"$root/idx", ck)
    try {
      full.filter(col("vec_id") >= 3000 && col("vec_id") < 3500)
        .writeTo(s"graftcat.`$base`").append()
      q.processAllAvailable()
      val (_, last, head) = sim.AnnIndex.stateOf(s"$root/idx")
      assert(last === head, s"the stream must fold to current: $last vs $head")
    } finally q.stop()
    // redelivery with a fresh checkpoint: the ledger makes it a no-op
    val probe = sim.AnnIndex.search(spark, "graftcat", s"$root/idx",
      queryVecId = 0L, nProbe = 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ck2 = java.nio.file.Files.createTempDirectory("graft_ann_auto_ck2").toString
    val q2 = sim.AnnIndex.autoRefresh(spark, "graftcat", s"$root/idx", ck2)
    try {
      q2.processAllAvailable()
      assert(sim.AnnIndex.search(spark, "graftcat", s"$root/idx",
        queryVecId = 0L, nProbe = 3, k = 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq === probe,
        "replayed signals must never double-fold")
    } finally q2.stop()
  }

  test("vector string roundtrip is bit-exact for awkward doubles") {
    import spark.implicits._
    val vals = Seq(1.0E-5, math.Pi, -0.0, 1.7976931348623157E308, 4.9E-324, 0.1)
    val df = Seq((1L, vals.map(_.toString).mkString(","))).toDF("vec_id", "vec")
      .withColumn("v", transform(split(col("vec"), ","), x => x.cast("double")))
    val back = df.select(col("v")).collect()(0).getSeq[Double](0)
    assert(back === vals, s"roundtrip drifted: $back vs $vals")
  }
}
