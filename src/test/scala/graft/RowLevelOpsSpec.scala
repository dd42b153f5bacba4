package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** SQL row-level DML against the catalog-resolved DSv2 table: MERGE
  * INTO / UPDATE / DELETE planned through SupportsRowLevelOperations as
  * group-based (copy-on-write) ReplaceData. Pins the semantics on a
  * hand-built table (every row's fate asserted), the `_file` metadata
  * column (provenance + the metadata projection the write path needs),
  * and the plan shape (ReplaceData + MergeRows, rewrite scan with
  * nothing pushed). q174 carries the corpus-scale oracle check. */
class RowLevelOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("row-level-ops-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshTable(): String = {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlspec").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    Seq((1L, 10.0, "base"), (2L, 20.0, "base"), (3L, 30.0, "base"))
      .toDF("k", "v", "src").writeTo(tbl).append()
    tbl
  }

  private def rowsOf(tbl: String): Seq[(Long, Double, String)] =
    spark.sql(s"SELECT * FROM $tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq

  test("MERGE INTO applies delete/update/insert clauses; untouched rows survive the rewrite") {
    val tbl = freshTable()
    import spark.implicits._
    Seq((2L, "upd", 99.0), (3L, "del", 0.0), (7L, "ins", 70.0))
      .toDF("k", "op", "nv").createOrReplaceTempView("rl_changes")
    spark.sql(
      s"""MERGE INTO $tbl t USING rl_changes c ON t.k = c.k
         |WHEN MATCHED AND c.op = 'del' THEN DELETE
         |WHEN MATCHED AND c.op = 'upd' THEN UPDATE SET v = c.nv, src = 'upd'
         |WHEN NOT MATCHED AND c.op = 'ins' THEN INSERT (k, v, src) VALUES (c.k, c.nv, 'ins')""".stripMargin)
    assert(rowsOf(tbl) === Seq((1L, 10.0, "base"), (2L, 99.0, "upd"), (7L, 70.0, "ins")))
  }

  test("UPDATE and DELETE rewrite the table in place") {
    val tbl = freshTable()
    spark.sql(s"UPDATE $tbl SET v = v * 2.0 WHERE k >= 2")
    assert(rowsOf(tbl) === Seq((1L, 10.0, "base"), (2L, 40.0, "base"), (3L, 60.0, "base")))
    spark.sql(s"DELETE FROM $tbl WHERE k = 2")
    assert(rowsOf(tbl) === Seq((1L, 10.0, "base"), (3L, 60.0, "base")))
  }

  test("the _file metadata column reports real per-row provenance") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlmeta").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    // two single-file appends → two distinct response files
    Seq((1L, 10.0, "base"), (2L, 20.0, "base")).toDF("k", "v", "src")
      .coalesce(1).writeTo(tbl).append()
    Seq((9L, 90.0, "base")).toDF("k", "v", "src").coalesce(1).writeTo(tbl).append()
    val got = spark.sql(s"SELECT k, _file FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.keySet === Set(1L, 2L, 9L))
    assert(got.values.forall(_.endsWith(".jsonl")))
    assert(got(1L) === got(2L), "rows from one single-file append share a file")
    assert(got(9L) !== got(1L), "rows from different appends must carry different files")
  }

  test("the merge plans as group-based ReplaceData over a pushdown-free rewrite scan") {
    val tbl = freshTable()
    import spark.implicits._
    Seq((2L, 99.0)).toDF("k", "nv").createOrReplaceTempView("rl_upd")
    val plan = spark.sql(
      s"""EXPLAIN FORMATTED MERGE INTO $tbl t USING rl_upd c ON t.k = c.k
         |WHEN MATCHED THEN UPDATE SET v = c.nv""".stripMargin)
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("ReplaceData"), "row-level command must plan as ReplaceData")
    assert(plan.contains("MergeRows"), "merge semantics must plan as MergeRows")
    // the rewrite scan must read EVERYTHING: a pushed or runtime filter
    // under a whole-group rewrite would silently delete rows
    assert(plan.contains("pushed=[]"),
      "the rewrite scan accepted a pushdown — data loss under copy-on-write")
    // and the merge must still be correct after planning it
    spark.sql(
      s"""MERGE INTO $tbl t USING rl_upd c ON t.k = c.k
         |WHEN MATCHED THEN UPDATE SET v = c.nv""".stripMargin)
    assert(rowsOf(tbl) === Seq((1L, 10.0, "base"), (2L, 99.0, "base"), (3L, 30.0, "base")))
  }

  test("file-granular copy-on-write: a merge touching one file leaves the other file physically untouched") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlgroup").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    // two single-file appends → two groups
    Seq((1L, 10.0, "base"), (2L, 20.0, "base")).toDF("k", "v", "src")
      .coalesce(1).writeTo(tbl).append()
    Seq((100L, 1.0, "base"), (101L, 2.0, "base")).toDF("k", "v", "src")
      .coalesce(1).writeTo(tbl).append()
    def dataFiles(): Map[String, Long] =
      new java.io.File(s"$root/t").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = dataFiles()
    assert(before.size == 2)
    val untouchedFile = spark.sql(s"SELECT _file FROM $tbl WHERE k = 100").head.getString(0)
    val touchedFile = spark.sql(s"SELECT _file FROM $tbl WHERE k = 1").head.getString(0)
    assert(untouchedFile != touchedFile)
    // merge touches only keys living in touchedFile
    Seq((1L, 99.0)).toDF("k", "nv").createOrReplaceTempView("rl_group_upd")
    spark.sql(
      s"""MERGE INTO $tbl t USING rl_group_upd c ON t.k = c.k
         |WHEN MATCHED THEN UPDATE SET v = c.nv, src = 'upd'""".stripMargin)
    val after = dataFiles()
    // the untouched group survives AS THE SAME FILE (never read, never
    // rewritten — runtime group filtering pruned it from the rewrite
    // scan and the scoped commit left it alone)
    assert(after.contains(untouchedFile),
      s"untouched group $untouchedFile was rewritten: before=$before after=$after")
    assert(after(untouchedFile) == before(untouchedFile),
      "untouched group was modified in place")
    // snapshot versioning: the touched group is RETIRED, not deleted —
    // it stays on disk for time travel but leaves the live set
    assert(after.contains(touchedFile),
      "the touched group must stay on disk (retired, not deleted)")
    val liveFiles = spark.sql(s"SELECT DISTINCT _file FROM $tbl").collect()
      .map(_.getString(0)).toSet
    assert(!liveFiles.contains(touchedFile), "the touched group must leave the live set")
    assert(liveFiles.contains(untouchedFile))
    // and the table contents are exactly right
    assert(rowsOf(tbl) === Seq((1L, 99.0, "upd"), (2L, 20.0, "base"),
      (100L, 1.0, "base"), (101L, 2.0, "base")))
    // time travel: version 2 (the append before the merge) still reads
    // the PRE-merge table, through the retired file
    val v2 = spark.sql(s"SELECT k, v, src FROM $tbl VERSION AS OF 2 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(v2 === Seq((1L, 10.0, "base"), (2L, 20.0, "base"),
      (100L, 1.0, "base"), (101L, 2.0, "base")))
    // vacuum: keep only the latest snapshot — the retired file goes,
    // the live table is unchanged, and reading v2 now fails LOUDLY
    val deleted = graft.sources.GraftCatalog.vacuum(s"$root/t", keepLast = 1)
    assert(deleted.contains(touchedFile))
    assert(dataFiles().contains(untouchedFile))
    assert(!dataFiles().contains(touchedFile))
    assert(rowsOf(tbl) === Seq((1L, 99.0, "upd"), (2L, 20.0, "base"),
      (100L, 1.0, "base"), (101L, 2.0, "base")))
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF 2").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("vacuum") || m.contains("does not exist")),
      s"vacuumed version must fail loudly, got: $e")
  }

  test("TIMESTAMP AS OF resolves to the snapshot committed at or before the instant") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rltt").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    Seq((1L, 10.0, "base")).toDF("k", "v", "src").coalesce(1).writeTo(tbl).append()
    // stamp v1's manifest into the past so the boundary is unambiguous
    val m1 = new java.io.File(s"$root/t", "_manifest_v000001.json")
    assert(m1.isFile)
    assert(m1.setLastModified(System.currentTimeMillis() - 600000))
    Seq((2L, 20.0, "base")).toDF("k", "v", "src").coalesce(1).writeTo(tbl).append()
    val betweenMs = System.currentTimeMillis() - 300000
    // session timezone is UTC — format the literal in UTC explicitly
    val lit = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(betweenMs))
    val old = spark.sql(s"SELECT k FROM $tbl TIMESTAMP AS OF '$lit'")
      .collect().map(_.getLong(0)).toSet
    assert(old === Set(1L), s"timestamp travel read $old")
    assert(spark.sql(s"SELECT k FROM $tbl").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // the #files inventory resolves the same instant to the same snapshot
    val invOld = spark.sql(
      s"SELECT n_rows FROM graftcat.`$root/t#files` TIMESTAMP AS OF '$lit'")
      .collect().map(_.getLong(0)).toSeq
    assert(invOld === Seq(1L), s"inventory timestamp travel read $invOld")
  }

  test("OPTIMIZE bin-packs small live files into a new snapshot; contents, stats pruning, and history survive") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlopt").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    // six tiny single-file appends = six live files (the streaming-sink
    // small-files shape)
    (0 until 6).foreach { i =>
      Seq((i * 10L, i * 1.0, s"gen$i"), (i * 10L + 1, i * 1.0 + 0.5, s"gen$i"))
        .toDF("k", "v", "src").coalesce(1).writeTo(tbl).append()
    }
    val before = spark.sql(s"SELECT * FROM $tbl").collect().map(_.toSeq).toSet
    def liveFiles(): Set[String] = spark.sql(s"SELECT DISTINCT _file FROM $tbl")
      .collect().map(_.getString(0)).toSet
    val filesBefore = liveFiles()
    assert(filesBefore.size == 6)
    val v = graft.sources.GraftCatalog.optimize(s"$root/t")
    assert(v.isDefined, "six tiny files must need compaction")
    val filesAfter = liveFiles()
    assert(filesAfter.size == 1, s"expected one compacted file, got $filesAfter")
    assert(filesAfter.head.startsWith("compact-"))
    // contents identical, row for row
    assert(spark.sql(s"SELECT * FROM $tbl").collect().map(_.toSeq).toSet === before)
    // merged stats still prune: a k-range filter outside [0, 51] plans 0
    // partitions — STRUCTURAL, not just empty-result: pre-sidecar-fix the
    // compacted file's union-merged entry was lost (its inputs' entries
    // had been dropped by earlier commits), so the file always scanned
    val pruned = spark.sql(s"SELECT * FROM $tbl WHERE k > 1000")
    assert(pruned.rdd.getNumPartitions == 0,
      "out-of-range filter must plan zero partitions off the merged stats")
    assert(pruned.collect().isEmpty)
    // the pre-optimize version still reads through the small originals
    val old = spark.sql(s"SELECT * FROM $tbl VERSION AS OF 6").collect().map(_.toSeq).toSet
    assert(old === before, "pre-optimize snapshot must read identically")
    // vacuum reclaims the six originals; the live table is unchanged
    val deleted = graft.sources.GraftCatalog.vacuum(s"$root/t", keepLast = 1)
    assert(deleted.size == 6, s"expected 6 reclaimed originals, got $deleted")
    // vacuum also prunes the reclaimed files' stats entries — the files
    // are unreadable at every remaining version, so their entries would
    // be dead weight reparsed at each scan forever
    val sidecar = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/t", "_stats.json"))
    assert(deleted.forall(n => !sidecar.contains(n)),
      "vacuumed files' stats entries must be pruned from the sidecar")
    assert(spark.sql(s"SELECT * FROM $tbl").collect().map(_.toSeq).toSet === before)
  }

  test("stats sidecar survives repeated commits: every #history version stays exactly counted") {
    // Regression: ObjectNode.set is <T extends JsonNode> T — the
    // sidecar merge's un-ascribed call made scalac infer T = Nothing
    // and checkcast the DISCARDED return value, throwing after the
    // FIRST existing entry was copied; the defensive catch then dropped
    // every later entry, so any table with >= 2 sidecar entries lost
    // all but its first on each subsequent commit. Three sequential
    // single-file appends make the third commit merge over two existing
    // entries — pre-fix v3's n_rows (and every later version's) read
    // NULL here.
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlstats").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    (0 until 4).foreach { i =>
      Seq((i * 10L, i * 1.0, s"gen$i"), (i * 10L + 1, i + 0.5, s"gen$i"))
        .toDF("k", "v", "src").coalesce(1).writeTo(tbl).append()
    }
    val hist = spark.sql(
      s"SELECT version, n_files, n_rows FROM graftcat.`$root/t#history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(hist.map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(hist.map(_._2) === Seq(1L, 2L, 3L, 4L))
    assert(hist.map(_._3) === Seq(Some(2L), Some(4L), Some(6L), Some(8L)),
      s"every version must stay exactly counted, got $hist")
  }

  test("#files inventory: per-file rows/bytes/bounds; a stats-less legacy file reads NULL") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlfiles").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    Seq((5L, 1.5, "a"), (9L, 2.5, "a")).toDF("k", "v", "src")
      .coalesce(1).writeTo(tbl).append()
    Seq((20L, 3.5, "b")).toDF("k", "v", "src").coalesce(1).writeTo(tbl).append()
    val inv = spark.sql(s"SELECT file, n_bytes, n_rows, " +
        s"bounds['k.min'] AS kmin, bounds['k.max'] AS kmax " +
        s"FROM graftcat.`$root/t#files` ORDER BY CAST(kmin AS BIGINT)").collect()
    assert(inv.length == 2)
    assert(inv.forall(_.getLong(1) > 0L), "n_bytes must be the on-disk size")
    assert(inv.map(r => (r.getLong(2), r.getString(3), r.getString(4))).toSeq ===
      Seq((2L, "5", "9"), (1L, "20", "20")))
    // a raw legacy file dropped into the dir (no sidecar entry, no
    // manifest): invisible while a manifest names the live set — the
    // inventory lists LIVE files only, same rule as every read path
    val legacy = new java.io.File(s"$root/t", "legacy.jsonl")
    java.nio.file.Files.writeString(legacy.toPath,
      "{\"k\": 99, \"v\": 9.9, \"src\": \"x\"}")
    val after = spark.sql(s"SELECT file FROM graftcat.`$root/t#files`").collect()
    assert(after.length == 2, "an unmanifested file must not appear in #files")
    // the inventory time-travels: snapshot v1 holds only the first file
    val v1 = spark.sql(
      s"SELECT n_rows, bounds['k.max'] AS kmax FROM graftcat.`$root/t#files` " +
        "VERSION AS OF 1").collect()
    assert(v1.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "9")),
      "VERSION AS OF must pin the inventory to the snapshot's live set")
    val bad = intercept[Exception](spark.sql(
      s"SELECT * FROM graftcat.`$root/t#files` VERSION AS OF 99").collect())
    assert(bad.getMessage.contains("does not exist"))
  }

  test("CALL graftcat.optimize/vacuum: SQL maintenance procedures drive the same code as the Scala API") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlproc").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    (0 until 4).foreach { i =>
      Seq((i.toLong, i * 1.0, s"gen$i")).toDF("k", "v", "src")
        .coalesce(1).writeTo(tbl).append()
    }
    val before = spark.sql(s"SELECT * FROM $tbl").collect().map(_.toSeq).toSet
    // CALL optimize: four tiny files -> one compacted file, new version reported
    val opt = spark.sql(s"CALL graftcat.optimize('$root/t', ${8L * 1024 * 1024})")
      .collect()
    assert(opt.length == 1 && opt.head.getLong(0) == 5L,
      s"optimize after 4 appends must commit version 5, got ${opt.toSeq}")
    assert(spark.sql(s"SELECT DISTINCT _file FROM $tbl").count() == 1)
    // CALL vacuum: reports exactly the four reclaimed originals
    val vac = spark.sql(s"CALL graftcat.vacuum('$root/t', 1)")
      .collect().map(_.getString(0)).toSet
    assert(vac.size == 4, s"expected 4 reclaimed files, got $vac")
    assert(spark.sql(s"SELECT * FROM $tbl").collect().map(_.toSeq).toSet === before)
    // an unknown procedure fails loudly (Spark wraps the catalog's
    // error in FAILED_TO_LOAD_ROUTINE)
    val e = intercept[Exception](spark.sql(s"CALL graftcat.nonsense('x')"))
    assert(e.getMessage.contains("Failed to load routine") ||
      e.getMessage.contains("no procedure"), s"wrong error: $e")
    // CALL cluster: the SQL face of GraftCatalog.cluster — range files,
    // one new snapshot, contents unchanged
    val clu = spark.sql(s"CALL graftcat.cluster('$root/t', 'k', 2)").collect()
    assert(clu.length == 1 && clu.head.getLong(0) > 5L,
      s"cluster must commit a new snapshot, got ${clu.toSeq}")
    assert(spark.sql(s"SELECT DISTINCT _file FROM $tbl").count() == 2,
      "cluster('k', 2) must produce two range files")
    assert(spark.sql(s"SELECT * FROM $tbl").collect().map(_.toSeq).toSet === before)
  }

  test("expire_snapshots: time-based retention expires old versions, keeps the current and newer-than-cutoff") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlexpire").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    (0 until 3).foreach { i =>
      Seq((i.toLong, i * 1.0, s"gen$i")).toDF("k", "v", "src")
        .coalesce(1).writeTo(tbl).append()
    }
    spark.sql(s"DELETE FROM $tbl WHERE k = 0") // v4: retires gen0's file
    // age the first two manifests a week back; v3/v4 stay "recent"
    val now = System.currentTimeMillis()
    Seq(1, 2).foreach { v =>
      assert(new java.io.File(s"$root/t", f"_manifest_v$v%06d.json")
        .setLastModified(now - 7L * 24 * 3600 * 1000))
    }
    val cutoff = now - 24L * 3600 * 1000 // "expire older than 1 day"
    val deleted = spark.sql(s"CALL graftcat.expire_snapshots('$root/t', $cutoff)")
      .collect().map(_.getString(0)).toSet
    // v1/v2 expired; v3 still references every pre-delete file (incl.
    // gen0's, retired only at v4), so nothing is reclaimable yet
    assert(deleted.isEmpty, s"v3 still references all files, got $deleted")
    val vers = spark.sql(s"SELECT version FROM graftcat.`$root/t#history` ORDER BY version")
      .collect().map(_.getLong(0)).toSeq
    assert(vers === Seq(3L, 4L), s"v1/v2 must be expired, got $vers")
    // expired versions fail loudly; kept ones stay time-travelable
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1").collect())
    assert(e.getMessage.contains("does not exist"), s"wrong error: $e")
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 3").count() == 3L)
    // age v3 too: now gen0's file is referenced by NO kept manifest
    assert(new java.io.File(s"$root/t", f"_manifest_v${3}%06d.json")
      .setLastModified(now - 7L * 24 * 3600 * 1000))
    val deleted2 = graft.sources.GraftCatalog.expireSnapshots(s"$root/t", cutoff)
    assert(deleted2.size == 1, s"gen0's retired file must be reclaimed, got $deleted2")
    // the current version ALWAYS survives, even when older than cutoff
    val all = graft.sources.GraftCatalog.expireSnapshots(s"$root/t", now + 1000000)
    assert(spark.sql(s"SELECT * FROM $tbl").count() == 2L,
      s"current version must survive an all-expiring cutoff (reclaimed $all)")
  }

  test("ALTER TABLE: DROP COLUMN stops projecting without touching data; bad changes are refused") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlalter").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE, src STRING) USING `graft-jsondoc`")
    import spark.implicits._
    Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "src")
      .coalesce(1).writeTo(tbl).append()
    def dataFilesNow(): Map[String, Long] =
      new java.io.File(s"$root/t").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
    val dataBefore = dataFilesNow()
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN src")
    // projection shrank; data untouched (lazy deletion)
    assert(spark.sql(s"SELECT * FROM $tbl").schema.fieldNames.toSeq === Seq("k", "v"))
    assert(spark.sql(s"SELECT * FROM $tbl ORDER BY k").collect().map(_.toSeq).toSeq
      === Seq(Seq(1L, 10.0), Seq(2L, 20.0)))
    assert(dataFilesNow() === dataBefore,
      "DROP COLUMN must not rewrite data files")
    // re-adding a dropped name is REFUSED: the bytes are inert, not
    // erased, so resolving the name again would silently resurface
    // pre-drop values — the tombstone list makes that loud (the
    // field-id problem Iceberg/Delta solve, solved by name here)
    val eRe = intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (src STRING)"))
    assert((Option(eRe.getMessage).toSeq ++
        Option(eRe.getCause).flatMap(c => Option(c.getMessage)).toSeq)
      .exists(_.contains("previously dropped")), s"wrong error: $eRe")
    // a FRESH name is fine, and old files read NULL for it
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (src2 STRING)")
    assert(spark.sql(s"SELECT src2 FROM $tbl").collect().forall(_.isNullAt(0)))
    // refused shapes: unsupported type, duplicate add, unknown drop, rename
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e1 = intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (ts TIMESTAMP)"))
    assert(msgs(e1).exists(_.contains("string fields only")), s"wrong error: $e1")
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (k BIGINT)"))
    assert(msgs(e2).exists(m => m.contains("already exists") || m.contains("ALREADY_EXISTS")),
      s"wrong error: $e2")
    // RENAME is supported since r14 (name mapping) — its own test below
  }

  test("ALTER TABLE RENAME COLUMN: name mapping reads old files in place; filters map too") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlrename").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, qty BIGINT) USING `graft-jsondoc`")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "qty").coalesce(1).writeTo(tbl).append()
    def dataFilesNow(): Map[String, Long] =
      new java.io.File(s"$root/t").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = dataFilesNow()
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN qty TO quantity")
    assert(dataFilesNow() === before, "RENAME must not rewrite data files")
    // post-rename appends write the NEW name; both generations read
    Seq((3L, 30L)).toDF("k", "quantity").coalesce(1).writeTo(tbl).append()
    assert(spark.sql(s"SELECT k, quantity FROM $tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // a pushed filter on the renamed column evaluates against old
    // files' old name (the silent-row-drop shape the mapping closes)
    assert(spark.sql(s"SELECT k FROM $tbl WHERE quantity >= 20 ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(2L, 3L))
    // chained rename keeps the whole alias trail
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN quantity TO qty2")
    assert(spark.sql(s"SELECT sum(qty2) FROM $tbl").head().getLong(0) === 60L)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // the OLD name is tombstoned: re-adding it would resurface every
    // pre-rename value under a new meaning
    val eRe = intercept[Exception](spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (qty BIGINT)"))
    assert(msgs(eRe).exists(_.contains("previously dropped")), s"wrong error: $eRe")
    // renaming ONTO a dropped name is refused for the same reason
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (extra BIGINT)")
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN extra")
    val eOnto = intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN qty2 TO extra"))
    assert(msgs(eOnto).exists(_.contains("previously dropped")), s"wrong error: $eOnto")
  }

  test("a key-clustered view bounds MERGE rewrite amplification; a uniform layout rewrites everything") {
    // the q183 scaladoc's named hazard made measurable: with file-granular
    // copy-on-write, the rewrite set is the files CONTAINING matched keys —
    // clustering the view by key turns a narrow delta into a narrow rewrite,
    // while a uniform key mix forces every file to rewrite
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    import spark.implicits._
    import graft.sources.{GraftCatalog, JsonDocVersions}

    def liveSet(path: String): Set[String] =
      JsonDocVersions.latest(path).map(_._2).getOrElse(Set.empty)
    def mergeDelta(tbl: String): Unit = {
      // delta touches ONLY users 0..99 — one key range of eight
      (0L until 100L).map(u => (u, 1L)).toDF("user_id", "n_events")
        .createOrReplaceTempView("mv_delta")
      spark.sql(s"MERGE INTO $tbl t USING mv_delta d ON t.user_id = d.user_id " +
        "WHEN MATCHED THEN UPDATE SET n_events = t.n_events + d.n_events " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    val all = (0L until 800L).map(u => (u, 10L)).toDF("user_id", "n_events")

    // CLUSTERED view: one seed append, then the cluster() maintenance op
    // range-splits it into 8 contiguous-user files (one atomic snapshot)
    val rootC = java.nio.file.Files.createTempDirectory("graft_mvclu").toString
    val tblC = s"graftcat.`$rootC/mv`"
    spark.sql(s"CREATE TABLE $tblC (user_id BIGINT, n_events BIGINT) USING `graft-jsondoc`")
    all.coalesce(1).writeTo(tblC).append()
    GraftCatalog.cluster(spark, tblC, "user_id", 8)
    val liveC0 = liveSet(s"$rootC/mv")
    assert(liveC0.size == 8, s"cluster() must produce 8 range files, got $liveC0")
    mergeDelta(tblC)
    val rewrittenC = liveC0 -- liveSet(s"$rootC/mv")
    assert(rewrittenC.size == 1,
      s"clustered view: a one-range delta must rewrite exactly 1 of 8 files, rewrote $rewrittenC")

    // UNIFORM view: 8 hash-sliced appends — every file spans the whole
    // key range, so the same delta matches rows in every file
    val rootU = java.nio.file.Files.createTempDirectory("graft_mvuni").toString
    val tblU = s"graftcat.`$rootU/mv`"
    spark.sql(s"CREATE TABLE $tblU (user_id BIGINT, n_events BIGINT) USING `graft-jsondoc`")
    (0 until 8).foreach(r =>
      all.filter($"user_id" % 8 === r).coalesce(1).writeTo(tblU).append())
    val liveU0 = liveSet(s"$rootU/mv")
    assert(liveU0.size == 8)
    mergeDelta(tblU)
    val rewrittenU = liveU0 -- liveSet(s"$rootU/mv")
    assert(rewrittenU.size == 8,
      s"uniform view: the same delta must rewrite all 8 files, rewrote $rewrittenU")

    // amplification differs; the ANSWER does not — both views fold to the
    // same state (users 0..99 at 11, the rest at 10)
    def state(tbl: String): Seq[(Long, Long)] =
      spark.sql(s"SELECT user_id, n_events FROM $tbl ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (0L until 800L).map(u => (u, if (u < 100) 11L else 10L))
    assert(state(tblC) === expected)
    assert(state(tblU) === expected)
  }

  test("ALTER COLUMN TYPE: int->bigint widens in place; narrowing and cross-family are refused") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlwiden").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, q INT) USING `graft-jsondoc`")
    import spark.implicits._
    Seq((1L, 10), (2L, 20)).toDF("k", "q").coalesce(1).writeTo(tbl).append()
    def dataFilesNow(): Map[String, Long] =
      new java.io.File(s"$root/t").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
    val dataBefore = dataFilesNow()
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN q TYPE BIGINT")
    // zero rewrite; declared type widened; old int tokens read as long
    assert(dataFilesNow() === dataBefore, "widening must not rewrite data files")
    assert(spark.sql(s"SELECT q FROM $tbl").schema.head.dataType
      === org.apache.spark.sql.types.LongType)
    // a post-widen append can hold values an INT never could
    Seq((3L, 3000000000L)).toDF("k", "q").coalesce(1).writeTo(tbl).append()
    assert(spark.sql(s"SELECT k, q FROM $tbl ORDER BY k").collect().map(_.toSeq).toSeq
      === Seq(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 3000000000L)))
    // a pushed filter crosses both generations' stats correctly: gen1's
    // file (q in [10,20]) is skippable for q > 100, gen2's is not
    assert(spark.sql(s"SELECT k FROM $tbl WHERE q > 100").collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // narrowing is refused — Spark's own analyzer rejects a non-up-cast
    // before the catalog is even consulted (defense in depth; the
    // catalog's require would catch a programmatic TableChange too)
    val e1 = intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN q TYPE INT"))
    assert(msgs(e1).exists(m => m.contains("safe type widening") ||
      m.contains("NOT_SUPPORTED_CHANGE_COLUMN")), s"wrong error: $e1")
    // long->double is analyzer-PERMITTED (numeric precedence) but loses
    // 64-bit exactness and changes the JSON token shape — OUR refusal
    // path must catch it
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN k TYPE DOUBLE"))
    assert(msgs(e2).exists(_.contains("safe type widening")), s"wrong error: $e2")
    // idempotent replay of the same declared type is accepted
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN q TYPE BIGINT")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) == 3L)
  }

  test("CREATE TABLE persists the declared schema; duplicate CREATE fails; DROP removes it") {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_rlddl").toString
    val tbl = s"graftcat.`$root/t2`"
    spark.sql(s"CREATE TABLE $tbl (a BIGINT, b STRING) USING `graft-jsondoc`")
    // schema resolves from the sidecar even with zero data files
    assert(spark.sql(s"SELECT a, b FROM $tbl").collect().isEmpty)
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $tbl (a BIGINT) USING `graft-jsondoc`"))
    assert(e.getMessage.toLowerCase.contains("already exists"))
    spark.sql(s"DROP TABLE $tbl")
    assert(!new java.io.File(s"$root/t2").exists())
    // DROP refuses — BEFORE deleting anything — when the directory
    // holds a subdirectory (stray checkpoint, or a mistaken parent
    // path): non-atomic delete-then-fail would destroy data while
    // reporting the drop failed
    val tbl3 = s"graftcat.`$root/t3`"
    spark.sql(s"CREATE TABLE $tbl3 (a BIGINT) USING `graft-jsondoc`")
    import spark.implicits._
    Seq(1L).toDF("a").coalesce(1).writeTo(tbl3).append()
    assert(new java.io.File(s"$root/t3/sub").mkdir())
    val eDrop = intercept[Exception](spark.sql(s"DROP TABLE $tbl3"))
    assert((Option(eDrop.getMessage).toSeq ++
        Option(eDrop.getCause).flatMap(c => Option(c.getMessage)).toSeq)
      .exists(_.contains("refusing to drop")), s"wrong error: $eDrop")
    assert(spark.sql(s"SELECT a FROM $tbl3").collect().map(_.getLong(0)).toSeq
      === Seq(1L), "a refused drop must leave the table fully intact")
  }

  test("distributed OPTIMIZE writes byte-identical files to the serial driver fallback") {
    // with an active session each bin is concatenated in an executor
    // task; with none, on the driver. The distribution changes WHERE a
    // bin is built, never what it contains or what it is named
    import graft.sources.{GraftCatalog, JsonDocVersions}
    def stage(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_optdist").toString
      (0 until 12).foreach { i =>
        val lines = (0 until 50).map { r =>
          val id = i * 50L + r
          s"""{"doc_id":$id,"lang":"en","n_chars":${100 + id % 900}}\n"""
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, f"part-$i%05d.jsonl"), lines.mkString)
      }
      dir
    }
    val (dist, serial) = (stage(), stage())
    val target = new java.io.File(dist).listFiles().filter(_.isFile).map(_.length()).sum / 4
    SparkSession.setActiveSession(spark)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    try assert(GraftCatalog.optimize(dist, target).isDefined)
    finally {
      org.apache.spark.ListenerBusSync.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs >= 1, "the distributed leg must build its bins in Spark tasks")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val v = try GraftCatalog.optimize(serial, target)
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
    assert(v.isDefined)
    def live(dir: String): Seq[String] = JsonDocVersions.latest(dir).get._2.toSeq.sorted
    assert(live(dist) === live(serial))
    assert(live(dist).size < 12, s"nothing was compacted: ${live(dist)}")
    live(dist).foreach { n =>
      def bytes(dir: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, n)).toSeq
      assert(bytes(dist) === bytes(serial), s"$n differs between the two paths")
    }
  }

  test("partitioned-clustered and merge-on-read views fold MERGE deltas to the clustered view's state") {
    // the companion of the clustered-vs-uniform case above: layout (a
    // partition-local range clustering, or merge-on-read over the
    // worst-case uniform layout) changes the WRITE SET, never the answer
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    import spark.implicits._
    import graft.sources.{GraftCatalog, JsonDocVersions}
    def liveSet(path: String): Set[String] =
      JsonDocVersions.latest(path).map(_._2).getOrElse(Set.empty)
    def root(tag: String) = java.nio.file.Files.createTempDirectory(s"graft_mvfold_$tag").toString
    val all = (0L until 400L).map(u => (u, u % 4, 10L)).toDF("user_id", "shard", "n_events")
    // two contiguous delta windows; the second runs past the base keys,
    // so it both updates and inserts
    val windows = Seq(100L until 200L, 350L until 450L)
    def mergeInto(tbl: String, e: Int, withShard: Boolean): Unit = {
      windows(e).map(u => (u, u % 4, 1L)).toDF("user_id", "shard", "n_events")
        .createOrReplaceTempView("fold_delta")
      val insert = if (withShard) "INSERT (user_id, shard, n_events) " +
        "VALUES (d.user_id, d.shard, d.n_events)"
        else "INSERT (user_id, n_events) VALUES (d.user_id, d.n_events)"
      spark.sql(s"MERGE INTO $tbl t USING fold_delta d ON t.user_id = d.user_id " +
        "WHEN MATCHED THEN UPDATE SET n_events = t.n_events + d.n_events " +
        s"WHEN NOT MATCHED THEN $insert")
    }

    val rootC = root("clu")
    val tblC = s"graftcat.`$rootC/mv`"
    spark.sql(s"CREATE TABLE $tblC (user_id BIGINT, n_events BIGINT) USING `graft-jsondoc`")
    all.select("user_id", "n_events").coalesce(1).writeTo(tblC).append()
    GraftCatalog.cluster(spark, tblC, "user_id", 8)

    val rootP = root("part")
    val tblP = s"graftcat.`$rootP/mv`"
    spark.sql(s"CREATE TABLE $tblP (user_id BIGINT, shard BIGINT, n_events BIGINT) " +
      "USING `graft-jsondoc` PARTITIONED BY (shard)")
    all.writeTo(tblP).append()
    GraftCatalog.cluster(spark, tblP, "user_id", 8, path = s"$rootP/mv")

    val rootM = root("mor")
    val tblM = s"graftcat.`$rootM/mv`"
    spark.sql(s"CREATE TABLE $tblM (user_id BIGINT, n_events BIGINT) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    (0 until 8).foreach(r => all.filter($"user_id" % 8 === r)
      .select("user_id", "n_events").coalesce(1).writeTo(tblM).append())

    windows.indices.foreach { e =>
      mergeInto(tblC, e, withShard = false)
      mergeInto(tblP, e, withShard = true)
      val before = liveSet(s"$rootM/mv")
      mergeInto(tblM, e, withShard = false)
      assert((before -- liveSet(s"$rootM/mv")).isEmpty,
        s"epoch $e: a merge-on-read MERGE must rewrite no data file")
    }
    def state(tbl: String): Seq[(Long, Long)] =
      spark.sql(s"SELECT user_id, n_events FROM $tbl ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (0L until 450L).map { u =>
      (u, if (u >= 400) 1L else if (windows.exists(_.contains(u))) 11L else 10L)
    }
    assert(state(tblC) === expected)
    assert(state(tblP) === expected)
    assert(state(tblM) === expected)
  }
}
