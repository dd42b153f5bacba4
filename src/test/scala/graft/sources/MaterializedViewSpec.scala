package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** MATERIALIZED VIEWS as catalog DDL (r17, [[GraftMv]]): CREATE/DROP
  * MATERIALIZED VIEW + `CALL refresh_mv` + the `#mvstate` staleness
  * table. Pins: the folded view equals a full recomputation under
  * row-level DML (deletes, updates, inserts; vanished groups, NULL
  * group keys, all-NULL sums, the WHERE predicate), MIN/MAX folds
  * recompute ONLY delete-affected groups (untouched groups fold, and
  * their backing rows are never rewritten), refresh is
  * exactly-once (re-CALL is a no-op; the ledger, not the definition
  * file, is the watermark), every non-incrementalizable body refuses
  * at CREATE with the reason, DML through the MV refuses, name
  * collisions refuse in all directions, and the backing table never
  * leaks (hidden columns, SHOW TABLES). */
class MaterializedViewSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // every `sortedRows(body)` here is a RECOMPUTE baseline — the MV
    // rewrite (MvRewriteSpec's subject) would answer a fresh view's
    // body from the view itself and make the comparisons vacuous
    .config("spark.graft.mv.rewrite.enabled", "false")
    .withExtensions(new graft.plans.GraftExtensions)
    .appName("materialized-view-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshWarehouse(): String = {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft_mv_wh").toString
    spark.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    wh
  }

  private def sortedRows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq
      .map(r => (0 until r.length).map(i => r.get(i)))
      .sortBy(_.mkString("|"))

  test("fold under DML == recompute: deletes, updates, vanish, NULL keys, NULL sums, WHERE") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.db")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_base").toString
    val base = s"graftcat.`$root/b`"
    spark.sql(s"CREATE TABLE $base (k BIGINT, grp STRING, x BIGINT) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    // v1: groups a, b, gone, z (x all NULL), one NULL group key, and a
    // WHERE-excluded row (k <= 0)
    spark.sql(s"INSERT INTO $base VALUES " +
      "(1, 'a', 10), (2, 'a', 20), (3, 'a', NULL), " +
      "(4, 'b', 7), (5, 'gone', 100), (6, 'gone', 200), " +
      "(7, 'z', NULL), (8, 'z', NULL), (9, NULL, 42), (-1, 'a', 999)")
    val body = s"SELECT grp, count(*) AS n, count(x) AS nx, sum(x) AS sx, " +
      s"avg(x) AS ax FROM $base WHERE k > 0 GROUP BY grp"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.db.m AS $body")
    assert(sortedRows("SELECT * FROM graftcat.db.m") === sortedRows(body),
      "the initial materialization must equal a recompute")
    // staleness: current right after create
    val st0 = spark.sql("SELECT last_folded_version, base_head, stale_commits " +
      "FROM graftcat.db.`m#mvstate`").collect()(0)
    assert(st0.getLong(2) === 0L, s"fresh MV must report zero stale commits: $st0")

    // v2: inserts (new group + existing), v3: vanish 'gone', v4: update
    spark.sql(s"INSERT INTO $base VALUES (10, 'c', 5), (11, 'a', 1), (12, NULL, 8)")
    spark.sql(s"DELETE FROM $base WHERE grp = 'gone'")
    spark.sql(s"UPDATE $base SET x = x + 1000 WHERE k = 4")
    val stale = spark.sql("SELECT stale_commits FROM graftcat.db.`m#mvstate`")
      .collect()(0).getLong(0)
    assert(stale === 3L, s"three unfolded commits expected, got $stale")

    // merge-on-read backing: the fold lands DVs + inserts, rewriting
    // no prior backing file (PERF.md "AnnIndex refresh": the amplification lesson)
    val backing = s"$wh/db/m.mvdata"
    val beforeFold = JsonDocVersions.latest(backing).get._2
    val ref = spark.sql("CALL graftcat.refresh_mv('db.m')").collect()(0)
    assert(ref.getLong(0) === 2L && ref.getLong(1) === 4L,
      s"refresh must fold (v2, v4]: $ref")
    val afterFold = JsonDocVersions.latest(backing).get._2
    assert(afterFold.intersect(beforeFold) === beforeFold,
      "a MOR fold must keep every prior backing file")
    assert(sortedRows("SELECT * FROM graftcat.db.m") === sortedRows(body),
      "the folded view must equal a recompute after deletes/updates/inserts")
    // the vanished group is GONE, not a zero row
    assert(spark.sql("SELECT * FROM graftcat.db.m WHERE grp = 'gone'").isEmpty)
    // all-NULL sum renders NULL exactly like the recompute
    val z = spark.sql("SELECT n, nx, sx, ax FROM graftcat.db.m WHERE grp = 'z'")
      .collect()(0)
    assert(z.getLong(0) === 2L && z.getLong(1) === 0L && z.isNullAt(2) && z.isNullAt(3))
    // NULL group key is a real group
    assert(spark.sql("SELECT n FROM graftcat.db.m WHERE grp IS NULL")
      .collect()(0).getLong(0) === 2L)
    // second refresh: nothing to fold, and the state is current.
    // Backquoted segments address the same view (r17 advice: the name
    // goes through parseMultipartIdentifier like the DDL path, not a
    // naive split on '.')
    val ref2 = spark.sql("CALL graftcat.refresh_mv('`db`.`m`')").collect()(0)
    assert(ref2.getLong(0) > ref2.getLong(1), s"no-op refresh expected: $ref2")
    assert(spark.sql("SELECT stale_commits FROM graftcat.db.`m#mvstate`")
      .collect()(0).getLong(0) === 0L)
    // hidden fold counters never escape the read surface
    assert(spark.sql("SELECT * FROM graftcat.db.m").columns.toSeq ===
      Seq("grp", "n", "nx", "sx", "ax"))
  }

  test("MIN/MAX under deletes: affected groups recompute, untouched groups fold") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.db2")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_mm").toString
    val base = s"graftcat.`$root/ev`"
    spark.sql(s"CREATE TABLE $base (user_id BIGINT, v BIGINT) USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $base VALUES (1, 10), (2, 20), (1, 5)")
    val body = s"SELECT user_id, count(*) AS n, min(v) AS lo, max(v) AS hi " +
      s"FROM $base GROUP BY user_id"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.db2.mm AS $body")
    spark.sql(s"INSERT INTO $base VALUES (1, 1), (3, 30)")
    spark.sql(s"INSERT INTO $base VALUES (2, 200), (3, 3)")
    spark.sql("CALL graftcat.refresh_mv('db2.mm')")
    assert(sortedRows("SELECT * FROM graftcat.db2.mm") === sortedRows(body),
      "append-only min/max folds must equal recompute")

    // a range with a deleted MAXIMUM (user 2), a vanished group
    // (user 3), a group created and partially deleted WITHIN the range
    // (user 4), and a pure-insert group that must keep folding (user 1)
    val backing = s"$wh/db2/mm.mvdata"
    spark.sql(s"DELETE FROM $base WHERE v = 200")
    spark.sql(s"INSERT INTO $base VALUES (4, 40), (4, 44), (1, 0)")
    spark.sql(s"DELETE FROM $base WHERE user_id = 3 OR v = 44")
    spark.sql("CALL graftcat.refresh_mv('db2.mm')")
    assert(sortedRows("SELECT * FROM graftcat.db2.mm") === sortedRows(body),
      "a delete-range refresh must equal the recompute")
    // the deleted maximum is un-folded, the vanished group is gone,
    // the within-range group keeps its surviving row
    assert(spark.sql("SELECT hi FROM graftcat.db2.mm WHERE user_id = 2")
      .collect()(0).getLong(0) === 20L)
    assert(spark.sql("SELECT * FROM graftcat.db2.mm WHERE user_id = 3").isEmpty)
    assert(spark.sql("SELECT n, lo, hi FROM graftcat.db2.mm WHERE user_id = 4")
      .collect()(0).toSeq === Seq(1L, 40L, 40L))

    // and a later append-only range folds again without recompute
    spark.sql(s"INSERT INTO $base VALUES (2, 7), (5, 50)")
    spark.sql("CALL graftcat.refresh_mv('db2.mm')")
    assert(sortedRows("SELECT * FROM graftcat.db2.mm") === sortedRows(body),
      "append-only folding must still work after a recompute range")

    // affected-ONLY: a range whose single delete touches user 2 must
    // rewrite user 2's backing row and nothing else — the backing
    // table's own change feed for the fold commit carries a
    // before-image delete for user 2 alone (every MERGE update on the
    // MOR backing shows as delete+insert, so an untouched group
    // appearing here would mean its state was rewritten)
    val onlyFrom = JsonDocVersions.latestVersion(backing).getOrElse(0) + 1
    spark.sql(s"DELETE FROM $base WHERE v = 7")
    spark.sql("CALL graftcat.refresh_mv('db2.mm')")
    assert(sortedRows("SELECT * FROM graftcat.db2.mm") === sortedRows(body))
    val foldChanges = spark.read.format("graft-jsondoc")
      .option("readChanges", "true")
      .option("startingVersion", onlyFrom.toString)
      .option("path", backing).load()
    val replacedKeys = foldChanges
      .filter(org.apache.spark.sql.functions.col("_change_type") === "delete")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(replacedKeys === Set(2L),
      s"only the delete-affected group may be rewritten, got $replacedKeys")
  }

  test("MIN/MAX recompute honors the WHERE predicate on both sides of the split") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.db2w")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_mmw").toString
    val base = s"graftcat.`$root/ev`"
    spark.sql(s"CREATE TABLE $base (user_id BIGINT, v BIGINT) USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $base VALUES (1, 10), (1, -5), (2, 20), (2, NULL)")
    val body = s"SELECT user_id, count(*) AS n, min(v) AS lo, max(v) AS hi " +
      s"FROM $base WHERE v >= 0 GROUP BY user_id"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.db2w.mm AS $body")
    // the deleted row FAILS the WHERE: its group never contributed it,
    // so the range may fold without recomputing (and must stay exact)
    spark.sql(s"DELETE FROM $base WHERE v = -5")
    spark.sql(s"INSERT INTO $base VALUES (1, 3)")
    spark.sql("CALL graftcat.refresh_mv('db2w.mm')")
    assert(sortedRows("SELECT * FROM graftcat.db2w.mm") === sortedRows(body))
    // a WHERE-passing delete recomputes its group against the SAME
    // predicate (group 2 keeps only its NULL row -> vanishes: count
    // over v>=0 is zero)
    spark.sql(s"DELETE FROM $base WHERE v = 20")
    spark.sql("CALL graftcat.refresh_mv('db2w.mm')")
    assert(sortedRows("SELECT * FROM graftcat.db2w.mm") === sortedRows(body))
    assert(spark.sql("SELECT * FROM graftcat.db2w.mm WHERE user_id = 2").isEmpty,
      "a group whose WHERE-passing rows all vanished must leave the view")
  }

  test("continuous refresh: the feed stream drives folds; redelivery never double-folds") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.auto")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_auto").toString
    val base = s"graftcat.`$root/b`"
    spark.sql(s"CREATE TABLE $base (k BIGINT, g STRING) USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $base VALUES (1, 'a'), (2, 'b')")
    val body = s"SELECT g, count(*) AS n, sum(k) AS sk FROM $base GROUP BY g"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.auto.m AS $body")
    val cat = spark.sessionState.catalogManager.catalog("graftcat")
      .asInstanceOf[GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("auto"), "m")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mv_auto_ck").toString
    val qs = GraftMv.autoRefresh(spark, "graftcat", cat.mvDefFileOf(ident),
      cat.mvDataDirOf(ident), "m", ckpt)
    try {
      spark.sql(s"INSERT INTO $base VALUES (3, 'a'), (4, 'c')")
      spark.sql(s"DELETE FROM $base WHERE k = 2")
      qs.foreach(_.processAllAvailable())
      assert(spark.sql("SELECT stale_commits FROM graftcat.auto.`m#mvstate`")
        .collect()(0).getLong(0) === 0L, "the stream must have folded to current")
      assert(sortedRows("SELECT * FROM graftcat.auto.m") === sortedRows(body))
    } finally qs.foreach(_.stop())
    // redelivery: a FRESH checkpoint replays the whole feed as signals;
    // the ledger makes every replayed fold a no-op (exactly-once lives
    // in the fold, not the stream)
    val before = sortedRows("SELECT * FROM graftcat.auto.m")
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_mv_auto_ck2").toString
    val qs2 = GraftMv.autoRefresh(spark, "graftcat", cat.mvDefFileOf(ident),
      cat.mvDataDirOf(ident), "m", ckpt2)
    try {
      qs2.foreach(_.processAllAvailable())
      assert(sortedRows("SELECT * FROM graftcat.auto.m") === before,
        "replayed signals must never double-fold")
      // and the stream keeps following NEW commits
      spark.sql(s"INSERT INTO $base VALUES (5, 'c')")
      qs2.foreach(_.processAllAvailable())
      assert(sortedRows("SELECT * FROM graftcat.auto.m") === sortedRows(body))
      assert(spark.sql("SELECT stale_commits FROM graftcat.auto.`m#mvstate`")
        .collect()(0).getLong(0) === 0L)
    } finally qs2.foreach(_.stop())
  }

  test("base lineage edges: OPTIMIZE folds nothing; rollback folds the diff; rename fails loudly") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.edges")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_edge").toString
    val base = s"graftcat.`$root/b`"
    spark.sql(s"CREATE TABLE $base (k BIGINT, g STRING) USING `graft-jsondoc`")
    spark.sql(s"INSERT INTO $base VALUES (1, 'a'), (2, 'b')") // v1
    val body = s"SELECT g, count(*) AS n, sum(k) AS sk FROM $base GROUP BY g"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.edges.m AS $body")
    // OPTIMIZE is a logical identity: the feed emits nothing, the
    // refresh advances the watermark without touching the view
    spark.sql(s"INSERT INTO $base VALUES (3, 'a')") // v2
    spark.sql(s"CALL graftcat.optimize('$root/b', ${32 * 1024 * 1024})") // v3
    spark.sql("CALL graftcat.refresh_mv('edges.m')")
    assert(sortedRows("SELECT * FROM graftcat.edges.m") === sortedRows(body))
    assert(spark.sql("SELECT stale_commits FROM graftcat.edges.`m#mvstate`")
      .collect()(0).getLong(0) === 0L)
    // ROLLBACK is a content commit: the feed emits the restore diff and
    // the fold lands back at the restored state
    spark.sql(s"CALL graftcat.rollback('$root/b', 1)") // v4 = v1's content
    spark.sql("CALL graftcat.refresh_mv('edges.m')")
    assert(sortedRows("SELECT * FROM graftcat.edges.m") === sortedRows(body),
      "after a base rollback the folded view must equal the recompute again")
    // INSERT OVERWRITE (truncate-replace) is a content commit: the feed
    // emits the full delete+insert diff and the fold lands the
    // replacement exactly
    spark.sql(s"INSERT OVERWRITE $base VALUES (10, 'a'), (20, 'c')")
    spark.sql("CALL graftcat.refresh_mv('edges.m')")
    assert(sortedRows("SELECT * FROM graftcat.edges.m") === sortedRows(body),
      "a base overwrite must fold to the replaced state")
    // a SECOND MV on the same base keeps its own watermark
    spark.sql("CREATE MATERIALIZED VIEW graftcat.edges.m2 AS " +
      s"SELECT g, count(*) AS n FROM $base GROUP BY g")
    spark.sql(s"INSERT INTO $base VALUES (7, 'z')")
    spark.sql("CALL graftcat.refresh_mv('edges.m2')")
    assert(spark.sql("SELECT stale_commits FROM graftcat.edges.`m#mvstate`")
      .collect()(0).getLong(0) === 1L)
    assert(spark.sql("SELECT stale_commits FROM graftcat.edges.`m2#mvstate`")
      .collect()(0).getLong(0) === 0L)
    // SHOW MATERIALIZED VIEWS: the namespace's staleness listing
    val listed = spark.sql("SHOW MATERIALIZED VIEWS IN graftcat.edges").collect()
      .map(r => (r.getString(1), r.getLong(5))).toMap
    assert(listed === Map("m" -> 1L, "m2" -> 0L), s"listing drifted: $listed")
    spark.sql("CALL graftcat.refresh_mv('edges.m')") // catch m up for the rename leg
    // renaming a column the fold plan references fails the NEXT refresh
    // loudly (the stored plan names the creation-time column) — never a
    // silent mis-bind
    spark.sql(s"ALTER TABLE $base RENAME COLUMN g TO grp")
    spark.sql(s"INSERT INTO $base VALUES (9, 'z')") // v5, new shape
    val e = intercept[Exception] { spark.sql("CALL graftcat.refresh_mv('edges.m')") }
    assert(e.getMessage.contains("g") || e.getMessage.toLowerCase.contains("resolve"),
      s"a renamed fold column must fail loudly: ${e.getMessage.take(200)}")
    // the view itself still reads (stale, at its last folded state:
    // groups a, c, z from the overwrite + the z insert)
    assert(spark.sql("SELECT * FROM graftcat.edges.m").count() === 3L)
  }

  test("folds over EXISTS_DEFAULT columns: the feed serves frozen defaults, fold == recompute") {
    // the r17 advice fix composed with the MV: pre-add rows READ the
    // frozen ADD COLUMN default, the change feed emits the same values
    // (sidecar-authoritative), so grouping or filtering on a defaulted
    // column folds exactly
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.dflt")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_dflt").toString
    val base = s"graftcat.`$root/b`"
    spark.sql(s"CREATE TABLE $base (k BIGINT) USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $base VALUES (1), (2), (3)") // pre-add
    spark.sql(s"ALTER TABLE $base ADD COLUMNS (src STRING DEFAULT 'legacy')")
    spark.sql(s"INSERT INTO $base VALUES (4, 'new')")
    val body = s"SELECT src, count(*) AS n, sum(k) AS sk FROM $base GROUP BY src"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dflt.md AS $body")
    spark.sql(s"DELETE FROM $base WHERE k = 2") // a pre-add row leaves its group
    spark.sql(s"INSERT INTO $base VALUES (5, 'new')")
    spark.sql("CALL graftcat.refresh_mv('dflt.md')")
    assert(sortedRows("SELECT * FROM graftcat.dflt.md") === sortedRows(body),
      "grouping on a defaulted column must fold exactly")
    // WHERE on the defaulted column prices the same values
    spark.sql("CREATE MATERIALIZED VIEW graftcat.dflt.mw AS " +
      s"SELECT k, count(*) AS n FROM $base WHERE src = 'legacy' GROUP BY k")
    spark.sql(s"DELETE FROM $base WHERE k = 1")
    spark.sql("CALL graftcat.refresh_mv('dflt.mw')")
    assert(spark.sql("SELECT k FROM graftcat.dflt.mw ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("expression group keys: time-bucketed fold under DML == recompute") {
    freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.dbek")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_ek").toString
    val base = s"graftcat.`$root/ev`"
    spark.sql(s"CREATE TABLE $base (us BIGINT, amt BIGINT, k BIGINT) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    val H = 3600000000L // an hour of micros
    // v1: three buckets, a WHERE-excluded row, a NULL amt
    spark.sql(s"INSERT INTO $base VALUES " +
      s"(${H + 1}, 10, 1), (${H + 2}, 20, 2), (${2 * H + 1}, NULL, 3), " +
      s"(${2 * H + 2}, 7, 4), (${3 * H + 1}, 100, 5), (${3 * H + 2}, 1, -1)")
    // MIN in the body: deletes must route through the keyed
    // affected-bucket recompute, not the pure fold
    val body = s"SELECT us DIV $H AS hour_bucket, count(*) AS n, " +
      s"sum(amt) AS s, min(amt) AS lo FROM $base WHERE k > 0 " +
      s"GROUP BY us DIV $H"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbek.hourly AS $body")
    assert(sortedRows("SELECT * FROM graftcat.dbek.hourly") === sortedRows(body),
      "the initial keyed materialization must equal a recompute")
    // v2: append-only fold (a NEW bucket + an existing one)
    spark.sql(s"INSERT INTO $base VALUES (${4 * H + 1}, 50, 6), (${H + 3}, 5, 7)")
    spark.sql("CALL graftcat.refresh_mv('dbek.hourly')").collect()
    assert(sortedRows("SELECT * FROM graftcat.dbek.hourly") === sortedRows(body),
      "the append fold over the computed key must equal a recompute")
    // v3: delete the minimum of bucket 1 AND vanish bucket 3 entirely;
    // v4: inserts in the same refresh range
    spark.sql(s"DELETE FROM $base WHERE amt >= 100 OR (us DIV $H = 1 AND amt = 5)")
    spark.sql(s"INSERT INTO $base VALUES (${2 * H + 3}, 2, 8)")
    spark.sql("CALL graftcat.refresh_mv('dbek.hourly')").collect()
    val got = sortedRows("SELECT hour_bucket, n, s, lo FROM graftcat.dbek.hourly")
    assert(got === sortedRows(body),
      "the mixed fold/recompute over the computed key must equal a recompute")
    assert(!got.exists(_.head == 3L), s"the vanished bucket leaked: $got")

    // refusals: an unSELECTed expression key, a nondeterministic key,
    // an unstorable key type, and an alias shadowing a source column
    def refuses(bodySql: String, msgPart: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbek.bad AS $bodySql")
      }
      assert(e.getMessage.contains(msgPart), s"got: ${e.getMessage}")
    }
    refuses(s"SELECT count(*) AS n FROM $base GROUP BY us DIV $H",
      "must appear in the SELECT list with an alias")
    // a nondeterministic key: the analyzer pulls rand() into a Project
    // below the Aggregate, so the single-relation check refuses it
    refuses(s"SELECT CAST(rand() * 10 AS BIGINT) AS r, count(*) AS n " +
      s"FROM $base GROUP BY CAST(rand() * 10 AS BIGINT)",
      "graft-jsondoc table")
    refuses(s"SELECT array(us) AS a8, count(*) AS n FROM $base GROUP BY array(us)",
      "storable type")
    refuses(s"SELECT us DIV $H AS amt, count(*) AS n FROM $base GROUP BY us DIV $H",
      "collides with a source column")
  }

  test("COUNT(DISTINCT): the multiplicity state folds any DML like a recompute") {
    freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.dbcd")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_cd").toString
    val base = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $base (k BIGINT, grp STRING, tag STRING, x BIGINT) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    // v1: duplicates of a value within a group ('a' has two 'red'),
    // a NULL tag (never counted), a NULL group key, a WHERE-excluded
    // row, a group that will vanish
    spark.sql(s"INSERT INTO $base VALUES " +
      "(1, 'a', 'red', 10), (2, 'a', 'red', 20), (3, 'a', 'blue', 30), " +
      "(4, 'b', 'red', 40), (5, 'b', NULL, 50), " +
      "(6, 'gone', 'red', 60), (7, NULL, 'green', 70), (-1, 'a', 'violet', 80)")
    val body = s"SELECT grp, count(*) AS n, count(DISTINCT tag) AS dt, " +
      s"count(DISTINCT x) AS dx, sum(x) AS sx FROM $base WHERE k > 0 GROUP BY grp"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbcd.m AS $body")
    assert(sortedRows("SELECT * FROM graftcat.dbcd.m") === sortedRows(body),
      "the initial distinct materialization must equal a recompute")
    // the WHERE-excluded 'violet' must not have counted
    assert(spark.sql("SELECT dt FROM graftcat.dbcd.m WHERE grp = 'a'")
      .collect()(0).getLong(0) === 2L)

    // v2: one 'red' leaves 'a' (mult 2→1: count UNchanged), and a new
    // value arrives in 'b'
    spark.sql(s"DELETE FROM $base WHERE k = 1")
    spark.sql(s"INSERT INTO $base VALUES (8, 'b', 'blue', 55)")
    spark.sql("CALL graftcat.refresh_mv('dbcd.m')").collect()
    assert(sortedRows("SELECT * FROM graftcat.dbcd.m") === sortedRows(body),
      "a mult-decrement fold must equal a recompute")
    assert(spark.sql("SELECT dt FROM graftcat.dbcd.m WHERE grp = 'a'")
      .collect()(0).getLong(0) === 2L, "2→1 multiplicity must not change the count")

    // v3/v4: the LAST 'red' leaves 'a' (count drops), an UPDATE
    // migrates a value in 'b' (delete+insert in the feed), the 'gone'
    // group vanishes, and a same-value re-insert arrives in one range
    spark.sql(s"DELETE FROM $base WHERE k = 2 OR grp = 'gone'")
    spark.sql(s"UPDATE $base SET tag = 'amber' WHERE k = 4")
    spark.sql(s"INSERT INTO $base VALUES (9, 'a', 'blue', 90), (10, 'c', 'red', 5)")
    spark.sql("CALL graftcat.refresh_mv('dbcd.m')").collect()
    val got = sortedRows("SELECT grp, n, dt, dx, sx FROM graftcat.dbcd.m")
    assert(got === sortedRows(body),
      "the transition fold must equal a recompute under mixed DML")
    assert(spark.sql("SELECT dt FROM graftcat.dbcd.m WHERE grp = 'a'")
      .collect()(0).getLong(0) === 1L, "losing the last carrier must drop the count")
    assert(!got.exists(_.head == "gone"), s"the vanished group leaked: $got")
    // an all-NULL-tag group counts zero, not NULL (count semantics)
    spark.sql(s"INSERT INTO $base VALUES (11, 'z', NULL, 1)")
    spark.sql("CALL graftcat.refresh_mv('dbcd.m')").collect()
    assert(spark.sql("SELECT dt FROM graftcat.dbcd.m WHERE grp = 'z'")
      .collect()(0).getLong(0) === 0L)
    assert(sortedRows("SELECT * FROM graftcat.dbcd.m") === sortedRows(body))
    // re-CALL: exactly-once no-op
    val ref = spark.sql("CALL graftcat.refresh_mv('dbcd.m')").collect()(0)
    assert(ref.getLong(0) > ref.getLong(1), s"no-op refresh expected: $ref")
    // r18 review: an MV created on an EMPTY base (no dist version to
    // pin) must count the first fold's 0→live transitions against the
    // EMPTY pre-state, not the post-merge dist
    spark.sql(s"CREATE TABLE graftcat.`$root/e` (g STRING, t STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql("CREATE MATERIALIZED VIEW graftcat.dbcd.onempty AS " +
      s"SELECT g, count(DISTINCT t) AS dt FROM graftcat.`$root/e` GROUP BY g")
    spark.sql(s"INSERT INTO graftcat.`$root/e` VALUES ('a', 'red'), ('a', 'red'), " +
      "('a', 'blue'), ('b', 'red')")
    spark.sql("CALL graftcat.refresh_mv('dbcd.onempty')").collect()
    assert(sortedRows("SELECT g, dt FROM graftcat.dbcd.onempty") ===
      Seq(Seq("a", 2L), Seq("b", 1L)),
      "the first fold on an empty-created view must count 0->live transitions")

    // r18 review: CRASH between the dist merge and the main merge —
    // the replay must adjudicate the crashed range (post - delta
    // transitions) and then continue, never double-folding dist
    spark.sql(s"INSERT INTO $base VALUES (20, 'a', 'teal', 7)")
    val crash = intercept[Exception] {
      GraftMv.crashAfterDistMerge.withValue(true) {
        spark.sql("CALL graftcat.refresh_mv('dbcd.m')").collect()
      }
    }
    assert(crash.getMessage.contains("test seam"), s"got: ${crash.getMessage}")
    // more DML lands BEFORE the replay (the worst window)
    spark.sql(s"INSERT INTO $base VALUES (21, 'a', 'teal', 8), (22, 'c', 'lime', 9)")
    spark.sql("CALL graftcat.refresh_mv('dbcd.m')").collect()
    assert(sortedRows("SELECT * FROM graftcat.dbcd.m") === sortedRows(body),
      "the crash replay must adjudicate the crashed range exactly")
    assert(spark.sql("SELECT dt FROM graftcat.dbcd.m WHERE grp = 'a'")
      .collect()(0).getLong(0) === 2L,
      "teal must count once across the crashed and replayed ranges")

    // the dist side tables are internal storage: never listed
    assert(!spark.sql("SHOW TABLES IN graftcat.dbcd").collect()
      .exists(_.getString(1).contains("mvdist")), "dist tables leaked")
    // DROP removes them from disk
    spark.sql("DROP MATERIALIZED VIEW graftcat.dbcd.m")
    val wh2 = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
    // only m's dist tables sweep — the sibling onempty view keeps its own
    assert(!Option(new java.io.File(s"$wh2/dbcd").listFiles())
      .getOrElse(Array.empty).exists(_.getName.startsWith("m.mvdist_")),
      "DROP must sweep the dist tables")

    // refusals: DISTINCT with MIN/MAX, non-count DISTINCT, join DISTINCT
    def refuses(bodySql: String, msgPart: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbcd.bad AS $bodySql")
      }
      assert(e.getMessage.contains(msgPart), s"got: ${e.getMessage}")
    }
    refuses(s"SELECT grp, count(DISTINCT tag) AS dt, min(x) AS lo " +
      s"FROM $base GROUP BY grp", "split")
    refuses(s"SELECT grp, sum(DISTINCT x) AS sd FROM $base GROUP BY grp",
      "COUNT(DISTINCT col)")
  }

  test("non-incrementalizable bodies refuse at CREATE with the reason") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.db3")
    val root = java.nio.file.Files.createTempDirectory("graft_mv_ref").toString
    val t = s"graftcat.`$root/t`"
    val u = s"graftcat.`$root/u`"
    spark.sql(s"CREATE TABLE $t (k BIGINT, g STRING, x BIGINT) USING `graft-jsondoc`")
    spark.sql(s"CREATE TABLE $u (k BIGINT) USING `graft-jsondoc`")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 1)")
    def refuse(body: String, needle: String): Unit = {
      val e = intercept[Exception] {
        spark.sql(s"CREATE MATERIALIZED VIEW graftcat.db3.bad AS $body")
      }
      assert(e.getMessage.contains(needle), s"body [$body]: ${e.getMessage}")
      assert(!new java.io.File(s"$wh/db3/bad.mv.json").exists(),
        "a refused CREATE must leave nothing behind")
    }
    // INNER equi joins fold since r17 (MvJoinSpec); outer joins still refuse
    refuse(s"SELECT t.g, count(*) AS n FROM $t t LEFT JOIN $u u ON t.k = u.k GROUP BY t.g",
      "INNER")
    refuse(s"SELECT g, count(*) AS n FROM (SELECT g FROM $t UNION ALL SELECT g FROM $t) GROUP BY g",
      "graft-jsondoc table")
    // COUNT(DISTINCT col) folds since r18 (the multiplicity state) —
    // this body now CREATES; other DISTINCT aggregates still refuse
    spark.sql("CREATE MATERIALIZED VIEW graftcat.db3.okdist AS " +
      s"SELECT g, count(DISTINCT x) AS n FROM $t GROUP BY g")
    spark.sql("DROP MATERIALIZED VIEW graftcat.db3.okdist")
    refuse(s"SELECT g, avg(DISTINCT x) AS n FROM $t GROUP BY g",
      "COUNT(DISTINCT col)")
    refuse(s"SELECT g, count(*) AS n FROM $t GROUP BY g HAVING count(*) > 1",
      "single aggregate")
    refuse(s"SELECT g, count(*) AS n FROM $t GROUP BY g ORDER BY g",
      "single aggregate")
    // expression keys fold since r18 (the time-bucket shape) — this
    // body now CREATES; covered by the expression-group-keys test
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.db3.okkey AS " +
      s"SELECT substr(g, 1, 1) AS g1, count(*) AS n FROM $t GROUP BY substr(g, 1, 1)")
    spark.sql("DROP MATERIALIZED VIEW graftcat.db3.okkey")
    // sum over a STRING column: the analyzer's implicit string→double
    // cast hits the cast refusal (r17 — casts never silently strip)
    refuse(s"SELECT g, sum(g) AS sg FROM $t GROUP BY g", "casts")
    // r17 self-review: an explicit cast must refuse, not silently strip
    // (folding SUM(CAST(x AS BIGINT)) as SUM(x) changes the values);
    // COUNT(NULL) is the constant 0, not COUNT(*)
    refuse(s"SELECT g, sum(CAST(x AS DOUBLE)) AS sx FROM $t GROUP BY g", "casts")
    refuse(s"SELECT g, count(NULL) AS n FROM $t GROUP BY g", "plain base columns")
    refuse(s"SELECT g, count(*) AS n FROM $t WHERE rand() < 0.5 GROUP BY g",
      "deterministic")
    refuse(s"SELECT g, count(*) AS n FROM $t WHERE k IN (SELECT k FROM $u) GROUP BY g",
      "subquery")
    refuse(s"SELECT g, count(*) AS n FROM $t VERSION AS OF 1 GROUP BY g",
      "time-travel")
    refuse(s"SELECT count(*) AS n FROM $t", "GROUP BY")
    refuse(s"SELECT g, first(x) AS f FROM $t GROUP BY g", "not incrementalizable")
    // a non-graft base (temp view over an in-memory plan)
    spark.range(5).createOrReplaceTempView("mem")
    refuse("SELECT id, count(*) AS n FROM mem GROUP BY id", "graft-jsondoc table")
    // a non-graft catalog target refuses at the DDL site
    val e = intercept[Exception] {
      spark.sql("CREATE MATERIALIZED VIEW spark_catalog.default.x AS " +
        s"SELECT g, count(*) AS n FROM $t GROUP BY g")
    }
    assert(e.getMessage.contains("only graft catalogs"), e.getMessage)
  }

  test("DDL semantics: IF NOT EXISTS, DROP, collisions, DML refusal, no backing leak") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.db4")
    spark.sql("CREATE TABLE graftcat.db4.t (k BIGINT, g STRING) USING `graft-jsondoc`")
    spark.sql("INSERT INTO graftcat.db4.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("CREATE MATERIALIZED VIEW graftcat.db4.m AS " +
      "SELECT g, count(*) AS n FROM graftcat.db4.t GROUP BY g")
    assert(sortedRows("SELECT * FROM graftcat.db4.m") ===
      Seq(Seq("a", 1L), Seq("b", 1L)))
    // duplicate refuses; IF NOT EXISTS is silent
    intercept[Exception] {
      spark.sql("CREATE MATERIALIZED VIEW graftcat.db4.m AS " +
        "SELECT g, count(*) AS n FROM graftcat.db4.t GROUP BY g")
    }
    spark.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS graftcat.db4.m AS " +
      "SELECT g, count(*) AS n FROM graftcat.db4.t GROUP BY g")
    // collisions refuse in every direction
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.db4.m (x BIGINT) USING `graft-jsondoc`")
    }
    assert(e1.getMessage.contains("materialized view"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CREATE VIEW graftcat.db4.m AS SELECT 1 AS one")
    }
    assert(e2.getMessage.contains("materialized view"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("CREATE MATERIALIZED VIEW graftcat.db4.t AS " +
        "SELECT g, count(*) AS n FROM graftcat.db4.t GROUP BY g")
    }
    assert(e3.getMessage.contains("table"), e3.getMessage)
    // DML through the MV refuses; the base AND the materialization stay
    // intact (INSERT's write resolution may raise not-found before the
    // injected rule runs — either way nothing lands, same as views)
    val e4 = intercept[Exception] {
      spark.sql("INSERT INTO graftcat.db4.m VALUES ('x', 9)")
    }
    assert(e4.getMessage.contains("MATERIALIZED VIEW") ||
      e4.getMessage.contains("cannot be found"), e4.getMessage)
    val e5 = intercept[Exception] { spark.sql("DELETE FROM graftcat.db4.m") }
    assert(e5.getMessage.contains("MATERIALIZED VIEW"), e5.getMessage)
    assert(spark.sql("SELECT count(*) AS c FROM graftcat.db4.t")
      .collect()(0).getLong(0) === 2L)
    assert(sortedRows("SELECT * FROM graftcat.db4.m") ===
      Seq(Seq("a", 1L), Seq("b", 1L)), "DML attempts must not dent the MV")
    // the backing table is internal: SHOW TABLES lists only the base
    assert(spark.sql("SHOW TABLES IN graftcat.db4").collect()
      .map(_.getString(1)).toSeq === Seq("t"))
    // unqualified reads resolve under USE
    spark.sql("USE graftcat.db4")
    try
      assert(spark.sql("SELECT count(*) AS c FROM m").collect()(0).getLong(0) === 2L)
    finally spark.sql("USE spark_catalog.default")
    // DROP removes the definition AND the backing storage
    spark.sql("DROP MATERIALIZED VIEW graftcat.db4.m")
    intercept[Exception] { spark.sql("SELECT * FROM graftcat.db4.m") }
    assert(!new java.io.File(s"$wh/db4/m.mv.json").exists())
    assert(!new java.io.File(s"$wh/db4/m.mvdata").exists())
    intercept[Exception] { spark.sql("DROP MATERIALIZED VIEW graftcat.db4.m") }
    spark.sql("DROP MATERIALIZED VIEW IF EXISTS graftcat.db4.m") // silent
    // refresh of an unknown view refuses with the name
    val e6 = intercept[Exception] { spark.sql("CALL graftcat.refresh_mv('db4.m')") }
    assert(e6.getMessage.contains("no materialized view"), e6.getMessage)
  }
}
