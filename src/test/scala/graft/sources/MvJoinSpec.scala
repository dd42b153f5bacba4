package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** JOIN-BODY materialized views ([[GraftMv.refreshJoin]] — the signed-
  * delta identity ΔV = ΔA ⋈ B@old + A@new ⋈ ΔB). Pins: the initial
  * fill and every fold equal a from-scratch recompute under inserts,
  * deletes and updates on EITHER side (and BOTH sides in one range,
  * including a key pair born across the two deltas, which exactly one
  * term may count); group migration when the b-side's group column
  * changes; vanished groups; NULL join keys never match; refresh is
  * exactly-once; `#mvstate` reports one staleness row per base; and
  * every non-foldable join shape refuses at CREATE with the reason. */
class MvJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // every assertCurrent recompute baseline must read the bases — the
    // join rewrite (MvRewriteSpec's subject) would serve a fresh view's
    // own body from the view and make the comparisons vacuous
    .config("spark.graft.mv.rewrite.enabled", "false")
    .withExtensions(new graft.plans.GraftExtensions)
    .appName("mv-join-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private var a: String = _
  private var b: String = _
  private var body: String = _

  private def sortedRows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq
      .map(r => (0 until r.length).map(i => r.get(i)))
      .sortBy(_.mkString("|"))

  private def assertCurrent(clue: String): Unit =
    assert(sortedRows("SELECT * FROM graftcat.dbj.m") === sortedRows(body), clue)

  override def beforeAll(): Unit = {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft_mvj_wh").toString
    spark.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE graftcat.dbj")
    val root = java.nio.file.Files.createTempDirectory("graft_mvj").toString
    a = s"graftcat.`$root/a`"
    b = s"graftcat.`$root/b`"
    spark.sql(s"CREATE TABLE $a (k BIGINT, x BIGINT) USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"CREATE TABLE $b (k2 BIGINT, seg STRING, w BIGINT) " +
      "USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    // fan-out (two a-rows on k=1), an all-NULL-x group ('q' via k=4),
    // a WHERE-excluded b row (w < 0), and an unmatched key each side
    spark.sql(s"INSERT INTO $a VALUES (1, 10), (1, 20), (2, NULL), (3, 7), " +
      "(4, NULL), (9, 99)")
    spark.sql(s"INSERT INTO $b VALUES (1, 'p', 1), (2, 'p', 2), (3, 'r', -5), " +
      "(4, 'q', 4), (8, 'z', 8)")
    body = s"SELECT seg, count(*) AS n, count(x) AS cx, sum(x) AS sx, " +
      s"avg(x) AS ax FROM $a JOIN $b ON k = k2 WHERE w >= 0 GROUP BY seg"
  }

  test("the initial fill equals a recompute (fan-out, NULL sums, WHERE)") {
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbj.m AS $body")
    assertCurrent("initial join materialization must equal a recompute")
    // 'r' is WHERE-excluded, 'z' unmatched: neither is a group
    assert(sortedRows("SELECT seg FROM graftcat.dbj.m").flatten === Seq("p", "q"))
    // the all-NULL sum renders NULL
    val q = spark.sql("SELECT cx, sx, ax FROM graftcat.dbj.m WHERE seg = 'q'")
      .collect()(0)
    assert(q.getLong(0) === 0L && q.isNullAt(1) && q.isNullAt(2))
  }

  test("an a-side-only range folds against B at its old snapshot") {
    spark.sql(s"INSERT INTO $a VALUES (1, 5), (8, 80), (7, 70)") // 7 unmatched
    spark.sql(s"DELETE FROM $a WHERE x = 20") // shrink the fan-out
    val r = spark.sql("CALL graftcat.refresh_mv('dbj.m')").collect()(0)
    assert(r.getLong(0) <= r.getLong(1), s"a real fold expected: $r")
    assertCurrent("ΔA ⋈ B@old must land the recompute")
    assert(sortedRows("SELECT seg FROM graftcat.dbj.m").flatten ===
      Seq("p", "q", "z"), "the now-matched key 8 must create group z")
  }

  test("a b-side-only range folds against A at its new head (group migration)") {
    spark.sql(s"UPDATE $b SET seg = 'p2' WHERE k2 = 1") // migrate the fan-out
    spark.sql(s"DELETE FROM $b WHERE k2 = 4") // vanish group q
    // a b-side-only fold must report a REAL range (from <= to) — the
    // from > to sentinel is reserved for "already current" (r17 review)
    val r = spark.sql("CALL graftcat.refresh_mv('dbj.m')").collect()(0)
    assert(r.getLong(0) <= r.getLong(1), s"a b-side fold is not a no-op: $r")
    assertCurrent("A@new ⋈ ΔB must land the recompute")
    assert(sortedRows("SELECT seg FROM graftcat.dbj.m").flatten ===
      Seq("p", "p2", "z"))
  }

  test("both sides in one range; a key pair born across the two deltas counts once") {
    spark.sql(s"INSERT INTO $a VALUES (50, 500)") // joins only via ΔB's new row
    spark.sql(s"INSERT INTO $b VALUES (50, 'w', 50), (9, 'p', 9)")
    spark.sql(s"UPDATE $a SET x = x + 1 WHERE k = 3")
    spark.sql(s"DELETE FROM $b WHERE k2 = 2")
    spark.sql("CALL graftcat.refresh_mv('dbj.m')")
    assertCurrent("a mixed two-sided range must land the recompute")
    assert(spark.sql("SELECT n FROM graftcat.dbj.m WHERE seg = 'w'")
      .collect()(0).getLong(0) === 1L,
      "the cross-delta key pair must count exactly once")
    // re-CALL: empty range
    val again = spark.sql("CALL graftcat.refresh_mv('dbj.m')").collect()(0)
    assert(again.getLong(0) > again.getLong(1), s"no-op refresh expected: $again")
    assertCurrent("a no-op refresh must change nothing")
  }

  test("NULL join keys never match on either side") {
    spark.sql(s"INSERT INTO $a VALUES (NULL, 1000)")
    spark.sql(s"INSERT INTO $b VALUES (NULL, 'nil', 0)")
    spark.sql("CALL graftcat.refresh_mv('dbj.m')")
    assertCurrent("NULL keys must fold exactly like the recompute (no match)")
    assert(spark.sql("SELECT * FROM graftcat.dbj.m WHERE seg = 'nil'").isEmpty)
  }

  test("#mvstate reports one staleness row per base") {
    spark.sql(s"INSERT INTO $a VALUES (9, 1)")
    spark.sql(s"INSERT INTO $b VALUES (60, 'v', 6)")
    spark.sql(s"INSERT INTO $b VALUES (61, 'v', 6)")
    val rows = spark.sql("SELECT base_path, stale_commits FROM " +
      "graftcat.dbj.`m#mvstate` ORDER BY base_path").collect()
    assert(rows.length === 2, s"a join MV has two bases: ${rows.toSeq}")
    assert(rows.map(_.getLong(1)).toSeq.sorted === Seq(1L, 2L),
      s"per-base staleness expected: ${rows.toSeq}")
    spark.sql("CALL graftcat.refresh_mv('dbj.m')")
    assertCurrent("folding both stale feeds must land the recompute")
    assert(spark.sql("SELECT sum(stale_commits) FROM graftcat.dbj.`m#mvstate`")
      .collect()(0).getLong(0) === 0L)
    // SHOW MATERIALIZED VIEWS lists the same two per-base rows with
    // PLAIN versions (the ledger value encodes both watermarks — a
    // naive decode would print garbage)
    val shown = spark.sql("SHOW MATERIALIZED VIEWS IN graftcat.dbj").collect()
      .filter(_.getString(1) == "m")
    assert(shown.length === 2, s"two per-base rows expected: ${shown.toSeq}")
    shown.foreach { r =>
      assert(r.getLong(3) === r.getLong(4) && r.getLong(5) === 0L &&
        r.getLong(4) < 100L, s"sane per-base watermarks expected: $r")
    }
  }

  test("non-foldable join shapes refuse at CREATE with the reason") {
    def refuse(sql: String, needle: String): Unit = {
      val e = intercept[Exception] {
        spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbj.bad AS $sql")
      }
      assert(e.getMessage.contains(needle), s"$sql -> ${e.getMessage}")
    }
    refuse(s"SELECT seg, count(*) AS n FROM $a LEFT JOIN $b ON k = k2 GROUP BY seg",
      "INNER")
    refuse(s"SELECT t.x AS x, count(*) AS n FROM $a t JOIN $a u ON t.k = u.k GROUP BY t.x",
      "self-join")
    // MIN/MAX over a join folds since r18 (delete ranges recompute the
    // affected groups from both heads) — covered by its own test below
    refuse(s"SELECT seg, count(*) AS n FROM $a JOIN $b ON k < k2 GROUP BY seg",
      "column equalities")
    refuse(s"SELECT seg, count(*) AS n FROM $a JOIN $b ON k + 1 = k2 GROUP BY seg",
      "column equalities")
    // ambiguity: both sides carry a column named `dup`
    val root2 = java.nio.file.Files.createTempDirectory("graft_mvj_amb").toString
    spark.sql(s"CREATE TABLE graftcat.`$root2/c` (k3 BIGINT, dup BIGINT) " +
      "USING `graft-jsondoc`")
    spark.sql(s"CREATE TABLE graftcat.`$root2/d` (k4 BIGINT, dup BIGINT) " +
      "USING `graft-jsondoc`")
    refuse(s"SELECT c.dup AS g, count(*) AS n FROM graftcat.`$root2/c` c " +
      s"JOIN graftcat.`$root2/d` d ON c.k3 = d.k4 GROUP BY c.dup",
      "ambiguous")
  }

  test("a 3-table join body folds DML on every side via the telescoped identity") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbj3")
    val root = java.nio.file.Files.createTempDirectory("graft_mvj3").toString
    val to = s"graftcat.`$root/o`"   // facts
    val tc = s"graftcat.`$root/c`"   // dim 1
    val tn = s"graftcat.`$root/n`"   // dim 2
    Seq(
      s"CREATE TABLE $to (o_ck BIGINT, x BIGINT) USING `graft-jsondoc` " +
        "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')",
      s"CREATE TABLE $tc (c_ck BIGINT, c_nk BIGINT, w BIGINT) USING `graft-jsondoc` " +
        "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')",
      s"CREATE TABLE $tn (n_nk BIGINT, region STRING) USING `graft-jsondoc` " +
        "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')"
    ).foreach(spark.sql(_))
    spark.sql(s"INSERT INTO $to VALUES (1, 10), (1, 20), (2, 5), (3, NULL), (9, 99)")
    spark.sql(s"INSERT INTO $tc VALUES (1, 100, 1), (2, 100, 2), (3, 200, -7), " +
      "(4, 200, 4)")
    spark.sql(s"INSERT INTO $tn VALUES (100, 'ea'), (200, 'we'), (300, 'xx')")
    val jbody = s"SELECT region, count(*) AS n, count(x) AS cx, sum(x) AS sx, " +
      s"avg(x) AS ax FROM $to JOIN $tc ON o_ck = c_ck " +
      s"JOIN $tn ON c_nk = n_nk WHERE w >= 0 GROUP BY region"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbj3.m3 AS $jbody")
    def current(clue: String): Unit =
      assert(sortedRows("SELECT * FROM graftcat.dbj3.m3") === sortedRows(jbody), clue)
    current("initial 3-table fill must equal a recompute")
    // #mvstate: one staleness row per base, all current
    val st = spark.sql("SELECT base_path, stale_commits FROM " +
      "graftcat.dbj3.`m3#mvstate`").collect()
    assert(st.length === 3 && st.forall(_.getLong(1) === 0L), s"state: ${st.toSeq}")
    // side-0 (facts) DML: insert + delete in one range
    spark.sql(s"INSERT INTO $to VALUES (2, 1000), (4, 7)")
    spark.sql(s"DELETE FROM $to WHERE x = 20")
    spark.sql("CALL graftcat.refresh_mv('dbj3.m3')").collect()
    current("a facts-side fold must equal a recompute")
    // side-1 (dim) group MIGRATION across the middle table: c_ck=1
    // moves from nation 100 to 200 (rows leave 'ea', arrive in 'we')
    spark.sql(s"UPDATE $tc SET c_nk = 200 WHERE c_ck = 1")
    spark.sql("CALL graftcat.refresh_mv('dbj3.m3')").collect()
    current("a middle-side migration must fold both groups exactly")
    // side-2 (outer dim) DML: rename a region (update) and vanish one
    spark.sql(s"UPDATE $tn SET region = 'eastern' WHERE n_nk = 100")
    spark.sql(s"DELETE FROM $tn WHERE n_nk = 200")
    spark.sql("CALL graftcat.refresh_mv('dbj3.m3')").collect()
    current("outer-dim update+vanish must fold exactly")
    assert(!sortedRows("SELECT * FROM graftcat.dbj3.m3").exists(_.head == "we"))
    // ALL THREE sides move in ONE refresh range
    spark.sql(s"INSERT INTO $to VALUES (4, 3)")
    spark.sql(s"UPDATE $tc SET w = -1 WHERE c_ck = 2") // leaves the WHERE
    spark.sql(s"INSERT INTO $tn VALUES (200, 'western')")
    spark.sql("CALL graftcat.refresh_mv('dbj3.m3')").collect()
    current("a 3-side simultaneous range must fold exactly")
    // exactly-once
    val ref = spark.sql("CALL graftcat.refresh_mv('dbj3.m3')").collect()(0)
    assert(ref.getLong(0) > ref.getLong(1), s"no-op refresh expected: $ref")

    // CRASH REPLAY of the pending-vector protocol: rewind the def to
    // its pre-refresh watermark state but leave `pending` staged with
    // the seq the ledger COMMITTED (the crash window between the MERGE
    // and the def promotion). The next refresh must adjudicate the
    // pending vector as folded truth — a no-op, never a double-fold.
    val cat3 = spark.sessionState.catalogManager.catalog("graftcat")
      .asInstanceOf[GraftCatalog]
    val id3 = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("dbj3"), "m3")
    val defFile = cat3.mvDefFileOf(id3)
    val cur = GraftMv.read(defFile)
    val js = cur.joinN.get
    GraftMv.write(defFile, cur.copy(joinN = Some(js.copy(
      lastSeq = js.lastSeq - 1,
      lastVersions = js.lastVersions.map(v => math.max(0, v - 1)),
      pending = Some((js.lastSeq, js.lastVersions))))))
    val ref2 = spark.sql("CALL graftcat.refresh_mv('dbj3.m3')").collect()(0)
    assert(ref2.getLong(0) > ref2.getLong(1),
      s"replay with a committed pending must fold nothing: $ref2")
    current("the crash-replay adjudication must not change the view")
    // and the NEXT real fold still lands exactly once
    spark.sql(s"INSERT INTO $to VALUES (4, 11)")
    spark.sql("CALL graftcat.refresh_mv('dbj3.m3')").collect()
    current("the first fold after a replayed crash must be exact")
    // r18 review: SHOW MATERIALIZED VIEWS must list an N-ary view
    // (one staleness row per base), not throw from lastFolded
    val shown = spark.sql("SHOW MATERIALIZED VIEWS IN graftcat.dbj3").collect()
    assert(shown.count(_.getString(1) == "m3") === 3,
      s"a 3-table view lists one row per base: ${shown.toSeq}")
    assert(shown.filter(_.getString(1) == "m3").forall(_.getLong(5) === 0L),
      s"current after refresh: ${shown.toSeq}")
    // refusals: extrema and distinct over a 3-table body
    def refuse3(sql: String, needle: String): Unit = {
      val e = intercept[Exception] {
        spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbj3.bad AS $sql")
      }
      assert(e.getMessage.contains(needle), s"$sql -> ${e.getMessage}")
    }
    refuse3(s"SELECT region, max(x) AS mx FROM $to JOIN $tc ON o_ck = c_ck " +
      s"JOIN $tn ON c_nk = n_nk GROUP BY region", "N-table")
    refuse3(s"SELECT region, count(DISTINCT x) AS dx FROM $to JOIN $tc " +
      s"ON o_ck = c_ck JOIN $tn ON c_nk = n_nk GROUP BY region",
      "join body")
  }

  test("MIN/MAX join body: deletes on either side recompute only affected groups") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbjx")
    val root = java.nio.file.Files.createTempDirectory("graft_mvjx").toString
    val ta = s"graftcat.`$root/a`"
    val tb = s"graftcat.`$root/b`"
    spark.sql(s"CREATE TABLE $ta (k BIGINT, x BIGINT) USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"CREATE TABLE $tb (k2 BIGINT, seg STRING, w BIGINT) " +
      "USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $ta VALUES (1, 10), (1, 200), (2, 5), (3, 70), " +
      "(4, 40), (5, NULL)")
    spark.sql(s"INSERT INTO $tb VALUES (1, 'p', 1), (2, 'p', 2), (3, 'q', 3), " +
      "(4, 'q', -9), (5, 'q', 5)")
    val jbody = s"SELECT seg, count(*) AS n, min(x) AS lo, max(x) AS hi, " +
      s"sum(x) AS sx FROM $ta JOIN $tb ON k = k2 WHERE w >= 0 GROUP BY seg"
    spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbjx.mm AS $jbody")
    def current(clue: String): Unit =
      assert(sortedRows("SELECT * FROM graftcat.dbjx.mm") === sortedRows(jbody), clue)
    current("initial extrema fill must equal a recompute")
    // append-only on both sides: the pure least/greatest fold
    spark.sql(s"INSERT INTO $ta VALUES (2, 1), (3, 999)")
    spark.sql(s"INSERT INTO $tb VALUES (6, 'r', 6)")
    spark.sql("CALL graftcat.refresh_mv('dbjx.mm')").collect()
    current("append-only extrema fold must equal a recompute")
    // an A-SIDE delete removes 'p''s maximum (x=200 via k=1):
    // p recomputes, q/r fold
    spark.sql(s"DELETE FROM $ta WHERE x = 200")
    spark.sql(s"INSERT INTO $ta VALUES (6, 3)") // same range: an insert too
    spark.sql("CALL graftcat.refresh_mv('dbjx.mm')").collect()
    current("an a-side delete must recompute the affected group exactly")
    // a B-SIDE delete removes a whole join key (k2=3: 'q' loses rows
    // incl. extrema) and a b-side UPDATE migrates k2=5 from 'q' to 'p'
    // (delete+insert in the feed: BOTH groups affected)
    spark.sql(s"DELETE FROM $tb WHERE k2 = 3")
    spark.sql(s"UPDATE $tb SET seg = 'p' WHERE k2 = 5")
    spark.sql("CALL graftcat.refresh_mv('dbjx.mm')").collect()
    current("b-side deletes and group migration must recompute exactly")
    // vanish a group entirely ('r' via its only b row)
    spark.sql(s"DELETE FROM $tb WHERE seg = 'r'")
    spark.sql("CALL graftcat.refresh_mv('dbjx.mm')").collect()
    current("a vanished group must disappear, not zero out")
    assert(!sortedRows("SELECT * FROM graftcat.dbjx.mm").exists(_.head == "r"))
    // exactly-once: re-CALL folds nothing
    val ref = spark.sql("CALL graftcat.refresh_mv('dbjx.mm')").collect()(0)
    assert(ref.getLong(0) > ref.getLong(1), s"no-op refresh expected: $ref")
  }

  test("2- and 3-table join folds land on the merge-on-read backing: no prior file rewritten") {
    // every fold must equal the recompute AND leave each backing file of
    // the previous state in place (delete vectors + inserts, O(delta))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbjb")
    val root = java.nio.file.Files.createTempDirectory("graft_mvjb").toString
    val to = s"graftcat.`$root/o`"
    val tc = s"graftcat.`$root/c`"
    val tn = s"graftcat.`$root/n`"
    Seq(s"$to (o_ok BIGINT, o_ck BIGINT, cents BIGINT)",
        s"$tc (c_ck BIGINT, c_nk BIGINT)",
        s"$tn (n_nk BIGINT, n_name STRING)").foreach { t =>
      spark.sql(s"CREATE TABLE $t USING `graft-jsondoc` " +
        "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    }
    spark.range(300).selectExpr("id AS o_ok", "id % 40 AS o_ck", "id * 7 AS cents")
      .writeTo(to).append()
    spark.range(40).selectExpr("id AS c_ck", "id % 5 AS c_nk").writeTo(tc).append()
    spark.range(5).selectExpr("id AS n_nk", "concat('n', id) AS n_name").writeTo(tn).append()
    val bodies = Map(
      "m2" -> (s"SELECT c_nk, count(*) AS cnt, sum(cents) AS s " +
        s"FROM $to JOIN $tc ON o_ck = c_ck GROUP BY c_nk"),
      "m3" -> (s"SELECT n_name, count(*) AS cnt, sum(cents) AS s " +
        s"FROM $to JOIN $tc ON o_ck = c_ck JOIN $tn ON c_nk = n_nk GROUP BY n_name"))
    bodies.foreach { case (m, b) =>
      spark.sql(s"CREATE MATERIALIZED VIEW graftcat.dbjb.$m AS $b") }
    val wh = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
    def fold(tag: String, dml: String, views: Seq[String]): Unit = {
      val before = views.map(m => m -> JsonDocVersions.latest(s"$wh/dbjb/$m.mvdata").get._2).toMap
      spark.sql(dml)
      views.foreach { m =>
        val r = spark.sql(s"CALL graftcat.refresh_mv('dbjb.$m')").collect()(0)
        assert(r.getLong(0) <= r.getLong(1), s"[$tag] $m: a real fold expected: $r")
        val after = JsonDocVersions.latest(s"$wh/dbjb/$m.mvdata").get._2
        assert(after.intersect(before(m)) === before(m),
          s"[$tag] $m: a MOR fold must keep every prior backing file")
        assert(sortedRows(s"SELECT * FROM graftcat.dbjb.$m") === sortedRows(bodies(m)),
          s"[$tag] $m: the fold must equal the recompute")
      }
    }
    fold("facts", s"UPDATE $to SET cents = cents + 1 WHERE o_ok % 11 = 1", Seq("m2", "m3"))
    fold("migrate", s"UPDATE $tc SET c_nk = (c_nk + 1) % 5 WHERE c_ck % 5 = 1", Seq("m2", "m3"))
    fold("rename", s"UPDATE $tn SET n_name = concat('x_', n_name) WHERE n_nk = 0", Seq("m3"))
  }
}
