package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** NAMED-IDENTIFIER CATALOG (r16): namespaces + named tables over a
  * warehouse root ([[GraftCatalog]] as SupportsNamespaces) and SQL
  * views ([[graft.plans.GraftViews]] — parser-rewritten DDL + a
  * resolution rule, since stock Spark 4.1 refuses V2 view DDL
  * outright). Pins: namespace DDL round-trips, `graftcat.db.t` runs
  * the same DDL/DML the path form does with byte-identical answers,
  * path addressing is untouched, views are live (re-analyzed per
  * reference), creation-context name resolution, nesting, OR REPLACE /
  * IF NOT EXISTS, cross-refusal of table/view name collisions, and
  * loud refusals for missing warehouse/namespace. */
class NamedCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.plans.GraftExtensions)
    .appName("named-catalog-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshWarehouse(): String = {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    wh
  }

  test("namespace DDL: create, list, exists, drop (empty-only unless cascade)") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.ns1")
    spark.sql("CREATE NAMESPACE graftcat.ns2")
    assert(spark.sql("SHOW NAMESPACES IN graftcat").collect()
      .map(_.getString(0)).toSet === Set("ns1", "ns2"))
    assert(new java.io.File(wh, "ns1").isDirectory)
    intercept[Exception] { spark.sql("CREATE NAMESPACE graftcat.ns1") }
    spark.sql("CREATE TABLE graftcat.ns2.t (k BIGINT) USING `graft-jsondoc`")
    val e = intercept[Exception] { spark.sql("DROP NAMESPACE graftcat.ns2") }
    assert(e.getMessage.toLowerCase.contains("empty"))
    spark.sql("DROP NAMESPACE graftcat.ns2 CASCADE")
    spark.sql("DROP NAMESPACE graftcat.ns1")
    assert(spark.sql("SHOW NAMESPACES IN graftcat").isEmpty)
  }

  test("named tables run the same DML as path tables, byte-identically") {
    val wh = freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.db")
    // the SAME flow through both addressing forms
    def flow(tbl: String): Array[org.apache.spark.sql.Row] = {
      spark.sql(s"CREATE TABLE $tbl (k BIGINT, v DOUBLE) USING `graft-jsondoc` " +
        "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
      spark.sql(s"INSERT INTO $tbl VALUES (1, 1.5), (2, 2.5), (3, 3.5), (4, 4.5)")
      spark.sql(s"DELETE FROM $tbl WHERE k = 2")
      spark.sql(s"UPDATE $tbl SET v = v * 10 WHERE k = 3")
      spark.sql(s"SELECT k, v FROM $tbl ORDER BY k").collect()
    }
    val named = flow("graftcat.db.t")
    val pathRoot = java.nio.file.Files.createTempDirectory("graft_path").toString
    val pathed = flow(s"graftcat.`$pathRoot/t`")
    assert(named.toSeq === pathed.toSeq,
      "the two addressing forms are the same engine")
    // named table resolves to <warehouse>/db/t on disk
    assert(new java.io.File(s"$wh/db/t/_table_schema.json").isFile)
    // SHOW TABLES enumerates the namespace
    assert(spark.sql("SHOW TABLES IN graftcat.db").collect()
      .map(_.getString(1)).toSeq === Seq("t"))
    // metadata tables work through the named form too
    assert(spark.sql("SELECT count(*) FROM graftcat.db.`t#history`")
      .collect()(0).getLong(0) >= 3L)
    spark.sql("DROP TABLE graftcat.db.t")
    assert(!new java.io.File(s"$wh/db/t").exists())
  }

  test("views are live, context-pinned, nested, and collision-checked") {
    freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.db")
    spark.sql("CREATE TABLE graftcat.db.t (k BIGINT, v DOUBLE) USING `graft-jsondoc`")
    spark.sql("INSERT INTO graftcat.db.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("CREATE VIEW graftcat.db.big (kk, dbl) AS " +
      "SELECT k, v * 2 FROM graftcat.db.t WHERE k >= 2")
    assert(spark.sql("SELECT kk, dbl FROM graftcat.db.big ORDER BY kk").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((2L, 4.0), (3L, 6.0)))
    // LIVE: new base rows appear without any view maintenance
    spark.sql("INSERT INTO graftcat.db.t VALUES (9, 9.0)")
    assert(spark.sql("SELECT count(*) FROM graftcat.db.big").collect()(0).getLong(0) === 3L)
    // nested views + aggregation over a view
    spark.sql("CREATE VIEW graftcat.db.agg AS " +
      "SELECT CAST(sum(dbl) AS DOUBLE) AS s FROM graftcat.db.big")
    assert(spark.sql("SELECT s FROM graftcat.db.agg").collect()(0).getDouble(0) === 28.0)
    // creation-context pinning: an unqualified name inside the body
    // resolves under the catalog/namespace current AT CREATE
    spark.sql("USE graftcat.db")
    spark.sql("CREATE VIEW graftcat.db.ctx AS SELECT count(*) AS n FROM t")
    spark.sql("USE spark_catalog.default")
    assert(spark.sql("SELECT n FROM graftcat.db.ctx").collect()(0).getLong(0) === 4L)
    // collisions refuse in both directions
    val e1 = intercept[Exception] {
      spark.sql("CREATE VIEW graftcat.db.t AS SELECT 1 AS one")
    }
    assert(e1.getMessage.contains("table"))
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.db.big (x BIGINT) USING `graft-jsondoc`")
    }
    assert(e2.getMessage.contains("view"))
    // OR REPLACE / IF NOT EXISTS / DROP semantics. REPLACE is an atomic
    // swap (r17): writeView overwrites in place, never drop-then-create
    spark.sql("CREATE OR REPLACE VIEW graftcat.db.big AS SELECT k FROM graftcat.db.t")
    assert(spark.sql("SELECT * FROM graftcat.db.big").columns.toSeq === Seq("k"))
    // the replace path refuses a TABLE collision exactly like create
    val eRep = intercept[Exception] {
      spark.sql("CREATE OR REPLACE VIEW graftcat.db.t AS SELECT 1 AS one")
    }
    assert(eRep.getMessage.contains("table"))
    spark.sql("CREATE VIEW IF NOT EXISTS graftcat.db.big AS SELECT v FROM graftcat.db.t")
    assert(spark.sql("SELECT * FROM graftcat.db.big").columns.toSeq === Seq("k"))
    intercept[Exception] {
      spark.sql("CREATE VIEW graftcat.db.big AS SELECT v FROM graftcat.db.t")
    }
    assert(spark.sql("SHOW VIEWS IN graftcat.db").collect().map(_.getString(1)).toSet
      === Set("agg", "big", "ctx"))
    spark.sql("DROP VIEW graftcat.db.ctx")
    spark.sql("DROP VIEW graftcat.db.agg")
    spark.sql("DROP VIEW graftcat.db.big")
    intercept[Exception] { spark.sql("DROP VIEW graftcat.db.big") }
    spark.sql("DROP VIEW IF EXISTS graftcat.db.big") // no-op, no error
  }

  test("view DDL and reads work unqualified under USE graftcat.db; temp views still win") {
    freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.use_db")
    spark.sql("CREATE TABLE graftcat.use_db.t (k BIGINT) USING `graft-jsondoc`")
    spark.sql("INSERT INTO graftcat.use_db.t VALUES (1), (2), (3)")
    spark.sql("USE graftcat.use_db")
    try {
      spark.sql("CREATE VIEW v AS SELECT k FROM t WHERE k > 1")
      assert(spark.sql("SELECT * FROM v ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(2L, 3L))
      assert(spark.sql("SHOW VIEWS").collect().map(_.getString(1)).toSeq === Seq("v"))
      // a TEMP view of the same name shadows for reads and owns bare DROP
      spark.sql("CREATE TEMP VIEW v AS SELECT 99 AS k")
      assert(spark.sql("SELECT k FROM v").collect()(0).getInt(0) === 99)
      spark.sql("DROP VIEW v") // drops the TEMP view
      assert(spark.sql("SELECT * FROM v ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(2L, 3L), "the stored view survives")
      spark.sql("DROP VIEW use_db.v") // 2-part names the stored view
      assert(spark.sql("SHOW VIEWS").isEmpty)
    } finally spark.sql("USE spark_catalog.default")
  }

  test("views are read-only: DML through a view refuses loudly, the base stays intact") {
    freshWarehouse()
    spark.sql("CREATE NAMESPACE graftcat.ro")
    spark.sql("CREATE TABLE graftcat.ro.t (k BIGINT) USING `graft-jsondoc`")
    spark.sql("INSERT INTO graftcat.ro.t VALUES (1), (2)")
    spark.sql("CREATE VIEW graftcat.ro.v AS SELECT k FROM graftcat.ro.t")
    // the r16 self-review bug: DELETE FROM v used to expand the view and
    // delete the UNDERLYING TABLE's rows
    for (dml <- Seq(
      "DELETE FROM graftcat.ro.v",
      "UPDATE graftcat.ro.v SET k = 9",
      "INSERT INTO graftcat.ro.v VALUES (9)",
      "MERGE INTO graftcat.ro.v t USING graftcat.ro.t s ON t.k = s.k " +
        "WHEN MATCHED THEN DELETE")) {
      val e = intercept[Exception] { spark.sql(dml).collect() }
      assert(e.getMessage.contains("VIEW") || e.getMessage.contains("not found") ||
        e.getMessage.contains("does not support"),
        s"$dml must refuse: ${e.getMessage.take(150)}")
      assert(spark.sql("SELECT count(*) FROM graftcat.ro.t")
        .collect()(0).getLong(0) === 2L,
        s"$dml must leave the base table intact")
    }
    // reads through the view still fine after all the refusals
    assert(spark.sql("SELECT count(*) FROM graftcat.ro.v").collect()(0).getLong(0) === 2L)
  }

  test("loud refusals: no warehouse, missing namespace, bad segments; paths unaffected") {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    spark.conf.unset("spark.sql.catalog.graftcat.warehouse")
    val e = intercept[Exception] {
      spark.sql("CREATE NAMESPACE graftcat.nowhere")
    }
    assert(e.getMessage.contains("warehouse"))
    // path addressing still works with NO warehouse configured
    val root = java.nio.file.Files.createTempDirectory("graft_pathonly").toString
    spark.sql(s"CREATE TABLE graftcat.`$root/t` (k BIGINT) USING `graft-jsondoc`")
    spark.sql(s"INSERT INTO graftcat.`$root/t` VALUES (7)")
    assert(spark.sql(s"SELECT k FROM graftcat.`$root/t`").collect()(0).getLong(0) === 7L)
    freshWarehouse()
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.ghost.t (k BIGINT) USING `graft-jsondoc`")
    }
    assert(e2.getMessage.toUpperCase.contains("SCHEMA") ||
      e2.getMessage.toLowerCase.contains("namespace"))
    spark.sql("CREATE NAMESPACE graftcat.sec")
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.sec.`..` (k BIGINT) USING `graft-jsondoc`")
    }
    assert(e3.getMessage.contains("segment"))
  }

  test("procedure table: every listed name loads; an unknown name's message lists them all") {
    val c = new GraftCatalog()
    c.initialize("graftcat", org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    val names = c.listProcedures(Array.empty).map(_.name()).toSeq
    assert(names.distinct === names)
    assert(Set("recover_txn2", "ann_search", "text_search_and", "text_search_phrase",
      "ann_state", "text_index_state", "refresh_ann", "refresh_text_index")
      .subsetOf(names.toSet))
    names.foreach { n =>
      assert(c.loadProcedure(Identifier.of(Array.empty, n)).name() === n)
    }
    val e = intercept[UnsupportedOperationException](
      c.loadProcedure(Identifier.of(Array.empty, "no_such_procedure")))
    val listed = e.getMessage.split("available: ", 2)(1).stripSuffix(")").split(", ").toSeq
    assert(listed.sorted === names.sorted, e.getMessage)
  }
}
