package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one entrypoint session ([[Harness.session]]) and Verify's
  * per-query step. The environment goes in as a `Map`, so the pins need
  * no process-environment mutation. Each session is built fresh (any
  * session left by an earlier suite is stopped first): `getOrCreate`
  * would otherwise hand back that session with its own master and
  * extensions, and the pins would check nothing. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def fresh(defaultCpus: Int, env: Map[String, String]): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    Harness.session(defaultCpus, env)
  }

  override def afterAll(): Unit =
    SparkSession.getDefaultSession.foreach(_.stop())

  test("master and shuffle partitions follow SPARK_GRAFT_CPUS, else the default") {
    val a = fresh(8, Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(a.sparkContext.master === "local[3]")
    assert(a.conf.get("spark.sql.shuffle.partitions") === "3")
    val b = fresh(2, Map.empty)
    assert(b.sparkContext.master === "local[2]")
    assert(b.conf.get("spark.sql.shuffle.partitions") === "2")
  }

  test("UTC session time zone, no UI, and the GraftExtensions SQL surface") {
    val spark = fresh(2, Map.empty)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    // vec_dot exists only through GraftExtensions.injectFunction
    val dot = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0)
    assert(dot === 11.0)
  }

  test("SPARK_GRAFT_EXTRA_CONF applies well-formed pairs and skips blank and malformed tokens") {
    val raw = ";spark.graft.replayableHashes=false;;novalue;=orphan;" +
      "spark.sql.ansi.enabled=false;spark.graft.test.extra=a=b;"
    assert(Harness.extraConf(Map("SPARK_GRAFT_EXTRA_CONF" -> raw)) === Seq(
      "spark.graft.replayableHashes" -> "false",
      "spark.sql.ansi.enabled" -> "false",
      "spark.graft.test.extra" -> "a=b"))
    assert(Harness.extraConf(Map("SPARK_GRAFT_EXTRA_CONF" -> "")).isEmpty)
    assert(Harness.extraConf(Map.empty).isEmpty)
    val spark = fresh(2, Map("SPARK_GRAFT_EXTRA_CONF" -> raw))
    assert(!HashFamilies.replayable(spark))
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
    assert(spark.conf.get("spark.graft.test.extra") === "a=b")
    assert(spark.conf.getOption("novalue").isEmpty)
    assert(spark.conf.getOption("").isEmpty)
    // applied LAST: an extra pair overrides what the harness set
    val over = fresh(2, Map("SPARK_GRAFT_EXTRA_CONF" -> "spark.sql.shuffle.partitions=7"))
    assert(over.conf.get("spark.sql.shuffle.partitions") === "7")
  }

  test("Verify.dump: a query that throws while it is built leaves no result, even over an earlier run's") {
    val spark = fresh(2, Map.empty)
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_verify_dump").toString
    val good: (SparkSession, String) => DataFrame = (s, _) => Seq(1L, 2L).toDF("x")
    assert(Verify.dump(spark, "unused", out, "q_probe", good))
    val dir = new java.io.File(s"$out/q_probe")
    assert(spark.read.parquet(dir.getPath).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the next run's query fails during construction, before any write:
    // the earlier result must not survive to be hash-checked as a pass
    val broken: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("loop did not converge")
    val err = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val ok = try Verify.dump(spark, "unused", out, "q_probe", broken)
      finally System.setErr(prev)
    assert(!ok)
    assert(!dir.exists(), s"stale result left at $dir")
    assert(err.toString.contains(
      "[verify] FAILED q_probe: java.lang.IllegalStateException: loop did not converge"),
      err.toString)
    RunTag.deleteNow(out)
  }
}
