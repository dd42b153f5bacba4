package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The jsondoc writer's per-file min/max compares same-type values
  * directly; the `_stats.json` entry it writes must be byte-identical to
  * the one [[JsonDocStats.cmp]] gives when folded over the same values in
  * the same order, for longs, doubles (signed zeros, NaN, infinities),
  * strings, nulls and a shredded column. */
class WriterStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("zeros", DoubleType),
    StructField("zeros_neg_first", DoubleType), StructField("specials", DoubleType),
    StructField("s", StringType), StructField("nothing", StringType),
    StructField("props", StringType), StructField("x_shred", DoubleType)))

  private val nan = Double.NaN
  private val inf = Double.PositiveInfinity
  private val rows: Seq[Row] = Seq(
    Row(5L, 0.0, -0.0, 1.5, "m", null, """{"x": 0.0}""", null),
    Row(null, -0.0, 0.0, -2.25, "b", null, """{"x": -0.0}""", null),
    Row(Long.MaxValue, 0.0, -0.0, null, null, null, """{"x": 3.5}""", null),
    Row(-7L, 2.5, 0.0, nan, "z", null, """{"x": "not a number"}""", null),
    Row(Long.MinValue, -0.0, 2.5, -inf, "", null, null, null),
    Row(0L, 1.0, -0.0, inf, "m", null, """{"x": -1e300}""", null),
    Row(3L, 0.0, 1.0, 0.5, "é", null, """{"x": 1}""", null),
    Row(null, null, null, -0.0, null, null, """{"y": 2}""", null))

  /** The writer's fold before the typed comparisons: `cmp` for both ends. */
  private def cmpFold(vs: Seq[Any]): Option[JsonDocStats.ColRange] = {
    var lo: Any = null
    var hi: Any = null
    vs.filter(_ != null).foreach { v =>
      if (lo == null) { lo = v; hi = v }
      else {
        if (JsonDocStats.cmp(v, lo).exists(_ < 0)) lo = v
        if (JsonDocStats.cmp(v, hi).exists(_ > 0)) hi = v
      }
    }
    Option(lo).map(JsonDocStats.ColRange(_, hi))
  }

  test("the _stats.json entry equals the cmp fold's, byte for byte") {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_writer_stats").toString
    val tbl = s"graftcat.`$root/t`"
    spark.sql(s"CREATE TABLE $tbl (l BIGINT, zeros DOUBLE, zeros_neg_first DOUBLE, " +
      "specials DOUBLE, s STRING, nothing STRING, props STRING, x_shred DOUBLE) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.shred.columns' = 'x_shred=props:$.x')")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .writeTo(tbl).append()

    val written = JsonDocStats.load(s"$root/t")
    assert(written.size == 1, written.keys)
    val (name, stats) = written.head
    assert(stats.rows == rows.size)
    // the shredded column holds what the writer extracted from `props`
    val shredded: Seq[Any] = Seq(0.0, -0.0, 3.5, null, null, -1e300, 1.0, null)
    val columns = schema.fieldNames.zipWithIndex.map { case (c, i) =>
      c -> (if (c == "x_shred") shredded else rows.map(_.get(i)))
    }
    val cols = columns.flatMap { case (c, vs) => cmpFold(vs).map(c -> _) }.toMap
    assert(!cols.contains("nothing"))
    val mapper = new ObjectMapper()
    val expected = mapper.writeValueAsString(
      mapper.readTree(JsonDocStats.toJson(stats.copy(cols = cols))))
    val actual = mapper.writeValueAsString(
      mapper.readTree(new java.io.File(s"$root/t", JsonDocStats.SidecarName)).get("files").get(name))
    assert(actual == expected)
    // the signed-zero cases keep the first of two equal values
    assert(actual.contains(""""zeros":{"min":0.0,"max":2.5}"""), actual)
    assert(actual.contains(""""zeros_neg_first":{"min":-0.0,"max":2.5}"""), actual)
  }
}
