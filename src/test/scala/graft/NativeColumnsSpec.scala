package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The Column helpers over graft's native expressions build the
  * expressions directly: operators give the right answers on a session
  * built WITHOUT GraftExtensions, and leave its function registry as
  * they found it (no temp function registered behind the caller's back). */
class NativeColumnsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // create(), not getOrCreate(): the precondition is a session that has
  // never seen the extension, whatever ran earlier in this JVM
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .create()

  private val dir = "/root/testdata/sf0.001"

  private val nativeNames = Seq("vec_dot", "hilbert_index", "hilbert_xy", "shingle3",
    "sorted_intersect_count", "geo_envelope", "geo_contains", "geo_intersects",
    "geo_distance", "minhash_sig", "minhash_sig_text_md5", "minhash_sig_text_xxh")

  override def afterAll(): Unit = spark.stop()

  test("operators on a plain session: right answers, no function registered") {
    import spark.implicits._
    // shingles + minhash signatures against their declarative references
    val docs = Tables.documents(spark, dir)
    val sh = dedup.Dedup.shinglesOf(docs)
    val shDiff = sh.join(docs.select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("doc_id"), dedup.Dedup.shinglesHofReference.as("ref")), "doc_id")
      .where(!(col("shingles") <=> col("ref"))).count()
    assert(sh.count() > 0 && shDiff == 0, s"shingles diverge on $shDiff docs")
    val sigDiff = dedup.Dedup.minhashSignaturesOf(sh)
      .withColumn("hp", transform(col("shingles"),
        s => dedup.Dedup.minhashHpReference(true)(s)))
      .where(!(col("sig") <=> dedup.Dedup.minhashSigHofReference)).count()
    assert(sigDiff == 0, s"signatures diverge on $sigDiff docs")

    // vector norms: bit-identical to the higher-order-function fold
    val vs = sim.Similarity.vectors(spark, dir)
      .withColumn("ref", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
    assert(vs.count() > 0)
    assert(vs.where(!(col("norm") <=> col("ref"))).count() == 0)

    // a Hilbert layout over the 16x16 grid: range-partitioned and sorted
    // on the curve, so the rows come back in curve order 0..255
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val order = ops.Layout.layoutHilbert(grid, col("x"), col("y"), n = 4, bits = 4)
      .select(ops.Layout.hilbertValueFold(col("x"), col("y"), bits = 4))
      .collect().map(_.getLong(0)).toSeq
    assert(order == (0L until 256L), s"not in Hilbert order: $order")

    // a geo operator: q203's envelope grid join, hand-derived pairs
    val pairs = ops.TimeSeries.q203CaicSpatial(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pairs == Seq("3" -> "o4", "NC-01" -> "o1", "NC-01" -> "o6",
      "NC-02" -> "o2", "NC-02" -> "o3", "NC-02" -> "o7"))

    val registry = spark.sessionState.functionRegistry
    val present = nativeNames.filter(n => registry.functionExists(FunctionIdentifier(n)))
    assert(present.isEmpty, s"operators registered session functions: $present")
  }
}
