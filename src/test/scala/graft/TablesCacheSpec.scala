package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.LongType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` infers each table's schema once per session and bounds its
  * rows by the parquet footers; the exact-Jaccard and q34 guards decide
  * from that bound without a job while it is within their caps. */
class TablesCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the sf0.01 tables committed with the benchmark (the repository root
  // is the forked test JVM's working directory)
  private val dir = new java.io.File("perfbench/data/sf0.01").getAbsolutePath

  override def afterAll(): Unit = spark.stop()

  /** The Spark jobs `body` launches in `s`'s context. */
  private def jobs[A](s: SparkSession)(body: => A): (A, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = s.sparkContext
    org.apache.spark.ListenerBusSync.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.ListenerBusSync.waitUntilEmpty(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a repeat read runs no job; every table's schema equals a fresh inferred read's") {
    Tables.orders(spark, dir)
    assert(jobs(spark)(Tables.orders(spark, dir).schema)._2 == 0)
    Tables.names.foreach { n =>
      Tables.table(spark, dir, n)
      val (cached, js) = jobs(spark)(Tables.table(spark, dir, n).queryExecution.analyzed.schema)
      assert(js == 0, s"$n: a repeat read launched $js jobs")
      // StructType equality covers names, types, nullability and metadata
      assert(cached == spark.read.parquet(s"$dir/$n.parquet").queryExecution.analyzed.schema, n)
    }
  }

  test("an overwritten table directory is read anew in the same session") {
    import spark.implicits._
    val d = tmpDir("graft_tables_overwrite")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    assert(Tables.documents(spark, d).count() == 3)
    assert(Tables.rowsUpperBound(spark, d, "documents") == 3)
    Seq((1L, "a", 7), (2L, "b", 8), (3L, "c", 9), (4L, "d", 10), (5L, "e", 11))
      .toDF("doc_id", "text", "extra").write.mode("overwrite").parquet(s"$d/documents.parquet")
    val df = Tables.documents(spark, d)
    assert(df.columns.toSeq == Seq("doc_id", "text", "extra"))
    assert(df.count() == 5)
    assert(Tables.rowsUpperBound(spark, d, "documents") == 5)
  }

  test("flipping nanosAsLong re-infers a TIMESTAMP(NANOS) column") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = tmpDir("graft_tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$d/events.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("user_id", 1L).append("ts", 1700000000000000000L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    def outcome(read: => org.apache.spark.sql.DataFrame) =
      Try(read.schema("ts").dataType).toEither.left.map(_.getClass)
    try {
      spark.conf.set(key, "true")
      assert(outcome(Tables.table(spark, d, "events")) == Right(LongType))
      spark.conf.set(key, "false")
      val fresh = outcome(spark.read.parquet(s"$d/events.parquet"))
      assert(fresh != Right(LongType))
      assert(outcome(Tables.table(spark, d, "events")) == fresh)
      // Tables.events sets the legacy conf itself and divides down to micros
      assert(Tables.events(spark, d).collect().map(_.getAs[java.time.LocalDateTime]("ts")).toSeq ==
        Seq(java.time.LocalDateTime.of(2023, 11, 14, 22, 13, 20)))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("two sessions do not share entries") {
    Tables.customer(spark, dir)
    val other = spark.newSession()
    assert(jobs(other)(Tables.customer(other, dir).schema)._2 >= 1,
      "a new session must infer the schema itself")
    assert(jobs(other)(Tables.customer(other, dir).schema)._2 == 0)
  }

  test("jaccardPairs and q34 decide their guards from the footers: no job at the default caps") {
    Tables.documents(spark, dir)
    Tables.embeddings(spark, dir)
    try {
      assert(jobs(spark)(dedup.Dedup.jaccardPairs(spark, dir))._2 == 0)
      assert(jobs(spark)(sim.Similarity.q34EmbeddingNeardup(spark, dir))._2 == 0)
    } finally Caches.drain()
  }

  test("a cap below the footer rows still counts exactly and raises the same guard message") {
    val exact = dedup.Dedup.shingles(spark, dir).count()
    assert(Tables.rowsUpperBound(spark, dir, "documents") > 10)
    spark.conf.set(dedup.Guards.CapConf, "10")
    try {
      val (e, js) = jobs(spark)(Try(dedup.Dedup.jaccardPairs(spark, dir)).failed.get)
      assert(js >= 1, "the guard must count the shingle rows")
      assert(e.isInstanceOf[IllegalArgumentException])
      assert(e.getMessage == "requirement failed: exact-Jaccard shingle self-join is a " +
        s"quadratic verifier-only baseline: n=$exact rows exceeds cap=10. Run it on a sample, " +
        s"raise ${dedup.Guards.CapConf} deliberately, or use the scale path: q31 (MinHash LSH).")
    } finally {
      spark.conf.unset(dedup.Guards.CapConf)
      Caches.drain()
    }
  }
}
