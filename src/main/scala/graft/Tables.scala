package graft

import java.io.FileNotFoundException
import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated star schema (see /root/repo/TESTDATA.md).
  *
  * All readers go through `spark.read.parquet` so Catalyst performs column
  * pruning and filter pushdown into the vectorized parquet scan — at 100 TB
  * the scan is the dominant cost and every query below should show
  * `PushedFilters`/`ReadSchema` restricted to what it actually uses.
  *
  * Each table's schema is inferred once per session: inference runs a
  * footer-reading Spark job, and a board query loads several tables, so
  * a repeat read passes the inferred schema back in
  * (`spark.read.schema(s).parquet`), which plans with fresh attribute ids
  * and runs no job. An entry holds while the path's leaf files (names,
  * lengths, mtimes) and the session conf are what they were when it was
  * inferred: an overwritten table has new part files, and a conf such as
  * `spark.sql.legacy.parquet.nanosAsLong` changes the inferred types.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A path's leaf files (name, length, mtime) and the session conf. */
  private final case class Key(files: Seq[(String, Long, Long)], conf: Map[String, String])
  /** What is known of one path under one key: `data` are the leaf files
    * a read scans (none under a `_`/`.` directory or name); the schema and
    * the footer row count are filled in the first time they are asked for. */
  private final class Entry(val key: Key, val data: Seq[Path]) {
    @volatile var schema: Option[StructType] = None
    @volatile var rows: Option[Long] = None
  }
  private val entries =
    Collections.synchronizedMap(new WeakHashMap[SparkSession, ConcurrentHashMap[String, Entry]]())

  /** The entry of `path` in `spark`, a fresh one when the listing or the
    * conf has changed; None when the path does not exist (the read then
    * fails as it does without the cache). */
  private def entry(spark: SparkSession, path: String): Option[Entry] = {
    val files = ArrayBuffer[(String, Long, Long)]()
    val data = ArrayBuffer[Path]()
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a `listStatus` walk, not `listFiles`: on a local file system the
    // located statuses of `listFiles` took about 5 ms for a one-file
    // table on a 4-vCPU host, this walk about 20 µs
    def walk(st: FileStatus, scanned: Boolean): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).foreach { c =>
        walk(c, scanned && !c.getPath.getName.startsWith("_") && !c.getPath.getName.startsWith("."))
      } else {
        files += ((st.getPath.toString, st.getLen, st.getModificationTime))
        if (scanned) data += st.getPath
      }
    try walk(fs.getFileStatus(root), scanned = true)
    catch { case _: FileNotFoundException => return None }
    val key = Key(files.toSeq, spark.conf.getAll)
    val byPath = entries.synchronized {
      var m = entries.get(spark)
      if (m == null) { m = new ConcurrentHashMap[String, Entry](); entries.put(spark, m) }
      m
    }
    Some(byPath.compute(path, (_, e) => if (e != null && e.key == key) e else new Entry(key, data.toSeq)))
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val e = entry(spark, path)
    e.flatMap(_.schema) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        e.foreach(_.schema = Some(df.schema))
        df
    }
  }

  /** An upper bound on the rows of a table: the row counts in its parquet
    * footers, read on the driver once per entry. Long.MaxValue when a
    * footer cannot be read, so a caller comparing it to a cap falls back
    * to counting. */
  def rowsUpperBound(spark: SparkSession, dir: String, name: String): Long =
    entry(spark, s"$dir/$name.parquet").fold(Long.MaxValue) { e =>
      e.rows.getOrElse {
        val conf = spark.sparkContext.hadoopConfiguration
        val n =
          try e.data.iterator.map { p =>
            val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
            try r.getRecordCount finally r.close()
          }.sum
          catch { case NonFatal(_) => Long.MaxValue }
        e.rows = Some(n)
        n
      }
    }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** events.ts has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (no native Spark type — read as
    * long via the legacy conf and divided down to micros, losslessly: the
    * driver data is micro-aligned) and plain TIMESTAMP micros (read
    * natively). Normalize BOTH to TIMESTAMP_NTZ, matching what Spark
    * infers for the other tables' naive timestamps (so no UTC-adjust skew
    * vs the DuckDB oracle, which always sees a naive timestamp). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // set-if-absent: mutating a shared session's conf on every call would
    // be surprising; one idempotent write per session is the least we can
    // do while the legacy nanos switch is session-scoped (not a reader
    // option in Spark 4). Harmless when the column is already micros.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos generation
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case TimestampNTZType => raw
      case _ => // TIMESTAMP_LTZ (isAdjustedToUTC=true): strip the zone —
        // all graft sessions run spark.sql.session.timeZone=UTC, so the
        // cast's wall-clock equals what DuckDB reads natively
        raw.withColumn("ts", expr("cast(ts as timestamp_ntz)"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every table as a temp view named after itself, so SQL-dialect
    * operators (GROUPING SETS, etc.) can run via `spark.sql`. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
