package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (trailing * for a
    // prefix) — dev-loop filter so one new oracle can be checked without
    // a full board run.
    // The driver passes exactly two args, so its runs are always full.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean = NameFilter.selected(only, name)
    val spark = Harness.session(defaultCpus = 8)
    // INT64 micros so DuckDB reads back the exact instants we computed
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      dump(spark, sfDir, outDir, name, fn)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write one query's result to `$outDir/$name` as a single parquet
    * file. The previous result is deleted first: a query can fail while
    * its DataFrame is still being built (the iterative operators run
    * their loops during construction), and then the overwrite never
    * runs — an earlier run's result left on disk would hash-check as a
    * pass. A failure is named on stderr with its exception class, like
    * `Bench`; returns whether the query succeeded. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Boolean = {
    val out = s"$outDir/$name"
    RunTag.deleteNow(out)
    val ok =
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out); true }
      catch { case e: Throwable =>
        System.err.println(s"[verify] FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
        false
      }
    // cache hygiene between queries (see graft.Caches)
    Caches.drain()
    ok
  }
}
