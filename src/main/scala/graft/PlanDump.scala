package graft

/** Optimization-round tooling: dump `.explain("formatted")` for declared
  * queries to files, under the exact session configuration the bench
  * runs with, so plan claims in OPTIMIZATION_r*.md are checkable.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [q78,q9*]
  * Writes <outDir>/<query>_<suffix>.txt per selected query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r18")
    val suffix = args.lift(1).getOrElse("before")
    val only = args.lift(2).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 32)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => NameFilter.selected(only, n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
          println(s"[plandump] wrote $name ($suffix)")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name: ${e.getMessage}")
        } finally Caches.drain()
      }
    spark.stop()
  }
}
