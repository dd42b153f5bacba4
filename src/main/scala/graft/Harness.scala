package graft

import org.apache.spark.sql.SparkSession

/** The one session builder behind every graft entrypoint (Bench, Verify,
  * ProfileProbe, PlanDump, ScaleSmoke, ScaleSmoke100 and the two skew
  * stresses), so their settings cannot drift apart:
  *  - `local[SPARK_GRAFT_CPUS]` (else `defaultCpus`), with shuffle
  *    partitions equal to that count;
  *  - the session extension surface (optimizer rule, SQL functions, view
  *    DDL) — harnesses run what users run;
  *  - session time zone UTC, the Spark UI off, log level WARN;
  *  - `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` applied last: session-settable
  *    confs only, so one run can test a candidate conf without edits
  *    (e.g. `spark.graft.replayableHashes=false` times the xxhash64 hash
  *    family, see [[HashFamilies]]).
  *
  * Driver memory comes from the launching JVM (sbt -mem / SBT_OPTS):
  * `spark.driver.memory` would be a silent no-op in local mode.
  *
  * `env` is a parameter so tests can pin the contract without mutating
  * the process environment. */
object Harness {
  def session(defaultCpus: Int, env: Map[String, String] = sys.env): SparkSession = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    extraConf(env).foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** The well-formed `k=v` pairs of `SPARK_GRAFT_EXTRA_CONF`, in order.
    * Blank and malformed tokens (e.g. an unset shell variable) are
    * skipped; a value may itself contain `=`. */
  def extraConf(env: Map[String, String]): Seq[(String, String)] =
    env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => Some(k -> v)
        case _ => None
      }
    }
}
