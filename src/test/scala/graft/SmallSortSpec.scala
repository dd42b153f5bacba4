package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SmallSortInOnePartition]]: a global sort of a small
  * input sorts in one partition, without the range-sampling job, in the
  * same order; an input whose estimate bounds nothing, or exceeds AQE's
  * advisory partition size, keeps its range shuffle, and so does every
  * sort when coalescing is off. */
class SmallSortSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val Coalesce = "spark.sql.adaptive.coalescePartitions.enabled"

  /** 1,000 rows in a scrambled order over four partitions. */
  private def unsorted: DataFrame =
    spark.range(0, 1000, 1, 4).select(((col("id") * 7919) % 1000).as("k"), col("id"))

  /** Rows and Spark jobs of one collect, and its final plan's text
    * (without AQE's initial plan). */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusSync.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      val rows = df.collect().toSeq
      org.apache.spark.ListenerBusSync.waitUntilEmpty(sc)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      (rows, n.get, plan.toString)
    } finally sc.removeSparkListener(l)
  }

  private def withConf[A](k: String, v: String)(body: => A): A = {
    spark.conf.set(k, v)
    try body finally spark.conf.unset(k)
  }

  test("a small ORDER BY sorts in one partition, one job fewer, in the same order") {
    val (rows, jobs, plan) = run(unsorted.orderBy(col("k").desc, col("id")))
    assert(plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"), plan)
    val expected = unsorted.collect().toSeq
      .sortBy(r => (-r.getLong(0), r.getLong(1)))
    assert(rows == expected)
    // the rule declines once the input exceeds the advisory size: the
    // range shuffle's sampling job comes back, and nothing else changes
    val (rangeRows, rangeJobs, rangePlan) =
      withConf(Advisory, "1k")(run(unsorted.orderBy(col("k").desc, col("id"))))
    assert(rangePlan.contains("rangepartitioning"), rangePlan)
    assert(rangeRows == expected)
    assert(jobs == rangeJobs - 1, s"single: $jobs jobs, range: $rangeJobs jobs")
  }

  test("an exploded input keeps its range shuffle until a stage below has run") {
    val exploded = unsorted.select(explode(array(col("k"), col("k") + 1000)).as("x"))
    val (rows, _, plan) = run(exploded.orderBy(col("x")))
    assert(plan.contains("rangepartitioning"), plan)
    assert(rows.map(_.getLong(0)) == (0L until 2000L))
    // over an aggregation the shuffle stage's real size is known when
    // the sort is planned again, so it sorts in one partition
    val (agg, _, aggPlan) = run(exploded.groupBy((col("x") % 10).as("b")).count().orderBy(col("b")))
    assert(aggPlan.contains("Exchange SinglePartition") && !aggPlan.contains("rangepartitioning"),
      aggPlan)
    assert(agg.map(r => (r.getLong(0), r.getLong(1))) == (0L until 10L).map((_, 200L)))
  }

  test("coalescing off keeps the range shuffle; repartitionByRange is never rewritten") {
    val (rows, _, plan) = withConf(Coalesce, "false")(run(unsorted.orderBy(col("k"))))
    assert(plan.contains("rangepartitioning"), plan)
    assert(rows.map(_.getLong(0)) == (0L until 1000L))
    val (_, _, byRange) = run(unsorted.repartitionByRange(3, col("k")))
    assert(byRange.contains("rangepartitioning(k#") && byRange.contains("REPARTITION_BY_NUM"), byRange)
    assert(unsorted.repartitionByRange(3, col("k")).rdd.getNumPartitions == 3)
  }
}
