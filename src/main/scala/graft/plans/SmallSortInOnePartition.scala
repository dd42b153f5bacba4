package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule (AQE): a global sort whose input is small
  * sorts in one partition. A sort's `OrderedDistribution` is met by a
  * `RangePartitioning` shuffle, whose `RangePartitioner` first runs a
  * sampling job that computes the whole input once, before the map stage
  * computes it again; on a small input AQE then coalesces the ranges
  * back to one partition anyway. A `SinglePartition` shuffle also meets
  * the distribution, so the output order is the same and the sampling
  * job is gone.
  *
  * The rule fires when the input's estimated size is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  * coalesces to, and only when that estimate bounds the output from
  * above: leaves with a reported size, materialized query stages, and
  * projections, filters, aggregates, joins, unions and sorts over them.
  * A `Generate` (Spark gives it the size of its child), an `Expand` or
  * any other operator declines it, as does turning AQE's partition
  * coalescing off. `repartitionByRange` is never rewritten: its shuffle
  * is the user's, not one `EnsureRequirements` added.
  *
  * Under AQE the rule runs again each time a stage completes, so a sort
  * over a shuffle whose input it cannot bound (an explode before an
  * aggregation) is rewritten once that shuffle's stage has run and its
  * real size is known. */
object SmallSortInOnePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      plan.transformUp {
        case s @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
            if bounded(child) &&
              child.logicalLink.exists(_.stats.sizeInBytes <= BigInt(advisory)) =>
          s.copy(outputPartitioning = SinglePartition)
      }
    }

  /** Does the plan's size estimate bound its output from above? */
  private def bounded(p: SparkPlan): Boolean = p match {
    case s: QueryStageExec => s.isMaterialized || bounded(s.plan)
    case i: InMemoryTableScanExec =>
      i.relation.cacheBuilder.isCachedColumnBuffersLoaded || bounded(i.relation.cachedPlan)
    case _: LeafExecNode => true
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: BaseJoinExec |
        _: UnionExec | _: SortExec | _: ShuffleExchangeExec | _: BroadcastExchangeExec |
        _: AQEShuffleReadExec | _: WholeStageCodegenExec | _: InputAdapter |
        _: ColumnarToRowExec =>
      p.children.forall(bounded)
    case _ => false
  }
}
