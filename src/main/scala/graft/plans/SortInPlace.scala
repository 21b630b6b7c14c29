package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{
  CoalesceExec, FileSourceScanExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{
  AQEShuffleReadExec, CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small result in the task that produced it. An AQE
  * query-stage preparation rule, injected by
  * [[graft.functions.GraftExtensions]].
  *
  * A global `ORDER BY` plans a `RangePartitioning` exchange under its
  * `SortExec`. The exchange's `RangePartitioner` runs a sampling job
  * over the sort's input, the exchange's map stage computes that input
  * again, and only then does the sort run: three executions of the
  * input and two extra jobs. When the input is already one partition
  * this buys nothing, so the rule replaces the exchange with
  * `CoalesceExec(1, child)`. That reports `SinglePartition`, which
  * satisfies the sort's ordered distribution, and the sort runs where
  * its input lands.
  *
  * The rule fires only where no operator below the sort runs in fewer
  * tasks than it would under the exchange. The exchange's child must
  * reach its leaves only through operators that cannot multiply rows
  * (project, filter, aggregate, sort; never generate, expand or a
  * join), and every leaf must be either
  *  - a file scan that plans exactly one split, or
  *  - a materialized shuffle stage that AQE's own
  *    `CoalesceShufflePartitions`, asked with the session's settings,
  *    reads as one partition. With `parallelismFirst` on (the default)
  *    that holds up to `coalescePartitions.minPartitionSize` of map
  *    output and somewhat past it, since AQE merges a coalesced
  *    partition below that size into a neighbour.
  *
  * The rule reads those AQE settings and sets none. It runs only
  * inside adaptive execution, so it does nothing with AQE off, and
  * streaming micro-batches (which plan without AQE) never reach it.
  * A stage leaf fits only once it has run, so the exchange over an
  * aggregate goes when AQE re-plans after the aggregate's map stage,
  * which is also when the plan with one exchange fewer is adopted.
  * Columnar transitions and codegen stages are inserted after this
  * rule, so it never meets them.
  */
case class SortInPlace(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
        if readsOnePartition(child) =>
      CoalesceExec(1, child)
  }

  private def readsOnePartition(p: SparkPlan): Boolean = p match {
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: SortExec =>
      readsOnePartition(p.children.head)
    case s: FileSourceScanExec =>
      // a subquery in a partition filter has not run yet at this point
      !s.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
        s.inputRDD.getNumPartitions == 1
    case s: ShuffleQueryStageExec =>
      s.isMaterialized && (s.shuffle.numPartitions == 1 || coalescesToOne(s))
    case _ => false
  }

  /** Whether AQE's coalescing reads `s` as one partition. The sort's
    * stage may be the final one, which coalesces only under
    * `applyFinalStageShuffleOptimizations`. */
  private def coalescesToOne(s: ShuffleQueryStageExec): Boolean =
    conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS) &&
      (CoalesceShufflePartitions(session)(s) match {
        case r: AQEShuffleReadExec => r.partitionSpecs.size == 1
        case _ => false
      })
}
