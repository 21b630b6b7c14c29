package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{
  CoalesceExec, CollectMetricsExec, FileSourceScanExec, FilterExec, GenerateExec, ProjectExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{
  AQEShuffleReadExec, CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Runs a small result's last step in the task that produced its
  * input. An AQE query-stage preparation rule, injected by
  * [[graft.functions.GraftExtensions]]. It drops two kinds of exchange
  * that buy nothing when their input already runs in one task:
  *
  *  - Sort. A global `ORDER BY` plans a `RangePartitioning` exchange
  *    under its `SortExec`. The exchange's `RangePartitioner` runs a
  *    sampling job over the sort's input, the exchange's map stage
  *    computes that input again, and only then does the sort run:
  *    three executions of the input and two extra jobs.
  *  - Aggregate. A grouped aggregate plans a `HashPartitioning`
  *    exchange between its partial half and its final half (with a
  *    local `SortExec` above the exchange for a sort aggregate). The
  *    exchange costs a map stage, an AQE re-plan and a result job.
  *
  * The rule replaces such an exchange with `CoalesceExec(1, child)`.
  * That reports `SinglePartition`, which satisfies both the sort's
  * ordered distribution and the final half's clustered one, so the
  * sort or the final half runs where its input lands.
  *
  * The input runs in one task when it reaches one leaf through unary
  * operators only, and that leaf is
  *  - a file scan that plans exactly one split,
  *  - a materialized shuffle stage that AQE's own
  *    `CoalesceShufflePartitions`, asked with the session's settings,
  *    reads as one partition. With `parallelismFirst` on (the default)
  *    that holds up to `coalescePartitions.minPartitionSize` of map
  *    output and somewhat past it, since AQE merges a coalesced
  *    partition below that size into a neighbour, or
  *  - a `CoalesceExec(1)`, such as an aggregate this rule put in place,
  *    so the sort above that aggregate goes too.
  *
  * Below a sort, the unary operators must not multiply rows (project,
  * filter, aggregate, sort; never generate or expand), so no operator
  * runs in fewer tasks than it would under the exchange. Below a final
  * aggregate, a generate and a `CollectMetrics` may pass as well: the
  * final half reads at most what the partial half wrote, and the
  * partial half already ran in that one task, so the move at most
  * doubles one task's work and takes no parallelism the plan had. An
  * aggregate keeps its exchange in any plan with a join, a union or any
  * other operator of several children: a join that reads the
  * aggregate's hash partitioning co-partitions its other side with it,
  * and one partition would no longer line up with the other side's.
  *
  * The rule reads the AQE settings and sets none. It runs only inside
  * adaptive execution, so it does nothing with AQE off, and streaming
  * micro-batches (which plan without AQE) never reach it. A stage leaf
  * fits only once it has run, so an exchange above a finished stage
  * goes when AQE re-plans after that stage, which is also when the
  * plan with one exchange fewer is adopted. Columnar transitions and
  * codegen stages are inserted after this rule, so it never meets
  * them.
  */
case class InPlace(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val branches = plan.exists(_.children.size > 1)
    plan.transformUp {
      case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if runsInOneTask(child, generates = false) =>
        CoalesceExec(1, child)
      case agg: BaseAggregateExec if !branches && agg.requiredChildDistributionExpressions.isDefined =>
        agg.child match {
          case PartialHalf(partial) =>
            agg.withNewChildren(Seq(CoalesceExec(1, partial)))
          case s @ SortExec(_, false, PartialHalf(partial), _) =>
            agg.withNewChildren(Seq(s.withNewChildren(Seq(CoalesceExec(1, partial)))))
          case _ => agg
        }
    }
  }

  /** The partial half of an aggregate under its hash exchange, when it
    * runs in one task. */
  private object PartialHalf {
    def unapply(p: SparkPlan): Option[SparkPlan] = p match {
      case ShuffleExchangeExec(_: HashPartitioning, partial: BaseAggregateExec,
          ENSURE_REQUIREMENTS, _)
          if partial.requiredChildDistributionExpressions.isEmpty &&
            runsInOneTask(partial, generates = true) =>
        Some(partial)
      case _ => None
    }
  }

  private def runsInOneTask(p: SparkPlan, generates: Boolean): Boolean = p match {
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: SortExec =>
      runsInOneTask(p.children.head, generates)
    case _: GenerateExec | _: CollectMetricsExec if generates =>
      runsInOneTask(p.children.head, generates)
    case CoalesceExec(1, _) => true
    case s: FileSourceScanExec =>
      // a subquery in a partition filter has not run yet at this point
      !s.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
        s.inputRDD.getNumPartitions == 1
    case s: ShuffleQueryStageExec =>
      s.isMaterialized && (s.shuffle.numPartitions == 1 || coalescesToOne(s))
    case _ => false
  }

  /** Whether AQE's coalescing reads `s` as one partition. The stage
    * above `s` may be the final one, which coalesces only under
    * `applyFinalStageShuffleOptimizations`. */
  private def coalescesToOne(s: ShuffleQueryStageExec): Boolean =
    conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS) &&
      (CoalesceShufflePartitions(session)(s) match {
        case r: AQEShuffleReadExec => r.partitionSpecs.size == 1
        case _ => false
      })
}
