package graft.plans

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, GlobalLimit,
  LogicalPlan, Project, Sort, Union, Window}
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Plans a global `ORDER BY` whose input fits in one partition as one
  * task: `SortExec(global)` over `CoalesceExec(1)`, with no range
  * exchange. Spark's default plan range-partitions the sort input, which
  * costs a `RangePartitioner` sampling job and a map stage that each
  * compute the input again. Presto ends an ORDER BY with a single-node
  * merge (`MergeOperator`) and has no sampling pass.
  *
  * The bound is AQE's partition floor,
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB): below
  * it AQE coalesces the range exchange's output into one partition
  * anyway, so the sort ends in one task either way. The strategy fires
  * only when
  *  - the sort input's `sizeInBytes` is at or below the floor;
  *  - the sizes of its leaves sum to at most the floor, so a pipeline
  *    that the narrow coalesce collapses into one task never reads more;
  *  - the input holds no `Generate`: size-only statistics understate
  *    what `explode` emits;
  *  - Spark would plan an exchange for the input: it is not one
  *    partition already (a global aggregate, a limit, an unpartitioned
  *    window, a union of these), and AQE has not run its range exchange
  *    yet.
  * Anything else falls through to Spark's `SortExec`, with its range
  * exchange where the input has more than one partition.
  *
  * AQE re-plans through the session planner, and a materialized stage is
  * a `LogicalQueryStage` leaf with its runtime size. So a sort over an
  * aggregate of a large table takes this path once the aggregate's stage
  * has run, and AQE adopts the plan with one shuffle fewer.
  * `ORDER BY ... LIMIT` does not reach here: `SpecialLimits` plans it as
  * `TakeOrderedAndProject` from the limit node above the sort. Only when
  * AQE's runtime optimizer drops a limit that the input's row count
  * cannot reach is the bare sort left planned here, in one task either
  * way.
  *
  * Engine-built sessions get it through [[GraftExtensions]];
  * `Registry.install` adds it to `spark.experimental.extraStrategies` for
  * driver-provided ones. */
object SmallSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fitsOnePartition(order, child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def fitsOnePartition(order: Seq[SortOrder], input: LogicalPlan): Boolean = {
    val floor = BigInt(
      SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    !partitioned(order, input) && !input.exists(_.isInstanceOf[Generate]) &&
      input.stats.sizeInBytes <= floor &&
      input.collectLeaves().map(_.stats.sizeInBytes).sum <= floor
  }

  /** Inputs Spark sorts with no exchange: a stage AQE has already
    * partitioned for this order (the range exchange has run, so there is
    * nothing left to save), or a plan whose output is one partition
    * because it ends in an `AllTuples` requirement. A union of such plans
    * keeps their partitioning while `spark.sql.unionOutputPartitioning`
    * is on. */
  private def partitioned(order: Seq[SortOrder], p: LogicalPlan): Boolean = p match {
    case s: LogicalQueryStage =>
      s.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(order))
    case _: GlobalLimit => true
    case a: Aggregate => a.groupingExpressions.isEmpty
    case w: Window => w.partitionSpec.isEmpty
    case u: Union => SQLConf.get.getConf(SQLConf.UNION_OUTPUT_PARTITIONING) &&
      u.children.forall(partitioned(order, _))
    case Project(_, child) => partitioned(order, child)
    case Filter(_, child) => partitioned(order, child)
    case _ => false
  }
}
