package graft.plans

import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SORT
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REBALANCE_PARTITIONS_BY_COL, REBALANCE_PARTITIONS_BY_NONE, REPARTITION_BY_COL}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: a global sort whose whole input is
  * small, already-materialized shuffle output sorts that input in the
  * one partition AQE coalesces it into, instead of range-partitioning
  * it. `Sort(child)` becomes `Sort(Repartition(1, shuffle = false,
  * child))`; EnsureRequirements then sees `SinglePartition` and plans
  * no range exchange, so the RangePartitioner's sample job (which
  * re-runs the child), the sort's shuffle-map job and the re-planning
  * between them go away.
  *
  * Fires only when the subtree already runs as one task:
  *  - AQE partition coalescing is on, and every leaf under the sort is
  *    a materialized shuffle stage AQE may coalesce (origin
  *    ENSURE_REQUIREMENTS, REPARTITION_BY_COL or REBALANCE_*, never
  *    REPARTITION_BY_NUM, so an explicit `repartition(n, key)` such as
  *    `Parallelism.widen`'s keeps its spread);
  *  - the leaves' shuffle bytes sum to at most
  *    `spark.sql.adaptive.coalescePartitions.minPartitionSize`, which
  *    makes `ShufflePartitionsUtil` read them as one partition under
  *    either `parallelismFirst` setting;
  *  - nothing between the leaves and the sort multiplies rows: only
  *    projections, filters, aggregates and windows, plus joins that are
  *    semi/anti or whose size estimate stays within the same bound;
  *  - the sort is not under a limit (`orderBy().limit()` already plans
  *    as TakeOrderedAndProject) and its own range stage is not a leaf
  *    (then there is nothing left to save).
  * Reads no conf of its own; `spark.sql.adaptive.optimizer.excludedRules`
  * switches it off. A plan with no Sort is returned untouched.
  */
object SmallSortRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(SORT) || !conf.coalesceShufflePartitionsEnabled) plan
    else inPlace(plan, conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))

  private def inPlace(p: LogicalPlan, bound: Long): LogicalPlan = p match {
    case _: GlobalLimit | _: LocalLimit | _: Tail => p
    case s @ Sort(_, true, child, _) => child match {
      case Repartition(1, false, _) => s
      case _ if inputBytes(child, bound).exists(_ <= bound) =>
        s.copy(child = Repartition(1, shuffle = false, child))
      case _ => s.mapChildren(inPlace(_, bound))
    }
    case _ if p.containsPattern(SORT) => p.mapChildren(inPlace(_, bound))
    case _ => p
  }

  /** Shuffle bytes of the materialized, coalescable stages feeding `p`,
    * or None where the subtree has any other leaf or may multiply rows. */
  private def inputBytes(p: LogicalPlan, bound: Long): Option[Long] = p match {
    case LogicalQueryStage(_, physical) =>
      val leaves = physical.collectLeaves()
      if (!leaves.forall(coalescable)) None
      else Some(leaves.collect { case s: ShuffleQueryStageExec =>
        s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)
      }.sum)
    case j: Join if j.joinType != LeftSemi && j.joinType != LeftAnti &&
        j.stats.sizeInBytes > bound => None
    case a: AsOfJoinNode if a.stats.sizeInBytes > bound => None
    case _: Project | _: Filter | _: Aggregate | _: Window | _: Join | _: AsOfJoinNode =>
      p.children.foldLeft(Option(0L)) { (acc, c) =>
        acc.flatMap(a => inputBytes(c, bound).map(a + _))
      }
    case _ => None
  }

  private def coalescable(leaf: SparkPlan): Boolean = leaf match {
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      !s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning] &&
        (s.shuffle.shuffleOrigin match {
          case ENSURE_REQUIREMENTS | REPARTITION_BY_COL |
               REBALANCE_PARTITIONS_BY_NONE | REBALANCE_PARTITIONS_BY_COL => true
          case _ => false
        })
    case _ => false
  }
}
