package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: a global sort over a small, already
  * computed input sorts on one partition.
  *
  * Spark plans `orderBy` as a range exchange with the shuffle-partition
  * count, and its RangePartitioner runs a sampling job for the range
  * bounds before the exchange's map stage. When the sort's input is
  * no larger than AQE's coalesce floor
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`), AQE
  * coalesces that range output into one partition anyway, so the
  * sample buys nothing. The rule then plans the sort over
  * `Repartition(1)`: one exchange, no sampling job, the same single
  * final task.
  *
  * Row order is unchanged: one task sorts every row either way, and
  * rows with equal keys (which range partitioning keeps in one
  * partition) arrive in the same map-output order.
  *
  * It fires only on runtime stats: every leaf under the sort must be a
  * materialized query stage, so the initial plan (and any sort over an
  * unscanned input) keeps its range exchange. A sort whose input is
  * already a `Repartition(1)`, planned or materialized, is left alone,
  * so the rule is idempotent.
  */
object SmallSortRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transform {
      case s: Sort if s.global && small(s.child) =>
        s.copy(child = Repartition(1, shuffle = true, s.child))
    }

  private def small(child: LogicalPlan): Boolean = {
    val onePartition = child match {
      case Repartition(1, true, _) => true
      case LogicalQueryStage(Repartition(1, true, _), _) => true
      case _ => false
    }
    !onePartition &&
      child.collectLeaves().forall {
        case q: LogicalQueryStage => q.isMaterialized
        case _ => false
      } &&
      child.stats.sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }
}
