package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage

/** Planner strategy: a task-local `Sort` over a fixed-count hash
  * repartition drops every sort key that IS the repartition's partition
  * id (`pmod(hash(keys), n)`), because that key is constant within each
  * task.
  *
  * The shape comes from [[graft.api.Layout.writeBucketed]]: it
  * repartitions by the bucket keys into `n` tasks, and Spark's planned
  * write (V1Writes) then sorts each task by `[bucket id, sortCols…]`.
  * The bucket id is the same expression the repartition routed rows by,
  * so every comparison ties on it and falls through to the full
  * comparator, which evaluates the hash twice per comparison — per-row
  * work that orders nothing. Planned here, the sort keeps the remaining
  * keys in their order (or disappears when none remain), and every task
  * emits its rows in exactly the order the full sort gave.
  *
  * Only `RepartitionByExpression` with an explicit partition count
  * qualifies: its shuffle is REPARTITION_BY_NUM, which AQE never
  * coalesces or splits, so a task's rows always share one partition id.
  * Without a count (REPARTITION_BY_COL) AQE may merge partitions, and
  * the key is kept. Projects between the sort and the repartition are
  * row-wise and pass through; after a shuffle stage materializes, AQE
  * replans the sort over the stage's `LogicalQueryStage` wrapper, which
  * is unwrapped the same way.
  */
object BucketSortElision extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, false, child, None) =>
      constantPartitionId(child) match {
        case Some(id) if order.exists(_.child.semanticEquals(id)) =>
          val kept = order.filterNot(_.child.semanticEquals(id))
          if (kept.isEmpty) planLater(child) :: Nil
          else SortExec(kept, global = false, planLater(child)) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }

  /** The partition-id expression that is constant within each task of
    * `p`'s output, when `p` is (row-wise projections of) a fixed-count
    * hash repartition. */
  private def constantPartitionId(p: LogicalPlan): Option[Expression] =
    p match {
      case Project(_, c)                  => constantPartitionId(c)
      case LogicalQueryStage(logical, _)  => constantPartitionId(logical)
      case r: RepartitionByExpression if r.optNumPartitions.isDefined =>
        r.partitioning match {
          case h: HashPartitioning => Some(h.partitionIdExpression)
          case _                   => None
        }
      case _ => None
    }
}
