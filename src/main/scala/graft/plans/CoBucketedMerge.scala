package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, ExprId}
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalOperation}
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, JoinHint, LogicalPlan, SHUFFLE_MERGE}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Optimizer rule: an un-hinted equi-join of two bucketed scans whose
  * bucket columns are exactly the join keys gets the `SHUFFLE_MERGE`
  * hint, so it plans as a sort-merge join over the co-located buckets:
  * no exchange on either side and no broadcast.
  *
  * Without the hint, a side under `autoBroadcastJoinThreshold` is
  * broadcast: its rows are collected to the driver and held as a hash
  * relation for as long as the plan lives, although the buckets already
  * put every pair of matching rows in the same task. The shuffled hash
  * join would also need no exchange, but it builds each bucket in
  * memory and cannot spill; a bucket of a large layout does not fit.
  *
  * The rule fires only when bucketed scans are on and the buckets line
  * up: the i-th bucket column of the left scan is joined to the i-th of
  * the right (through plain column renames), and the bucket counts are
  * equal or `spark.sql.bucketing.coalesceBucketsInJoin.enabled` can
  * coalesce them (one count divides the other within the configured
  * ratio). A join that carries any strategy hint is left alone, so an
  * explicit `broadcast()` still broadcasts. [[graft.api.Layout]]
  * registers the rule on the session before its first read or write.
  */
object CoBucketedMerge extends Rule[LogicalPlan] {

  private val merge =
    JoinHint(Some(HintInfo(strategy = Some(SHUFFLE_MERGE))), None)

  def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.bucketingEnabled) plan
    else plan.transformUp {
      case j @ ExtractEquiJoinKeys(_, lk, rk, _, _, l, r, JoinHint.NONE)
          if coBucketed(lk, rk, l, r) => j.copy(hint = merge)
    }

  private def coBucketed(lk: Seq[Expression], rk: Seq[Expression],
                         l: LogicalPlan, r: LogicalPlan): Boolean =
    (buckets(l), buckets(r)) match {
      case (Some((lb, ln, lbase)), Some((rb, rn, rbase))) =>
        val pairs = lk.zip(rk).map { case (a, b) => (lbase(a), rbase(b)) }
        lb.length == lk.length && rb.length == rk.length &&
          lb.zip(rb).map { case (a, b) => (Some(a), Some(b)) }.toSet ==
            pairs.toSet && countsJoin(ln, rn)
      case _ => false
    }

  private def countsJoin(a: Int, b: Int): Boolean = {
    val (hi, lo) = (math.max(a, b), math.min(a, b))
    hi == lo || (conf.coalesceBucketsInJoinEnabled && hi % lo == 0 &&
      hi / lo <= conf.coalesceBucketsInJoinMaxBucketRatio)
  }

  /** A side that is (projections and filters over) a bucketed file
    * scan: its bucket columns' ids, its bucket count, and the map from a
    * join key to the scan column it renames (None for any other key). */
  private def buckets(p: LogicalPlan)
      : Option[(Seq[ExprId], Int, Expression => Option[ExprId])] = p match {
    case PhysicalOperation(projects, _, rel: LogicalRelation) =>
      rel.relation match {
        case fs: HadoopFsRelation => fs.bucketSpec.flatMap { spec =>
          val cols = spec.bucketColumnNames.map(n =>
            rel.output.find(a => conf.resolver(a.name, n)).map(_.exprId))
          val renamed = projects.collect {
            case a @ Alias(c: Attribute, _) => a.exprId -> c.exprId
          }.toMap
          val base: Expression => Option[ExprId] = {
            case a: Attribute => Some(renamed.getOrElse(a.exprId, a.exprId))
            case _            => None
          }
          if (cols.forall(_.isDefined))
            Some((cols.flatten, spec.numBuckets, base))
          else None
        }
        case _ => None
      }
    case _ => None
  }
}
