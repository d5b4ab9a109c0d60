package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one bridge into Spark's `private[sql]` and `private[spark]`
  * surface (hence this file's package, which reaches both): every graft
  * use of Spark internals goes through here, so a Spark upgrade that
  * moves them breaks in one place (`ExtensionsSpec` calls every method
  * below).
  *
  *  - `ofRows` wraps a logical plan as a DataFrame (analyzed, not
  *    executed): graft.api.GlobalScan returns its graft.plans.CarryScan
  *    node this way, so the scan is part of the query's plan, not an
  *    RDD built at construction.
  *  - `functionRegistry` is the session's function registry, where the
  *    codegen'd kernel expressions (graft.functions) register under
  *    `call_function` names.
  *  - `addStrategy` registers a planner strategy on the session's
  *    `experimental.extraStrategies` once (a second call is a no-op);
  *    `extraStrategies` lists them. graft.api.Layout registers
  *    graft.plans.BucketSortElision this way before its writes, and
  *    graft.api.GlobalScan graft.plans.CarryScanStrategy.
  *  - `addOptimization` does the same for an optimizer rule on
  *    `experimental.extraOptimizations` (the "User Provided Optimizers"
  *    batch); graft.api.Layout registers graft.plans.CoBucketedMerge.
  *  - `normalizeFloats` wraps a key expression in Spark's own grouping
  *    normalization (every NaN one value, −0.0 ≡ 0.0, through structs
  *    and arrays), so a byte-wise UnsafeRow key groups exactly as
  *    `groupBy` and `Window.partitionBy` do.
  *  - `drainListenerBus` blocks until the `private[spark]` listener bus
  *    has delivered every event posted so far, so counters fed by a
  *    `SparkListener` are exact once it returns (no sleep-polling).
  */
object GraftSqlBridge {
  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  def functionRegistry(spark: SparkSession): FunctionRegistry =
    classic(spark).sessionState.functionRegistry

  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val em = classic(spark).experimental
    em.synchronized {
      if (!em.extraStrategies.contains(strategy))
        em.extraStrategies = em.extraStrategies :+ strategy
    }
  }

  def extraStrategies(spark: SparkSession): Seq[SparkStrategy] =
    classic(spark).experimental.extraStrategies

  def addOptimization(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val em = classic(spark).experimental
    em.synchronized {
      if (!em.extraOptimizations.contains(rule))
        em.extraOptimizations = em.extraOptimizations :+ rule
    }
  }

  def normalizeFloats(key: Expression): Expression =
    NormalizeFloatingNumbers.normalize(key)

  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
