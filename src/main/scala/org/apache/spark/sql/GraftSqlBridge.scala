package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.StructType

/** The one bridge into Spark's `private[sql]` and `private[spark]`
  * surface (hence this file's package, which reaches both): every graft
  * use of Spark internals goes through here, so a Spark upgrade that
  * moves them breaks in one place (`ExtensionsSpec` calls every method
  * below).
  *
  *  - `internalCreateDataFrame` wraps an `RDD[InternalRow]` as a
  *    DataFrame WITHOUT the external-Row round trip that
  *    `spark.createDataFrame(rdd, schema)` pays (per row: InternalRow →
  *    external Row conversion in the producer, then a full
  *    CatalystTypeConverters re-encode back to InternalRow in the
  *    consumer). graft.api.GlobalScan's second pass produces rows that
  *    are already internal; re-encoding them was pure per-row overhead
  *    on the 100 TB pass (guide §4 — keep the hot path on
  *    codegen-native representations).
  *  - `functionRegistry` is the session's function registry, where the
  *    codegen'd kernel expressions (graft.functions) register under
  *    `call_function` names.
  *  - `addStrategy` registers a planner strategy on the session's
  *    `experimental.extraStrategies` once (a second call is a no-op);
  *    `extraStrategies` lists them. graft.api.Layout registers
  *    graft.plans.BucketSortElision this way before its writes.
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

  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rdd, schema, isStreaming = false)

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

  def normalizeFloats(key: Expression): Expression =
    NormalizeFloatingNumbers.normalize(key)

  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
