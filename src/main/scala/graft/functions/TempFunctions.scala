package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Scoped registration for the model-carrying kernel expressions
  * ([[BpeSegmentExpr]], [[BigramNllExpr]], the unigram-LM kernels).
  *
  * Each call site needs a registry entry only long enough for analysis
  * to resolve `call_function(name, ...)` into the expression instance —
  * Datasets analyze eagerly on construction, so by the time the builder
  * returns the plan holds the resolved expression and the registry
  * entry is dead weight. Leaving it registered pinned the model map in
  * the session function registry forever (one entry per call via the
  * unique-name counter), an unbounded leak in long-lived sessions that
  * train/score repeatedly. Registering under a fresh name and dropping
  * after analysis keeps the isolation (concurrently built plans can't
  * see each other's model) without the accumulation.
  */
private[graft] object TempFunctions {

  private val fnId = new java.util.concurrent.atomic.AtomicLong()

  /** Register `builder` as a temp function under a fresh unique name
    * derived from `prefix`, run `use` (which must ANALYZE any plan
    * referencing the name before returning — constructing the Dataset
    * suffices), then deregister. */
  def withTempFunction[T](spark: SparkSession, prefix: String,
                          builder: Seq[Expression] => Expression)(use: String => T): T = {
    val fn = s"${prefix}_${fnId.incrementAndGet()}"
    val reg = org.apache.spark.sql.GraftSqlBridge.functionRegistry(spark)
    reg.createOrReplaceTempFunction(fn, builder, "built-in")
    try use(fn)
    finally reg.dropFunction(FunctionIdentifier(fn))
  }
}
