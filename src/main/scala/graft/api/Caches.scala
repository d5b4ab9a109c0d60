package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle for checkpoint-backed results.
  *
  * Iterative operators ([[graft.ops.Dedup.connectedComponents]],
  * [[graft.ops.Web.domainRank]],
  * [[graft.ops.Similarity.refineCentroids]]) return DataFrames backed
  * by one `localCheckpoint()` pin each — that materialization is what
  * makes the fixed-point loop's result reusable without rerunning it
  * (connectedComponents' driver solve on integral ids returns a local
  * relation instead, for which `release` is a no-op). The blocks live
  * in the block manager until the backing RDD is garbage-collected on
  * the driver AND ContextCleaner runs, so a long-lived session issuing
  * many such calls can accumulate dead blocks between GCs. Call
  * `release` once the result has been fully consumed (written out,
  * joined into a materialized downstream) to free them
  * deterministically.
  *
  * [[GlobalScan]] results need no release: the scan pins nothing
  * ([[graft.plans.CarryScanExec]] reads its range shuffle twice), so a
  * finished query holds no blocks. `release` does not descend into a
  * [[graft.plans.CarryScan]]: below it is the caller's own plan, whose
  * pins are the caller's to free.
  *
  * After release the DataFrame must NOT be used again: a
  * localCheckpoint's blocks are its only copy (lineage was cut), so a
  * later action on it fails rather than silently recomputing.
  */
object Caches {

  /** Unpersist every RDD-backed leaf of `df`'s analyzed plan (the
    * localCheckpoint blocks of an iterative result), stopping at each
    * GlobalScan node. No-op on plans with no RDD leaves. */
  def release(df: DataFrame): Unit = {
    def walk(p: LogicalPlan): Unit = p match {
      case r: LogicalRDD              => r.rdd.unpersist(blocking = false)
      case _: graft.plans.CarryScan   => ()
      case _                          => p.children.foreach(walk)
    }
    walk(df.queryExecution.analyzed)
  }
}
