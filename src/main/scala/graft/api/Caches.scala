package graft.api

import org.apache.spark.sql.DataFrame

/** Lifecycle for checkpoint-backed results.
  *
  * Iterative operators ([[graft.ops.Dedup.connectedComponents]],
  * [[graft.ops.Web.domainRank]],
  * [[graft.ops.Similarity.refineCentroids]]) return DataFrames backed
  * by one `localCheckpoint()` pin each — that materialization is what
  * makes the fixed-point loop's result reusable without rerunning it
  * (connectedComponents' driver solve on integral ids returns a local
  * relation instead, for which `release` is a no-op). The
  * blocks live in the block manager until the backing RDD is
  * garbage-collected on the driver AND ContextCleaner runs, so a
  * long-lived session issuing many such calls can accumulate dead
  * blocks between GCs. Call `release` once the result has been fully
  * consumed (written out, joined into a materialized downstream) to
  * free them deterministically.
  *
  * After release the DataFrame must NOT be used again: a
  * localCheckpoint's blocks are its only copy (lineage was cut), so a
  * later action on it fails rather than silently recomputing.
  */
object Caches {

  /** Unpersist every RDD-backed leaf of `df`'s analyzed plan (the
    * localCheckpoint blocks of an iterative result). No-op on plans
    * with no RDD leaves. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
