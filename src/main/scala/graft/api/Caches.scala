package graft.api

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle for checkpoint-backed results.
  *
  * Iterative operators ([[graft.ops.Dedup.connectedComponents]],
  * [[graft.ops.Web.domainRank]],
  * [[graft.ops.Similarity.refineCentroids]]) return DataFrames backed
  * by one `localCheckpoint()` pin each — that materialization is what
  * makes the fixed-point loop's result reusable without rerunning it
  * (connectedComponents' driver solve on integral ids returns a local
  * relation instead, for which `release` is a no-op). The two-pass
  * [[GlobalScan]] results (prefix sums, row numbers, the carry scans)
  * read their pin one step removed: the result wraps the map-only
  * second pass, whose input is the pinned, range-partitioned rows. The
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

  /** Second-pass RDD of a two-pass result → the pin it reads. Both
    * sides are weak, so the map never keeps a pin alive past its
    * result: ContextCleaner still frees the blocks of a result that is
    * dropped without `release`. */
  private val pinsBehind = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], java.lang.ref.WeakReference[RDD[_]]]())

  /** Record that `out` reads the pinned frame `pin` (a
    * `localCheckpoint()` result), so [[release]] of a result wrapping
    * `out` frees the pin too. */
  private[api] def readsThrough(out: RDD[_], pin: DataFrame): Unit =
    pin.queryExecution.analyzed.foreach {
      case r: LogicalRDD =>
        pinsBehind.put(out, new java.lang.ref.WeakReference[RDD[_]](r.rdd))
      case _             => ()
    }

  /** Unpersist every RDD-backed leaf of `df`'s analyzed plan (the
    * localCheckpoint blocks of an iterative result) and the pin behind
    * each leaf that is a two-pass result's second pass. No-op on plans
    * with no RDD leaves. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: LogicalRDD =>
        r.rdd.unpersist(blocking = false)
        Option(pinsBehind.remove(r.rdd)).flatMap(p => Option(p.get))
          .foreach(_.unpersist(blocking = false))
      case _ => ()
    }
}
