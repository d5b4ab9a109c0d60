package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming interval (range) join — the incremental mirror of the
  * batch `Events.rangeJoin`: every left row pairs with the right rows
  * whose event time falls in `[leftTs + lower, leftTs + upper]`
  * (inclusive, seconds).
  *
  * Spark refuses stream-stream joins without an equality predicate
  * (state would be a full cross of both streams), so the batch
  * operator's bucketing IS the streaming design too: both sides get
  * time buckets of width `max(upper - lower, 1)` seconds, the left
  * side explodes into its ≤2 covering buckets (map-only, pre-state),
  * and the join becomes an EQUI-join on the bucket with the exact
  * range predicate as a residual filter. Each matching pair meets
  * exactly once (right buckets are unique).
  *
  * The residual predicate compares the two EVENT-TIME columns, which
  * is precisely the time constraint Structured Streaming needs to
  * derive state-eviction bounds from the two watermarks — join state
  * on both sides stays bounded by (watermark delay + window width),
  * not stream history.
  *
  * Scale notes: shuffle is keyed by time bucket — uniform event
  * streams spread evenly; the per-micro-batch cost is the same
  * equi-join it would be in batch. `lower`/`upper` are seconds and
  * both ts columns must be TimestampType (watermark requirement).
  */
object StreamingRangeJoin {

  def rangeJoin(left: DataFrame, right: DataFrame,
                leftTs: String, rightTs: String,
                lowerSec: Long, upperSec: Long,
                payload: Seq[String],
                watermarkDelay: String = "10 minutes",
                prefix: String = "rj_"): DataFrame = {
    StreamingCheckpoints.install(left.sparkSession)
    require(upperSec >= lowerSec, "upperSec must be >= lowerSec")
    require(payload.nonEmpty, "payload must be non-empty")
    val w = math.max(upperSec - lowerSec, 1L)
    // integral floor-division bucketing on epoch seconds (same
    // arithmetic as the batch operator — see Events.rangeJoin on why
    // floating division is unsafe for large epochs)
    def fdiv(xl: Column): Column =
      when(xl >= 0, call_function("div", xl, lit(w)))
        .otherwise(-call_function("div", -xl + (w - 1), lit(w)))

    val lSec = unix_timestamp(col(leftTs))
    val rSec = unix_timestamp(col(rightTs))
    val lExp = left.withWatermark(leftTs, watermarkDelay)
      .withColumn("__bucket",
        explode(sequence(fdiv(lSec + lowerSec), fdiv(lSec + upperSec))))
    val rB = right.withWatermark(rightTs, watermarkDelay)
      .select(fdiv(rSec).as("__bucket") +: col(rightTs).as("__rts") +:
        payload.map(col): _*)
    // Every left-side reference is QUALIFIED through lExp: a payload
    // name shared with the left stream (two event streams with similar
    // schemas is the common case) would otherwise make bare col()
    // ambiguous at plan time (r13 review).
    val cond = lExp("__bucket") === rB("__bucket") &&
      rB("__rts") >= lExp(leftTs) + expr(s"INTERVAL $lowerSec seconds") &&
      rB("__rts") <= lExp(leftTs) + expr(s"INTERVAL $upperSec seconds")
    lExp.join(rB, cond, "inner")
      .select(left.columns.map(c => lExp(c)) ++
        payload.map(p => rB(p).as(prefix + p)): _*)
  }
}
