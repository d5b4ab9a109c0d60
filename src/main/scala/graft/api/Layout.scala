package graft.api

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col

/** Persistent bucketed layout — the storage-level mate of
  * [[Partitioning.byGroups]] (which holds only for one session's plan
  * batch). flox amortizes its rechunk across the reductions of one
  * graph (flox/rechunk.py:158-223); a 100 TB corpus wants the same
  * economics across JOBS: pay the layout shuffle once at write time,
  * then every later join or aggregation on the bucket keys reads the
  * files already co-partitioned (Catalyst's EnsureRequirements sees
  * the scan's HashPartitioning satisfies the operator's distribution
  * and plans no Exchange — a join of two 100 TB bucketed fact tables
  * moves zero rows).
  *
  * Two layout rules this writer enforces, both invisible correctness-
  * wise but decisive at scale:
  *
  *  - '''one file per bucket''': a naive `bucketBy` write emits one
  *    file per (writing task x bucket) — at 1000 tasks x 1024 buckets
  *    that is a million files, and multi-file buckets also lose the
  *    scan's `outputOrdering`, putting the sort back under every
  *    sort-merge join. Pre-repartitioning by the bucket expression
  *    (Spark's own bucket hash: murmur3 pmod buckets, the same
  *    function `repartition(n, cols)` plans) routes each bucket to
  *    exactly one task, so each bucket is exactly one file.
  *  - '''sorted buckets''': with `sortCols` the per-bucket files carry
  *    a sort order the scan re-exposes (only valid because of the one
  *    file per bucket above), so a sort-merge join on the keys plans
  *    neither Exchange NOR Sort — the 100 TB join degenerates to a
  *    streamed zipper over co-located files. Since Spark 3.1 the scan
  *    only LISTS-AND-EXPOSES that order under
  *    `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (the
  *    listing cost was moved behind a flag); with the flag off the
  *    join stays exchange-free but re-sorts inside each bucket. Both
  *    shapes are law-pinned in LayoutSpec. Each writing task sorts by
  *    `sortCols` alone: Spark's planned write would sort by
  *    `[bucket id, sortCols…]`, but the bucket id is constant within a
  *    task after the repartition, so
  *    [[graft.plans.BucketSortElision]] (registered on the session by
  *    the first write) drops it — the same rows in the same order, with
  *    no hash evaluated per comparison.
  *
  * Joins between layouts: [[table]] and [[writeBucketed]] register
  * [[graft.plans.CoBucketedMerge]], which gives an un-hinted equi-join
  * of two scans bucketed on exactly its keys the sort-merge hint. At
  * default confs such a join would otherwise broadcast a side under
  * `autoBroadcastJoinThreshold` (collected to the driver and held while
  * the plan lives); merged, it plans no exchange and no broadcast. An
  * explicit hint wins. Operational lore for cross-team tables: two
  * layouts bucketed at DIFFERENT counts still join exchange-free when
  * the counts divide (16 ⋈ 8 coalesces the bigger side) under
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled=true` —
  * law-pinned in LayoutSpec. Pick bucket counts as powers of two so
  * any two layouts are divisible.
  */
object Layout {

  /** Write `df` as a bucketed (optionally bucket-sorted, optionally
    * directory-partitioned) parquet table. `path` makes it external
    * (the data lives there; the catalog entry is metadata only). Keys
    * must be a prefix-compatible superset of later join/agg keys for
    * the exchange elision to apply.
    *
    * `partitionCols` layers Hive-style directory partitioning (the
    * usual production combination: `date=.../bucket files` — partition
    * PRUNING cuts the time range, bucketing co-locates the join keys
    * within what survives). The one-file-per-bucket guarantee then
    * holds PER PARTITION DIRECTORY: rows are still routed by the
    * bucket hash alone, so each task carries exactly one bucket id
    * and writes at most one file for it into each partition directory
    * it has rows for. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int, sortCols: Seq[String] = Nil,
                    path: Option[String] = None,
                    mode: SaveMode = SaveMode.Overwrite,
                    partitionCols: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "bucket keys must be non-empty")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(partitionCols.intersect(keys).isEmpty,
      "partition columns and bucket keys must be disjoint")
    // appending writes a SECOND file into every touched bucket, which
    // silently costs the scan's sort-order exposure (and with it the
    // sort-free join) — refuse; rewrite the layout or verifyLayout
    // will flag it
    require(mode != SaveMode.Append,
      "Append breaks the one-file-per-bucket layout guarantee; " +
        "rewrite the table (Overwrite) instead")
    // one file per bucket: repartition by the bucket hash before the
    // bucketed write (same murmur3-pmod mapping on both sides). Each
    // task then holds one bucket id, so the planned write's leading
    // bucket-id sort key is constant; the strategy drops it
    org.apache.spark.sql.GraftSqlBridge.addStrategy(df.sparkSession,
      graft.plans.BucketSortElision)
    org.apache.spark.sql.GraftSqlBridge.addOptimization(df.sparkSession,
      graft.plans.CoBucketedMerge)
    val laid = df.repartition(buckets, keys.map(col): _*)
    var w = laid.write.format("parquet").mode(mode)
      .bucketBy(buckets, keys.head, keys.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    if (partitionCols.nonEmpty)
      w = w.partitionBy(partitionCols: _*)
    path.foreach(p => w = w.option("path", p))
    w.saveAsTable(table)
  }

  /** The bucketed table as a DataFrame. Its scan exposes the bucket
    * partitioning to the planner; the per-bucket sort order only under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (see the
    * object header). Registers [[graft.plans.CoBucketedMerge]] on the
    * session, so an un-hinted join of two layouts bucketed on its keys
    * merges their buckets instead of broadcasting one side. */
  def table(spark: SparkSession, name: String): DataFrame = {
    org.apache.spark.sql.GraftSqlBridge.addOptimization(spark,
      graft.plans.CoBucketedMerge)
    spark.table(name)
  }

  /** Integrity check for a layout written by [[writeBucketed]]:
    * every bucket id maps to AT MOST one data file (an EMPTY bucket
    * legitimately writes none — the scan's sort-order rule is
    * files-per-bucket ≤ 1). A stray append (another writer, a partial
    * job) leaves multiple files in a bucket — still CORRECT to read
    * (bucket pruning and hash partitioning hold per file), but the
    * scan stops exposing the per-bucket sort order and sort-merge
    * joins silently regrow their Sorts; this makes the degradation
    * loud (the verifyShards convention applied to layouts). Also
    * rejects bucket ids outside the declared range. Returns
    * bucketId → file count on success; throws naming the offending
    * buckets otherwise. Driver traffic is one file listing. */
  def verifyLayout(spark: SparkSession, name: String): Map[Int, Int] = {
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"table '$name' has no bucket spec — not a Layout table"))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketId = "_(\\d{5})[._]".r
    // recurse through partition directories: the ≤1-file rule holds
    // PER DIRECTORY (each partition dir is its own bucketed file set)
    def walk(dir: org.apache.hadoop.fs.Path): Seq[(String, Int)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else bucketId.findFirstMatchIn(n)
          .map(m => (dir.toString, m.group(1).toInt)).toSeq
      }
    val perDir = walk(loc)
    val counts = perDir.groupBy(identity).map { case (k, v) => k -> v.size }
    val multi = counts.filter(_._2 > 1)
    val outOfRange = perDir.map(_._2)
      .filter(b => b < 0 || b >= spec.numBuckets).distinct
    if (multi.nonEmpty || outOfRange.nonEmpty)
      throw new IllegalStateException(
        s"layout '$name' violated: " +
          (if (multi.nonEmpty)
            s"(dir, bucket) with multiple files: ${multi.keys.toSeq.sorted} "
          else "") +
          (if (outOfRange.nonEmpty)
            s"bucket ids outside 0..${spec.numBuckets - 1}: ${outOfRange.sorted}"
          else ""))
    // collapse to bucketId -> total files (the pre-partitioning shape)
    perDir.groupBy(_._2).map { case (b, v) => b -> v.size }
  }

  /** Every node of `df`'s physical plan TREE, unwrapping the adaptive /
    * query-stage / subquery shells — the robust alternative to regexing
    * `executedPlan.toString` (which drifts with plan formatting and
    * miscounts ReusedExchange nodes, r14 advice). ReusedExchangeExec is
    * kept as itself and NOT descended into: its child is a pointer to an
    * exchange already counted elsewhere in the tree. */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec        => p +: walk(q.plan)
      case _: ReusedExchangeExec    => Seq(p)
      case _ => p +: (p.children.flatMap(walk) ++
        p.subqueries.flatMap(walk))
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Number of shuffle exchanges in `df`'s physical plan — the
    * diagnostic for "did the layout actually elide the shuffle"
    * (broadcast exchanges excluded: they move a dimension table, not
    * the corpus; reused exchanges excluded: the data moved once). */
  def shuffleExchanges(df: DataFrame): Int =
    planNodes(df).count {
      case _: ShuffleExchangeLike => true
      case _                      => false
    }

  /** Number of SortExec nodes — the second half of the sorted-bucket
    * claim: a sort-merge join over bucket-sorted single-file buckets
    * plans neither Exchange NOR Sort. */
  def sortExecs(df: DataFrame): Int =
    planNodes(df).count {
      case _: SortExec => true
      case _           => false
    }
}
