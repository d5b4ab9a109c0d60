package graft

import graft.api.Layout
import org.apache.spark.sql.functions._

/** Certification of [[graft.api.Layout]] — the persistent bucketed
  * layout (the cross-JOB `rechunk_for_blockwise` analog,
  * flox/rechunk.py:158-223). Its two load-bearing claims are exactly
  * the kind that silently break across Spark versions, so both are
  * pinned as laws here (r14 verdict lead item):
  *
  *  (a) ONE FILE PER BUCKET on disk — the precondition for the scan
  *      re-exposing the per-bucket sort order;
  *  (b) a join+agg over two tables bucketed on the join key plans
  *      ZERO ShuffleExchangeExec and ZERO SortExec — asserted on the
  *      physical plan TREE (Layout.planNodes), never a string regex —
  *      while the identical join over the raw parquet plans shuffles
  *      (the negative control proving the elision is the layout's
  *      doing, not the data's size);
  *  (c) values are identical either way (also cross-engine certified
  *      by the q_bucketed_agg oracle row).
  */
class LayoutSpec extends SparkTestBase {

  private lazy val root =
    java.nio.file.Files.createTempDirectory("graft_layout_spec").toString

  private def writeBoth(): Unit = {
    Layout.writeBucketed(
      sf("lineitem").select("l_orderkey", "l_quantity", "l_extendedprice"),
      "layoutspec_li", Seq("l_orderkey"), 8, Seq("l_orderkey"),
      Some(s"$root/li"))
    Layout.writeBucketed(
      sf("orders").select("o_orderkey", "o_orderpriority"),
      "layoutspec_ord", Seq("o_orderkey"), 8, Seq("o_orderkey"),
      Some(s"$root/ord"))
  }

  /** join + agg both keyed on the BUCKET key — the operators whose
    * distribution requirement the bucketed scan's HashPartitioning
    * satisfies. (An agg on a different key must still shuffle its
    * post-join rows: bucketing is not magic, it co-locates the keys it
    * was declared on.) */
  private def bucketedJoinAgg() =
    Layout.table(spark, "layoutspec_ord")
      .join(Layout.table(spark, "layoutspec_li"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))

  test("one file per bucket on disk, bucket ids exhaustive") {
    writeBoth()
    val bucketId = "_(\\d{5})\\.".r
    for (sub <- Seq("li", "ord")) {
      val files = new java.io.File(s"$root/$sub").listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      assert(files.length == 8,
        s"$sub: expected exactly 8 bucket files, got ${files.length}")
      val ids = files.flatMap(f =>
        bucketId.findFirstMatchIn(f.getName).map(_.group(1).toInt)).toSet
      assert(ids == (0 until 8).toSet,
        s"$sub: bucket ids not exhaustive/unique: $ids")
    }
  }

  test("join+agg over two bucketed tables: zero shuffle exchanges, zero sorts; " +
    "raw-parquet control shuffles; values identical") {
    writeBoth()
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val legacyOrd =
      spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    try {
      // force the sort-merge path: a broadcast join would hide whether
      // the layout elided anything
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // per-bucket sort-order exposure is behind this flag since Spark
      // 3.1 (planning lists files to confirm one-per-bucket — exactly
      // the property Layout.writeBucketed guarantees); without it the
      // join re-sorts inside each bucket (still exchange-free)
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val bucketed = bucketedJoinAgg()
      assert(Layout.shuffleExchanges(bucketed) == 0,
        "bucketed join+agg planned a shuffle exchange:\n" +
          bucketed.queryExecution.executedPlan)
      assert(Layout.sortExecs(bucketed) == 0,
        "bucketed join+agg planned a sort (bucket sort order not " +
          "re-exposed — is one-file-per-bucket broken?):\n" +
          bucketed.queryExecution.executedPlan)

      // negative control: the same join over raw (unbucketed) parquet
      // must shuffle — proves the elision comes from the layout
      val raw = sf("orders").select("o_orderkey", "o_orderpriority")
        .join(sf("lineitem").select("l_orderkey", "l_quantity"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      assert(Layout.shuffleExchanges(raw) >= 2,
        "control: raw join+agg should shuffle both sides")

      // values identical either way
      val a = bucketed.orderBy("o_orderkey").collect().map(_.toSeq)
      val b = raw.select("o_orderkey", "sum_qty", "n_items")
        .orderBy("o_orderkey").collect().map(_.toSeq)
      assert(a.toSeq == b.toSeq, "bucketed results diverge from direct")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", legacyOrd)
    }
  }

  test("mismatched bucket counts (16 vs 8) stay exchange-free under " +
    "bucket coalescing — the cross-team-table join shape") {
    writeBoth()
    Layout.writeBucketed(
      sf("lineitem").select(col("l_orderkey").as("k16"), col("l_quantity")),
      "layoutspec_li16", Seq("k16"), 16, Seq("k16"), Some(s"$root/li16"))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val coal = spark.conf
      .get("spark.sql.bucketing.coalesceBucketsInJoin.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled",
        "true")
      // 16-bucket fact vs 8-bucket fact: the bigger side coalesces to
      // 8 (divisible), so neither side exchanges
      val j = Layout.table(spark, "layoutspec_li16")
        .join(Layout.table(spark, "layoutspec_ord"),
          col("k16") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").as("s"))
      // the final small agg on a non-bucket key still shuffles its
      // grouped rows — the law is about the two fact SCANS: with
      // coalescing ONE exchange (the post-join agg), without it THREE
      assert(Layout.shuffleExchanges(j) == 1,
        "coalesced mismatched-bucket join should leave only the " +
          "post-join agg exchange:\n" + j.queryExecution.executedPlan)
      spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled",
        "false")
      val j2 = Layout.table(spark, "layoutspec_li16")
        .join(Layout.table(spark, "layoutspec_ord"),
          col("k16") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").as("s"))
      assert(Layout.shuffleExchanges(j2) >= 2,
        "without coalescing, at least one fact side must re-shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled",
        coal)
    }
  }

  test("at default confs an un-hinted join of two layouts on their " +
    "bucket keys merges the buckets: no broadcast, no shuffle; rows equal " +
    "the broadcast plan's, and an explicit broadcast() still wins") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    writeBoth()
    Layout.writeBucketed(
      sf("lineitem").select(col("l_orderkey").as("k16"), col("l_quantity")),
      "layoutspec_li16", Seq("k16"), 16, Seq("k16"), Some(s"$root/li16"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    def broadcasts(d: org.apache.spark.sql.DataFrame) =
      Layout.planNodes(d).count(_.isInstanceOf[BroadcastExchangeLike])
    def join(ord: org.apache.spark.sql.DataFrame) =
      ord.join(Layout.table(spark, "layoutspec_li"),
        col("o_orderkey") === col("l_orderkey"))
    val ord = Layout.table(spark, "layoutspec_ord")
    val merged = join(ord)
    val hinted = join(broadcast(ord))
    val (got, want) = (rows(merged), rows(hinted))
    assert(broadcasts(merged) === 0, merged.queryExecution.executedPlan)
    assert(Layout.shuffleExchanges(merged) === 0,
      merged.queryExecution.executedPlan)
    assert(Layout.planNodes(merged).exists(_.isInstanceOf[SortMergeJoinExec]))
    assert(broadcasts(hinted) === 1, hinted.queryExecution.executedPlan)
    assert(got.nonEmpty && got === want)
    // 16 ⋈ 8 under bucket coalescing: merged too, so the post-join agg
    // is the only exchange
    val coal = spark.conf
      .get("spark.sql.bucketing.coalesceBucketsInJoin.enabled")
    try {
      spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled",
        "true")
      val j = Layout.table(spark, "layoutspec_li16")
        .join(Layout.table(spark, "layoutspec_ord"),
          col("k16") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("s"))
      j.collect()
      assert(broadcasts(j) === 0, j.queryExecution.executedPlan)
      assert(Layout.shuffleExchanges(j) === 1, j.queryExecution.executedPlan)
    } finally spark.conf.set(
      "spark.sql.bucketing.coalesceBucketsInJoin.enabled", coal)
  }

  test("persisted MinHash band index (Dedup.writeBandIndex): the " +
    "incremental-dedup candidate join shuffles ONLY the batch side; " +
    "raw-parquet control shuffles both; candidates identical") {
    import graft.ops.Dedup
    val all = sf("documents")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    Dedup.writeBandIndex(corpus, "text", "doc_id", "layoutspec_bandidx",
      8, numHashes = 4, bandSize = 1, k = 3, useMd5 = true,
      path = Some(s"$root/bandidx"))
    // the batch band table as a LEAF (checkpoint) so its own build
    // exchanges don't confound the measured join plan — at scale this
    // is the persisted-or-cached daily band table anyway
    val bBands = Dedup.bandIndex(batch, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .withColumnRenamed("id", "id_batch").localCheckpoint()
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaIndex = Layout.table(spark, "layoutspec_bandidx")
        .withColumnRenamed("id", "id_corpus")
        .join(bBands, Seq("band_key"))
        .select("id_batch", "id_corpus")
      assert(Layout.shuffleExchanges(viaIndex) == 1,
        "bucketed band index: only the batch side should exchange:\n" +
          viaIndex.queryExecution.executedPlan)
      // negative control: the same files read as plain parquet lose
      // the bucket metadata, so BOTH sides must shuffle
      val viaRaw = spark.read.parquet(s"$root/bandidx")
        .withColumnRenamed("id", "id_corpus")
        .join(bBands, Seq("band_key"))
        .select("id_batch", "id_corpus")
      assert(Layout.shuffleExchanges(viaRaw) >= 2,
        "control: unbucketed index join should shuffle both sides")
      val a = viaIndex.collect().map(_.toSeq).toSet
      val b = viaRaw.collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty, "candidate sets diverge")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("persisted PQ cell index: ANN serving never shuffles the index — " +
    "the plan's only exchanges are query-side-sized (probe window + " +
    "candidate top-k window), independent of corpus scale; results " +
    "equal the in-memory index") {
    import graft.ops.Similarity
    val e = sf("embeddings")
    // centroid table as a LEAF (checkpoint): k-bounded and persisted
    // with the index version in production, so its own build exchanges
    // must not confound the measured serving plan (the band-index
    // law's bBands treatment)
    val cents = Similarity.centroidsFromLabels(e, "label", "embedding")
      .localCheckpoint()
    val cb = Similarity.trainPq(e, "vec_id", "embedding", 64, 8, 16,
      iters = 1)
    Similarity.writeSemanticCellIndexPq(e, "vec_id", "embedding", cents,
      cb, 8, 16, "layoutspec_pqidx", 4, path = Some(s"$root/pqidx"))
    val queries = e.filter(col("vec_id") < 6)
    val served = Similarity.pqTopKAgainstIndex(queries, "vec_id",
      "embedding", Layout.table(spark, "layoutspec_pqidx"), cents, cb,
      8, 16, topK = 3, nProbe = 2)
    // exchange 1: the nProbe window over the (tiny) query side;
    // exchange 2: the per-query top-k window over the candidate
    // sliver. The corpus-scale index side contributes ZERO — it is
    // scanned in place under the broadcast probe join, codes never
    // re-derived. Both exchanges carry query-bounded rows, so the
    // count is the scale claim.
    assert(Layout.shuffleExchanges(served) == 2,
      "serving must not shuffle the index:\n" +
        served.queryExecution.executedPlan)
    val live = Similarity.pqTopKAgainstIndex(queries, "vec_id",
      "embedding", Similarity.semanticCellIndexPq(e, "vec_id",
        "embedding", cents, cb, 8, 16), cents, cb, 8, 16,
      topK = 3, nProbe = 2)
    assert(served.collect().map(_.toSeq).toSet ===
      live.collect().map(_.toSeq).toSet)
  }

  test("compacted band index (Dedup.compactBandIndex) is a REAL layout: " +
    "one file per bucket, and the candidate join against the v2 table " +
    "still shuffles only the batch side (the compaction's whole point)") {
    import graft.ops.Dedup
    val all = sf("documents")
    val m5 = col("doc_id") % 5
    val corpus0 = all.filter(m5 =!= 0 && m5 =!= 1)
    val batch1 = all.filter(m5 === 1)
    Dedup.writeBandIndex(corpus0, "text", "doc_id", "layoutspec_cidx", 8,
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true,
      path = Some(s"$root/cidx_v1"), prunedPath = Some(s"$root/cidx_pr"))
    val surv = Dedup.dropNearDupsAgainstIndex(batch1, corpus0,
      Layout.table(spark, "layoutspec_cidx"), "text", "doc_id", "doc_id",
      threshold = 0.8, numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
    Dedup.appendBandIndexDelta(surv, "text", "doc_id", s"$root/cidx_delta",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true,
      prunedKeys = Some(spark.read.parquet(s"$root/cidx_pr")))
    Dedup.compactBandIndex(spark, "layoutspec_cidx",
      spark.read.parquet(s"$root/cidx_delta"), "layoutspec_cidx_v2", 8,
      path = Some(s"$root/cidx_v2"),
      prunedKeys = Some(spark.read.parquet(s"$root/cidx_pr")),
      outPrunedPath = Some(s"$root/cidx_pr2"))
    Layout.verifyLayout(spark, "layoutspec_cidx_v2") // ≤1 file/bucket
    val bBands = Dedup.bandIndex(all.filter(m5 === 0), "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .withColumnRenamed("id", "id_batch").localCheckpoint()
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaV2 = Layout.table(spark, "layoutspec_cidx_v2")
        .withColumnRenamed("id", "id_corpus")
        .join(bBands, Seq("band_key"))
        .select("id_batch", "id_corpus")
      assert(Layout.shuffleExchanges(viaV2) == 1,
        "compacted index must keep the one-exchange candidate join:\n" +
          viaV2.queryExecution.executedPlan)
      assert(viaV2.count() > 0, "fixture must produce candidates")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("verifyLayout: clean layout passes; a stray second file in a " +
    "bucket fails loudly; Append mode is refused at write time") {
    writeBoth()
    val counts = Layout.verifyLayout(spark, "layoutspec_li")
    assert(counts.values.forall(_ == 1) && counts.size == 8)
    // simulate a stray append: copy one bucket file alongside itself
    val dir = new java.io.File(s"$root/li")
    val f = dir.listFiles().filter(_.getName.startsWith("part-")).head
    val stray = new java.io.File(dir,
      f.getName.replace("part-", "part-zzz-"))
    java.nio.file.Files.copy(f.toPath, stray.toPath)
    try {
      val e = intercept[IllegalStateException] {
        Layout.verifyLayout(spark, "layoutspec_li")
      }
      assert(e.getMessage.contains("multiple files"))
    } finally stray.delete()
    // and the writer refuses the mode that would cause it
    val e2 = intercept[IllegalArgumentException] {
      Layout.writeBucketed(sf("region"), "layoutspec_r", Seq("r_regionkey"),
        2, mode = org.apache.spark.sql.SaveMode.Append)
    }
    assert(e2.getMessage.contains("one-file-per-bucket"))
  }

  test("partitioned + bucketed layout: one file per bucket PER " +
    "partition dir, pruning reaches the scan, join on bucket keys " +
    "still exchange-free after pruning") {
    Layout.writeBucketed(
      sf("lineitem").select(col("l_orderkey"), col("l_quantity"),
        (col("l_orderkey") % 3).cast("int").as("pday")),
      "layoutspec_li_p", Seq("l_orderkey"), 4, Seq("l_orderkey"),
      Some(s"$root/li_p"), partitionCols = Seq("pday"))
    // per-partition-dir uniqueness law (verifyLayout recurses)
    val counts = Layout.verifyLayout(spark, "layoutspec_li_p")
    assert(counts.values.sum > 4, "expected files across partition dirs")
    // partition pruning reaches the scan
    val pruned = Layout.table(spark, "layoutspec_li_p")
      .filter(col("pday") === 1)
    val scans = Layout.planNodes(pruned).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty &&
      scans.head.metadata.get("PartitionFilters").exists(_.contains("pday")),
      "partition filter should reach the bucketed scan:\n" +
        pruned.queryExecution.executedPlan)
    // values: partitioned layout reads back the same data
    val a = Layout.table(spark, "layoutspec_li_p")
      .agg(sum("l_quantity")).head().getDouble(0)
    val b = sf("lineitem").agg(sum("l_quantity")).head().getDouble(0)
    assert(a === b)
    // the pruned slice still joins exchange-free on the bucket key
    writeBoth()
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = pruned.join(Layout.table(spark, "layoutspec_li")
          .withColumnRenamed("l_orderkey", "k8")
          .withColumnRenamed("l_quantity", "q8"),
          col("l_orderkey") === col("k8"))
        .groupBy("l_orderkey").agg(sum("q8").as("s"))
      // 4-bucket pruned side vs 8-bucket side: divisible counts under
      // coalescing would elide both; without relying on that conf here,
      // assert at most ONE side exchanges (the planner may re-shuffle
      // the smaller side to match)
      assert(Layout.shuffleExchanges(j) <= 1,
        "pruned bucketed join should shuffle at most one side:\n" +
          j.queryExecution.executedPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    }
  }

  /** Every SortExec in the executed plans of the queries `body` runs
    * on `session`, captured by a QueryExecutionListener (a table write
    * runs its insert as a nested execution, which reports too). */
  private def sortsOfWrites(session: org.apache.spark.sql.SparkSession)(
      body: => Unit): Seq[org.apache.spark.sql.execution.SortExec] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec  => p +: walk(a.executedPlan)
      case q: QueryStageExec         => p +: walk(q.plan)
      case w: DataWritingCommandExec => p +: walk(w.child)
      case _                         => p +: p.children.flatMap(walk)
    }
    session.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(
        session.sparkContext)
    } finally session.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.flatMap(walk).collect { case s: SortExec => s }
  }

  /** A sort key that is a bucket id: `pmod(hash(keys), n)`. */
  private def onBucketId(s: org.apache.spark.sql.execution.SortExec) =
    s.sortOrder.exists(_.child.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.Pmod])

  test("bucketed write under AQE sorts each task by sortCols alone: no " +
    "sort on the bucket id, one file per bucket, every file sorted, " +
    "the same rows") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val li = sf("lineitem").select("l_orderkey", "l_quantity",
      "l_extendedprice")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val sorts = sortsOfWrites(spark) {
        Layout.writeBucketed(li, "layoutspec_elide", Seq("l_orderkey"), 8,
          Seq("l_orderkey"), Some(s"$root/elide"))
      }
      assert(sorts.nonEmpty, "the write should still sort by sortCols")
      assert(!sorts.exists(onBucketId),
        s"a write sort orders on the bucket id: ${sorts.map(_.sortOrder)}")
      assert(sorts.forall(_.sortOrder.map(_.child.toString).exists(
        _.contains("l_orderkey"))))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(Layout.verifyLayout(spark, "layoutspec_elide").values.toSeq ===
      Seq.fill(8)(1))
    // rows in file order: one file is one split at this size, read in
    // sequence, so each file's keys must come back non-decreasing
    val read = spark.read.parquet(s"$root/elide")
      .select(input_file_name().as("f"), col("l_orderkey"),
        col("l_quantity"), col("l_extendedprice"))
      .collect()
    val files = read.groupBy(_.getString(0))
    assert(files.size === 8)
    files.foreach { case (f, rs) =>
      val keys = rs.map(_.getLong(1)).toSeq
      assert(keys === keys.sorted, s"$f is not sorted by l_orderkey")
    }
    assert(read.map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq.sorted === li.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted)
  }

  test("the bucket-id sort is there without the strategy (the detector " +
    "works), and writing twice registers the strategy once") {
    import org.apache.spark.sql.GraftSqlBridge
    // a fresh session has no extra strategies: the plain bucketed write
    // sorts on [bucket id, key]
    val fresh = spark.newSession()
    val raw = sortsOfWrites(fresh) {
      fresh.range(2000).toDF("o_orderkey")
        .repartition(4, col("o_orderkey"))
        .write.format("parquet").mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$root/plain").saveAsTable("layoutspec_plain")
    }
    assert(raw.exists(onBucketId), s"sorts seen: ${raw.map(_.sortOrder)}")
    writeBoth()
    writeBoth()
    assert(GraftSqlBridge.extraStrategies(spark)
      .count(_ eq graft.plans.BucketSortElision) === 1)
  }

  test("BucketSortElision keeps the bucket-id key unless the sort sits on " +
    "a fixed-count hash repartition") {
    import graft.plans.BucketSortElision
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression, Sort}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    val base = spark.range(100).toDF("k")
    val k = base.queryExecution.analyzed.output.head
    def repart(df: org.apache.spark.sql.DataFrame): RepartitionByExpression =
      df.queryExecution.analyzed.asInstanceOf[RepartitionByExpression]
    def idOf(r: RepartitionByExpression) =
      r.partitioning.asInstanceOf[HashPartitioning].partitionIdExpression
    def sortOn(r: LogicalPlan, id: org.apache.spark.sql.catalyst.expressions.Expression,
               global: Boolean = false) =
      Sort(Seq(SortOrder(id, Ascending), SortOrder(k, Ascending)), global, r)
    // fixed count: the id key goes, the rest stays in order
    val fixed = repart(base.repartition(4, col("k")))
    BucketSortElision(sortOn(fixed, idOf(fixed))) match {
      case Seq(s: SortExec) =>
        assert(s.sortOrder.map(_.child) === Seq(k))
        assert(!s.global)
      case other => fail(s"expected one SortExec, got $other")
    }
    // through a row-wise Project (the planned write's empty2null over
    // string partition columns), and with no key left, no sort at all
    val projected = org.apache.spark.sql.catalyst.plans.logical.Project(
      fixed.output, fixed)
    assert(BucketSortElision(sortOn(projected, idOf(fixed))).collect {
      case s: SortExec => s.sortOrder.map(_.child) }.flatten === Seq(k))
    assert(!BucketSortElision(Sort(Seq(SortOrder(idOf(fixed), Ascending)),
      global = false, fixed)).exists(_.isInstanceOf[SortExec]))
    // no count (AQE may coalesce those partitions): not planned here, so
    // the default planner keeps every key
    val byCol = repart(base.repartition(col("k")))
    assert(byCol.optNumPartitions.isEmpty)
    assert(BucketSortElision(sortOn(byCol, idOf(byCol))).isEmpty)
    // a global sort, and a key that is another count's id, stay too
    assert(BucketSortElision(sortOn(fixed, idOf(fixed), global = true)).isEmpty)
    val other = repart(base.repartition(5, col("k")))
    assert(BucketSortElision(sortOn(fixed, idOf(other))).isEmpty)
  }

  test("single-table agg on the bucket key is exchange-free") {
    writeBoth()
    val agg = Layout.table(spark, "layoutspec_li")
      .groupBy("l_orderkey").agg(sum("l_quantity").as("s"))
    assert(Layout.shuffleExchanges(agg) == 0,
      "agg on the bucket key should read pre-partitioned:\n" +
        agg.queryExecution.executedPlan)
  }
}
