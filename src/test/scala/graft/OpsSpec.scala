package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis, Web}
import org.apache.spark.sql.functions._

/** Pipeline-operator behavior on controlled inputs. */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different text about spark engines here"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "tiny")
  ).toDF("doc_id", "text")

  test("exact dedup groups whitespace-normalized duplicates") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(g.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L)))
    val kept = Dedup.dropExact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 2L, 3L, 5L))
  }

  test("minhash LSH finds near-dup, jaccard verifies, unrelated excluded") {
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id",
      threshold = 0.5, numHashes = 8, bandSize = 1, k = 3, useMd5 = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 4L))) // exact dup always found
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental dedup: batch-vs-index pairs equal the cross " +
    "restriction of the within-corpus pair graph; survivors are the " +
    "complement; corpus always wins") {
    // hand-checked small case: batch {2,4,5} against corpus {1,3} —
    // 2 is a near-dup of 1 (jaccard 6/8), 4 an exact dup of 1, 5 clean
    val batch = docs.filter(col("doc_id").isin(2L, 4L, 5L))
    val corpus = docs.filter(col("doc_id").isin(1L, 3L))
    val idx = Dedup.bandIndex(corpus, "text", "doc_id",
      numHashes = 8, bandSize = 1, k = 3, useMd5 = true)
    val pairs = Dedup.nearDupsAgainstIndex(batch, corpus, idx, "text",
      "doc_id", "doc_id", threshold = 0.5,
      numHashes = 8, bandSize = 1, k = 3, useMd5 = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((2L, 1L), (4L, 1L)))
    val kept = Dedup.dropNearDupsAgainstIndex(batch, corpus, idx, "text",
      "doc_id", "doc_id", threshold = 0.5,
      numHashes = 8, bandSize = 1, k = 3, useMd5 = true)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(5L))
    // equivalence law on the real fixture: the incremental path must
    // find EXACTLY the cross pairs the certified within-corpus
    // nearDupPairs finds (restricted to one batch / one corpus side) —
    // the index join is a factoring of the same band machinery, so
    // any drift here is a real defect, not a tuning difference
    val all = sf("documents")
    val isBatch = col("doc_id") % 5 === 0
    val b5 = all.filter(isBatch)
    val c5 = all.filter(!isBatch)
    val idx5 = Dedup.bandIndex(c5, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
    val inc = Dedup.nearDupsAgainstIndex(b5, c5, idx5, "text",
      "doc_id", "doc_id", threshold = 0.8,
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = Dedup.nearDupPairs(all, "text", "doc_id",
      threshold = 0.8, numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (a, b) else (b, a) }.toSet
    assert(inc === whole)
  }

  test("incremental hamming index: batch-vs-index pairs equal the " +
    "cross restriction of hammingNearDupPairs; the verify reads only " +
    "index-carried signatures") {
    val all = sf("documents")
    def sigOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("__id"),
        Dedup.simhash32(col("text")).as("__sig"))
    val isBatch = col("doc_id") % 5 === 0
    val idx = Dedup.hammingBandIndex(sigOf(all.filter(!isBatch)),
      sigBits = 32, maxHamming = 3)
    val inc = Dedup.hammingNearDupsAgainstIndex(
        sigOf(all.filter(isBatch)), idx, sigBits = 32, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val whole = Dedup.simhashNearDupPairs(all, "text", "doc_id",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, h) => if (a % 5 == 0) (a, b, h) else (b, a, h) }
      .toSet
    assert(inc === whole)
    assert(inc.nonEmpty, "fixture must contain cross near-dups")
  }

  test("incremental dedup broadcast gates: thresholds forced to 0 take " +
    "the un-hinted shuffle path and pairs + survivors stay identical " +
    "(r16 advice: an oversized batch must degrade, not fail)") {
    val all = sf("documents")
    val batch = all.filter(col("doc_id") % 5 === 0)
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val idx = Dedup.bandIndex(corpus, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
    def pairs() = Dedup.nearDupsAgainstIndex(batch, corpus, idx, "text",
        "doc_id", "doc_id", threshold = 0.8,
        numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def kept() = Dedup.dropNearDupsAgainstIndex(batch, corpus, idx, "text",
        "doc_id", "doc_id", threshold = 0.8,
        numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // the same law over every other id-gated site: rows at threshold 0
    // equal the default's, and at 0 no broadcast hint sits on a pinned
    // (gated) side of the optimized plan, where the default has one
    val cb = Array(0.0, 1.0, 0.0, 1.0)
    val (m, k2) = (2, 2)
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val vecCorpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (4L, Seq(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val vecBatch = Seq((6L, Seq(1.0f, 0.0f)), (5L, Seq(0.55f, 0.835f)),
      (7L, Seq(0.3f, 0.3f))).toDF("vec_id", "embedding")
    val idxVec = Similarity.semanticCellIndex(vecCorpus, "vec_id",
      "embedding", cents)
    val idxPq = Similarity.semanticCellIndexPq(vecCorpus, "vec_id",
      "embedding", cents, cb, m, k2)
    val gated: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "crossNearDupPairs" -> (() => Dedup.crossNearDupPairs(batch, corpus,
        "text", "doc_id", "doc_id", threshold = 0.8, numHashes = 4,
        bandSize = 1, k = 3, useMd5 = true)),
      "dropSemanticAgainstIndex" -> (() => Similarity
        .dropSemanticAgainstIndex(vecBatch, "vec_id", "embedding", idxVec,
          cents, threshold = 0.95)),
      "dropSemanticAgainstIndexPq" -> (() => Similarity
        .dropSemanticAgainstIndexPq(vecBatch, "vec_id", "embedding", idxPq,
          vecCorpus, "vec_id", "embedding", cents, cb, m, k2,
          threshold = 0.95)),
      "pqTopKRefinedAgainstIndex" -> (() => Similarity
        .pqTopKRefinedAgainstIndex(vecBatch, "vec_id", "embedding", idxPq,
          vecCorpus, "vec_id", "embedding", cents, cb, m, k2, topK = 1,
          refineFactor = 2, nProbe = 1)))
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def pinnedBroadcasts(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
      import org.apache.spark.sql.execution.LogicalRDD
      df.queryExecution.optimizedPlan.collect { case j: Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).count {
          case (h, side) => h.exists(_.strategy.contains(BROADCAST)) &&
            side.exists(_.isInstanceOf[LogicalRDD])
        }
      }.sum
    }
    val atDefault = gated.map { case (_, f) =>
      val df = f()
      (rowSet(df), pinnedBroadcasts(df))
    }
    val (hintedPairs, hintedKept) = (pairs(), kept())
    try {
      spark.conf.set("spark.graft.dedup.idBroadcastThreshold", "0")
      spark.conf.set("spark.graft.dedup.shingleBroadcastThreshold", "0")
      assert(pairs() === hintedPairs)
      assert(kept() === hintedKept)
      assert(hintedPairs.nonEmpty && hintedKept.nonEmpty)
      gated.zip(atDefault).foreach { case ((name, f), (rows, hints)) =>
        val df = f()
        assert(rows.nonEmpty, name)
        assert(rowSet(df) === rows, name)
        assert(hints > 0, s"$name: no gated broadcast at the default")
        assert(pinnedBroadcasts(df) === 0,
          s"$name: broadcast hint on a gated side at threshold 0:\n" +
            df.queryExecution.optimizedPlan)
      }
    } finally {
      spark.conf.unset("spark.graft.dedup.idBroadcastThreshold")
      spark.conf.unset("spark.graft.dedup.shingleBroadcastThreshold")
    }
  }

  private def causeMessages(t: Throwable): String = {
    val sb = new StringBuilder
    var c: Throwable = t
    while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
    sb.toString
  }

  test("band-index config mismatch is LOUD: querying with parameters " +
    "that differ from the build throws at scan time naming both " +
    "stamps (MinHash and hamming) — never silent partial recall") {
    val all = sf("documents")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    val idx = Dedup.bandIndex(corpus, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
    // numHashes=6 query vs numHashes=4 build: before r17 this silently
    // consulted only the shared band prefix (reduced recall)
    val e = intercept[Throwable] {
      Dedup.nearDupsAgainstIndex(batch, corpus, idx, "text",
        "doc_id", "doc_id", threshold = 0.8,
        numHashes = 6, bandSize = 1, k = 3, useMd5 = true)
    }
    assert(causeMessages(e).contains("config mismatch"), causeMessages(e))
    def sigOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("__id"),
        Dedup.simhash32(col("text")).as("__sig"))
    val hidx = Dedup.hammingBandIndex(sigOf(corpus),
      sigBits = 32, maxHamming = 3)
    val eh = intercept[Throwable] {
      Dedup.hammingNearDupsAgainstIndex(sigOf(batch), hidx,
        sigBits = 32, maxHamming = 2).collect()
    }
    assert(causeMessages(eh).contains("config mismatch"), causeMessages(eh))
  }

  test("incremental index maintenance (delta path): batch2 vs " +
    "(index + delta1) equals batch2 vs a full rebuild, including a " +
    "pair only the delta can find; compaction folds the delta into a " +
    "layout row-identical to the rebuild") {
    // corpus0 {1,3}; batch1 {2 near-dup of 1, 6 novel}; batch2
    // {4 exact dup of 1 (found via the INDEX), 7 near-dup of 6 (found
    // ONLY via the DELTA — 6 was admitted after the index build), 5}
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text about spark engines here"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (6L, "novel survivor text with enough tokens to shingle cleanly"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (7L, "novel survivor text with enough tokens to shingle badly"),
      (5L, "short text that matches nothing else in this fixture")
    ).toDF("doc_id", "text")
    val corpus0 = d.filter(col("doc_id").isin(1L, 3L))
    val batch1 = d.filter(col("doc_id").isin(2L, 6L))
    val batch2 = d.filter(col("doc_id").isin(4L, 7L, 5L))
    val P = (0.5, 8, 1, 3, true) // threshold, numHashes, bandSize, k, md5
    val idx = Dedup.bandIndex(corpus0, "text", "doc_id", P._2, P._3, P._4, P._5)
    val surv1 = Dedup.dropNearDupsAgainstIndex(batch1, corpus0, idx, "text",
      "doc_id", "doc_id", P._1, P._2, P._3, P._4, P._5)
    assert(surv1.select("doc_id").as[Long].collect().sorted === Array(6L))
    val delta1 = Dedup.bandIndexDelta(surv1, "text", "doc_id",
      P._2, P._3, P._4, P._5)
    val corpus1 = corpus0.unionByName(surv1)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDelta = pairSet(Dedup.nearDupsAgainstIndex(batch2, corpus1, idx,
      "text", "doc_id", "doc_id", P._1, P._2, P._3, P._4, P._5,
      delta = Some(delta1)))
    val rebuilt = Dedup.bandIndex(corpus1, "text", "doc_id",
      P._2, P._3, P._4, P._5)
    val viaRebuild = pairSet(Dedup.nearDupsAgainstIndex(batch2, corpus1,
      rebuilt, "text", "doc_id", "doc_id", P._1, P._2, P._3, P._4, P._5))
    assert(viaDelta === viaRebuild)
    assert(viaDelta.contains((4L, 1L)), "index-found pair missing")
    assert(viaDelta.contains((7L, 6L)), "delta-only pair missing — the " +
      "maintenance path is not consulting the delta")
    // survivors via the delta path likewise equal the rebuild's
    val keptDelta = Dedup.dropNearDupsAgainstIndex(batch2, corpus1, idx,
        "text", "doc_id", "doc_id", P._1, P._2, P._3, P._4, P._5,
        delta = Some(delta1))
      .select("doc_id").as[Long].collect().sorted
    assert(keptDelta === Array(5L))
    // COMPACTION: persist index + delta, fold, compare to the rebuild
    val root = java.nio.file.Files
      .createTempDirectory("opsspec_incidx").toString
    Dedup.writeBandIndex(corpus0, "text", "doc_id", "opsspec_inc_idx", 4,
      P._2, P._3, P._4, P._5, path = Some(s"$root/v1"),
      prunedPath = Some(s"$root/pruned1"))
    val pruned1 = spark.read.parquet(s"$root/pruned1")
    Dedup.appendBandIndexDelta(surv1, "text", "doc_id", s"$root/delta",
      P._2, P._3, P._4, P._5, prunedKeys = Some(pruned1))
    Dedup.compactBandIndex(spark, "opsspec_inc_idx",
      spark.read.parquet(s"$root/delta"), "opsspec_inc_idx_v2", 4,
      maxBucket = 1000, path = Some(s"$root/v2"),
      prunedKeys = Some(pruned1), outPrunedPath = Some(s"$root/pruned2"))
    graft.api.Layout.verifyLayout(spark, "opsspec_inc_idx_v2")
    def idxSet(df: org.apache.spark.sql.DataFrame) =
      df.select("band_key", "id").collect()
        .map(r => (r.getAs[Array[Byte]](0).map("%02x".format(_)).mkString,
          r.getLong(1))).toSet
    assert(idxSet(graft.api.Layout.table(spark, "opsspec_inc_idx_v2")) ===
      idxSet(rebuilt))
    // in-place compaction is refused with the hazard named
    val eIp = intercept[IllegalArgumentException] {
      Dedup.compactBandIndex(spark, "opsspec_inc_idx_v2",
        spark.read.parquet(s"$root/delta"), "opsspec_inc_idx_v2", 4)
    }
    assert(eIp.getMessage.contains("NEW table"))
    // a cross-config delta is refused AT COMPACTION (r17 review): it
    // would leave two cfg stamps in one table and poison every later
    // requireCfg scan of the new version
    val wrongCfgDelta = Dedup.bandIndexDelta(surv1, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
    val eCfg = intercept[Throwable] {
      Dedup.compactBandIndex(spark, "opsspec_inc_idx", wrongCfgDelta,
        "opsspec_inc_idx_poison", 4, path = Some(s"$root/poison"))
    }
    assert(causeMessages(eCfg).contains("config mismatch"),
      causeMessages(eCfg))
  }

  test("pruned-keys sidecar is load-bearing: a delta row landing in a " +
    "build-pruned degenerate bucket stays pruned (rebuild-equal); " +
    "without the sidecar compaction would resurrect it") {
    // two identical corpus docs + maxBucket=1: every bucket oversized,
    // index empty, sidecar holds all keys; the 'survivor' repeats the
    // same text, so ALL its band rows land in build-pruned buckets
    val corpus = Seq((11L, "aa bb cc dd ee"), (12L, "aa bb cc dd ee"))
      .toDF("doc_id", "text")
    val surv = Seq((13L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("opsspec_pruned").toString
    Dedup.writeBandIndex(corpus, "text", "doc_id", "opsspec_pr_idx", 2,
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true, maxBucket = 1,
      path = Some(s"$root/v1"), prunedPath = Some(s"$root/pruned"))
    assert(graft.api.Layout.table(spark, "opsspec_pr_idx").count() === 0)
    val pruned = spark.read.parquet(s"$root/pruned")
    assert(pruned.count() > 0, "fixture must prune buckets")
    // append WITH the sidecar drops every degenerate band row
    Dedup.appendBandIndexDelta(surv, "text", "doc_id", s"$root/delta",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true,
      prunedKeys = Some(pruned))
    assert(spark.read.parquet(s"$root/delta").count() === 0)
    // compaction WITH the sidecar: empty, exactly the rebuild over
    // {11,12,13} (bucket size 3 > 1 ⇒ pruned there too)
    val nakedDelta = Dedup.bandIndexDelta(surv, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
    Dedup.compactBandIndex(spark, "opsspec_pr_idx", nakedDelta,
      "opsspec_pr_idx_v2", 2, maxBucket = 1, path = Some(s"$root/v2"),
      prunedKeys = Some(pruned))
    assert(graft.api.Layout.table(spark, "opsspec_pr_idx_v2").count() === 0)
    val rebuild = Dedup.bandIndex(
      corpus.unionByName(surv), "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true, maxBucket = 1)
    assert(rebuild.count() === 0)
    // WITHOUT the sidecar the naked delta survives compaction (the
    // empty index contributes 0 to the combined count, so 0+1 ≤ 1) —
    // divergence from the rebuild, proving the sidecar is what buys
    // rebuild-equality
    Dedup.compactBandIndex(spark, "opsspec_pr_idx", nakedDelta,
      "opsspec_pr_idx_naked", 2, maxBucket = 1, path = Some(s"$root/naked"))
    assert(graft.api.Layout.table(spark, "opsspec_pr_idx_naked").count() > 0)
  }

  test("incremental hamming delta: batch2 vs (index + delta) equals the " +
    "rebuild and finds the delta-only pair; the verify still reads " +
    "only index/delta-carried signatures") {
    import spark.implicits._
    // sigBits=8, maxHamming=1: corpus {1:0x00, 2:0xFF}; admitted
    // survivor {3:0x01}; batch2 {4:0x03} — hamming(4,3)=1 (delta-only
    // hit), hamming(4,1)=2 and hamming(4,2)=6 (no index hit)
    val corpusSig = Seq((1L, 0x00L), (2L, 0xFFL)).toDF("__id", "__sig")
    val survSig = Seq((3L, 0x01L)).toDF("__id", "__sig")
    val batch2 = Seq((4L, 0x03L)).toDF("__id", "__sig")
    val idx = Dedup.hammingBandIndex(corpusSig, sigBits = 8, maxHamming = 1)
    val delta = Dedup.hammingBandIndexDelta(survSig, sigBits = 8,
      maxHamming = 1)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaDelta = pairSet(Dedup.hammingNearDupsAgainstIndex(batch2, idx,
      sigBits = 8, maxHamming = 1, delta = Some(delta)))
    val rebuilt = Dedup.hammingBandIndex(corpusSig.unionByName(survSig),
      sigBits = 8, maxHamming = 1)
    val viaRebuild = pairSet(Dedup.hammingNearDupsAgainstIndex(batch2,
      rebuilt, sigBits = 8, maxHamming = 1))
    assert(viaDelta === viaRebuild)
    assert(viaDelta === Set((4L, 3L, 1L)), "the delta-only pair")
    // without the delta the index alone finds nothing — the admitted
    // survivor is invisible until queried via delta or compaction
    assert(pairSet(Dedup.hammingNearDupsAgainstIndex(batch2, idx,
      sigBits = 8, maxHamming = 1)).isEmpty)
    // compaction is family-generic: folding the hamming delta into a
    // persisted hamming layout is row-identical to a rebuild (pass the
    // hamming family's maxBucket — the shared compactor cannot know it)
    val root = java.nio.file.Files
      .createTempDirectory("opsspec_hamidx").toString
    Dedup.writeHammingBandIndex(corpusSig, "opsspec_ham_idx", 2,
      sigBits = 8, maxHamming = 1, path = Some(s"$root/v1"))
    Dedup.compactBandIndex(spark, "opsspec_ham_idx", delta,
      "opsspec_ham_idx_v2", 2, maxBucket = 100000,
      path = Some(s"$root/v2"))
    graft.api.Layout.verifyLayout(spark, "opsspec_ham_idx_v2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("band_key", "id", "sig").collect()
        .map(r => (r.getAs[Array[Byte]](0).map("%02x".format(_)).mkString,
          r.getLong(1), r.getLong(2))).toSet
    assert(rows(graft.api.Layout.table(spark, "opsspec_ham_idx_v2")) ===
      rows(rebuilt))
  }

  test("incremental semantic cell index: batch-vs-index pairs equal a " +
    "rebuild (including a delta-only pair); compaction is row-identical " +
    "to the rebuild; a stale quantizer is refused loudly") {
    import spark.implicits._
    // hand-checked 2-cell fixture (threshold 0.95): corpus0 {1→cell0,
    // 2→cell1}; batch1 {3 near-dup of 1 (dropped), 4→cell1 survivor
    // (cos(4,2)=0.8)}; batch2 {6 exact dup of 1 (INDEX pair), 5
    // near-dup of 4 (DELTA-only pair, cos≈0.998), 7 clean}
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val corpus0 = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val batch1 = Seq((3L, Seq(0.995f, 0.1f)), (4L, Seq(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val batch2 = Seq((6L, Seq(1.0f, 0.0f)), (5L, Seq(0.55f, 0.835f)),
      (7L, Seq(0.3f, 0.3f))).toDF("vec_id", "embedding")
    val idx = Similarity.semanticCellIndex(corpus0, "vec_id", "embedding",
      cents)
    val surv1 = Similarity.dropSemanticAgainstIndex(batch1, "vec_id",
      "embedding", idx, cents, threshold = 0.95)
    assert(surv1.select("vec_id").as[Long].collect().sorted === Array(4L))
    val delta1 = Similarity.semanticCellIndexDelta(surv1, "vec_id",
      "embedding", cents)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_batch", "id_corpus").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDelta = pairSet(Similarity.semanticNearDupsAgainstIndex(
      batch2, "vec_id", "embedding", idx, cents, threshold = 0.95,
      delta = Some(delta1)))
    val rebuilt = Similarity.semanticCellIndex(
      corpus0.unionByName(surv1), "vec_id", "embedding", cents)
    val viaRebuild = pairSet(Similarity.semanticNearDupsAgainstIndex(
      batch2, "vec_id", "embedding", rebuilt, cents, threshold = 0.95))
    assert(viaDelta === viaRebuild)
    assert(viaDelta === Set((6L, 1L), (5L, 4L)),
      "index pair + delta-only pair")
    val kept2 = Similarity.dropSemanticAgainstIndex(batch2, "vec_id",
        "embedding", idx, cents, threshold = 0.95, delta = Some(delta1))
      .select("vec_id").as[Long].collect().sorted
    assert(kept2 === Array(7L))
    // compaction: persisted index + delta folds into a layout
    // row-identical to the rebuild
    val root = java.nio.file.Files
      .createTempDirectory("opsspec_semidx").toString
    Similarity.writeSemanticCellIndex(corpus0, "vec_id", "embedding",
      cents, "opsspec_sem_idx", 2, path = Some(s"$root/v1"))
    Similarity.compactSemanticCellIndex(spark, "opsspec_sem_idx", delta1,
      "opsspec_sem_idx_v2", 2, path = Some(s"$root/v2"))
    graft.api.Layout.verifyLayout(spark, "opsspec_sem_idx_v2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("cid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(graft.api.Layout.table(spark, "opsspec_sem_idx_v2")) ===
      rows(rebuilt))
    // stale quantizer: querying an index built with cents using a
    // DIFFERENT centroid table throws at scan time, never silently
    // consults wrong cells
    val cents2 = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.1, 1.0)))
      .toDF("cid", "cv")
    val eQ = intercept[Throwable] {
      Similarity.semanticNearDupsAgainstIndex(batch2, "vec_id",
        "embedding", idx, cents2, threshold = 0.95).collect()
    }
    assert(causeMessages(eQ).contains("config mismatch"), causeMessages(eQ))
  }

  test("PQ-coded semantic cell index: per-row-bound two-phase " +
    "pairs/drop are EXACTLY the vector tier's (screen recall provably " +
    "1, zero calibration), delta parity holds where a corpus-global " +
    "margin would NOT have, extra slack stays exact, and a stale " +
    "codebook is refused loudly") {
    import spark.implicits._
    // the 2-cell fixture of the vector-tier test; dims=2 codebook with
    // m=2 one-dim subspaces, 2 codes each {0, 1} — corpus0's axis
    // vectors reconstruct exactly (err ≈ 0) while admitted survivors
    // do not, which is precisely what the per-row bound must absorb
    val cb = Array(0.0, 1.0, 0.0, 1.0)
    val (m, k2) = (2, 2)
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val corpus0 = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val batch1 = Seq((3L, Seq(0.995f, 0.1f)), (4L, Seq(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val batch2 = Seq((6L, Seq(1.0f, 0.0f)), (5L, Seq(0.55f, 0.835f)),
      (7L, Seq(0.3f, 0.3f))).toDF("vec_id", "embedding")
    val idxVec = Similarity.semanticCellIndex(corpus0, "vec_id",
      "embedding", cents)
    val idxPq = Similarity.semanticCellIndexPq(corpus0, "vec_id",
      "embedding", cents, cb, m, k2)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_batch", "id_corpus", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e6))).toSet
    // index-only equality, sims included (the verify phase is exact)
    val exact = pairSet(Similarity.semanticNearDupsAgainstIndex(batch2,
      "vec_id", "embedding", idxVec, cents, threshold = 0.95))
    val viaPq = pairSet(Similarity.semanticNearDupsAgainstIndexPq(batch2,
      "vec_id", "embedding", idxPq, corpus0, "vec_id", "embedding",
      cents, cb, m, k2, threshold = 0.95))
    assert(viaPq === exact, s"pq=$viaPq exact=$exact")
    // above the id broadcast gate (threshold 0) the pairs are the same,
    // and the attach join still takes only the candidate batch vectors:
    // the plan prunes them with a LeftSemi join on id_batch
    try {
      spark.conf.set("spark.graft.dedup.idBroadcastThreshold", "0")
      val above = Similarity.semanticNearDupsAgainstIndexPq(batch2,
        "vec_id", "embedding", idxPq, corpus0, "vec_id", "embedding",
        cents, cb, m, k2, threshold = 0.95)
      assert(pairSet(above) === exact)
      val plan = above.queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.Join
      assert(plan.collect { case j: Join if j.joinType == LeftSemi &&
          j.condition.exists(_.references.exists(_.name == "id_batch")) =>
        j }.nonEmpty, plan)
    } finally spark.conf.unset("spark.graft.dedup.idBroadcastThreshold")
    // delta parity WITHOUT any calibration step: survivor (0.6, 0.8)
    // reconstructs to (1, 1) — a large error (diagnostic max > 0.1)
    // that a margin calibrated on corpus0 alone (max err ≈ 1e-9, the
    // axis vectors are exactly representable) would NOT have covered;
    // the delta row's own stored bound covers it by construction
    val surv1 = Similarity.dropSemanticAgainstIndex(batch1, "vec_id",
      "embedding", idxVec, cents, threshold = 0.95)
    val content = corpus0.unionByName(surv1)
    assert(Similarity.calibratePqMargin(corpus0, "embedding", cb, m, k2)
      < 0.01, "corpus0 must reconstruct exactly for this law to bite")
    assert(Similarity.calibratePqMargin(surv1, "embedding", cb, m, k2)
      > 0.1, "the survivor must carry a real reconstruction error")
    val exactD = pairSet(Similarity.semanticNearDupsAgainstIndex(batch2,
      "vec_id", "embedding", idxVec, cents, threshold = 0.95,
      delta = Some(Similarity.semanticCellIndexDelta(surv1, "vec_id",
        "embedding", cents))))
    val pqD = pairSet(Similarity.semanticNearDupsAgainstIndexPq(batch2,
      "vec_id", "embedding", idxPq, content, "vec_id", "embedding",
      cents, cb, m, k2, threshold = 0.95,
      delta = Some(Similarity.semanticCellIndexPqDelta(surv1, "vec_id",
        "embedding", cents, cb, m, k2))))
    assert(pqD === exactD && pqD.map(p => (p._1, p._2)) ===
      Set((6L, 1L), (5L, 4L)), s"pqD=$pqD exactD=$exactD")
    // drop mirror equality
    val keptPq = Similarity.dropSemanticAgainstIndexPq(batch2, "vec_id",
        "embedding", idxPq, content, "vec_id", "embedding", cents, cb,
        m, k2, threshold = 0.95,
        delta = Some(Similarity.semanticCellIndexPqDelta(surv1, "vec_id",
          "embedding", cents, cb, m, k2)))
      .select("vec_id").as[Long].collect().sorted
    assert(keptPq === Array(7L))
    // extra slack (screen passes every same-cell pair) still yields
    // the exact result — the verify phase owns correctness, slack only
    // grows how much of the index the sliver re-reads
    assert(pairSet(Similarity.semanticNearDupsAgainstIndexPq(batch2,
      "vec_id", "embedding", idxPq, corpus0, "vec_id", "embedding",
      cents, cb, m, k2, threshold = 0.95, margin = 2.0)) === exact)
    // stale codebook: refused at scan time via the cfg stamp
    val e1 = intercept[Throwable] {
      Similarity.semanticNearDupsAgainstIndexPq(batch2, "vec_id",
        "embedding", idxPq, corpus0, "vec_id", "embedding", cents,
        Array(0.5, 1.5, 0.5, 1.5), m, k2, threshold = 0.95).collect()
    }
    assert(causeMessages(e1).contains("config mismatch"), causeMessages(e1))
    // the shared compactor IS column-generic (its contract): folding a
    // PQ delta into a persisted PQ layout is row-identical to a
    // rebuild over corpus ∪ survivors — codes, norm, AND the per-row
    // bound all ride through
    val root = java.nio.file.Files
      .createTempDirectory("opsspec_pqidx").toString
    Similarity.writeSemanticCellIndexPq(corpus0, "vec_id", "embedding",
      cents, cb, m, k2, "opsspec_pq_idx", 2, path = Some(s"$root/v1"))
    Similarity.compactSemanticCellIndex(spark, "opsspec_pq_idx",
      Similarity.semanticCellIndexPqDelta(surv1, "vec_id", "embedding",
        cents, cb, m, k2),
      "opsspec_pq_idx_v2", 2, path = Some(s"$root/v2"))
    graft.api.Layout.verifyLayout(spark, "opsspec_pq_idx_v2")
    def pqRows(df: org.apache.spark.sql.DataFrame) =
      df.select("cid", "id", "codes", "n", "err", "cfg").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Int](2).toList, math.round(r.getDouble(3) * 1e9),
          math.round(r.getDouble(4) * 1e9), r.getString(5))).toSet
    assert(pqRows(graft.api.Layout.table(spark, "opsspec_pq_idx_v2")) ===
      pqRows(Similarity.semanticCellIndexPq(corpus0.unionByName(surv1),
        "vec_id", "embedding", cents, cb, m, k2)))
  }

  test("PQ streaming ADC plan: candidate-grain over-drop only — every " +
    "exact-mirror drop is PQ-dropped (per-row bound ⇒ screen " +
    "recall 1), survivors are a subset of the exact mirror's, and the " +
    "batch/streaming null-vector posture agrees") {
    import spark.implicits._
    val cb = Array(0.0, 1.0, 0.0, 1.0)
    val (m, k2) = (2, 2)
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val corpus0 = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val idxVec = Similarity.semanticCellIndex(corpus0, "vec_id",
      "embedding", cents)
    val idxPq = Similarity.semanticCellIndexPq(corpus0, "vec_id",
      "embedding", cents, cb, m, k2)
    // batch2 + null / ragged / zero-norm rows (the r17 sweep's parity
    // question): all three must SURVIVE both paths — their cosine
    // against anything is 0/undefined, so there is nothing to verify
    val batch = Seq(
      (6L, Some(Seq(1.0f, 0.0f))),          // exact dup -> dropped
      (5L, Some(Seq(0.55f, 0.835f))),       // no corpus mate -> kept
      (7L, Some(Seq(0.3f, 0.3f))),          // below threshold -> kept
      (10L, None),                          // null vector
      (11L, Some(Seq(1.0f))),               // ragged (dims=1)
      (12L, Some(Seq(0.0f, 0.0f)))          // zero-norm
    ).toDF("vec_id", "embedding")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").as[Long].collect().sorted.toSeq
    val exactSurv = ids(Similarity.semanticDropAgainstIndexPlan(batch,
      "embedding", idxVec, cents, threshold = 0.95, None))
    val pqSurv = ids(graft.streaming.StreamingDedup
      .dropSemanticAgainstCellIndexPq(batch, idxPq, "embedding", cents,
        cb, m, k2, threshold = 0.95))
    assert(exactSurv === Seq(5L, 7L, 10L, 11L, 12L))
    assert(pqSurv.toSet.subsetOf(exactSurv.toSet),
      s"PQ mirror under-dropped: pq=$pqSurv exact=$exactSurv")
    assert(Seq(10L, 11L, 12L).forall(pqSurv.contains),
      s"null/ragged/zero-norm rows must survive the PQ mirror: $pqSurv")
    // batch two-phase drop agrees with the exact plan on the odd rows
    val batchSurv = ids(Similarity.dropSemanticAgainstIndexPq(batch,
      "vec_id", "embedding", idxPq, corpus0, "vec_id", "embedding",
      cents, cb, m, k2, threshold = 0.95))
    assert(batchSurv === exactSurv,
      s"batch PQ drop diverges: $batchSurv vs $exactSurv")
  }

  test("property: PQ two-phase ≡ exact tier on random corpora, batches, " +
    "quantizers AND codebooks — the per-row bound delivers exactness " +
    "unconditionally, even under an arbitrarily BAD codebook (it only " +
    "moves the screen/verify split, never the result)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val dims = 4
    def vec() = Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)
    for (trial <- 1 to 4) {
      val nCells = 2 + rnd.nextInt(3)
      val cents = (0 until nCells)
        .map(c => (c.toLong, Seq.fill(dims)(rnd.nextDouble() * 2 - 1)))
        .toDF("cid", "cv")
      val corpusRows = (0L until 30L).map(i => (i, vec()))
      val corpus = corpusRows.toDF("vec_id", "embedding")
      // batch: 5 near-copies of corpus vectors (tiny noise) + 10 fresh
      val batch = ((0 until 5).map { j =>
        val (src, v) = corpusRows(rnd.nextInt(corpusRows.length))
        (100L + j, v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f))
      } ++ (0 until 10).map(j => (200L + j, vec()))).toDF("vec_id", "embedding")
      // ADVERSARIAL codebook: random values, possibly far from any
      // vector — reconstruction error is large and NON-uniform
      val (m, cps) = (2, 3)
      val cb = Array.fill(m * cps * (dims / m))(rnd.nextDouble() * 4 - 2)
      val threshold = 0.7 + rnd.nextDouble() * 0.25
      val probes = 1 + rnd.nextInt(2)
      val idxVec = Similarity.semanticCellIndex(corpus, "vec_id",
        "embedding", cents)
      val idxPq = Similarity.semanticCellIndexPq(corpus, "vec_id",
        "embedding", cents, cb, m, cps)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("id_batch", "id_corpus", "sim").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            math.round(r.getDouble(2) * 1e6))).toSet
      val exact = pairs(Similarity.semanticNearDupsAgainstIndex(batch,
        "vec_id", "embedding", idxVec, cents, threshold,
        queryProbes = probes))
      val viaPq = pairs(Similarity.semanticNearDupsAgainstIndexPq(batch,
        "vec_id", "embedding", idxPq, corpus, "vec_id", "embedding",
        cents, cb, m, cps, threshold, queryProbes = probes))
      assert(viaPq === exact,
        s"trial $trial (threshold=$threshold probes=$probes): " +
          s"pq=$viaPq exact=$exact")
      // the streaming ADC plan may only OVER-drop (never keep a row
      // the exact mirror drops)
      val exactSurv = Similarity.semanticDropAgainstIndexPlan(batch,
          "embedding", idxVec, cents, threshold, None)
        .select("vec_id").as[Long].collect().toSet
      val pqSurv = graft.streaming.StreamingDedup
        .dropSemanticAgainstCellIndexPq(batch, idxPq, "embedding",
          cents, cb, m, cps, threshold)
        .select("vec_id").as[Long].collect().toSet
      assert(pqSurv.subsetOf(exactSurv),
        s"trial $trial: PQ mirror under-dropped ${pqSurv -- exactSurv}")
    }
  }

  test("multi-probe recall dial: queryProbes=2 recovers the boundary-" +
    "straddling pair nearest-1 misses, found pairs grow monotonically, " +
    "and the PQ tier agrees exactly") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // batch vector near the diagonal: assigned to cell 0 (cos 0.717 vs
    // 0.697), but its ≥0.6 duplicate 2L lives in cell 1 — found only
    // when the batch probes its top-2 cells
    val batch = Seq((8L, Seq(0.72f, 0.7f))).toDF("vec_id", "embedding")
    val idx = Similarity.semanticCellIndex(corpus, "vec_id", "embedding",
      cents)
    def pairs(probes: Int) = Similarity.semanticNearDupsAgainstIndex(
        batch, "vec_id", "embedding", idx, cents, threshold = 0.6,
        queryProbes = probes)
      .select("id_batch", "id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairs(1)
    val p2 = pairs(2)
    assert(p1 === Set((8L, 1L)), s"nearest-1: $p1")
    assert(p2 === Set((8L, 1L), (8L, 2L)),
      s"top-2 must add the cross-boundary pair: $p2")
    assert(p1.subsetOf(p2), "probes must be recall-monotone")
    // PQ tier under the same dial: exact equality (two-phase verify)
    val cb = Array(0.0, 1.0, 0.0, 1.0)
    val idxPq = Similarity.semanticCellIndexPq(corpus, "vec_id",
      "embedding", cents, cb, 2, 2)
    val p2Pq = Similarity.semanticNearDupsAgainstIndexPq(batch, "vec_id",
        "embedding", idxPq, corpus, "vec_id", "embedding", cents, cb,
        2, 2, threshold = 0.6, queryProbes = 2)
      .select("id_batch", "id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2Pq === p2, s"PQ multi-probe diverged: $p2Pq")
  }

  test("semantic index degenerate-cell audit: a collapsed quantizer is " +
    "refused at write AND at compaction, naming the offending cell " +
    "(r17 verdict missing #2)") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    // all three vectors land in cell 0 — a collapsed assignment
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.8f, 0.2f))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("opsspec_cellaudit").toString
    val eW = intercept[IllegalArgumentException] {
      Similarity.writeSemanticCellIndex(corpus, "vec_id", "embedding",
        cents, "opsspec_audit_idx", 2, path = Some(s"$root/v1"),
        maxCell = 2L)
    }
    assert(eW.getMessage.contains("degenerate cells") &&
      eW.getMessage.contains("cid=0") && eW.getMessage.contains("rows=3"),
      eW.getMessage)
    // at maxCell=3 the write passes; a delta that grows the cell past
    // the bound is then caught at compaction (where a slowly-collapsing
    // quantizer shows up)
    Similarity.writeSemanticCellIndex(corpus, "vec_id", "embedding",
      cents, "opsspec_audit_idx2", 2, path = Some(s"$root/v2"),
      maxCell = 3L)
    val delta = Similarity.semanticCellIndexDelta(
      Seq((9L, Seq(0.7f, 0.3f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents)
    val eC = intercept[IllegalArgumentException] {
      Similarity.compactSemanticCellIndex(spark, "opsspec_audit_idx2",
        delta, "opsspec_audit_idx2_v2", 2, path = Some(s"$root/v3"),
        maxCell = 3L)
    }
    assert(eC.getMessage.contains("degenerate cells") &&
      eC.getMessage.contains("cid=0") && eC.getMessage.contains("rows=4"),
      eC.getMessage)
    // the PQ write shares the audit
    val ePq = intercept[IllegalArgumentException] {
      Similarity.writeSemanticCellIndexPq(corpus, "vec_id", "embedding",
        cents, Array(0.0, 1.0, 0.0, 1.0), 2, 2, "opsspec_audit_idxpq", 2,
        path = Some(s"$root/v4"), maxCell = 2L)
    }
    assert(ePq.getMessage.contains("degenerate cells"), ePq.getMessage)
  }

  test("compactBandIndex: a double-appended delta (job re-run) compacts " +
    "row-identical to the single append — full-row dedup at the delta " +
    "grain preserves rebuild-equality (r17 sweep)") {
    import spark.implicits._
    val corpusSig = Seq((1L, 0x00L), (2L, 0xFFL)).toDF("__id", "__sig")
    val survSig = Seq((3L, 0x01L)).toDF("__id", "__sig")
    val delta = Dedup.hammingBandIndexDelta(survSig, sigBits = 8,
      maxHamming = 1)
    val doubled = delta.unionByName(delta) // the re-run append
    val root = java.nio.file.Files
      .createTempDirectory("opsspec_dblidx").toString
    Dedup.writeHammingBandIndex(corpusSig, "opsspec_dbl_idx", 2,
      sigBits = 8, maxHamming = 1, path = Some(s"$root/v1"))
    Dedup.compactBandIndex(spark, "opsspec_dbl_idx", doubled,
      "opsspec_dbl_idx_v2", 2, maxBucket = 100000,
      path = Some(s"$root/v2"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("band_key", "id", "sig").collect()
        .map(r => (r.getAs[Array[Byte]](0).map("%02x".format(_)).mkString,
          r.getLong(1), r.getLong(2))).toSet
    val rebuilt = Dedup.hammingBandIndex(corpusSig.unionByName(survSig),
      sigBits = 8, maxHamming = 1)
    assert(rows(graft.api.Layout.table(spark, "opsspec_dbl_idx_v2")) ===
      rows(rebuilt))
    // and the duplicate rows must not double-count bucket sizes into a
    // prune a true rebuild would not make: with maxBucket = 1 each
    // (band_key, id) bucket holds exactly one row after dedup, so
    // nothing is pruned — whereas un-deduped doubles would empty the
    // delta's buckets entirely
    Dedup.compactBandIndex(spark, "opsspec_dbl_idx", doubled,
      "opsspec_dbl_idx_v3", 2, maxBucket = 1,
      path = Some(s"$root/v3"))
    assert(rows(graft.api.Layout.table(spark, "opsspec_dbl_idx_v3")) ===
      rows(Dedup.hammingBandIndex(corpusSig.unionByName(survSig),
        sigBits = 8, maxHamming = 1, maxBucket = 1)))
  }

  test("compactor law over every persisted-index family (MinHash, " +
    "hamming, semantic exact, semantic PQ, URL): in-place compaction " +
    "is refused, a delta built under another stamp is refused naming " +
    "both stamps in a family-neutral message, and a delta appended " +
    "twice compacts to the same rows as one append") {
    import org.apache.spark.sql.DataFrame
    val root = java.nio.file.Files
      .createTempDirectory("opsspec_compact_law").toString
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text about spark engines here"))
      .toDF("doc_id", "text")
    val textSurv = Seq(
      (6L, "novel survivor text with enough tokens to shingle cleanly"))
      .toDF("doc_id", "text")
    def sigOf(df: DataFrame) = df.select(col("doc_id").as("__id"),
      Dedup.simhash32(col("text")).as("__sig"))
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val cents2 = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.1, 1.0)))
      .toDF("cid", "cv")
    val (cb, cb2, m, k2) = (Array(0.0, 1.0, 0.0, 1.0),
      Array(0.5, 1.5, 0.5, 1.5), 2, 2)
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val vecSurv = Seq((4L, Seq(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val urls = Seq((1L, "https://a.com/x", 1L), (2L, "https://b.com/y", 2L))
      .toDF("doc_id", "url", "score")
    val urlSurv = Seq((3L, "https://c.com/z", 1L))
      .toDF("doc_id", "url", "score")
    // (family, write the index to (table, path), delta, foreign-stamp
    //  delta, (index stamp, foreign stamp), compact(in, delta, out, path))
    case class Family(name: String, write: (String, String) => Unit,
                      delta: DataFrame, foreign: DataFrame,
                      stamps: (String, String),
                      compact: (String, DataFrame, String, String) => Unit)
    val families = Seq(
      Family("minhash",
        (t, p) => Dedup.writeBandIndex(texts, "text", "doc_id", t, 2,
          numHashes = 4, useMd5 = true, path = Some(p)),
        Dedup.bandIndexDelta(textSurv, "text", "doc_id", numHashes = 4,
          useMd5 = true),
        Dedup.bandIndexDelta(textSurv, "text", "doc_id", numHashes = 6,
          useMd5 = true),
        ("mh2:4:1:3:md5", "mh2:6:1:3:md5"),
        (i, d, o, p) => Dedup.compactBandIndex(spark, i, d, o, 2,
          path = Some(p))),
      Family("hamming",
        (t, p) => Dedup.writeHammingBandIndex(sigOf(texts), t, 2,
          sigBits = 32, maxHamming = 3, path = Some(p)),
        Dedup.hammingBandIndexDelta(sigOf(textSurv), 32, 3),
        Dedup.hammingBandIndexDelta(sigOf(textSurv), 32, 2),
        ("hm2:32:3", "hm2:32:2"),
        (i, d, o, p) => Dedup.compactBandIndex(spark, i, d, o, 2,
          maxBucket = 100000, path = Some(p))),
      Family("semantic",
        (t, p) => Similarity.writeSemanticCellIndex(vecs, "vec_id",
          "embedding", cents, t, 2, path = Some(p)),
        Similarity.semanticCellIndexDelta(vecSurv, "vec_id", "embedding",
          cents),
        Similarity.semanticCellIndexDelta(vecSurv, "vec_id", "embedding",
          cents2),
        (Similarity.centroidCfg(cents), Similarity.centroidCfg(cents2)),
        (i, d, o, p) => Similarity.compactSemanticCellIndex(spark, i, d, o,
          2, path = Some(p))),
      Family("semantic_pq",
        (t, p) => Similarity.writeSemanticCellIndexPq(vecs, "vec_id",
          "embedding", cents, cb, m, k2, t, 2, path = Some(p)),
        Similarity.semanticCellIndexPqDelta(vecSurv, "vec_id", "embedding",
          cents, cb, m, k2),
        Similarity.semanticCellIndexPqDelta(vecSurv, "vec_id", "embedding",
          cents, cb2, m, k2),
        (Similarity.pqCellCfg(cents, cb, m, k2),
          Similarity.pqCellCfg(cents, cb2, m, k2)),
        (i, d, o, p) => Similarity.compactSemanticCellIndex(spark, i, d, o,
          2, path = Some(p))),
      Family("url",
        (t, p) => Web.writeUrlIndex(urls, "url", "doc_id", "score", t, 2,
          path = Some(p)),
        Web.urlIndexDelta(urlSurv, "url", "doc_id", "score"),
        Web.urlIndexDelta(urlSurv, "url", "doc_id", "score")
          .withColumn("cfg", lit("url:canon-v0")),
        (Web.UrlCfg, "url:canon-v0"),
        (i, d, o, p) => Web.compactUrlIndex(spark, i, d, o, 2,
          path = Some(p))))
    def rows(table: String) = graft.api.Layout.table(spark, table)
      .collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSet
    families.foreach { f =>
      val t = s"opsspec_law_${f.name}"
      f.write(t, s"$root/${f.name}/v1")
      val eIp = intercept[IllegalArgumentException] {
        f.compact(t, f.delta, t, s"$root/${f.name}/inplace")
      }
      assert(eIp.getMessage.contains("NEW table"), s"${f.name}: ${eIp.getMessage}")
      val eCfg = intercept[Throwable] {
        f.compact(t, f.foreign, s"${t}_foreign", s"$root/${f.name}/foreign")
      }
      val msgs = causeMessages(eCfg)
      assert(msgs.contains("config mismatch") &&
        msgs.contains(f.stamps._1) && msgs.contains(f.stamps._2) &&
        !msgs.contains("numHashes"), s"${f.name}: $msgs")
      f.compact(t, f.delta, s"${t}_once", s"$root/${f.name}/once")
      f.compact(t, f.delta.unionByName(f.delta), s"${t}_twice",
        s"$root/${f.name}/twice")
      assert(rows(s"${t}_twice") === rows(s"${t}_once"), f.name)
      assert(rows(s"${t}_once").size > rows(t).size, f.name)
    }
  }

  test("requireCfg: a cfg-less (stale-format) index is refused at plan " +
    "time — zero candidates would be silent duplicate leakage (r17 " +
    "advice); allowLegacyIndex restores the fallback; a multi-cfg " +
    "index throws naming both stamps") {
    import spark.implicits._
    val batch = Seq((1L, "the quick brown fox jumps over the dog"))
      .toDF("doc_id", "text")
    val legacy = Dedup.bandIndex(batch, "text", "doc_id").drop("cfg")
    val corpus = batch.withColumnRenamed("doc_id", "id")
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupsAgainstIndex(batch, corpus, legacy, "text",
        "doc_id", "id")
    }
    assert(e.getMessage.contains("no 'cfg' column"), e.getMessage)
    spark.conf.set("spark.graft.dedup.allowLegacyIndex", "true")
    try {
      // fallback: plans and runs; key-fold guarantees zero WRONG pairs
      // (here the keys DO match, so the pair is found — the fallback is
      // behavior-identical to pre-stamp builds)
      assert(Dedup.nearDupsAgainstIndex(batch, corpus, legacy, "text",
        "doc_id", "id").count() >= 0L)
    } finally spark.conf.unset("spark.graft.dedup.allowLegacyIndex")
    // multi-cfg misuse (two builds unioned): the scan-time assert names
    // BOTH stamps, so the operator error identifies the foreign rows
    val mixed = Dedup.bandIndex(batch, "text", "doc_id")
      .unionByName(Dedup.bandIndex(batch, "text", "doc_id", numHashes = 4,
        bandSize = 1))
    val e2 = intercept[Throwable] {
      Dedup.nearDupsAgainstIndex(batch, corpus, mixed, "text",
        "doc_id", "id").collect()
    }
    val msgs = causeMessages(e2)
    assert(msgs.contains("config mismatch") && msgs.contains("mh2:4:1:3:xx")
      && msgs.contains("mh2:6:1:3:xx"), msgs)
  }

  test("simhash: identical texts equal, near-dups close, distinct far") {
    val sh = docs.select(col("doc_id"), Dedup.simhash32(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1) === sh(4))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1), sh(2)) < ham(sh(1), sh(3)))
  }

  test("simhash near-dup pairs: identicals at distance 0, banding finds them") {
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 4L)) === 0L) // exact dup -> identical signature
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L)) // "tiny" unrelated
  }

  test("connected components: chains need multi-round propagation") {
    // path 1-2-3-4-5 plus isolated edge 10-11: min-label must travel
    // 4 hops, exercising the convergence loop beyond one round
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (11L, 10L))
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    // default gate: solved by the driver union-find
    val local = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === want)
    // gate forced shut: the distributed loop must agree exactly
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val dist = Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist === want)
      val distStr = Dedup.connectedComponents(
          edges.select(concat(lit("n"), col("id_a")).as("id_a"),
            concat(lit("n"), col("id_b")).as("id_b")))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(distStr === want.map { case (k, v) => s"n$k" -> s"n$v" })
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
    // string ids under the gate: local path, same labels
    val localStr = Dedup.connectedComponents(
        edges.select(concat(lit("n"), col("id_a")).as("id_a"),
          concat(lit("n"), col("id_b")).as("id_b")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(localStr === want.map { case (k, v) => s"n$k" -> s"n$v" })
    // ids compare as Spark orders them (UTF-8 bytes, like least/min),
    // not as JVM strings (UTF-16): U+FFFD (EF BF BD) < U+1F600 (F0 ..)
    // in UTF-8 though its UTF-16 unit FFFD sorts after the surrogate
    // D83D — the label must not depend on which solve runs
    val (rep, emoji) = ("\uFFFD", "\uD83D\uDE00")
    val pair = Seq((emoji, rep)).toDF("id_a", "id_b")
    def labelsOf() = Dedup.connectedComponents(pair)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val wantPair = Map(rep -> rep, emoji -> rep)
    assert(labelsOf() === wantPair)
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try assert(labelsOf() === wantPair)
    finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("nearDupGroups clusters transitively; dropNearDups keeps min id + singletons") {
    val groups = Dedup.nearDupGroups(docs, "text", "doc_id",
      threshold = 0.7, numHashes = 6, bandSize = 1, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1, 2 (near-dup) and 4 (exact dup of 1) form one cluster
    assert(groups === Map(1L -> 1L, 2L -> 1L, 4L -> 1L))
    val kept = Dedup.dropNearDups(docs, "text", "doc_id",
      threshold = 0.7, numHashes = 6, bandSize = 1, k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 5L))
  }

  test("jaccard bounds and identity") {
    val d = docs.select(col("doc_id"),
      array_distinct(TextAnalysis.shingles(col("text"), 3)).as("sh"))
    val a = d.filter(col("doc_id") === 1).select(col("sh").as("a"))
    val joined = a.crossJoin(d)
      .select(col("doc_id"), Dedup.jaccard(col("a"), col("sh")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(joined(1) === 1.0 && joined(4) === 1.0)
    assert(joined.values.forall(j => j >= 0.0 && j <= 1.0))
    assert(joined(3) === 0.0)
  }

  test("cosine similarity basics + topk excludes self") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.70710677f, 0.70710677f, 0.0f))
    ).toDF("vec_id", "embedding")
    val tk = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 3).orderBy("rank").collect()
    assert(tk.map(_.getLong(2)).toSeq === Seq(2L, 4L, 3L)) // identical, 45deg, orthogonal
    assert(math.abs(tk(0).getDouble(3) - 1.0) < 1e-6)
    assert(math.abs(tk(2).getDouble(3)) < 1e-6)
  }

  test("randomProject: md5-derived signs match local reference; JL distance preservation; wrong dim -> null") {
    def sign(seed: String, j: Int, i: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) < 8) 1.0 else -1.0
    }
    val e = sf("embeddings")
    val got = Similarity.randomProject(e, "embedding", 64, 8, "jl1")
      .select("vec_id", "embedding", "proj")
      .as[(Long, Seq[Float], Seq[Double])].collect()
    got.take(20).foreach { case (id, emb, proj) =>
      (0 until 8).foreach { j =>
        var s = 0.0
        (0 until 64).foreach(i => s += emb(i).toDouble * sign("jl1", j, i))
        assert(math.abs(proj(j) - s / math.sqrt(8)) < 1e-12, s"vec $id dim $j")
      }
    }
    // determinism across partitionings
    val re = Similarity.randomProject(e.repartition(7), "embedding", 64, 8, "jl1")
      .select("vec_id", "proj").as[(Long, Seq[Double])].collect().toMap
    got.foreach { case (id, _, p) => assert(re(id) === p) }
    // JL sanity: squared distances preserved in expectation (loose band
    // on the mean ratio over sampled pairs; seed-pinned so not flaky)
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sample = got.take(30)
    val ratios = for (x <- sample; y <- sample if x._1 < y._1) yield
      d2(x._3, y._3) / d2(x._2.map(_.toDouble), y._2.map(_.toDouble))
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean distance ratio $mean")
    // wrong input dim -> null projection
    val short = Seq((99L, Array.fill(10)(1.0f))).toDF("vec_id", "embedding")
    val n = Similarity.randomProject(short, "embedding", 64, 8, "jl1")
      .select("proj").collect()(0)
    assert(n.isNullAt(0))
  }

  test("randomProject composes with near-dup search: planted dups survive 64->16 compression") {
    // the synthetic embeddings have NO true near-dups (max cosine 0.51
    // at every SF), so plant them: 40 jittered copies at cosine ~0.9999
    val base = sf("embeddings").filter(col("vec_id") < 150)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    def jitter(id: Long, v: Seq[Float]): Seq[Float] =
      v.zipWithIndex.map { case (x, i) =>
        val h = scala.util.hashing.MurmurHash3.productHash((id, i))
        x * (1.0f + ((h % 1000) / 1000.0f) * 0.002f)
      }
    val planted = base.take(40).map { case (id, v) => (id + 10000L, jitter(id, v)) }
    val all = (base.toSeq ++ planted).toDF("vec_id", "embedding")
    val truePairs = base.take(40).map(b => (b._1, b._1 + 10000L)).toSet
    // the 100 TB shape: JL-compress 64 -> 16 first (4x less shuffle),
    // search at a LOOSENED threshold (candidate generation), exact-
    // verify survivors in the original space
    val proj = Similarity.randomProject(all, "embedding", 64, 16, "jl1")
      .drop("embedding").withColumnRenamed("proj", "embedding")
    val candidates = Similarity.nearDupPairs(proj, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.forall(candidates.contains),
      s"missed ${truePairs.count(!candidates.contains(_))} of 40 planted dups")
    // and the loosened threshold still separates: no pair of DISTINCT
    // originals (max true cosine 0.51) floods in
    val falseAmongOriginals = candidates.count { case (a, b) => a < 150 && b < 150 }
    assert(falseAmongOriginals <= 5, s"$falseAmongOriginals original pairs leaked")
  }

  test("LSH near-dup pairs are a subset of brute force, and find identicals") {
    val e = sf("embeddings")
    val brute = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(e, "vec_id", "embedding",
      dims = 64, threshold = 0.4, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
  }

  test("IVF: every vector assigned once; topk deterministic under repartition") {
    val e = sf("embeddings")
    val cents = Similarity.centroidsFromLabels(e, "label", "embedding")
    val assign = Similarity.ivfAssign(e, "vec_id", "embedding", cents)
    assert(assign.count() === e.count())           // total function
    assert(assign.select("vec_id").distinct().count() === e.count()) // 1:1
    val q = e.filter(col("vec_id") < 5)
    val a = Similarity.ivfTopK(e, q, "vec_id", "embedding", cents, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Similarity.ivfTopK(e.repartition(7), q, "vec_id", "embedding", cents,
      k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a === b && a.size === 15) // 5 queries x k=3, stable under partitioning
  }

  test("NearestCentroid kernel == broadcast-join max_by assignment; " +
       "vector_sum == posexplode sum") {
    import graft.functions.VectorExprs
    val e = sf("embeddings")
    VectorExprs.ensureRegistered(spark)
    val cents = Similarity.centroidsFromLabels(e, "label", "embedding")
    val rows = cents.select(col("cid"), col("cv").cast("array<double>"))
      .collect()
    val cids = rows.map(_.getLong(0))
    val dims = rows.head.getSeq[Double](1).length
    val matrix = rows.flatMap(_.getSeq[Double](1).toArray)
    // kernel assignment must equal the certified join-based ivfAssign
    val viaKernel = e
      .select(col("vec_id"), VectorExprs.nearestCentroid(
        col("embedding").cast("array<double>"), cids, matrix, dims).as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaJoin = Similarity.ivfAssign(e, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaKernel === viaJoin)
    // vector_sum must equal the exploded per-dimension sum
    val viaAgg = e.groupBy(col("label").cast("long").as("label"))
      .agg(VectorExprs.vectorSum(col("embedding").cast("array<double>"))
        .as("sv"))
      .select(col("label"), posexplode(col("sv")))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    val viaExplode = e
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding").cast("array<double>")))
      .groupBy("label", "pos").agg(sum("col").as("s"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(viaAgg.keySet === viaExplode.keySet)
    viaAgg.foreach { case (k, v) =>
      assert(math.abs(v - viaExplode(k)) < 1e-9, s"dim-sum mismatch at $k")
    }
  }

  test("Caches.release frees an iterative result's checkpoint blocks") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // string ids add the factorize step: its code table must not
    // outlive the call either
    val strEdges = edges.select(concat(lit("n"), col("id_a")).as("id_a"),
      concat(lit("n"), col("id_b")).as("id_b"))
    for (e <- Seq(edges, strEdges)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // force the distributed loop — the integral local-solve path has
      // no checkpoint blocks to release (that's its point)
      spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
      val labels =
        try Dedup.connectedComponents(e)
        finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
      assert(labels.count() === 5)
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.nonEmpty) // the localCheckpoint blocks
      graft.api.Caches.release(labels)
      val after = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(after.isEmpty, s"still persisted: $after")
    }
  }

  test("Lloyd refinement keeps a total 1:1 assignment and is order-stable") {
    val e = sf("embeddings")
    val seed = Similarity.centroidsFromLabels(e, "label", "embedding")
    val refined = Similarity.refineCentroids(e, "vec_id", "embedding", seed, iters = 2)
    val refined2 = Similarity.refineCentroids(
      e.repartition(5), "vec_id", "embedding", seed, iters = 2)
    val a = refined.orderBy("cid").collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1)))
    val b = refined2.orderBy("cid").collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1)))
    assert(a.toSeq === b.toSeq) // rounding per round -> order-independent
    val assign = Similarity.ivfAssign(e, "vec_id", "embedding", refined)
    assert(assign.count() === e.count())
    assert(assign.select("vec_id").distinct().count() === e.count())
  }

  test("graft_minhash_md5 kernel equals the HOF md5-min formulation") {
    val d = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.shingles(col("text"), 3).as("sh"))
    val both = d.select(col("doc_id"),
      graft.functions.VectorExprs.minHashMd5(col("sh"), "7|").as("kernel"),
      array_min(transform(col("sh"),
        s => md5(concat(lit("7|"), s)))).as("hof"),
      graft.functions.VectorExprs.minHashMd5(col("sh"), "").as("kernel0"),
      array_min(transform(col("sh"), s => md5(s))).as("hof0"))
      .collect()
    both.foreach { r =>
      assert(r.get(1) === r.get(2), s"seeded mismatch for doc ${r.getLong(0)}")
      assert(r.get(3) === r.get(4), s"unseeded mismatch for doc ${r.getLong(0)}")
    }
    // empty shingle array ("tiny" has < 3 tokens) -> null, like array_min
    assert(both.exists(r => r.get(1) == null))
    // fused token kernel == shingle-array kernel == HOF formulation
    val fused = docs.select(col("doc_id"),
      graft.functions.VectorExprs.minHashMd5Tokens(
        graft.ops.TextAnalysis.tokens(col("text")), 3, "7|").as("fused"),
      graft.functions.VectorExprs.minHashMd5(
        graft.ops.TextAnalysis.shingles(col("text"), 3), "7|").as("arr"))
      .collect()
    fused.foreach(r => assert(r.get(1) === r.get(2),
      s"fused mismatch for doc ${r.getLong(0)}"))
  }

  test("plan pinning: no interpreted HOF lambdas on production hash paths") {
    // a parquet-backed relation: a local fixture constant-folds into a
    // LocalTableScan and leaves no expressions to pin
    val pdocs = sf("documents")
    // xxhash64 minhash signature: fused kernel, no transform() building
    // shingle or hash arrays anywhere in the physical plan
    val mh = Dedup.withMinhashSignature(pdocs, "text",
      numHashes = 4, k = 3, useMd5 = false)
    val mhPlan = mh.queryExecution.executedPlan.toString
    assert(!mhPlan.contains("transform("), mhPlan)
    assert(mhPlan.contains("minhashxx64tokens"), mhPlan)
    // simhash, both hash modes: fused token-hash + vote
    Seq(true, false).foreach { md5Mode =>
      val sh = pdocs.select(Dedup.simhash32(col("text"), md5Mode).as("s"))
      val p = sh.queryExecution.executedPlan.toString
      assert(!p.contains("transform(") && !p.contains("aggregate("), p)
    }
    // embedding LSH signatures: ONE kernel call, not 16 chained dots
    // (the pair re-rank rightly keeps its single dot per candidate, so
    // pin the signature projection alone)
    val e = sf("embeddings")
    val sigOnly = e.select(
      Similarity.lshSignature(col("embedding"), dims = 64, planes = 16).as("sig"))
    val sigPlan = sigOnly.queryExecution.executedPlan.toString
    assert(!sigPlan.contains("dotproduct("), sigPlan)
    assert(sigPlan.contains("lshplanesigs"), sigPlan)
    // uniform binning: O(1) arithmetic, no per-bin when-chain (a chain
    // over n bins would repeat the comparison n times)
    val ub = graft.keys.Binning.uniform(col("l_quantity"), 0.0, 50.0, 5)
    val ubPlan = sf("lineitem").select(ub.as("bin"))
      .queryExecution.executedPlan.toString
    assert("CASE WHEN".r.findAllIn(ubPlan).size <= 1, ubPlan)
  }

  test("frequent-passage boilerplate scrub: corpus-frequent windows " +
    "removed, in-doc repeats count, unique content survives") {
    val d = Seq(
      // docs 1..3 share the same 4-token header window; doc 3 also has
      // unique tail content; doc 4 repeats one window INSIDE itself
      (1L, "copyright acme corp reserved alpha beta gamma delta"),
      (2L, "copyright acme corp reserved epsilon zeta eta theta"),
      (3L, "copyright acme corp reserved iota kappa lambda mu"),
      (4L, "one two three four one two three four"),
      (5L, "wholly original text lives here untouched")).toDF("doc_id", "text")
    val freq = Dedup.frequentPassages(d, "text", "doc_id",
      window = 4, minCount = 2, useMd5 = true)
      .collect().map(r => r.getLong(1)).sorted.toSeq
    // header x3, doc-4 window x2
    assert(freq === Seq(2L, 3L))
    val out = Dedup.scrubFrequentPassages(d, "text", "doc_id",
      window = 4, minCount = 2, useMd5 = true)
      .select("doc_id", "clean").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) === "alpha beta gamma delta")
    assert(out(2L) === "epsilon zeta eta theta")
    assert(out(3L) === "iota kappa lambda mu")
    assert(out(4L) === "") // pure self-repeated boilerplate
    assert(out(5L) === "wholly original text lives here untouched")
    // xxhash64 production mode scrubs the identical windows
    val outXx = Dedup.scrubFrequentPassages(d, "text", "doc_id",
      window = 4, minCount = 2)
      .select("doc_id", "clean").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(outXx === out)
  }

  test("passages chunk tokens into fixed windows; paragraphs split on blank lines") {
    val p = Dedup.passages(docs, "text", "doc_id", window = 4)
    // doc 1 has 9 tokens -> windows of 4, 4, 1
    val rows = p.filter(col("doc_id") === 1).orderBy("para_idx").collect()
    assert(rows.map(_.getString(2)).toSeq ===
      Seq("the quick brown fox", "jumps over the lazy", "dog"))
    // near-dup machinery composes at passage granularity: the exact-dup
    // docs 1 and 4 pair up on every passage at jaccard 1.0
    val pid = p.withColumn("pid", col("doc_id") * 100 + col("para_idx"))
    val pairs = Dedup.nearDupPairs(pid, "para_text", "pid",
      threshold = 0.99, numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 400L)) && pairs.contains((101L, 401L)))
    val para = Dedup.paragraphs(
      Seq((1L, "first para here\n\nsecond para\n \n\nthird"),
        (2L, "no paragraph breaks at all")).toDF("doc_id", "text"),
      "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(para.toSet === Set((1L, 0, "first para here"),
      (1L, 1, "second para"), (1L, 2, "third"),
      (2L, 0, "no paragraph breaks at all")))
  }

  test("graft_minhash_xx64 fused kernel equals the xxhash64 HOF formulation") {
    val rows = docs.select(col("doc_id"),
      graft.functions.VectorExprs.minHashXx64Tokens(
        graft.ops.TextAnalysis.tokens(col("text")), 3, 7).as("fused"),
      array_min(transform(graft.ops.TextAnalysis.shingles(col("text"), 3),
        s => xxhash64(lit(7), s))).as("hof"),
      // k = 1 over an existing shingle array == per-element minhash
      graft.functions.VectorExprs.minHashXx64Tokens(
        graft.ops.TextAnalysis.shingles(col("text"), 3), 1, 7).as("k1"))
      .collect()
    rows.foreach { r =>
      assert(r.get(1) === r.get(2), s"fused mismatch for doc ${r.getLong(0)}")
      assert(r.get(3) === r.get(2), s"k=1 mismatch for doc ${r.getLong(0)}")
    }
    // "tiny" has < 3 tokens -> null, like array_min over an empty array
    assert(rows.exists(r => r.get(1) == null))
  }

  test("fused simhash-tokens kernel equals the transform+vote formulation") {
    val toks = graft.ops.TextAnalysis.tokens(col("text"))
    val rows = docs.select(col("doc_id"),
      graft.functions.VectorExprs.simhashTokens(toks, useMd5 = true).as("fmd5"),
      graft.functions.VectorExprs.simhash32(transform(toks,
        t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))).as("hmd5"),
      graft.functions.VectorExprs.simhashTokens(toks, useMd5 = false).as("fxx"),
      graft.functions.VectorExprs.simhash32(transform(toks,
        t => xxhash64(t))).as("hxx"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"md5 mismatch for doc ${r.getLong(0)}")
      assert(r.getLong(3) === r.getLong(4), s"xx64 mismatch for doc ${r.getLong(0)}")
    }
  }

  test("fused lsh-signature kernel equals the per-plane dot formulation") {
    val e = sf("embeddings")
    val dims = 64
    val planes = 16
    val bandPlanes = 4
    val v = col("embedding").cast("array<double>")
    val perPlane = (0 until planes / bandPlanes).map { t =>
      (0 until bandPlanes).map { j =>
        val p = t * bandPlanes + j
        val weights = typedlit((0 until dims).map(dm => Similarity.planeWeight(p, dm)))
        when(graft.functions.VectorExprs.dot(v, weights) >= 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val w = {
      val arr = new Array[Double](planes * dims)
      for (p <- 0 until planes; d <- 0 until dims)
        arr(p * dims + d) = Similarity.planeWeight(p, d)
      arr
    }
    val rows = e.select(col("vec_id"),
      graft.functions.VectorExprs.lshSigs(v, w, dims, bandPlanes).as("fused"),
      array(perPlane: _*).as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"sig mismatch for vec ${r.getLong(0)}")
    }
  }

  test("quality-features kernel matches the regex formulations on adversarial text") {
    val texts = Seq(
      "The quick brown fox, JUMPED over 2 lazy dogs!!",
      "  leading and trailing spaces  ",
      "\nleading newline token",     // split() yields a leading empty token
      "trailing newline token\n",    // ...and a trailing one (limit -1)
      "\ttabvtab\ffeed\rcr mix",
      "",
      "   ",
      "\n",
      "no-stopwords here: 100% punct-free?",
      "的 是 了 unicode 文本 mixed with english the end",
      "a the and of to is in",       // all stopwords
      "1234567890",
      "emoji 😀 surrogate pair test")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val f = TextAnalysis.qualityFeatures(col("text"))
    val got = df.select(col("id"), f.as("__f"))
      .select(col("id"), col("__f.n_tokens"), col("__f.len_nws"),
        col("__f.n_stop"), col("__f.n_punct"), col("__f.n_digit"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // reference formulations: the certified regex/HOF column expressions
    val stops = typedlit(Seq("a", "the", "and", "of", "to", "is", "in"))
    val w = split(trim(lower(col("text"))), "\\s+")
    val nonWs = regexp_replace(lower(col("text")), "\\s+", "")
    val ref = df.select(col("id"),
      TextAnalysis.tokenCount(col("text")).cast("long"),
      length(nonWs).cast("long"),
      size(filter(w, t => array_contains(stops, t))).cast("long"),
      length(regexp_replace(nonWs, "[a-z0-9]", "")).cast("long"),
      length(regexp_replace(nonWs, "[^0-9]", "")).cast("long"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    texts.indices.foreach { i =>
      assert(got(i.toLong) === ref(i.toLong), s"text ${i}: '${texts(i)}'")
    }
  }

  test("langid kernel matches the HOF formulation incl. ties and zero evidence") {
    val texts = Seq(
      "the cat is on the mat",            // en
      "el gato es que la casa",           // es
      "der hund und die katze ist",       // de
      "le chat est une les",              // fr
      "的 是 了",                          // zh
      "xyz qwerty nothing",               // und
      "the el",                           // tie en/es -> en (earlier list)
      "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // reference formulation: per-language HOF filter counts + foldRight
    val markers = Seq(
      "en" -> Seq("the", "a", "is", "and"),
      "es" -> Seq("el", "la", "es", "que"),
      "de" -> Seq("der", "die", "und", "ist"),
      "fr" -> Seq("le", "les", "est", "une"),
      "zh" -> Seq("的", "是", "了"))
    val w = split(trim(lower(col("text"))), "\\s+")
    val scores = markers.map { case (lang, ms) =>
      lang -> size(filter(w, t => array_contains(typedlit(ms), t)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val refCol = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
    val ref = df.select(col("id"), refCol.as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.indices.foreach(i => assert(got(i.toLong) === ref(i.toLong), s"'${texts(i)}'"))
    assert(got(6L) === "en" && got(5L) === "und")
  }

  test("graft_jaccard_sorted matches array_intersect Jaccard on random sets") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val a = (0 until rnd.nextInt(30)).map(_ => "s" + rnd.nextInt(40)).distinct
      val b = (0 until rnd.nextInt(30)).map(_ => "s" + rnd.nextInt(40)).distinct
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
      .withColumn("sa", array_sort(col("a")))
      .withColumn("sb", array_sort(col("b")))
    val got = df.select(col("id"),
      graft.functions.VectorExprs.jaccardSorted(col("sa"), col("sb")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = df.select(col("id"), Dedup.jaccard(col("a"), col("b")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, _, _) =>
      assert(got(id) === ref(id), s"row $id")
    }
    // empty-vs-empty union -> 0.0, not NaN
    val e = Seq((1L, Seq.empty[String], Seq.empty[String])).toDF("id", "a", "b")
      .select(graft.functions.VectorExprs.jaccardSorted(col("a"), col("b")))
      .head().getDouble(0)
    assert(e === 0.0)
  }

  test("graft_dot: standalone use, float arrays, null/ragged semantics") {
    import graft.functions.VectorExprs
    // standalone Column use on array<float> — analysis must cast, not
    // read doubles out of float-packed data (ADVICE r2)
    val f = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    assert(f.select(VectorExprs.dot(col("a"), col("b"))).head.getDouble(0) === 11.0)
    // mismatched lengths and null elements -> null, not garbage
    val ragged = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    assert(ragged.select(VectorExprs.dot(col("a"), col("b"))).head.isNullAt(0))
    val withNull = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 1.0)))
      .toDF("a", "b")
    assert(withNull.select(VectorExprs.dot(col("a"), col("b"))).head.isNullAt(0))
  }

  test("top_shingle_frac kernel matches the exploded grouped formulation") {
    import graft.functions.VectorExprs
    val d = sf("documents")
    val got = TextAnalysis.repetitionSignals(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // the pre-kernel formulation: explode bigrams, count, max/sum, join
    def r4(c: org.apache.spark.sql.Column) = floor(c * 10000 + 0.5) / 10000
    val toks = TextAnalysis.tokens(col("text"))
    val n = TextAnalysis.tokenCount(col("text")).cast("long")
    val base = d.select(col("doc_id"), n.as("n_tokens"),
      r4(when(n === 0, lit(0.0)).otherwise(
        size(array_distinct(toks)).cast("double") / n.cast("double")))
        .as("distinct_ratio"))
    val bigram = d
      .select(col("doc_id"), explode(TextAnalysis.shingles(col("text"), 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        (max(col("c")).cast("double") / sum(col("c")).cast("double")).as("tbf"))
    val ref = base.join(bigram, Seq("doc_id"), "left")
      .select(col("doc_id"), col("distinct_ratio"),
        r4(coalesce(col("tbf"), lit(0.0))).as("top_bigram_frac"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet === ref.keySet)
    got.foreach { case (id, v) => assert(v === ref(id), s"doc $id") }
    // degenerate inputs: empty, single-token, fully-repetitive
    val edge = Seq((1L, ""), (2L, "one"), (3L, "ha ha ha ha"))
      .toDF("doc_id", "text")
    val e = TextAnalysis.repetitionSignals(edge, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(e(1L) === 0.0 && e(2L) === 0.0 && e(3L) === 1.0)
  }

  test("language id deterministic fallback and marker hit") {
    val d = Seq((1L, "el que la casa es"), (2L, "xyzzy plugh")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(1) === "es" && r(2) === "und")
  }

  test("multimodal decode is deterministic and partition-parallel (fallback path)") {
    val media = Multimodal.mediaFromDocuments(spark, sf("documents"))
    val a = Multimodal.decodeImages(media).orderBy("id").collect()
    val b = Multimodal.decodeImages(media.repartition(7)).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    assert(a.forall(m => m.width >= 64 && m.channels === 3))
  }

  test("image dHash near-dup: planted tweaked/resized copies pair up, " +
    "distinct images don't; banding equals the all-pairs scan") {
    import graft.ops.Multimodal.{MediaRow, fixtureImage, imageDHash}
    // 12 distinct base images; ids 100+i are slightly-tweaked copies of
    // i for i < 3; id 200 is a RESIZED copy of image 0 (64x48 -> 32x24)
    val rows = (0 until 12).map(i =>
      MediaRow(i.toLong, fixtureImage(64, 48, seed = i * 7 + 1))) ++
      (0 until 3).map(i =>
        MediaRow(100L + i, fixtureImage(64, 48, seed = i * 7 + 1, tweak = 0x080808))) :+
      MediaRow(200L, {
        val src = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(fixtureImage(64, 48, seed = 1)))
        val dst = new java.awt.image.BufferedImage(32, 24,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = dst.createGraphics()
        g2.drawImage(src.getScaledInstance(32, 24, java.awt.Image.SCALE_SMOOTH),
          0, 0, null)
        g2.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        bos.toByteArray
      })
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val pairs = Multimodal.imageNearDupPairs(ds, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair found
    assert(pairs.contains((0L, 100L)), pairs.toString)
    assert(pairs.contains((1L, 101L)))
    assert(pairs.contains((2L, 102L)))
    assert(pairs.contains((0L, 200L)), "resized copy must pair with original")
    // the banded join equals the brute-force scan (pigeonhole is lossless)
    val hashes = rows.map(r => r.id -> imageDHash(r.media))
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (ia, ib)).toSet
    assert(pairs === brute)
    // distinct bases stay apart
    assert(!pairs.exists { case (a, b) => a < 12 && b < 12 })
  }

  test("audio fingerprint near-dup: gain-scaled copy pairs with its " +
    "original, distinct contours don't, banding equals all-pairs") {
    import graft.ops.Multimodal.{MediaRow, fixtureAudio, audioFingerprint}
    val rows = (0 until 10).map(i =>
      MediaRow(i.toLong, fixtureAudio(seed = i * 11 + 5))) ++
      (0 until 3).map(i => MediaRow(100L + i,
        fixtureAudio(seed = i * 11 + 5, gain = 0.5))) // half volume
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val pairs = Multimodal.audioNearDupPairs(ds, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.map(p => (p._1, p._2)).intersect(
      Set((0L, 100L), (1L, 101L), (2L, 102L))) === Set((0L, 100L), (1L, 101L), (2L, 102L)))
    // gain scaling preserves every difference sign: hamming 0
    assert(pairs.filter(p => p._2 >= 100L).forall(_._3 === 0L))
    assert(!pairs.exists { case (a, b, _) => a < 10 && b < 10 })
    val hashes = rows.map(r => r.id -> audioFingerprint(r.media))
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= 4
    } yield (ia, ib)).toSet
    assert(pairs.map(p => (p._1, p._2)) === brute)
  }

  test("container-header metadata (webp/avif/mp4, codec-free): all " +
    "three webp forms round-trip dimensions, mp4 v1 mvhd and audio " +
    "tracks handled, truncation/junk quarantines, malformed box sizes " +
    "terminate the walk") {
    import graft.ops.Multimodal._
    // webp forms round-trip, including 14-bit-edge dims
    for ((w, h) <- Seq((1, 1), (640, 480), (16383, 16383))) {
      assert(containerMeta(1L, fixtureWebpLossy(w, h)) ===
        ContainerMeta(1L, "webp", w, h, 0L, null), s"lossy $w x $h")
      assert(containerMeta(1L, fixtureWebpLossless(w, h)) ===
        ContainerMeta(1L, "webp", w, h, 0L, null), s"lossless $w x $h")
    }
    assert(containerMeta(1L, fixtureWebpExtended(16384, 4320)) ===
      ContainerMeta(1L, "webp", 16384, 4320, 0L, null))
    // mp4: duration scales by timescale; a second 0x0 (audio) track
    // never shrinks the video dims
    val mp4 = fixtureMp4(1280, 720, durationMs = 3600L, timescale = 90000L)
    assert(containerMeta(2L, mp4) ===
      ContainerMeta(2L, "mp4", 1280, 720, 3600L, null))
    val avif = containerMeta(3L, fixtureAvif(1, 1))
    assert(avif === ContainerMeta(3L, "avif", 1, 1, 0L, null))
    // quarantine: truncated headers, junk, and a malformed box size
    // (2 GB claimed in an 80-byte file) are error rows, not failures
    assert(containerMeta(4L, fixtureWebpLossy(640, 480).take(18))
      .error != null)
    assert(containerMeta(5L, Array[Byte](1, 2, 3)).error != null)
    val badBox = fixtureMp4(1, 1, 1L).clone()
    badBox(0) = 0x7f // ftyp box claims ~2 GB
    assert(containerMeta(6L, badBox).error != null)
    // r19 ADVICE: (a) a version-1 mvhd SHORTER than its 32-byte spec
    // minimum must not fall into the version-0 branch and read
    // timescale/duration from the wrong offsets — it is skipped, so a
    // file carrying only that box quarantines; (b) a crafted 64-bit
    // v1 duration whose ms conversion would overflow Long must not
    // wrap negative (it would pass every `durationMs <= cap` gate) —
    // it reads as 0 ("unknown")
    def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
      val size = 8 + payload.length
      Array[Byte](((size >> 24) & 0xff).toByte, ((size >> 16) & 0xff).toByte,
        ((size >> 8) & 0xff).toByte, (size & 0xff).toByte) ++
        tpe.getBytes("US-ASCII") ++ payload
    }
    def be32(v: Long) = Array[Byte](((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ftypOnly = fixtureMp4(1, 1, 1L).take(24)
    val shortV1 = ftypOnly ++ box("moov",
      box("mvhd", Array[Byte](1, 0, 0, 0) ++ new Array[Byte](20)))
    assert(containerMeta(8L, shortV1).error != null,
      "a 24-byte v1 mvhd must quarantine, not parse v0 offsets")
    val hugeV1 = ftypOnly ++ box("moov",
      box("mvhd", Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16) ++
        be32(1000L) ++ be32(Long.MaxValue >> 32) ++ be32(Long.MaxValue)))
    val hugeMeta = containerMeta(9L, hugeV1)
    assert(hugeMeta.error == null && hugeMeta.durationMs === 0L,
      s"overflowing v1 duration must read 0, never negative: $hugeMeta")
    // r20 sweep pins: (a) a ZERO-timescale mvhd must read duration 0
    // ("unknown"), never divide by zero; (b) a 2^31-boundary box size
    // (0x80000000 reads negative in a signed 32-bit view) terminates
    // the walk as malformed — quarantine, not a crash or a wild read
    val zeroTs = ftypOnly ++ box("moov",
      box("mvhd", new Array[Byte](12) ++ be32(0L) ++ be32(5000L)))
    val zeroMeta = containerMeta(10L, zeroTs)
    assert(zeroMeta.error == null && zeroMeta.durationMs === 0L,
      s"zero timescale must read duration 0: $zeroMeta")
    val bigBox = ftypOnly ++ (be32(0x80000000L) ++
      "moov".getBytes("US-ASCII") ++ new Array[Byte](16))
    assert(containerMeta(11L, bigBox).error != null,
      "a 2^31 box size must quarantine, not crash")
    // a crafted 10^5-deep container nesting quarantines (depth cap),
    // never a StackOverflowError task failure
    val levels = 100000
    val deep = new Array[Byte](16 + 8 * levels)
    var off = 0
    (0 until levels).foreach { _ =>
      val size = deep.length - off
      deep(off) = ((size >> 24) & 0xff).toByte
      deep(off + 1) = ((size >> 16) & 0xff).toByte
      deep(off + 2) = ((size >> 8) & 0xff).toByte
      deep(off + 3) = (size & 0xff).toByte
      deep(off + 4) = 'm'; deep(off + 5) = 'o'
      deep(off + 6) = 'o'; deep(off + 7) = 'v'
      off += 8
    }
    // innermost: an ispe the capped walk must never reach
    Array[Byte](0, 0, 0, 16, 'i', 's', 'p', 'e',
      0, 0, 0, 0, 0, 0, 0, 1).copyToArray(deep, off)
    val ftypDeep = fixtureMp4(1, 1, 1L).take(24) // exactly the ftyp box
    val deepMeta = containerMeta(7L, ftypDeep ++ deep)
    assert(deepMeta.error != null, s"deep nesting must quarantine: $deepMeta")
    // distributed form matches the local function row for row
    val rows = Seq(MediaRow(1L, fixtureWebpLossy(99, 7)),
      MediaRow(2L, fixtureAvif(12, 34)))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val got = containerMetas(ds).collect().sortBy(_.id)
    assert(got === rows.map(r => containerMeta(r.id, r.media)).toArray)
  }

  test("real PNG/JPEG bytes decode to true dimensions and channels") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def render(w: Int, h: Int, tpe: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, tpe)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.setRGB(x, y, (x * 31 + y * 17) | 0xFF000000)))
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val png = render(40, 25, BufferedImage.TYPE_INT_RGB, "png")
    val pngA = render(16, 9, BufferedImage.TYPE_INT_ARGB, "png")
    val jpg = render(33, 21, BufferedImage.TYPE_INT_RGB, "jpg")
    val rows = Seq(
      Multimodal.MediaRow(1L, png),
      Multimodal.MediaRow(2L, pngA),
      Multimodal.MediaRow(3L, jpg),
      Multimodal.MediaRow(4L, "definitely not an image".getBytes))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val metas = Multimodal.decodeImages(ds).collect().sortBy(_.id)
    assert(metas(0).width === 40 && metas(0).height === 25 && metas(0).channels === 3)
    assert(metas(1).width === 16 && metas(1).height === 9 && metas(1).channels === 4)
    assert(metas(2).width === 33 && metas(2).height === 21 && metas(2).channels === 3)
    // resize: real raster scale + PNG re-encode; output decodes to the
    // target dims, undecodable input quarantines as ok=false
    val resized = Multimodal.resizeImages(ds, 16, 16).collect().sortBy(_.id)
    assert(resized.take(3).forall(r => r.ok && r.width === 16 && r.height === 16))
    assert(!resized(3).ok && resized(3).png.isEmpty)
    val back = ImageIO.read(new java.io.ByteArrayInputStream(resized(0).png))
    assert(back.getWidth === 16 && back.getHeight === 16)
    // deterministic within the JVM: same input -> same bytes
    val rerun = Multimodal.resizeImage(1L, png, 16, 16)
    assert(java.util.Arrays.equals(rerun.png, resized(0).png))
    // non-image bytes take the deterministic fallback, not an exception
    assert(metas(3) === Multimodal.decodeFallback(4L, "definitely not an image".getBytes))
    // executor-side determinism of the real decode
    val again = Multimodal.decodeImages(ds.repartition(3)).collect().sortBy(_.id)
    assert(metas.toSeq === again.toSeq)
  }

  test("animated-GIF frame-decoder plug-in: frames composite to the " +
    "canvas, delays round-trip, dHashes match the still-image kernel, " +
    "undecodable payloads quarantine (r13 #8)") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.{MediaRow, GifFrameDecoder}
    val gif = Multimodal.fixtureAnimatedGif(64, 64, frames = 3, seed = 5L)
    val frames = GifFrameDecoder.decodeFrames(1L, gif).get
    assert(frames.map(_.frameIdx) === Seq(0, 1, 2))
    assert(frames.forall(f => f.width === 64 && f.height === 64))
    // per-frame delay (i+1)*5 cs -> ms, read back from the GCE
    assert(frames.map(_.durationMs) === Seq(50, 100, 150))
    // GIF's palette encoder is lossless on <=256-color frames, and each
    // fixture frame is full-size (composited canvas == the frame), so
    // frame f's dHash equals the STILL image kernel on the same tile
    // pattern: fixtureAnimatedGif frame f == fixtureImage(seed + f*7919)
    frames.foreach { f =>
      val still = Multimodal.fixtureImage(64, 64, seed = 5L + f.frameIdx * 7919L)
      assert(f.dhash === Multimodal.imageDHash(still), s"frame ${f.frameIdx}")
    }
    // distributed path: conservation + determinism across partitioning,
    // fallback row for the undecodable payload
    val rows = Seq(MediaRow(1L, gif),
      MediaRow(2L, Multimodal.fixtureAnimatedGif(64, 64, 2, seed = 9L)),
      MediaRow(3L, "not a gif at all".getBytes("UTF-8")))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val out = Multimodal.decodeVideoFrames(ds, GifFrameDecoder)
      .collect().sortBy(f => (f.id, f.frameIdx))
    assert(out.map(_.id).distinct.toSeq === Seq(1L, 2L, 3L))
    assert(out.count(_.id == 1L) === 3 && out.count(_.id == 2L) === 2)
    val fb = out.filter(_.id == 3L)
    assert(fb.length === 1 && fb.head.frameIdx === -1 &&
      fb.head.width === 0)
    val again = Multimodal.decodeVideoFrames(ds.repartition(5), GifFrameDecoder)
      .collect().sortBy(f => (f.id, f.frameIdx))
    assert(out.toSeq === again.toSeq)
  }

  test("animated-GIF plug-in composites offset partial frames onto the " +
    "logical screen before hashing") {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    import graft.ops.Multimodal
    // frame 0: full 64x64 tile pattern; frame 1: a 16x16 patch at
    // (24, 8) — the decoder must report 64x64 canvas dims for BOTH
    // frames and hash frame 1 as (frame 0 with the patch drawn on top)
    val base = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach(y => (0 until 64).foreach { x =>
      val v = ((x / 8) * 37 + (y / 8) * 101) % 256
      base.setRGB(x, y, (v << 16) | (v << 8) | v)
    })
    val patch = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(y => (0 until 16).foreach { x =>
      patch.setRGB(x, y, if ((x + y) % 2 == 0) 0xFFFFFF else 0)
    })
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    def writeFrame(img: java.awt.image.BufferedImage, left: Int,
                   top: Int): Unit = {
      val meta = writer.getDefaultImageMetadata(
        new ImageTypeSpecifier(img), null)
      val fmt = meta.getNativeMetadataFormatName
      val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      var c = root.getFirstChild
      var desc: IIOMetadataNode = null
      while (c != null) {
        if (c.getNodeName == "ImageDescriptor")
          desc = c.asInstanceOf[IIOMetadataNode]
        c = c.getNextSibling
      }
      if (desc == null) {
        desc = new IIOMetadataNode("ImageDescriptor")
        desc.setAttribute("imageWidth", img.getWidth.toString)
        desc.setAttribute("imageHeight", img.getHeight.toString)
        desc.setAttribute("interlaceFlag", "FALSE")
        root.appendChild(desc)
      }
      desc.setAttribute("imageLeftPosition", left.toString)
      desc.setAttribute("imageTopPosition", top.toString)
      meta.setFromTree(fmt, root)
      writer.writeToSequence(new IIOImage(img, null, meta), null)
    }
    writeFrame(base, 0, 0)
    writeFrame(patch, 24, 8)
    writer.endWriteSequence()
    writer.dispose(); ios.close()

    val frames = Multimodal.GifFrameDecoder.decodeFrames(7L, bos.toByteArray).get
    assert(frames.length === 2)
    assert(frames.forall(f => f.width === 64 && f.height === 64))
    assert(frames(0).dhash === Multimodal.dHashOf(base))
    val composed = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = composed.createGraphics()
    g.drawImage(base, 0, 0, null)
    g.drawImage(patch, 24, 8, null)
    g.dispose()
    assert(frames(1).dhash === Multimodal.dHashOf(composed))
    assert(frames(0).dhash !== frames(1).dhash)
  }

  test("multi-page TIFF frame-decoder plug-in (second in-JDK codec): " +
    "pages decode through the still kernel, a GIF and a TIFF of the " +
    "same clip band frame-for-frame, magic-byte chaining dispatches") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.{ChainedFrameDecoder, GifFrameDecoder,
      MediaRow, TiffFrameDecoder}
    val tiff = Multimodal.fixtureMultipageTiff(64, 64, pages = 3, seed = 5L)
    val frames = TiffFrameDecoder.decodeFrames(1L, tiff).get
    assert(frames.map(_.frameIdx) === Seq(0, 1, 2))
    assert(frames.forall(f => f.width === 64 && f.height === 64 &&
      f.durationMs === 0))
    // lossless pages hash through the SAME still kernel
    frames.foreach { f =>
      val still = Multimodal.fixtureImage(64, 64, seed = 5L + f.frameIdx * 7919L)
      assert(f.dhash === Multimodal.imageDHash(still), s"page ${f.frameIdx}")
    }
    // cross-codec: a GIF of the same logical clip yields the SAME
    // per-frame dHashes — the shared-kernel contract that lets mixed
    // containers band in one joiner
    val gif = Multimodal.fixtureAnimatedGif(64, 64, frames = 3, seed = 5L)
    val gifFrames = GifFrameDecoder.decodeFrames(2L, gif).get
    assert(frames.map(_.dhash) === gifFrames.map(_.dhash))

    // magic dispatch: the chained decoder routes each container to its
    // codec; foreign bytes quarantine
    val chained = ChainedFrameDecoder(Seq(GifFrameDecoder, TiffFrameDecoder))
    assert(chained.decodeFrames(1L, tiff).get.map(_.dhash) ===
      frames.map(_.dhash))
    assert(chained.decodeFrames(2L, gif).get.map(_.dhash) ===
      gifFrames.map(_.dhash))
    assert(chained.decodeFrames(3L, "neither".getBytes("UTF-8")).isEmpty)

    // distributed: a MIXED corpus — same clip as GIF and as TIFF —
    // pairs across codecs on every frame
    val rows = Seq(MediaRow(10L, gif), MediaRow(20L, tiff),
      MediaRow(30L, Multimodal.fixtureMultipageTiff(64, 64, 3, seed = 99L)))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val pairs = Multimodal.videoNearDupPairs(ds, chained,
        maxHamming = 0, minSharedFrames = 3)
      .select("id_a", "id_b", "shared_frames")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((10L, 20L, 3L)))
  }

  test("animated-GIF disposal: restoreToPrevious restores the exact " +
    "pre-frame canvas; restoreToBackgroundColor clears the rectangle " +
    "(r15, closing the r13-carried approximation)") {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    import graft.ops.Multimodal
    def tile(w: Int, h: Int, f: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.setRGB(x, y, f(x, y))))
      img
    }
    val base = tile(64, 64, (x, y) => {
      val v = ((x / 8) * 37 + (y / 8) * 101) % 256
      (v << 16) | (v << 8) | v
    })
    val patch1 = tile(16, 16, (x, y) => if ((x + y) % 2 == 0) 0xFFFFFF else 0)
    val patch2 = tile(16, 16, (x, y) => if (x % 3 == 0) 0xFF0000 else 0x00FF00)

    def makeGif(disposals: Seq[String]): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      val specs = Seq((base, 0, 0), (patch1, 24, 8), (patch2, 0, 40))
      specs.zip(disposals).foreach { case ((img, left, top), disp) =>
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), null)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        def child(name: String): IIOMetadataNode = {
          var c = root.getFirstChild
          while (c != null) {
            if (c.getNodeName == name) return c.asInstanceOf[IIOMetadataNode]
            c = c.getNextSibling
          }
          val n = new IIOMetadataNode(name); root.appendChild(n); n
        }
        val desc = child("ImageDescriptor")
        desc.setAttribute("imageWidth", img.getWidth.toString)
        desc.setAttribute("imageHeight", img.getHeight.toString)
        desc.setAttribute("interlaceFlag", "FALSE")
        desc.setAttribute("imageLeftPosition", left.toString)
        desc.setAttribute("imageTopPosition", top.toString)
        val gce = child("GraphicControlExtension")
        gce.setAttribute("disposalMethod", disp)
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("transparentColorIndex", "0")
        gce.setAttribute("delayTime", "5")
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
      writer.dispose(); ios.close()
      bos.toByteArray
    }

    def composed(imgs: (java.awt.image.BufferedImage, Int, Int)*) = {
      val c = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = c.createGraphics()
      imgs.foreach { case (im, l, t) => g.drawImage(im, l, t, null) }
      g.dispose()
      c
    }

    // restoreToPrevious on frame 1: frame 2 must composite onto the
    // PRE-patch1 canvas — patch1 gone exactly
    val rp = Multimodal.GifFrameDecoder.decodeFrames(1L,
      makeGif(Seq("none", "restoreToPrevious", "none"))).get
    assert(rp(0).dhash === Multimodal.dHashOf(composed((base, 0, 0))))
    assert(rp(1).dhash === Multimodal.dHashOf(
      composed((base, 0, 0), (patch1, 24, 8))))
    assert(rp(2).dhash === Multimodal.dHashOf(
      composed((base, 0, 0), (patch2, 0, 40))))

    // control: disposal none accumulates — frame 2 keeps patch1
    val acc = Multimodal.GifFrameDecoder.decodeFrames(2L,
      makeGif(Seq("none", "none", "none"))).get
    assert(acc(2).dhash === Multimodal.dHashOf(
      composed((base, 0, 0), (patch1, 24, 8), (patch2, 0, 40))))

    // restoreToBackgroundColor on frame 1: its 16x16 rect is black
    // under frame 2
    val rb = Multimodal.GifFrameDecoder.decodeFrames(3L,
      makeGif(Seq("none", "restoreToBackgroundColor", "none"))).get
    val blackPatch = tile(16, 16, (_, _) => 0)
    assert(rb(2).dhash === Multimodal.dHashOf(
      composed((base, 0, 0), (blackPatch, 24, 8), (patch2, 0, 40))))
  }

  test("video near-dup: tweaked animated copy pairs with its original " +
    "on every frame; distinct videos don't pair; NEGATIVE ids stay " +
    "unambiguous; a static-scene video counts distinct frames, not " +
    "the match cross product") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.{MediaRow, GifFrameDecoder}
    // same-content frames repeated: the static-scene shape whose
    // matches must NOT inflate shared_frames (r14 review)
    def staticGif(nFrames: Int): Array[Byte] = {
      import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach(y => (0 until 64).foreach { x =>
        val v = ((x / 8) * 53 + (y / 8) * 19) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      })
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until nFrames).foreach { _ =>
        writer.writeToSequence(new IIOImage(img, null,
          writer.getDefaultImageMetadata(
            new ImageTypeSpecifier(img), null)), null)
      }
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val rows = (0 until 6).map(i => MediaRow(i.toLong,
      Multimodal.fixtureAnimatedGif(64, 64, 3, seed = i * 31 + 2))) ++ Seq(
      MediaRow(100L,
        Multimodal.fixtureAnimatedGif(64, 64, 3, seed = 2L, tweak = 0x070707)),
      // negative-id copy of video 4's content: must pair as (-7, 4),
      // not alias into some other id (r14 review — the packed-long
      // frame key truncated negative ids toward zero)
      MediaRow(-7L,
        Multimodal.fixtureAnimatedGif(64, 64, 3, seed = 4 * 31 + 2,
          tweak = 0x070707)),
      MediaRow(200L, staticGif(3)), // 3 identical frames
      MediaRow(201L, staticGif(1))) // 1 frame of the same content
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val pairs = Multimodal.videoNearDupPairs(ds, GifFrameDecoder,
        maxHamming = 6, minSharedFrames = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.keySet === Set((0L, 100L), (-7L, 4L), (200L, 201L)))
    assert(pairs((0L, 100L)) === 3L) // all 3 frames match, both sides
    assert(pairs((-7L, 4L)) === 3L)
    // 3 identical frames x 1 matching frame: ONE distinct shared
    // frame on the single-frame side, never the 3-pair cross product
    assert(pairs((200L, 201L)) === 1L)
  }

  test("frame sampling shape") {
    val d = Seq((1L, Array.fill[Byte](100)(7))).toDF("doc_id", "media")
    val f = Multimodal.sampleFrames(d, "media", "doc_id", frameBytes = 32, everyNth = 1)
    val rows = f.collect()
    assert(rows.length === 3) // floor(100/32) = 3 frames
    assert(rows.forall(_.getAs[Array[Byte]]("frame").length == 32))
  }

  test("real WAV bytes decode; PCM window features are exact") {
    // synthesize a REAL canonical WAV: javax.sound writes the header,
    // we provide 16-bit mono PCM samples
    val samples: Array[Short] =
      Array(100, 200, -300, 400, -1, -2, 3, 0, 0, 5).map(_.toShort)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, wav),
      Multimodal.MediaRow(2L, "not audio at all".getBytes)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val metas = Multimodal.decodeAudios(ds).collect().sortBy(_.id)
    assert(metas(0) === Multimodal.AudioMeta(1L, 8000, 1, 16,
      samples.length.toLong, decoded = true))
    assert(!metas(1).decoded && metas(1).sampleRate === 16000)
    // windowed features over the raw PCM (window 4): exact integer
    // energies and zero crossings vs a straight Scala oracle
    val pcmDs = spark.createDataset(Seq(Multimodal.MediaRow(7L, pcm)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val wins = Multimodal.audioWindows(pcmDs, windowSamples = 4)
      .collect().sortBy(_.windowIdx)
    def oracle(from: Int, until: Int) = {
      val w = samples.slice(from, until)
      (w.map(s => s.toLong * s).sum,
        w.sliding(2).count(p => p.length == 2 && (p(0) < 0) != (p(1) < 0)))
    }
    assert(wins.length === 3) // ceil(10/4)
    wins.foreach { w =>
      val (e, z) = oracle(w.windowIdx * 4, math.min(w.windowIdx * 4 + 4, samples.length))
      assert((w.energy, w.zeroCrossings) === ((e, z)), s"window ${w.windowIdx}")
    }
    assert(wins.last.nSamples === 2) // tail window
    // the WAV payload with the canonical 44-byte header offset yields
    // the same features as the raw PCM
    val viaWav = Multimodal.audioWindows(ds.filter(_.id == 1L),
      windowSamples = 4, dataOffset = wav.length - pcm.length)
      .collect().sortBy(_.windowIdx)
    assert(viaWav.map(w => (w.energy, w.zeroCrossings)).toSeq ===
      wins.map(w => (w.energy, w.zeroCrossings)).toSeq)
  }

  test("duplicated spans found across docs; scrub removes exactly the covered tokens") {
    import graft.ops.Spans
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "look the quick brown fox runs fast today"),
      (3L, "completely unrelated text here now"),
      (4L, "the quick brown fox jumps high"),
      (5L, "tiny doc"),
      (6L, "")).toDF("doc_id", "text")
    // 'the quick brown' and 'quick brown fox' recur in docs 1,2,4;
    // 'brown fox jumps' in docs 1,4
    val dup = Spans.duplicatedSpans(d, "text", "doc_id", k = 3)
      .select("n_docs", "n_total").as[(Long, Long)].collect().sorted
    assert(dup.toSeq === Seq((2L, 2L), (3L, 3L), (3L, 3L)))
    val clean = Spans.scrubSpans(d, "text", "doc_id", k = 3)
      .select("doc_id", "clean").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(clean === Seq(
      (1L, "over the lazy dog"),       // positions 0-4 covered
      (2L, "look runs fast today"),    // positions 1-4 covered
      (3L, "completely unrelated text here now"),
      (4L, "high"),                    // positions 0-4 covered
      (5L, "tiny doc"),                // shorter than k: no spans
      (6L, "")))
    // md5 and xxhash64 modes must agree on everything but the hash col
    val cleanMd5 = Spans.scrubSpans(d, "text", "doc_id", k = 3, useMd5 = true)
      .select("doc_id", "clean").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(cleanMd5 === clean)
  }

  test("scrubSpans on a fully-boilerplate doc yields empty string, keeps all input columns") {
    import graft.ops.Spans
    val d = Seq(
      (1L, "copy this exact text", "a"),
      (2L, "copy this exact text", "b"),
      (3L, "prefix copy this exact text", "c")).toDF("doc_id", "text", "tag")
    val out = Spans.scrubSpans(d, "text", "doc_id", k = 4)
      .select("doc_id", "tag", "clean").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, "a", ""), (2L, "b", ""), (3L, "c", "prefix")))
  }

  private val piiText =
    "Contact user42@mail.example.com or jane.doe+x@sub.domain.co, " +
      "call 415-555-0123 or 415.555.9876, ip 10.0.3.17 and 192.168.100.1, " +
      "ssn 123-45-6789, card 4111-1111-1111-1111 and 4111 1111 1111 1111. " +
      "edge: 1234-555-0123, v1.2.3.4beta, a@b.c"

  test("pii scrub counts every category and masks in redaction order") {
    import graft.ops.Pii
    val r = Pii.scrub(Seq((1L, piiText)).toDF("doc_id", "text"), "text")
      .collect().head
    assert(r.getAs[Long]("n_email") === 2L)
    assert(r.getAs[Long]("n_phone") === 2L)
    assert(r.getAs[Long]("n_ip") === 2L)
    assert(r.getAs[Long]("n_ssn") === 1L)
    assert(r.getAs[Long]("n_card") === 2L)
    assert(r.getAs[Long]("n_pii") === 9L)
    val red = r.getAs[String]("redacted")
    assert(red ===
      "Contact <EMAIL> or <EMAIL>, call <PHONE> or <PHONE>, " +
        "ip <IP> and <IP>, ssn <SSN>, card <CARD> and <CARD>. " +
        "edge: 1234-555-0123, v1.2.3.4beta, a@b.c")
    // word-boundary edges survive: no partial phone inside a 4-digit
    // prefix, no IP inside a dotted version string, no 1-letter TLD
    assert(red.contains("1234-555-0123") && red.contains("v1.2.3.4beta")
      && red.contains("a@b.c"))
  }

  test("pii dropPii keeps only documents under the match budget") {
    import graft.ops.Pii
    val df = Seq(
      (1L, piiText),
      (2L, "clean text with no contacts at all"),
      (3L, "one address: someone@example.org")).toDF("doc_id", "text")
    assert(Pii.dropPii(df, "text").select("doc_id")
      .as[Long].collect().sorted === Array(2L))
    assert(Pii.dropPii(df, "text", maxTotal = 1L).select("doc_id")
      .as[Long].collect().sorted === Array(2L, 3L))
  }

  test("pii widened coverage: paren/+1 phones, ipv6 forms, quoted-local emails") {
    import graft.ops.Pii
    val t = "Call (415) 555-0134 or +1 628-555-0042 or +1.206.555.2671; " +
      "\"u v\"@ex.example.com; v6 fe80::1, 2001:db8::8a2e:370:7334, " +
      "full 1:2:3:4:5:6:7:8, trail 2001:db8:: end"
    val r = Pii.scrub(Seq((1L, t)).toDF("doc_id", "text"), "text")
      .collect().head
    assert(r.getAs[Long]("n_phone") === 3L)
    assert(r.getAs[Long]("n_email") === 1L)
    assert(r.getAs[Long]("n_ipv6") === 4L)
    assert(r.getAs[Long]("n_ip") === 0L)
    assert(r.getAs[String]("redacted") ===
      "Call <PHONE> or <PHONE> or <PHONE>; <EMAIL>; " +
        "v6 <IPV6>, <IPV6>, full <IPV6>, trail <IPV6> end")
    // the narrow r10 forms still hold alongside: no bare-10-digit or
    // foreign-country capture, and hex words without colons survive
    val r2 = Pii.scrub(Seq((1L, "id 4155550134, +44 20 7946 0958, deadbeef"))
      .toDF("doc_id", "text"), "text").collect().head
    assert(r2.getAs[Long]("n_pii") === 0L)
  }

  test("pii scrub is order-safe: dotted quads redact as IP before PHONE sees them") {
    import graft.ops.Pii
    // 10.0.3.17 must become <IP>; a phone-shaped dotted triple inside a
    // quad (e.g. 192.168.100.1234 is NOT an IP: last octet 4 digits)
    // falls through to the phone pattern only when it truly matches
    val r = Pii.scrub(Seq((1L, "at 10.0.3.17; weird 192.168.1007.1234 x"))
      .toDF("doc_id", "text"), "text").collect().head
    assert(r.getAs[String]("redacted").contains("<IP>"))
    assert(r.getAs[Long]("n_ip") === 1L)
  }
}
