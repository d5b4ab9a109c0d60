package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * for the 100 TB shape:
  *
  *  - exact: hash-groupBy on a content fingerprint — one shuffle keyed
  *    by a 128-bit hash, perfectly balanced;
  *  - MinHash + LSH: per-row signatures (map-only), banding, then a
  *    bucket self-join that only materializes candidate pairs — never
  *    the O(n²) cross product;
  *  - SimHash: 32-bit per-row signature; near-dups = small hamming
  *    distance, bucketable by signature prefix;
  *  - n-gram Jaccard: exact verification for candidate pairs;
  *  - embedding near-dup: see graft.ops.Similarity.
  *
  * Two hash modes: xxhash64 (fast, production default) and md5
  * (cross-engine-reproducible, used by the oracle-checked queries).
  */
object Dedup {

  /** Exact duplicate groups: fingerprint -> (kept id = min, group size).
    * Survivors are rows where doc_id == keep_id. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Drop exact duplicates, keeping the smallest id per fingerprint.
    * Implemented as min_by over the fingerprint — single shuffle. */
  def dropExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(df, textCol, idCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** One MinHash value: min over shingles of hash(seed || shingle).
    * md5 mode returns hex strings (lexicographic min — reproducible in
    * any engine) via the one-pass graft_minhash_md5 kernel; xxhash64
    * mode returns longs (production fast path), bit-identical to
    * `array_min(transform(shingles, s => xxhash64(lit(seed), s)))` but
    * one codegen'd pass with no interpreted HOF. */
  def minhash(shingles: Column, seed: Int, useMd5: Boolean): Column =
    if (useMd5) graft.functions.VectorExprs.minHashMd5(shingles, s"$seed|")
    else graft.functions.VectorExprs.minHashXx64Tokens(shingles, 1, seed)

  /** Append `numHashes` MinHash signature columns mh0..mh{H-1} computed
    * from k-word shingles. Map-only: no shuffle. BOTH hash modes use a
    * fused token-shingle kernel, so the shingle arrays are never
    * materialized (the interpreted `transform` building them used to
    * dominate the whole signature pass 10:1). */
  def withMinhashSignature(df: DataFrame, textCol: String,
                           numHashes: Int = 6, k: Int = 3,
                           useMd5: Boolean = false): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    (0 until numHashes).foldLeft(df.withColumn("__toks", toks)) { (d, h) =>
      d.withColumn(s"mh$h",
        if (useMd5)
          graft.functions.VectorExprs.minHashMd5Tokens(col("__toks"), k, s"$h|")
        else
          graft.functions.VectorExprs.minHashXx64Tokens(col("__toks"), k, h))
    }.drop("__toks")
  }

  /** The canonical LSH band key: md5 over the '|'-joined (stringified)
    * minhash lanes of one band, as 16-BYTE BINARY (r22, guide §2.3
    * narrower types: the 32-char hex string shuffled and persisted 2×
    * the bytes of the same 128-bit key — `unhex` keeps equality
    * semantics EXACTLY md5's, unlike a truncated long). ONE definition
    * (r13 review: three hand-maintained copies whose bit-identity is
    * the load-bearing batch≡stream candidate-parity claim) — used by
    * [[lshCandidates]], [[crossNearDupPairs]],
    * [[graft.streaming.StreamingDedup.dropNearDupsWithinWatermark]]
    * and [[graft.streaming.StreamingContamination]]. */
  private[graft] def bandHash(lanes: Seq[Column]): Column =
    unhex(md5(concat_ws("|", lanes.map(_.cast("string")): _*)))

  /** LSH candidate pairs: documents sharing at least one band
    * (bandSize consecutive minhashes hashed together). Returns
    * (id_a, id_b, n_shared_bands) with id_a < id_b.
    *
    * Scale shape: explode to (band_idx, band_hash, id) — H/bandSize
    * rows per doc — then a self-join on the band key. Bucket sizes are
    * the only quadratic term; a `maxBucket` guard drops degenerate
    * buckets (e.g. empty-text docs) the way production pipelines do.
    */
  def lshCandidates(df: DataFrame, textCol: String, idCol: String,
                    numHashes: Int = 6, bandSize: Int = 1, k: Int = 3,
                    useMd5: Boolean = false, maxBucket: Int = 1000): DataFrame = {
    // Materialize the band table ONCE (executor-local storage): three
    // consumers read it (bucket-size counts + both join sides), and
    // each would otherwise re-run the minhash pass over the full text —
    // measured 36.5s -> 20.2s at sf0.1. At scale the band table
    // (id + band key per doc x nBands) is a tiny fraction of the text
    // it replaces; persisting signatures between stages is exactly what
    // a production dedup pipeline does.
    val bands = bandTable(df, textCol, idCol, "__id", numHashes, bandSize,
      k, useMd5).localCheckpoint()
    val pruned = PersistedIndex.prune(bands, Seq("band_idx", "band_hash"),
      maxBucket)
    val a = pruned.select(col("band_idx"), col("band_hash"), col("__id").as("id_a"))
    val b = pruned.select(col("band_idx"), col("band_hash"), col("__id").as("id_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(countDistinct("band_idx").as("n_shared_bands"))
  }

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(aSh: Column, bSh: Column): Column = {
    val inter = size(array_intersect(aSh, bSh)).cast("double")
    val union = size(array_distinct(aSh)) + size(array_distinct(bSh)) - size(array_intersect(aSh, bSh))
    when(union > 0, inter / union.cast("double")).otherwise(lit(0.0))
  }

  /** Near-duplicate pairs: LSH candidates verified by exact shingle
    * Jaccard >= threshold. The verify join only touches candidate ids —
    * at scale the shingle arrays are re-derived per side instead of
    * shuffled with the candidates. Shingle sets are deduplicated AND
    * sorted once per DOCUMENT so the per-PAIR hot loop is the one-pass
    * codegen'd sorted-merge kernel (graft_jaccard_sorted) instead of
    * 2-3 hash-based array_intersect evaluations — |pairs| >> |docs|, so
    * per-pair cost is what matters. */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.8, numHashes: Int = 6,
                   bandSize: Int = 1, k: Int = 3,
                   useMd5: Boolean = false): DataFrame = {
    val cand = lshCandidates(df, textCol, idCol, numHashes, bandSize, k, useMd5)
    val sh = df.select(col(idCol),
      array_sort(array_distinct(TextAnalysis.shingles(col(textCol), k))).as("__sh"))
    cand
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.VectorExprs.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus near-duplicate pairs: rows of `right` (the corpus)
    * within shingle-Jaccard >= threshold of a row of `left` (the
    * benchmark) — FUZZY train/eval contamination, the step exact
    * fingerprint matching (Selection.contaminated) cannot cover when
    * eval text is paraphrased or truncated into the training set.
    *
    * Bipartite LSH: band signatures on both sides, equi-join on the
    * band key with the benchmark side BROADCAST (a benchmark is a few
    * thousand documents; the corpus is the 100 TB side), then the
    * sorted-merge Jaccard verify over candidates only. The corpus is
    * never shuffled: its band table joins against a broadcast, and the
    * verify join ships only candidate ids. Returns
    * (id_l, id_r, jaccard).
    */
  def crossNearDupPairs(left: DataFrame, right: DataFrame, textCol: String,
                        leftIdCol: String, rightIdCol: String,
                        threshold: Double = 0.8, numHashes: Int = 6,
                        bandSize: Int = 1, k: Int = 3,
                        useMd5: Boolean = false,
                        maxBucket: Int = 1000): DataFrame = {
    def bandsOf(df: DataFrame, idCol: String, outId: String) =
      bandTable(df, textCol, idCol, outId, numHashes, bandSize, k, useMd5)
        .select(col("band_idx"), col("band_hash"), col(outId))
    // degenerate-bucket guard on the corpus side only: the broadcast
    // benchmark side is bounded by construction, but one pathological
    // corpus bucket (e.g. empty documents) times any benchmark hit
    // would still fan out — computed from the corpus band table alone,
    // so it stays a broadcast anti-join
    val rBands = PersistedIndex.prune(
      bandsOf(right, rightIdCol, "id_r").localCheckpoint(),
      Seq("band_idx", "band_hash"), maxBucket)
    // consumers: the count, the id prune, the verify join
    val cand = PersistedIndex.idGate(rBands
      .join(broadcast(bandsOf(left, leftIdCol, "id_l")),
        Seq("band_idx", "band_hash"))
      .select("id_l", "id_r").distinct())
    def shinglesOf(df: DataFrame, idCol: String, outId: String, sh: String) =
      df.select(col(idCol).as(outId),
        array_sort(array_distinct(TextAnalysis.shingles(col(textCol), k)))
          .as(sh))
    // corpus text pruned to candidate ids BEFORE shingling (r21 — the
    // nearDupsAgainstIndex shape applied here): the verify join used to
    // shingle-and-shuffle the ENTIRE right side; candidates are
    // benchmark-bounded, so (under the gate) the id set broadcasts and
    // the corpus scan streams past non-candidates without shuffling.
    // OVER the gate the prune is skipped outright — an un-hinted semi
    // join would shuffle the corpus by id, strictly worse than the old
    // unpruned plan it replaces.
    val rightCand =
      if (cand.under)
        right.join(
          broadcast(cand.pinned.select(col("id_r").as(rightIdCol)).distinct()),
          Seq(rightIdCol), "left_semi")
      else right
    cand.pinned
      .join(broadcast(shinglesOf(left, leftIdCol, "id_l", "sh_l")), Seq("id_l"))
      .join(shinglesOf(rightCand, rightIdCol, "id_r", "sh_r"), Seq("id_r"))
      .withColumn("jaccard",
        graft.functions.VectorExprs.jaccardSorted(col("sh_l"), col("sh_r")))
      .filter(col("jaccard") >= threshold)
      .select("id_l", "id_r", "jaccard")
  }

  /** THE single-column band key: md5 over config stamp + band index +
    * '|'-joined lanes. One definition shared by [[bandIndex]] and the
    * streaming mirror ([[graft.streaming.StreamingDedup]]) — key
    * bit-identity across the batch build and the per-row streaming
    * lookup is the load-bearing claim. The band index is folded INTO
    * the key so the index join is a single-column equi-join
    * (bucketable by [[graft.api.Layout]]); equality implies same band
    * position AND same lane values, i.e. exactly the (band_idx,
    * band_hash) pair key the within-corpus LSH uses. The CONFIG stamp
    * ([[minhashCfg]]/[[hammingCfg]]) is folded in too (r16 review):
    * two builds with different parameters can never collide on a key,
    * so a build/query parameter mismatch yields deterministically ZERO
    * candidates instead of the silent partial recall a positional
    * prefix overlap used to allow (e.g. a numHashes=4 query against a
    * numHashes=6 index matching on the shared bands 0-3) — and the
    * `cfg` column every index now carries upgrades even that to a
    * LOUD scan-time failure ([[PersistedIndex.requireCfg]]). */
  private[graft] def bandKeyExpr(cfg: String, bandIdx: Column,
                                 lanes: Seq[Column]): Column =
    unhex(md5(concat_ws("|",
      (lit(cfg) +: bandIdx.cast("string") +: lanes.map(_.cast("string"))): _*)))

  /** Config stamp for MinHash band keys — every parameter that changes
    * the key derivation, so mismatched build/query configs partition
    * the key space. FORMAT VERSION "mh2" (r22): band keys became
    * 16-byte binary (`unhex(md5)`, same 128-bit value the hex string
    * spelled in 32 chars) — a pre-r22 persisted index carries "mh:…"
    * stamps and a STRING band_key column, so querying it with current
    * code fails LOUDLY ([[PersistedIndex.requireCfg]] stamp mismatch / join type
    * mismatch) instead of silently returning zero candidates. Rebuild
    * persisted indexes and blooms to migrate. */
  private[graft] def minhashCfg(numHashes: Int, bandSize: Int, k: Int,
                                useMd5: Boolean): String =
    s"mh2:$numHashes:$bandSize:$k:${if (useMd5) "md5" else "xx"}"

  /** Config stamp for hamming band keys (see [[minhashCfg]]; "hm2" =
    * the r22 binary-key format version). */
  private[graft] def hammingCfg(sigBits: Int, maxHamming: Int): String =
    s"hm2:$sigBits:$maxHamming"

  /** (outId, __sig): the minhash lanes of each document as strings —
    * the input of both band-key derivations below. */
  private def sigLanes(df: DataFrame, textCol: String, idCol: String,
                       outId: String, numHashes: Int, k: Int,
                       useMd5: Boolean): DataFrame =
    withMinhashSignature(df, textCol, numHashes, k, useMd5)
      .select(col(idCol).as(outId),
        array((0 until numHashes).map(h => col(s"mh$h").cast("string")): _*)
          .as("__sig"))

  /** The within-corpus LSH band table (outId, band_idx, band_hash):
    * one row per document and band, keyed by [[bandHash]]. Shared by
    * [[lshCandidates]] and [[crossNearDupPairs]]. */
  private def bandTable(df: DataFrame, textCol: String, idCol: String,
                        outId: String, numHashes: Int, bandSize: Int,
                        k: Int, useMd5: Boolean): DataFrame = {
    val nBands = numHashes / bandSize
    sigLanes(df, textCol, idCol, outId, numHashes, k, useMd5)
      .select(col(outId),
        posexplode(transform(sequence(lit(0), lit(nBands - 1)),
          b => bandHash((0 until bandSize).map(j =>
            element_at(col("__sig"), b * bandSize + j + 1))))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** The persisted-index band keys (outId, band_key): [[bandKeyExpr]]
    * under the MinHash stamp, one row per document and band. */
  private def bandKeysOf(df: DataFrame, textCol: String, idCol: String,
                         outId: String, numHashes: Int, bandSize: Int,
                         k: Int, useMd5: Boolean): DataFrame = {
    val nBands = numHashes / bandSize
    val cfg = minhashCfg(numHashes, bandSize, k, useMd5)
    sigLanes(df, textCol, idCol, outId, numHashes, k, useMd5)
      .select(col(outId),
        explode(transform(sequence(lit(0), lit(nBands - 1)),
          b => bandKeyExpr(cfg, b, (0 until bandSize).map(j =>
            element_at(col("__sig"), b * bandSize + j + 1)))))
          .as("band_key"))
  }

  /** A band index from its (band_key, …) rows: pinned ONCE — its two
    * consumers, the oversized-bucket count and the anti-join's left
    * side, would each re-run the caller's whole key derivation (the
    * minhash pass over the corpus text, or the SimHash kernel / media
    * decode) — then pruned of buckets over `maxBucket` and stamped
    * with `cfg`. Returns the index and its oversized keys (pinned too
    * when `pinOversized`: the sidecar write is their second consumer). */
  private def prunedBandIndex(bands: DataFrame, cfg: String, maxBucket: Int,
                              pinOversized: Boolean = false)
    : (DataFrame, DataFrame) = {
    val pinned = bands.localCheckpoint()
    val over0 = PersistedIndex.oversizedKeys(pinned, Seq("band_key"), maxBucket)
    val over = if (pinOversized) over0.localCheckpoint() else over0
    (PersistedIndex.dropKeys(pinned, over, Seq("band_key"))
      .withColumn("cfg", lit(cfg)), over)
  }

  /** Persist a [[prunedBandIndex]] bucketed on band_key, with its
    * pruned-keys sidecar at `prunedPath`; every consumer is a terminal
    * action here, so the corpus-sized pin is released eagerly (a daily
    * rebuild cadence would otherwise accumulate one pinned band table
    * per build until session end). [[graft.api.Caches.release]], not
    * unpersist: Dataset.unpersist does not reach localCheckpoint
    * blocks. */
  private def writePrunedBandIndex(bands: DataFrame, cfg: String,
                                   maxBucket: Int, table: String,
                                   buckets: Int, path: Option[String],
                                   prunedPath: Option[String]): Unit = {
    val (idx, over) = prunedBandIndex(bands, cfg, maxBucket,
      pinOversized = prunedPath.isDefined)
    graft.api.Layout.writeBucketed(idx, table, Seq("band_key"), buckets,
      path = path)
    prunedPath.foreach(p => over.write.mode(SaveMode.Overwrite).parquet(p))
    graft.api.Caches.release(idx)
    graft.api.Caches.release(over)
  }

  /** MinHash band-index table for INCREMENTAL near-dup detection —
    * the production shape where a daily batch (crawl snapshot) is
    * deduped AGAINST an existing corpus without re-pairing the corpus:
    * build this once per corpus version, persist it bucketed on
    * `band_key` ([[writeBandIndex]]), and every later batch pays only
    * its own map-only signature pass plus one equi-join that never
    * shuffles the index. Columns: (band_key, id). Degenerate buckets
    * (> maxBucket members, e.g. empty docs) are pruned AT BUILD TIME
    * with the same broadcast anti-join as [[lshCandidates]] — they
    * would fan out against every matching batch row on every batch.
    *
    * CONTRACT: numHashes/bandSize/k/useMd5 must match between the
    * index build and every [[nearDupsAgainstIndex]] call. Band keys
    * fold the config stamp in, so mismatched parameters produce
    * deterministically zero candidates — and the constant `cfg`
    * column carried by every row (dictionary-encodes to ~nothing in
    * parquet) makes the mismatch LOUD at query time ([[PersistedIndex.requireCfg]]).
    *
    * maxBucket corollary worth knowing when auditing survivors: a
    * batch doc ALL of whose bands land in pruned buckets can never
    * become a candidate, so [[dropNearDupsAgainstIndex]] keeps it
    * even if a literal dup lives in the corpus. Reaching that state
    * needs >maxBucket corpus collisions on EVERY band — degenerate
    * content (empty/boilerplate docs) that quality gates (Gopher/C4)
    * should have dropped upstream; if they didn't, lower maxBucket is
    * the wrong knob — fix the prefilter.
    *
    * RESOURCE CONTRACT (r21 ADVICE): construction is EAGER — the band
    * table is pinned with `localCheckpoint()` at build time (one full
    * corpus signature pass runs HERE, even if the returned frame is
    * never acted on), and the pin lives until session end unless the
    * caller releases it: call [[graft.api.Caches.release]] on the
    * returned frame after its last action (Dataset.unpersist cannot
    * reach checkpoint blocks). Repeated-build callers (a daily rebuild
    * loop) should prefer [[writeBandIndex]], which releases its own
    * pin. */
  def bandIndex(df: DataFrame, textCol: String, idCol: String,
                numHashes: Int = 6, bandSize: Int = 1, k: Int = 3,
                useMd5: Boolean = false, maxBucket: Int = 1000): DataFrame =
    prunedBandIndex(bandKeysOf(df, textCol, idCol, "id",
      numHashes, bandSize, k, useMd5),
      minhashCfg(numHashes, bandSize, k, useMd5), maxBucket)._1

  /** Band-key DELTA for batch survivors being admitted to the corpus —
    * the maintenance path [[graft.api.Layout]] correctly refuses
    * (appending into a bucketed layout breaks its one-file-per-bucket
    * law): write THIS small side table instead (plain parquet,
    * append-mode — [[appendBandIndexDelta]]) and pass it as `delta` to
    * [[nearDupsAgainstIndex]]; fold it back into the bucketed layout
    * with [[compactBandIndex]] on whatever cadence amortizes (the
    * batch side shuffles anyway, so the extra delta equi-join per
    * query is day-scale, not corpus-scale). Same schema as
    * [[bandIndex]] (band_key, id, cfg) but with NO maxBucket prune —
    * a day's batch cannot see corpus-wide bucket counts; compaction
    * re-prunes at the combined grain, and build-time-pruned keys stay
    * excluded via the pruned-keys sidecar (see [[writeBandIndex]]). */
  def bandIndexDelta(survivors: DataFrame, textCol: String, idCol: String,
                     numHashes: Int = 6, bandSize: Int = 1, k: Int = 3,
                     useMd5: Boolean = false): DataFrame =
    bandKeysOf(survivors, textCol, idCol, "id",
      numHashes, bandSize, k, useMd5)
      .select(col("band_key"), col("id"),
        lit(minhashCfg(numHashes, bandSize, k, useMd5)).as("cfg"))

  /** Persist [[bandIndex]] as a bucketed Layout table: the batch-side
    * join shuffles ONLY the batch's band keys into the index's
    * bucketing; the index (the corpus-sized side) never moves.
    * Version bumps go through [[appendBandIndexDelta]] +
    * [[compactBandIndex]], never an in-place append (Layout refuses
    * Append — a second file per bucket would cost the layout
    * guarantee).
    *
    * `prunedPath` writes the PRUNED-KEYS SIDECAR: the band keys the
    * maxBucket guard dropped (keys only — tiny: ≤ rows·nBands/
    * maxBucket entries). It is what makes [[compactBandIndex]]
    * EXACTLY rebuild-equal — without it a compaction cannot tell "this
    * key's rows were pruned at build" from "this key never occurred",
    * and delta rows landing in a build-pruned bucket would resurrect a
    * degenerate bucket a rebuild would re-prune. */
  def writeBandIndex(df: DataFrame, textCol: String, idCol: String,
                     table: String, buckets: Int,
                     numHashes: Int = 6, bandSize: Int = 1, k: Int = 3,
                     useMd5: Boolean = false, maxBucket: Int = 1000,
                     path: Option[String] = None,
                     prunedPath: Option[String] = None): Unit =
    writePrunedBandIndex(bandKeysOf(df, textCol, idCol, "id",
      numHashes, bandSize, k, useMd5),
      minhashCfg(numHashes, bandSize, k, useMd5), maxBucket, table,
      buckets, path, prunedPath)

  /** Append a day's admitted survivors' band keys to the DELTA side
    * table ([[PersistedIndex.appendDelta]]: plain parquet, NOT
    * idempotent under job-level re-runs). `prunedKeys` (the
    * [[writeBandIndex]] sidecar) keeps build-pruned degenerate buckets
    * pruned: a survivor band row landing in one is dropped at append
    * time, matching what a full rebuild would do to it. */
  def appendBandIndexDelta(survivors: DataFrame, textCol: String,
                           idCol: String, deltaPath: String,
                           numHashes: Int = 6, bandSize: Int = 1,
                           k: Int = 3, useMd5: Boolean = false,
                           prunedKeys: Option[DataFrame] = None): Unit =
    PersistedIndex.appendDelta(bandIndexDelta(survivors, textCol, idCol,
      numHashes, bandSize, k, useMd5), deltaPath, prunedKeys)

  /** Fold the delta back into a NEW bucketed layout (corpus version
    * bump) through [[PersistedIndex.compact]] (in place refused, a
    * delta stamped unlike the index refused, exact duplicate delta rows
    * dropped). Family-generic on `band_key`, so it serves the MinHash
    * AND hamming indexes — pass the family's build-time maxBucket (1000
    * MinHash default, 100000 hamming default); the compactor cannot
    * infer it.
    *
    * The band rule: re-prune at the combined grain. REBUILD-EQUAL by
    * construction when the pruned-keys sidecar is supplied: (1) delta
    * rows in build-pruned buckets are dropped (counts only ever grow,
    * so a rebuild would prune them too); (2) every surviving bucket has
    * ALL its rows present in index ∪ delta, so the combined count is
    * the true count and the re-prune here is the rebuild's prune.
    * Without the sidecar the equality holds whenever no bucket was
    * pruned at build time. The new sidecar (old pruned keys ∪
    * newly-oversized keys) is written to `outPrunedPath` for the next
    * cycle. Use the SAME maxBucket as the build: a smaller one
    * re-prunes consistently with a rebuild at that value, but a LARGER
    * one cannot resurrect rows the build already dropped (they are not
    * in the index), so loosening the guard requires a true rebuild. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       indexTable: String, delta: DataFrame,
                       outTable: String, buckets: Int,
                       maxBucket: Int = 1000,
                       path: Option[String] = None,
                       prunedKeys: Option[DataFrame] = None,
                       outPrunedPath: Option[String] = None): Unit = {
    val newOversized = PersistedIndex.compact(spark, "compactBandIndex",
      indexTable, delta, outTable, buckets, path, "band_key",
      prunedKeys = prunedKeys) { unioned =>
      // two consumers: the anti-join + the sidecar
      val over = PersistedIndex.oversizedKeys(unioned, Seq("band_key"),
        maxBucket).localCheckpoint()
      (PersistedIndex.dropKeys(unioned, over, Seq("band_key")), over)
    }
    outPrunedPath.foreach { p =>
      prunedKeys.fold(newOversized)(pk =>
        pk.select("band_key").unionByName(newOversized).distinct())
        .write.mode(SaveMode.Overwrite).parquet(p)
    }
  }

  /** The shingle-side mate of [[PersistedIndex.idGate]]'s threshold,
    * tighter because shingle rows are KBs where id rows are ~tens of
    * bytes. */
  private def shingleBroadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.dedup.shingleBroadcastThreshold")
      .map(_.toLong).getOrElse(1L << 16)

  /** A serialized bloom filter over an index's distinct band keys,
    * carrying the config stamp it was built for — the plan-constant
    * prefilter the STREAMING index lookup uses instead of per-trigger
    * stream-static joins ([[graft.streaming.StreamingDedup
    * .dropNearDupsAgainstIndexBloom]]). The stamp makes the
    * build/query parameter contract checkable at operator
    * construction (`require`, loud) — essential here because the
    * map-only bloom path has no scan-time hook for [[PersistedIndex.requireCfg]],
    * and a silent mismatch would UNDER-drop (batch keys never match
    * ⇒ duplicates leak), the one direction the over-drop posture
    * cannot absorb. */
  /** `numKeys` is the distinct-key OCCUPANCY this build inserted;
    * `sizedForKeys` is the capacity the bit geometry was created for
    * (they differ for delta blooms, which borrow the original's
    * geometry to stay mergeable — [[bandKeyBloomDelta]]). The fpp
    * guarantee holds while total occupancy ≤ sizedForKeys.
    * `binaryKeys` records whether the build inserted BINARY keys
    * (`putBinary` — the r22 band-key format) or UTF8-string keys
    * (`putString` — the URL-index family): probe expressions must hash
    * the same bytes the build did, so [[bloomKeyFilter]] dispatches on
    * it and [[mergeKeyBlooms]] refuses a cross-type merge. */
  case class BandKeyBloom(bytes: Array[Byte], cfg: String,
                          numKeys: Long, fpp: Double,
                          sizedForKeys: Long,
                          binaryKeys: Boolean = false)

  private def buildKeyBloom(index: DataFrame, cfg: String,
                            fpp: Double,
                            sizeForKeys: Option[Long] = None): BandKeyBloom = {
    // two jobs over the distinct key set (count sizes the filter, the
    // aggregate fills it): pin it once, release after. The fill is a
    // hand-rolled treeAggregate, NOT DataFrameStatFunctions.bloomFilter:
    // that routes through BloomFilterAggregate, whose
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits cap (2^26 =
    // 8 MiB) silently UNDERSIZES the filter past ~4M keys — measured
    // 14% over-drop at 8M keys where the requested fpp=0.001 promises
    // 0.4% (`graft.StreamBloomProbe` at commit 316cdc8 found it).
    // treeAggregate honors the requested sizing at any key count; the
    // merge fan-in bounds per-step traffic to O(log partitions) filter
    // copies.
    val keys = PersistedIndex.requireCfg(index, cfg)
      .select("band_key").distinct().localCheckpoint()
    val n = math.max(keys.count(), 1L)
    // sizeForKeys pins the (numBits, numHashFunctions) geometry to an
    // EXISTING filter's so the results are mergeable (delta blooms);
    // the returned numKeys still reports the true occupancy added here
    val sizing = sizeForKeys.getOrElse(n)
    // every fill task materializes a FULL-geometry filter (the
    // treeAggregate zero value deserializes per task), so at big
    // geometries #tasks × filterBytes explodes the heap — measured:
    // 16 tasks × 171 MiB (a 100M-key sizing) OOM'd an 8g driver
    // before any key was inserted. Bound concurrent fills by a byte
    // budget (filters estimate as optimal-bits/8 from (n, fpp)):
    // fewer, bigger fill tasks — insertion is embarrassingly
    // commutative, so parallelism here only buys hash throughput,
    // which one pass over day-scale keys does not need.
    val estBytes = math.max(1L, math.ceil(-sizing.toDouble *
      math.log(fpp) / (math.log(2) * math.log(2)) / 8.0).toLong)
    val budget = index.sparkSession.conf
      .getOption("spark.graft.dedup.bloomBuildBytes")
      .map(_.toLong).getOrElse(1L << 30)
    val maxTasks = math.max(1L, budget / estBytes).toInt
    // key dtype dispatch (r22): band keys are 16-byte BINARY
    // (putBinary); the URL-index family keys stay strings (putString).
    // Build and probe must hash the same bytes — bloomKeyFilter picks
    // the matching probe expression off `binaryKeys`.
    val isBinary = keys.schema("band_key").dataType ==
      org.apache.spark.sql.types.BinaryType
    val zero = org.apache.spark.util.sketch.BloomFilter.create(sizing, fpp)
    val bf =
      if (isBinary) {
        val rdd0 = keys.select(col("band_key")).rdd
          .map(_.getAs[Array[Byte]](0))
        val rdd =
          if (rdd0.getNumPartitions > maxTasks) rdd0.coalesce(maxTasks)
          else rdd0
        rdd.treeAggregate(zero)(
          (f, s) => { f.putBinary(s); f },
          (a, b) => { a.mergeInPlace(b); a })
      } else {
        val rdd0 = keys.select(col("band_key")).rdd.map(_.getString(0))
        val rdd =
          if (rdd0.getNumPartitions > maxTasks) rdd0.coalesce(maxTasks)
          else rdd0
        rdd.treeAggregate(zero)(
          (f, s) => { f.putString(s); f },
          (a, b) => { a.mergeInPlace(b); a })
      }
    val baos = new java.io.ByteArrayOutputStream()
    bf.writeTo(baos)
    graft.api.Caches.release(keys)
    BandKeyBloom(baos.toByteArray, cfg, n, fpp, sizing, isBinary)
  }

  /** Day-scale bloom MAINTENANCE (r17 verdict "What's missing #3"):
    * a bloom over the DELTA's distinct band keys built at the
    * ORIGINAL filter's exact geometry (same capacity, same fpp ⇒ same
    * numBits/numHashFunctions ⇒ `BloomFilter.mergeInPlace`-compatible),
    * so admitting survivors refreshes the streaming bloom via
    * [[mergeKeyBlooms]] at delta cost — the corpus-scale
    * distinct+treeAggregate rebuild moves to compaction cadence, the
    * same shape the delta side tables gave the indexes themselves.
    * Works for BOTH families (the delta's `cfg` column must match —
    * checked at scan). Bit-level law (StreamingSpec): inserting a key
    * set is order- and partition-independent, so
    * merge(bloom(index), bloomDelta(delta)) is BYTE-identical to one
    * build over index ∪ delta at the same geometry. */
  def bandKeyBloomDelta(delta: DataFrame,
                        sizedLike: BandKeyBloom): BandKeyBloom =
    buildKeyBloom(delta, sizedLike.cfg, sizedLike.fpp,
      sizeForKeys = Some(sizedLike.sizedForKeys))

  /** Merge two same-geometry [[BandKeyBloom]]s (the original + a
    * [[bandKeyBloomDelta]]): set-union of the bit arrays, so the
    * merged filter's positives are exactly the union's. `numKeys`
    * sums (an upper bound on distinct occupancy — keys shared between
    * the sides count twice); once it exceeds `sizedForKeys` the
    * realized fpp degrades past the requested one — rebuild at
    * compaction, which is also when the delta folds into the index. */
  def mergeKeyBlooms(a: BandKeyBloom, b: BandKeyBloom): BandKeyBloom = {
    require(a.cfg == b.cfg,
      s"cannot merge blooms of different configs: '${a.cfg}' vs '${b.cfg}'")
    require(a.fpp == b.fpp && a.sizedForKeys == b.sizedForKeys,
      s"cannot merge blooms of different geometry: " +
        s"(fpp=${a.fpp}, sized=${a.sizedForKeys}) vs " +
        s"(fpp=${b.fpp}, sized=${b.sizedForKeys}) — build the delta " +
        "bloom with bandKeyBloomDelta(delta, sizedLike = original)")
    require(a.binaryKeys == b.binaryKeys,
      "cannot merge blooms of different key encodings (binary vs " +
        "string) — rebuild both sides at the same index format version")
    val fa = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(a.bytes))
    val fb = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(b.bytes))
    require(fa.isCompatible(fb), "bloom bit geometries incompatible")
    fa.mergeInPlace(fb)
    val baos = new java.io.ByteArrayOutputStream()
    fa.writeTo(baos)
    BandKeyBloom(baos.toByteArray, a.cfg, a.numKeys + b.numKeys, a.fpp,
      a.sizedForKeys, a.binaryKeys)
  }

  /** Membership column of `keyCol` in a [[BandKeyBloom]], with
    * SIZE-GATED delivery (r17 review #3): under
    * `spark.graft.dedup.bloomBroadcastBytes` (default 16 MiB) the
    * filter ships as a plan constant
    * ([[graft.functions.BloomContainsString]] — simplest, and the task
    * binary it rides is itself torrent-broadcast once per stage);
    * above it, as a TORRENT-BROADCAST handle
    * ([[graft.functions.BloomContainsStringBc]]) broadcast once at
    * operator construction — decisive for STREAMING lookups, where
    * each trigger re-plans and would re-serialize a plan-constant
    * filter into its task binary (~1.2 GB per 10⁹ keys at fpp=0.001,
    * per trigger). Semantics identical either way: same filter bits,
    * same probe hash, no false negatives. */
  private[graft] def bloomKeyFilter(spark: org.apache.spark.sql.SparkSession,
                                    bloom: BandKeyBloom): Column => Column = {
    val gate = spark.conf
      .getOption("spark.graft.dedup.bloomBroadcastBytes")
      .map(_.toLong).getOrElse(16L << 20)
    if (bloom.bytes.length <= gate)
      keyCol =>
        if (bloom.binaryKeys)
          graft.functions.VectorExprs.bloomContainsBinary(keyCol, bloom.bytes)
        else
          graft.functions.VectorExprs.bloomContains(keyCol, bloom.bytes)
    else {
      // ONE broadcast shared by every band column of the operator —
      // per-band registration would pin nBands copies of the filter in
      // the block manager (measured the dual mistake on the literal
      // path: nBands deserialized filters in one plan OOM'd task
      // serialization at 171 MiB × 4 bands on an 8g driver)
      val handle = graft.functions.VectorExprs
        .registerBloomBroadcast(spark, bloom.bytes)
      keyCol =>
        if (bloom.binaryKeys)
          graft.functions.VectorExprs.bloomContainsBinaryBc(keyCol, spark, handle)
        else
          graft.functions.VectorExprs.bloomContainsBc(keyCol, spark, handle)
    }
  }

  /** Build the [[BandKeyBloom]] for a MinHash [[bandIndex]]. One
    * corpus-index pass at construction; after that the streaming
    * lookup is map-only forever. When survivors are admitted, refresh
    * at DELTA cost — [[bandKeyBloomDelta]] over the day's delta +
    * [[mergeKeyBlooms]] — instead of this corpus-scale rebuild (a
    * STALE bloom under-drops new-corpus matches exactly like a stale
    * index would); rebuild only at compaction, when occupancy
    * approaches `sizedForKeys`. Size: ~1.2 GB per
    * 10^9 keys at fpp=0.001 — at larger corpora raise fpp (false
    * positives only over-drop) or shard the stream by key range. */
  /** `sizeForKeys` pre-sizes the bit geometry for expected GROWTH
    * (e.g. the year's projected key count), so later
    * [[bandKeyBloomDelta]]s merge into it without a rebuild until
    * occupancy approaches the sizing. */
  def bandKeyBloom(index: DataFrame, numHashes: Int = 6,
                   bandSize: Int = 1, k: Int = 3,
                   useMd5: Boolean = false,
                   fpp: Double = 0.001,
                   sizeForKeys: Option[Long] = None): BandKeyBloom =
    buildKeyBloom(index, minhashCfg(numHashes, bandSize, k, useMd5), fpp,
      sizeForKeys)

  /** [[bandKeyBloom]] for a [[hammingBandIndex]]. */
  def hammingBandKeyBloom(index: DataFrame, sigBits: Int, maxHamming: Int,
                          fpp: Double = 0.001,
                          sizeForKeys: Option[Long] = None): BandKeyBloom =
    buildKeyBloom(index, hammingCfg(sigBits, maxHamming), fpp, sizeForKeys)

  /** [[bandKeyBloom]] for ANY string-keyed index family: builds over
    * `keyCol`'s distinct values under the family's `cfg` stamp (same
    * treeAggregate build, same byte budget, same geometry contract).
    * Shared by the URL index ([[graft.ops.Web]]); the band families
    * keep their named wrappers above. */
  def keyBloom(index: DataFrame, keyCol: String, cfg: String,
               fpp: Double = 0.001,
               sizeForKeys: Option[Long] = None): BandKeyBloom = {
    val cols = Seq(col(keyCol).as("band_key")) ++
      (if (index.columns.contains("cfg")) Seq(col("cfg")) else Nil)
    buildKeyBloom(index.select(cols: _*), cfg, fpp, sizeForKeys)
  }

  /** [[bandKeyBloomDelta]] for an arbitrary-keyed family (the
    * [[keyBloom]] mate): same geometry as `sizedLike`, mergeable via
    * [[mergeKeyBlooms]]. */
  def keyBloomDelta(delta: DataFrame, keyCol: String,
                    sizedLike: BandKeyBloom): BandKeyBloom =
    keyBloom(delta, keyCol, sizedLike.cfg, sizedLike.fpp,
      Some(sizedLike.sizedForKeys))

  /** Near-duplicate pairs of a NEW BATCH against an indexed corpus:
    * (id_batch, id_corpus, jaccard). Candidates come from the
    * `band_key` equi-join against `index` (built by [[bandIndex]] /
    * read back via [[graft.api.Layout.table]]) plus, when `delta` is
    * supplied, a second equi-join against the small un-bucketed delta
    * of survivors admitted since the last [[compactBandIndex]] — the
    * batch side is shuffled anyway, so the index stays exchange-free
    * and the delta lookup is day-scale. The exact sorted-merge Jaccard
    * verify then touches only candidate rows — the corpus TEXT is
    * scanned once, semi-join-pruned to candidate ids, so neither the
    * corpus nor its index is ever shuffled. Broadcast hints on the
    * candidate-bounded sides are SIZE-GATED (measured candidate count
    * vs `spark.graft.dedup.idBroadcastThreshold` /
    * `.shingleBroadcastThreshold`); an oversized batch falls back to
    * plain joins and completes. The within-batch pairs are NOT
    * reported — run [[nearDupPairs]] on the batch for those (an
    * incremental pipeline does both: batch-vs-corpus here,
    * batch-vs-itself at batch scale).
    *
    * CONTRACT with `delta`: `corpus` must contain the TEXT of every id
    * admitted to the delta (survivors were admitted, so the corpus
    * content store has them) — a candidate id missing from `corpus`
    * produces no pair, silently. */
  def nearDupsAgainstIndex(batch: DataFrame, corpus: DataFrame,
                           index: DataFrame, textCol: String,
                           batchIdCol: String, corpusIdCol: String,
                           threshold: Double = 0.8, numHashes: Int = 6,
                           bandSize: Int = 1, k: Int = 3,
                           useMd5: Boolean = false,
                           delta: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    val cfg = minhashCfg(numHashes, bandSize, k, useMd5)
    val bBands = bandKeysOf(batch, textCol, batchIdCol, "id_batch",
      numHashes, bandSize, k, useMd5)
    // consumers: the count, the id prunes, the verify join
    val cand = PersistedIndex.idGate(
      PersistedIndex.probe(bBands, index, delta, cfg) { (ix, b) =>
        ix.select(col("band_key"), col("id").as("id_corpus"))
          .join(b, Seq("band_key"))
          .select("id_batch", "id_corpus")
      })
    def shinglesOf(df: DataFrame, idCol: String, outId: String,
                   sh: String) =
      df.select(col(idCol).as(outId),
        array_sort(array_distinct(TextAnalysis.shingles(col(textCol), k)))
          .as(sh))
    // corpus text pruned to candidate ids BEFORE shingling: the
    // candidate id set is batch-bounded, so (under the gate) it
    // broadcasts and the corpus scan streams past non-candidates
    // without shuffling
    val corpusCand = corpus.join(
      cand.hint(cand.pinned.select(col("id_corpus").as(corpusIdCol)).distinct()),
      Seq(corpusIdCol), "left_semi")
    // the batch shingle table broadcasts only under the (tighter)
    // shingle gate, and then only the candidate-pruned slice of it;
    // over the gate the verify is a plain join AQE plans
    val batchSh =
      if (cand.rows <= shingleBroadcastThreshold(spark))
        broadcast(shinglesOf(
          batch.join(
            broadcast(cand.pinned.select(col("id_batch").as(batchIdCol)).distinct()),
            Seq(batchIdCol), "left_semi"),
          batchIdCol, "id_batch", "sh_b"))
      else shinglesOf(batch, batchIdCol, "id_batch", "sh_b")
    cand.pinned
      .join(batchSh, Seq("id_batch"))
      .join(shinglesOf(corpusCand, corpusIdCol, "id_corpus", "sh_c"),
        Seq("id_corpus"))
      .withColumn("jaccard",
        graft.functions.VectorExprs.jaccardSorted(col("sh_b"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .select("id_batch", "id_corpus", "jaccard")
  }

  /** Survivor selection for the incremental path: batch rows with NO
    * near-duplicate already in the indexed corpus (the corpus always
    * wins — it is the published data). Anti-join on the verified
    * pairs' batch ids — pinned and counted, so the hint obeys the
    * same size gate as the candidate joins. */
  def dropNearDupsAgainstIndex(batch: DataFrame, corpus: DataFrame,
                               index: DataFrame, textCol: String,
                               batchIdCol: String, corpusIdCol: String,
                               threshold: Double = 0.8, numHashes: Int = 6,
                               bandSize: Int = 1, k: Int = 3,
                               useMd5: Boolean = false,
                               delta: Option[DataFrame] = None): DataFrame = {
    val dup = PersistedIndex.idGate(nearDupsAgainstIndex(batch, corpus,
      index, textCol, batchIdCol, corpusIdCol, threshold, numHashes,
      bandSize, k, useMd5, delta)
      .select(col("id_batch").as(batchIdCol)).distinct())
    batch.join(dup.hinted, Seq(batchIdCol), "left_anti")
  }

  /** Connected components by iterative min-label propagation WITH
    * pointer jumping: label(node) starts as min(id, neighbor ids); each
    * round every node takes the min label among itself and its
    * neighbors, then jumps through one level of label indirection
    * (label <- label(label)). The jump halves remaining chain depth
    * every round, so convergence is O(log diameter) rounds instead of
    * O(diameter) — the difference between feasible and pathological on
    * a deep-chain graph at scale.
    *
    * The inner loop runs on RDDs, not DataFrames, deliberately: an
    * iterative fixed-point is the one shape where Catalyst re-planning
    * is pure overhead — each round re-ran AQE planning + per-exchange
    * stage sync + codegen on a plan whose data is a few labels per
    * node, costing ~0.45s/round regardless of size (measured: a
    * DataFrame loop at 3.7s vs 1.2s for this loop on the same sf0.1
    * graph, identical labels; disabling AQE instead made it 21s —
    * 32-partition shuffles per tiny stage). With a single reused
    * HashPartitioner the cached adjacency is joined NARROW every round
    * (the GraphX/Pregel pattern), so per round it's three small
    * shuffles and ONE action (count = cache barrier + convergence
    * accumulator read); nothing but that scalar reaches the driver.
    * Partition count inherits from the (AQE-coalesced) edge
    * materialization, so it self-scales with the pair graph.
    *
    * ONE LOOP FOR EVERY ID TYPE: the loop and the driver union-find run
    * on long ids only. Integral ids are cast to long. Any other
    * orderable id type is factorized first (flox's factorize step):
    * one Spark sort of the distinct ids + `zipWithIndex` gives dense
    * long codes in Spark's own order, so the min code of a component
    * is its min id as Spark orders it (strings compare as UTF-8 bytes,
    * like `least`/`min`), whichever solve runs; two lookups into the
    * persisted code table decode the labels.
    *
    * The result is materialized via `localCheckpoint()` (2 ids per
    * clustered node — at 100 TB that is the near-dup cluster membership
    * table, well under shuffle scale), after which every loop-interval
    * cache (and the code table) is released — repeated calls in a
    * long-lived session leave nothing persisted but the returned
    * checkpoint blocks. Those blocks free when the result is GC'd; to
    * free them deterministically after the result is consumed, call
    * [[graft.api.Caches.release]].
    *
    * ADAPTIVE: once the (always-materialized-anyway) edge relation is
    * counted, graphs at or under `spark.graft.cc.localEdgeThreshold`
    * directed edges (default 2^18) are solved by a driver union-find
    * instead of the loop — the broadcast-join-threshold pattern applied
    * to an iterative fixed point, removing ~0.3-0.5s of job latency per
    * round when the whole graph is a few KB. Production-scale graphs
    * always exceed the gate and take the distributed loop. Integral ids
    * solved locally come back as a driver-local relation (no pin).
    *
    * EAGER: construction runs the whole fixed-point loop as Spark jobs
    * (the factorize sort, the loop's per-round actions, the result
    * pin), and `failOnNonConvergence` throws at construction time, not
    * first action. Callers building plans without executing them still
    * pay the loop here — by design: an iterative fixed point cannot be
    * expressed as one lazy plan.
    *
    * @param edges DataFrame with two id columns (undirected edges) of
    *              any orderable type; null endpoints are dropped
    * @param failOnNonConvergence throw instead of warn when maxIter is
    *              hit with labels still moving — survivor-selection
    *              callers use this so over-split clusters can't silently
    *              ship wrong survivors
    * @return (id, label) — label = smallest id in the component
    */
  def connectedComponents(edges: DataFrame,
                          srcCol: String = "id_a", dstCol: String = "id_b",
                          maxIter: Int = 20,
                          failOnNonConvergence: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    require(maxIter >= 1, "maxIter must be >= 1")
    def pinned(out: DataFrame)(free: => Unit): DataFrame = {
      val pin = out.localCheckpoint()
      free
      pin
    }
    edges.schema(srcCol).dataType match {
      case idType @ (ByteType | ShortType | IntegerType | LongType) =>
        val (labels, release) = ccLong(
          edges.select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst")),
          maxIter, failOnNonConvergence)
        val out = labels.select(col("id").cast(idType).as("id"),
          col("label").cast(idType).as("label"))
        release.fold(out)(r => pinned(out)(r()))
      case _ =>
        val spark = edges.sparkSession
        val ids = edges.select(col(srcCol).as("id"))
          .union(edges.select(col(dstCol).as("id")))
          .na.drop().distinct().orderBy("id")
        val dict = spark.createDataFrame(
            ids.rdd.zipWithIndex().map { case (r, code) =>
              org.apache.spark.sql.Row(r.get(0), code) },
            ids.schema.add("code", LongType, nullable = false))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def side(code: String, id: String) =
          dict.select(col("code").as(code), col("id").as(id))
        val coded = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
          .join(side("src", "__src"), "__src")
          .join(side("dst", "__dst"), "__dst")
          .select("src", "dst")
        val (labels, release) = ccLong(coded, maxIter, failOnNonConvergence)
        val out = labels
          .join(side("id", "__id"), "id")
          .join(side("label", "__label"), "label")
          .select(col("__id").as("id"), col("__label").as("label"))
        pinned(out) { release.foreach(_()); dict.unpersist(false) }
    }
  }

  /** Size gate for the driver-local component solve: a near-dup pair
    * graph at sf0.1 is a few dozen edges, and the distributed loop's
    * per-round job latency (~0.3-0.5s x rounds) dwarfs a union-find
    * that finishes in microseconds. Same adaptive pattern as Spark's
    * broadcast-join threshold: measure the actual size (the edge
    * relation is already materialized for the loop anyway), solve
    * locally under the gate, run the O(log d)-round distributed loop
    * above it. Default 256k edges ≈ a few MB collected — far below any
    * real near-dup graph at 100 TB, which takes the distributed path. */
  private def localEdgeThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.cc.localEdgeThreshold")
      .map(_.toLong).getOrElse(1L << 18)

  /** Driver union-find (path compression + min-id relabel) over a
    * collected edge list — only ever called under [[localEdgeThreshold]]. */
  private def localComponents(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
    }
    val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keysIterator.foreach { n =>
      val r = find(n)
      minOf.update(r, minOf.get(r).fold(n)(math.min(_, n)))
    }
    parent.keysIterator.map(n => (n, minOf(find(n)))).toSeq
  }

  private def finishConvergence(converged: Boolean, rounds: Int,
                                maxIter: Int, strict: Boolean): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (converged)
      log.info(s"connectedComponents converged in $rounds rounds")
    else {
      val msg = s"connectedComponents did NOT converge in $maxIter rounds — " +
        "labels may be over-split (components larger than min-id clusters); " +
        "raise maxIter for deep-diameter graphs"
      if (strict) throw new IllegalStateException(msg)
      log.warn(msg)
    }
  }

  /** The component solve over long ids (see connectedComponents):
    * `edges` has long columns `src`, `dst`. Returns (id, label) longs
    * and, when the distributed loop ran, the release of the loop
    * caches those labels are computed from — the caller pins its final
    * form first. The driver solve's labels are a local relation and
    * come back with no release. */
  private def ccLong(edges: DataFrame, maxIter: Int,
                     strict: Boolean): (DataFrame, Option[() => Unit]) = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    val spark = edges.sparkSession
    import spark.implicits._
    val symDf = edges.select("src", "dst")
      .union(edges.select("dst", "src"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val symRdd = symDf.rdd.map(r => (r.getLong(0), r.getLong(1)))
    val part = new HashPartitioner(math.max(symRdd.getNumPartitions, 1))
    val adj = symRdd.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = adj.count() // materialize the upstream pair pipeline exactly once
    if (edgeCount <= localEdgeThreshold(spark)) {
      val out = localComponents(adj.collect()).toDF("id", "label")
      adj.unpersist(false)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"connectedComponents solved locally ($edgeCount directed edges <= threshold)")
      return (out, None)
    }
    // seed with min(id, neighbors): one reduceByKey on the cached
    // adjacency = the first propagation round without its join
    var labels = adj.map { case (s, d) => (s, math.min(s, d)) }
      .reduceByKey(part, math.min(_, _))
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    val sc = spark.sparkContext
    // one propagate + pointer-jump round; prop's shuffle output is
    // computed once and read by both jump sides
    def step(cur: org.apache.spark.rdd.RDD[(Long, Long)]) = {
      // neighbor labels: narrow join against the cached adjacency
      val msgs = adj.join(cur, part).map { case (_, (dst, lab)) => (dst, lab) }
      val prop = msgs.union(cur).reduceByKey(part, math.min(_, _))
      // pointer jump: label <- min(label, label(label)). Every label is
      // itself a node id (labels only ever take existing ids), so the
      // inner join is complete.
      prop.map { case (id, lab) => (lab, id) }
        .join(prop, part)
        .map { case (lab, (id, lab2)) => (id, math.min(lab, lab2)) }
        .partitionBy(part)
    }
    // the seed is a free half-round (min over neighbors, no jump); it
    // does NOT count against maxIter
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      // two rounds per action: RDD stages are cheap but each
      // count/persist barrier still costs a job round-trip — probing
      // every other round halves that, at worst two surplus (tiny)
      // rounds after the fixed point
      val steps = math.min(2, maxIter - rounds)
      val stepped = (1 to steps).foldLeft(labels)((cur, _) => step(cur))
      val acc = sc.longAccumulator
      val next = stepped.join(labels, part)
        .mapValues { case (n, o) => if (n < o) acc.add(1L); n }
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count() // one action: cache barrier + convergence accumulator
      labels.unpersist(false)
      labels = next
      converged = acc.value == 0L
      rounds += steps
    }
    finishConvergence(converged, rounds, maxIter, strict)
    // without the release, each connectedComponents call would leave
    // its final labels RDD persisted forever (no handle escapes)
    val done = labels
    (done.toDF("id", "label"),
      Some(() => { done.unpersist(false); adj.unpersist(false) }))
  }

  /** Near-duplicate CLUSTERS, not just pairs: LSH candidates verified by
    * Jaccard, then connected components over the surviving pair graph.
    * Returns (idCol, keep_id) for every document in some near-dup
    * cluster, keep_id = smallest id in the cluster — composes with the
    * left_semi pattern of `dropExact` for survivor selection. */
  def nearDupGroups(df: DataFrame, textCol: String, idCol: String,
                    threshold: Double = 0.8, numHashes: Int = 6,
                    bandSize: Int = 1, k: Int = 3,
                    useMd5: Boolean = false): DataFrame = {
    val pairs = nearDupPairs(df, textCol, idCol, threshold, numHashes,
      bandSize, k, useMd5).select("id_a", "id_b")
    // strict: over-split clusters here would silently ship wrong
    // survivors downstream (dropNearDups keeps non-minimal ids)
    connectedComponents(pairs, failOnNonConvergence = true)
      .select(col("id").as(idCol), col("label").as("keep_id"))
  }

  /** Drop near-duplicates, keeping the smallest id of each cluster
    * (and all documents not in any cluster). */
  def dropNearDups(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.8, numHashes: Int = 6,
                   bandSize: Int = 1, k: Int = 3,
                   useMd5: Boolean = false): DataFrame = {
    val losers = nearDupGroups(df, textCol, idCol, threshold, numHashes,
      bandSize, k, useMd5)
      .filter(col(idCol) =!= col("keep_id"))
      .select(idCol)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Paragraph table: one row per blank-line-separated paragraph —
    * (idCol, para_idx, para_text), empty paragraphs dropped. Map-only
    * explode; downstream, every document-level dedup operator runs
    * unchanged at paragraph granularity (production pipelines run both:
    * doc-level near-dup plus paragraph-level fuzzy dedup for boilerplate
    * that repeats across otherwise-distinct pages). */
  def paragraphs(df: DataFrame, textCol: String, idCol: String,
                 splitPattern: String = "\\n\\s*\\n"): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), splitPattern)))
      .withColumnRenamed("pos", "para_idx")
      .withColumnRenamed("col", "para_text")
      .filter(length(trim(col("para_text"))) > 0)

  /** Passage table: fixed `window`-token chunks of each document —
    * (idCol, para_idx, para_text). The chunk-granularity mirror of
    * `paragraphs` for corpora without structural separators (and the
    * granularity context-window pipelines dedup at). Map-only. */
  def passages(df: DataFrame, textCol: String, idCol: String,
               window: Int = 20): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // ChunkWindows generator at stride == size (non-overlapping) — ONE
    // tokenization pass, windows emitted directly. emitEmptyDoc keeps
    // this op's historical semantics: split of trimmed-empty text is
    // [""] (one token), so an empty doc yields one empty passage
    // (TextAnalysis.chunks, with its tokenCount==0 guard, yields none).
    df.select(col(idCol),
      graft.functions.VectorExprs.chunkWindows(
        lower(col(textCol)), window, window, emitEmptyDoc = true)
        .as(Seq("para_idx", "__nt", "para_text")))
      .drop("__nt")
  }

  /** Passage hashes occurring ≥ `minCount` times ACROSS THE CORPUS
    * (total occurrences — a passage repeated inside one doc counts
    * every time): (p_hash, n_total). The CCNet paragraph-hash
    * frequency view (Wenzek et al. 2020 §4.1 dedups paragraphs by
    * hash; Dolma ships the same as its paragraph-level dedup),
    * at fixed-token-window granularity for corpora without structural
    * separators. One hash-partitioned aggregate over the map-only
    * passage explode; the frequent set stays DISTRIBUTED (on a
    * web-scale corpus boilerplate is itself huge — the [[Spans]]
    * posture). */
  def frequentPassages(df: DataFrame, textCol: String, idCol: String,
                       window: Int = 20, minCount: Int = 2,
                       useMd5: Boolean = false): DataFrame = {
    val h = if (useMd5) md5(col("para_text")) else hex(xxhash64(col("para_text")))
    passages(df, textCol, idCol, window)
      .select(h.as("p_hash"))
      .groupBy("p_hash").agg(count(lit(1)).as("n_total"))
      .filter(col("n_total") >= minCount)
  }

  /** Every document with its corpus-frequent passages removed —
    * boilerplate scrub: a window survives iff its hash occurs fewer
    * than `minCount` times corpus-wide; surviving windows are
    * rejoined in document order into `outCol` (lowercased, the
    * [[passages]] normalization). Docs that are pure boilerplate
    * yield "". Complements [[Spans.scrubSpans]]: spans remove
    * content duplicated across ≥ minDocs DISTINCT documents at
    * every token offset; this removes high-TOTAL-frequency fixed
    * windows — the CCNet/Dolma semantics — with a far cheaper plan
    * (no per-position coverage join; one anti join + one reassembly).
    *
    * Scale: two map-only passes over the corpus (the frequency pass
    * prunes to the hash column — recomputing beats caching a
    * corpus-sized passage table), one hash aggregate, one left_anti
    * equi-join on the passage hash, one doc-keyed reassembly whose
    * buffer holds a single document (the chunker bound). */
  def scrubFrequentPassages(df: DataFrame, textCol: String, idCol: String,
                            window: Int = 20, minCount: Int = 2,
                            useMd5: Boolean = false,
                            outCol: String = "clean"): DataFrame = {
    val h = if (useMd5) md5(col("para_text")) else hex(xxhash64(col("para_text")))
    val freq = frequentPassages(df, textCol, idCol, window, minCount, useMd5)
      .select("p_hash")
    val kept = passages(df, textCol, idCol, window)
      .withColumn("p_hash", h)
      .join(freq, Seq("p_hash"), "left_anti")
    val reassembled = kept.groupBy(idCol).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("para_idx"), col("para_text")))),
          x => x.getField("para_text")), " ").as(outCol))
    df.join(reassembled, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit("")))
  }

  /** 32-bit SimHash over token hashes. md5 mode (cross-engine
    * reproducible, used by the oracle queries) hashes each token to its
    * first-4-md5-bytes value; xxhash64 mode is the production fast
    * path voting over the low 32 bits. Both modes run the fused
    * token-hash + vote kernel (graft.functions.SimHashTokens) — one
    * codegen'd pass per row, no interpreted `transform` building the
    * hash array, no shuffle, no UDF. */
  def simhash32(text: Column, useMd5: Boolean = true): Column =
    graft.functions.VectorExprs.simhashTokens(TextAnalysis.tokens(text), useMd5)

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs with hamming distance <= maxHamming,
    * via pigeonhole banding: split the 32 signature bits into
    * maxHamming+1 disjoint bands — two signatures within the radius
    * MUST agree exactly on at least one band, so the band equi-join is
    * a lossless candidate generator: the result provably equals the
    * O(n²) scan *as long as no band bucket exceeds `maxBucket`*. The
    * skew guard drops ALL pairs inside an oversized bucket (same shape
    * as the MinHash path), so on degenerate inputs (e.g. huge sets of
    * identical signatures) recall is deliberately truncated — such a
    * bucket is near-certainly an exact-dup blob better handled by
    * `dropExact` first. */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3, useMd5: Boolean = true,
                          maxBucket: Int = 100000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming in [0, 32)")
    hammingNearDupPairs(
      df.select(col(idCol).as("__id"),
        simhash32(col(textCol), useMd5).as("__sig")),
      sigBits = 32, maxHamming = maxHamming, maxBucket = maxBucket)
  }

  /** Positional pigeonhole band keys for a ≤64-bit signature frame
    * (__id, __sig) — the hamming mate of [[bandKeysOf]], same
    * single-column md5 key convention (band index folded in), shared
    * by [[hammingBandIndex]] and the batch side of
    * [[hammingNearDupsAgainstIndex]] so keys stay bit-identical. */
  /** The maxHamming+1 pigeonhole band-key columns of one signature —
    * ONE definition shared by the batch index/query sides and the
    * streaming mirror ([[graft.streaming.StreamingDedup]]); key
    * bit-identity across them is the load-bearing claim (the
    * [[bandKeyExpr]] discipline applied to the hamming family). */
  private[graft] def hammingBandKeyCols(sig: Column, sigBits: Int,
                                        maxHamming: Int): Seq[Column] = {
    val cfg = hammingCfg(sigBits, maxHamming)
    hammingLanes(sig, sigBits, maxHamming).zipWithIndex.map {
      case (lane, b) => bandKeyExpr(cfg, lit(b), Seq(lane))
    }
  }

  /** The maxHamming+1 disjoint pigeonhole bit bands of a signature. */
  private def hammingLanes(sig: Column, sigBits: Int,
                           maxHamming: Int): Seq[Column] = {
    val nBands = maxHamming + 1
    (0 until nBands).map { b =>
      val lo = b * sigBits / nBands
      val hi = (b + 1) * sigBits / nBands
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1
      shiftright(sig, lo).bitwiseAND(lit(mask))
    }
  }

  private def requireHamming(sigBits: Int, maxHamming: Int): Unit = {
    require(maxHamming >= 0 && maxHamming < sigBits,
      s"maxHamming in [0, $sigBits)")
    require(sigBits >= 1 && sigBits <= 64, "sigBits in [1, 64]")
  }

  private def hammingBandKeys(sig: DataFrame, outId: String,
                              outSig: String, sigBits: Int,
                              maxHamming: Int): DataFrame =
    sig.select(col("__id").as(outId), col("__sig").as(outSig),
      explode(array(
        hammingBandKeyCols(col("__sig"), sigBits, maxHamming): _*))
        .as("band_key"))

  /** Hamming band index for INCREMENTAL near-dup over any ≤64-bit
    * signature — SimHash text, image dHash, audio envelope and video
    * frame fingerprints all ride the same pigeonhole joiner, so ONE
    * index shape serves the whole multimodal family. Columns:
    * (band_key, id, sig). Unlike the MinHash index, the 8-byte
    * signature RIDES ALONG, so the exact hamming verify needs no join
    * back to corpus content: a daily batch job touches ONLY this
    * index (persist it bucketed on band_key via
    * [[writeHammingBandIndex]]). Oversized buckets prune at build
    * (the [[bandIndex]] rationale). CONTRACT: sigBits/maxHamming must
    * match between build and query — bands are positional, the config
    * stamp is folded into every key (mismatch ⇒ deterministically zero
    * candidates) and the `cfg` column makes it loud ([[PersistedIndex.requireCfg]]).
    * This matters doubly here because ONE table shape serves the whole
    * multimodal family (SimHash text, image dHash, audio envelope,
    * video frames): two configs can no longer share a table
    * undetected.
    *
    * RESOURCE CONTRACT: eager localCheckpoint pin at construction;
    * release with [[graft.api.Caches.release]] after the last action
    * on the returned frame — see [[bandIndex]] (r21 ADVICE). */
  def hammingBandIndex(sig: DataFrame, sigBits: Int, maxHamming: Int,
                       maxBucket: Int = 100000): DataFrame = {
    requireHamming(sigBits, maxHamming)
    prunedBandIndex(hammingBandKeys(sig, "id", "sig", sigBits, maxHamming),
      hammingCfg(sigBits, maxHamming), maxBucket)._1
  }

  /** Hamming mate of [[bandIndexDelta]]: a day's admitted survivors'
    * (band_key, id, sig, cfg) rows, NO maxBucket prune (compaction
    * re-prunes at combined grain). Input convention (__id, __sig). */
  def hammingBandIndexDelta(sig: DataFrame, sigBits: Int,
                            maxHamming: Int): DataFrame = {
    requireHamming(sigBits, maxHamming)
    hammingBandKeys(sig, "id", "sig", sigBits, maxHamming)
      .select(col("band_key"), col("id"), col("sig"),
        lit(hammingCfg(sigBits, maxHamming)).as("cfg"))
  }

  /** Persist [[hammingBandIndex]] bucketed on band_key (the
    * [[writeBandIndex]] economics: batches shuffle into the index's
    * bucketing; the index never moves). `prunedPath` writes the
    * pruned-keys sidecar that makes [[compactBandIndex]] (shared with
    * the MinHash family — same (band_key,…) shape) rebuild-equal. */
  def writeHammingBandIndex(sig: DataFrame, table: String, buckets: Int,
                            sigBits: Int, maxHamming: Int,
                            maxBucket: Int = 100000,
                            path: Option[String] = None,
                            prunedPath: Option[String] = None): Unit = {
    requireHamming(sigBits, maxHamming)
    writePrunedBandIndex(
      hammingBandKeys(sig, "id", "sig", sigBits, maxHamming),
      hammingCfg(sigBits, maxHamming), maxBucket, table, buckets, path,
      prunedPath)
  }

  /** Near-duplicate pairs of a NEW BATCH of signatures against an
    * indexed corpus: (id_batch, id_corpus, hamming_dist), hamming ≤
    * maxHamming, candidates from the band_key equi-join and the exact
    * verify computed from the signatures the index itself carries —
    * no corpus content is ever read or shuffled. `batchSig` follows
    * the [[hammingNearDupPairs]] input convention (__id, __sig).
    * Lossless within the index's maxBucket guard (pigeonhole: a
    * within-radius pair agrees exactly on ≥1 band). `delta` is the
    * small side table of survivors admitted since the last
    * [[compactBandIndex]] ([[hammingBandIndexDelta]]) — a second
    * day-scale equi-join; the bucketed index still never moves. */
  def hammingNearDupsAgainstIndex(batchSig: DataFrame, index: DataFrame,
                                  sigBits: Int, maxHamming: Int,
                                  delta: Option[DataFrame] = None): DataFrame = {
    val batchBands = hammingBandKeys(batchSig, "id_batch", "__bsig",
      sigBits, maxHamming)
    PersistedIndex.probe(batchBands, index, delta,
      hammingCfg(sigBits, maxHamming)) { (ix, b) =>
      ix.select(col("band_key"), col("id").as("id_corpus"),
          col("sig").as("__csig"))
        .join(b, Seq("band_key"))
        .withColumn("hamming_dist",
          hamming(col("__bsig"), col("__csig")).cast("long"))
        .filter(col("hamming_dist") <= maxHamming)
        .select("id_batch", "id_corpus", "hamming_dist")
    }
  }

  /** Pigeonhole hamming near-dup join over any ≤64-bit signature
    * column: hashes within hamming ≤ `maxHamming` agree EXACTLY on at
    * least one of maxHamming+1 disjoint bit bands, so candidates come
    * from band equi-joins (one exploded band table) — never an
    * all-pairs scan — with a degenerate-bucket guard. The machinery
    * behind SimHash text pairs, image dHash pairs and audio
    * fingerprint pairs; input must be (__id, __sig). */
  def hammingNearDupPairs(sig: DataFrame, sigBits: Int, maxHamming: Int,
                          maxBucket: Int = 100000): DataFrame = {
    requireHamming(sigBits, maxHamming)
    // Pin the band table ONCE (r21; plan-verified before the change:
    // THREE full re-computations of the caller's signature subtree —
    // the oversized-bucket broadcast and BOTH self-join sides each
    // re-ran the SimHash text kernel / image/audio decode over every
    // row). (__id, __sig, band) × nBands rows is tiny next to the
    // content it derives from — the lshCandidates economics, not the
    // lshNearDupPairs vector-payload case.
    val bands = sig.select(col("__id"), col("__sig"),
      posexplode(array(hammingLanes(col("__sig"), sigBits, maxHamming): _*)))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__bkey")
      .localCheckpoint()
    val pruned = PersistedIndex.prune(bands, Seq("__band", "__bkey"),
      maxBucket)
    val a = pruned.select(col("__band"), col("__bkey"),
      col("__id").as("id_a"), col("__sig").as("sig_a"))
    val b = pruned.select(col("__band"), col("__bkey"),
      col("__id").as("id_b"), col("__sig").as("sig_b"))
    a.join(b, Seq("__band", "__bkey")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming_dist",
        hamming(col("sig_a"), col("sig_b")).cast("long"))
      .filter(col("hamming_dist") <= maxHamming)
      .select("id_a", "id_b", "hamming_dist").distinct()
  }
}
