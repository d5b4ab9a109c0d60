package graft.streaming

import graft.ops.TextAnalysis
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** Streaming exact deduplication for ingest pipelines: fingerprint the
  * content, then `dropDuplicatesWithinWatermark` — the state store
  * keeps one entry per fingerprint only until the watermark passes it,
  * so state is bounded by the dedup horizon instead of the stream's
  * whole history (a full-history streaming dedup is a memory leak by
  * construction at 100 TB/day ingest rates).
  */
object StreamingDedup {

  /** Emit only the first occurrence of each content fingerprint within
    * the watermark horizon. `tsCol` is the event-time column the
    * watermark is declared on. */
  def dropExactWithinWatermark(df: DataFrame, textCol: String,
                               tsCol: String,
                               delay: String = "10 minutes"): DataFrame = {
    StreamingCheckpoints.install(df.sparkSession)
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** Streaming SEMANTIC dedup: drop documents whose embedding
    * product-quantizes to the SAME code word as earlier stream content
    * — the ingest-side mirror of SemDeDup-style embedding dedup, with
    * PQ as the similarity radius (two embeddings share all m codes iff
    * every subvector falls in the same Voronoi cell; raise m /
    * codesPerSub to tighten). Map-only codegen'd encode
    * ([[graft.functions.PqEncodeExpr]], codebook as plan constant) +
    * ONE `dropDuplicatesWithinWatermark` on the code-word hash —
    * state is one entry per distinct code word in the horizon,
    * bounded by m·log2(codesPerSub) bits of key space and the
    * watermark, whichever is smaller. */
  def dropSemanticWithinWatermark(df: DataFrame, vecCol: String,
                                  tsCol: String, cb: Array[Double],
                                  m: Int, codesPerSub: Int,
                                  delay: String = "10 minutes"): DataFrame = {
    StreamingCheckpoints.install(df.sparkSession)
    val subDim = cb.length / (m * codesPerSub)
    df.withColumn("__pq",
        graft.functions.VectorExprs.pqEncode(
          col(vecCol).cast("array<double>"), cb, m, codesPerSub, subDim))
      .filter(col("__pq").isNotNull)
      .withColumn("__pqh", md5(concat_ws(",", col("__pq"))))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__pqh")
      .drop("__pq", "__pqh")
  }

  /** Within-stream FUZZY near-dup drop — the streaming mirror of
    * [[graft.ops.Dedup.dropNearDups]] at LSH-candidate granularity:
    * each document explodes to its MinHash band keys, each band key is
    * claimed by the first row that meets it within the watermark
    * horizon, and a document SURVIVES iff it claimed ALL its bands (any
    * band already claimed ⇒ the doc is an LSH candidate against earlier
    * content ⇒ dropped). Same posture as the streaming contamination
    * family: over-drops on LSH false positives — there is no stored
    * earlier text to Jaccard-verify against without unbounded state —
    * but NEVER leaks a candidate duplicate.
    *
    * One stateful operator: `flatMapGroupsWithState` keyed by the band
    * key (band_idx, band_hash) with an event-time timeout. Its state is
    * the key's claimant: the claimant's (window, id) row is released
    * when the watermark reaches the window end (the moment an
    * append-mode window aggregate finalizes the window), and the claim
    * itself is dropped once the watermark reaches the claimant's
    * `ts + delay` (the `dropDuplicatesWithinWatermark` horizon), never
    * before its row was released — so with `delay` shorter than
    * `windowLen` a key stays claimed until its window end. Every band
    * row of one (window, id) carries the same window end, so all its
    * claims are released in the same micro-batch; a stateless
    * repartition by (window, id) then keeps the documents that released
    * exactly nBands claims. State is one claim per band key in the
    * horizon plus the text once per pending document (only band 0's
    * claim carries it: a document that lost band 0 cannot survive).
    * Rows older than the watermark are dropped by the operator's
    * late-row filter.
    *
    * Returns (window, idCol, textCol) of surviving documents; rows
    * appear once the watermark reaches their window end (downstream
    * sinks see a delayed but exactly-once survivor stream). Ties inside
    * one micro-batch keep the first row met for the key (the
    * [[dropExactWithinWatermark]] contract). */
  def dropNearDupsWithinWatermark(df: DataFrame, textCol: String,
                                  idCol: String, tsCol: String,
                                  numHashes: Int = 4, bandSize: Int = 1,
                                  k: Int = 3,
                                  delay: String = "10 minutes",
                                  windowLen: String = "1 minute"): DataFrame = {
    StreamingCheckpoints.install(df.sparkSession)
    require(numHashes % bandSize == 0, "bandSize must divide numHashes")
    val nBands = numHashes / bandSize
    val sig = graft.ops.Dedup.withMinhashSignature(df, textCol, numHashes, k)
    // the window is computed before the watermark is declared, so only
    // tsCol carries the event-time metadata the operator filters on
    val bands = sig.select(
        window(col(tsCol), windowLen).as("window"), col(idCol),
        col(textCol), col(tsCol),
        posexplode(array((0 until nBands).map(b =>
          graft.ops.Dedup.bandHash((0 until bandSize).map(j =>
            col(s"mh${b * bandSize + j}")))): _*))
          .as(Seq("band_idx", "band_hash")))
      .withWatermark(tsCol, delay)
    val delayUs =
      bands.schema(tsCol).metadata.getLong(EventTimeWatermark.delayKey) * 1000L
    val claims = bands.select(col("window"), col(idCol),
      when(col("band_idx") === 0, col(textCol)).as(textCol),
      unix_micros(col("window.end")).as("__end_us"),
      (unix_micros(col(tsCol)) + delayUs).as("__expires_us"),
      col(tsCol), col("band_idx"), col("band_hash"))
    val out = StructType(claims.schema.take(3))
    val state = StructType(claims.schema.take(5) :+
      StructField("__released", BooleanType))
    claims.groupBy(col("band_idx"), col("band_hash"))
      .as(Encoders.row(StructType(claims.schema.takeRight(2))),
        Encoders.row(claims.schema))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(claimBand)(
        Encoders.row(state), Encoders.row(out))
      .repartition(col("window"), col(idCol))
      .mapPartitions(wonAllBands(nBands))(Encoders.row(out))
  }

  /** One band key's turn: the first row met claims an unclaimed key
    * (the rest are near-dups and dropped), then [[releaseClaim]]. */
  private def claimBand(key: Row, rows: Iterator[Row],
                        state: GroupState[Row]): Iterator[Row] = {
    if (!state.exists) {
      val r = rows.next()
      state.update(Row(r.get(0), r.get(1), r.get(2), r.getLong(3),
        r.getLong(4), false))
    }
    releaseClaim(state)
  }

  /** Emits the claimant's (window, id, text) row once the watermark
    * reaches its window end, drops the claim once the watermark also
    * reached `ts + delay`, and otherwise re-arms the timeout at the next
    * of the two (each call resets it). A moment `us` (micros) is
    * reached at watermark `wm` (millis) iff `us <= wm * 1000`, which is
    * how the window aggregate evicts and `dropDuplicatesWithinWatermark`
    * expires; the timeout fires iff `floorDiv(us - 1, 1000) < wm`, the
    * same condition, and a moment not yet reached never puts it below
    * the current watermark. */
  private def releaseClaim(state: GroupState[Row]): Iterator[Row] = {
    val s = state.get
    val wm = state.getCurrentWatermarkMs()
    def reached(us: Long) = us <= wm * 1000L
    val endUs = s.getLong(3)
    val dropUs = math.max(endUs, s.getLong(4))
    val emit = !s.getBoolean(5) && reached(endUs)
    if (reached(dropUs)) state.remove()
    else {
      // a released claim only blocks its key: its text is not needed
      if (emit) state.update(Row(s.get(0), s.get(1), null, endUs, s.getLong(4), true))
      val next = if (emit || s.getBoolean(5)) dropUs else endUs
      state.setTimeoutTimestamp(Math.floorDiv(next - 1, 1000L))
    }
    if (emit) Iterator.single(Row(s.get(0), s.get(1), s.get(2))) else Iterator.empty
  }

  /** One micro-batch's released claims, co-partitioned by (window, id):
    * a document survives iff it released exactly nBands claims — the
    * count the window aggregate made, complete here because all of a
    * document's claims are released together. The text comes from its
    * band 0 claim. */
  private def wonAllBands(nBands: Int)(rows: Iterator[Row]): Iterator[Row] = {
    val docs = scala.collection.mutable.LinkedHashMap.empty[(Any, Any), (Int, Any)]
    rows.foreach { r =>
      val key = (r.get(0), r.get(1))
      val (n, text) = docs.getOrElse(key, (0, null))
      docs(key) = (n + 1, if (text == null) r.get(2) else text)
    }
    docs.iterator.collect { case ((w, id), (n, text)) if n == nBands =>
      Row(w, id, text) }
  }

  /** Streaming INCREMENTAL dedup against a persisted corpus band index
    * — the streaming mirror of
    * [[graft.ops.Dedup.dropNearDupsAgainstIndex]] at LSH-CANDIDATE
    * granularity: a stream document is dropped iff ANY of its band
    * keys already exists in the corpus index (built by
    * [[graft.ops.Dedup.bandIndex]] / read back via
    * [[graft.api.Layout.table]] — bucketed, so each lookup join reads
    * co-located index files). Same over-drop posture as
    * [[dropNearDupsWithinWatermark]]: candidates are dropped without
    * a Jaccard verify (verifying would need the corpus text joined
    * per candidate — run the batch path for audit-grade pairs) but a
    * candidate duplicate can NEVER leak.
    *
    * Plan shape: the nBands band keys are computed as COLUMNS (no
    * explode), and each is one stream-static LEFT join against the
    * index's distinct key set — the per-row verdict needs no
    * aggregation, so the operator is fully STATELESS (no watermark,
    * no state store; within-stream duplicates are
    * [[dropNearDupsWithinWatermark]]'s job, chained upstream).
    * Parameter contract as [[graft.ops.Dedup.bandIndex]]: numHashes/
    * bandSize/k/useMd5 must match the index build — the defaults here
    * equal bandIndex's defaults, so default-reliant callers on both
    * sides stay in contract (a skewed default would silently consult
    * only a prefix of the index's bands: reduced recall, no error).
    * DELTA-aware by composition: only `band_key` (and the cfg guard)
    * is read from `index`, so pass
    * `index.unionByName(delta.select(index.columns...))` to consult
    * survivors admitted since the last compaction — same for the
    * hamming mirror and the bloom builders. Texts shorter than
    * k tokens have null signatures and share one degenerate key per
    * band — prefilter them (Gopher/C4 gates do) or accept that they
    * match a corpus that also contains such texts. */
  def dropNearDupsAgainstIndex(stream: DataFrame, index: DataFrame,
                               textCol: String,
                               numHashes: Int = 6, bandSize: Int = 1,
                               k: Int = 3,
                               useMd5: Boolean = false): DataFrame =
    minhashKeyHits(stream, Left(index), textCol, numHashes, bandSize, k,
      useMd5)

  /** The MinHash mirrors' key derivation: the stream's signature lanes,
    * banded under the index's stamp ([[graft.ops.Dedup.bandKeyExpr]] —
    * bit-identical to the batch build), dropped on any key hit. */
  private def minhashKeyHits(stream: DataFrame,
                             lookup: Either[DataFrame, graft.ops.Dedup.BandKeyBloom],
                             textCol: String, numHashes: Int, bandSize: Int,
                             k: Int, useMd5: Boolean): DataFrame = {
    StreamingCheckpoints.install(stream.sparkSession)
    require(numHashes % bandSize == 0, "bandSize must divide numHashes")
    val cfg = graft.ops.Dedup.minhashCfg(numHashes, bandSize, k, useMd5)
    val sig = graft.ops.Dedup.withMinhashSignature(
      stream, textCol, numHashes, k, useMd5)
    val keyCols = (0 until numHashes / bandSize).map(b =>
      graft.ops.Dedup.bandKeyExpr(cfg, lit(b), (0 until bandSize).map(j =>
        col(s"mh${b * bandSize + j}"))))
    graft.ops.PersistedIndex.dropKeyHits(sig, keyCols, cfg, lookup,
      staged = (0 until numHashes).map(h => s"mh$h"))
  }

  /** [[dropNearDupsAgainstIndex]] at 100 TB corpus scale: the
    * join formulation above re-joins the corpus-sized distinct key set
    * on EVERY micro-batch × nBands — at billions of keys each trigger
    * pays multi-GB static-side shuffles or an impossible broadcast
    * (r16 advice). This variant replaces all of it with a MAP-ONLY
    * bloom membership test: the filter over the index's distinct band
    * keys ships as a plan constant ([[graft.ops.Dedup.bandKeyBloom]],
    * built ONCE), deserialized once per executor, one probe per band
    * per row — zero joins, zero state, zero per-trigger static cost.
    *
    * Posture delta vs the join formulation, explicitly: the bloom's
    * false positives (rate `fpp`) OVER-drop documents whose band key
    * is NOT in the corpus — acceptable under the same candidate-grain
    * over-drop contract the join path already has (LSH candidates are
    * dropped unverified there too); there are NO false negatives
    * (bit-identical build/probe hash), so a candidate duplicate still
    * can NEVER leak. The exact key join remains the batch-path
    * verifier ([[graft.ops.Dedup.nearDupsAgainstIndex]] — run it for
    * audit-grade pairs). Build/query parameter mismatch is refused at
    * construction via the bloom's config stamp — load-bearing, because
    * a silent mismatch here would UNDER-drop (keys never match), the
    * one direction the contract cannot absorb. */
  def dropNearDupsAgainstIndexBloom(stream: DataFrame,
                                    bloom: graft.ops.Dedup.BandKeyBloom,
                                    textCol: String,
                                    numHashes: Int = 6, bandSize: Int = 1,
                                    k: Int = 3,
                                    useMd5: Boolean = false): DataFrame =
    minhashKeyHits(stream, Right(bloom), textCol, numHashes, bandSize, k,
      useMd5)

  /** Streaming INCREMENTAL near-dup drop for the HAMMING/multimodal
    * family — the [[dropNearDupsAgainstIndex]] mate over any ≤64-bit
    * signature column (SimHash text, image dHash, audio envelope,
    * video frame fingerprints: exactly the ingest shapes that arrive
    * as streams). A row is dropped iff ANY of its maxHamming+1
    * pigeonhole band keys exists in the corpus index (built by
    * [[graft.ops.Dedup.hammingBandIndex]]). Same shape as the MinHash
    * mirror: band keys as COLUMNS (no explode), one stream-static LEFT
    * join per band against the index's distinct key set (pinned once
    * at construction), fully STATELESS. Same over-drop posture at
    * candidate grain — strictly milder here than for MinHash: a band
    * hit means EXACT equality on sigBits/(maxHamming+1) signature
    * bits, and the batch path's verify needs no content join anyway.
    * CONTRACT: sigBits/maxHamming must match the index build
    * (key-folded + loud via the index's cfg stamp). */
  def dropNearDupsAgainstHammingIndex(stream: DataFrame, index: DataFrame,
                                      sigCol: String, sigBits: Int,
                                      maxHamming: Int): DataFrame =
    hammingKeyHits(stream, Left(index), sigCol, sigBits, maxHamming)

  /** The hamming mirrors' key derivation: the pigeonhole band keys of
    * the signature column ([[graft.ops.Dedup.hammingBandKeyCols]]),
    * dropped on any key hit. */
  private def hammingKeyHits(stream: DataFrame,
                             lookup: Either[DataFrame, graft.ops.Dedup.BandKeyBloom],
                             sigCol: String, sigBits: Int,
                             maxHamming: Int): DataFrame = {
    StreamingCheckpoints.install(stream.sparkSession)
    graft.ops.PersistedIndex.dropKeyHits(stream,
      graft.ops.Dedup.hammingBandKeyCols(col(sigCol), sigBits, maxHamming),
      graft.ops.Dedup.hammingCfg(sigBits, maxHamming), lookup)
  }

  /** Streaming INCREMENTAL SEMANTIC dedup against a persisted cell
    * index ([[graft.ops.Similarity.semanticCellIndex]]) — the third
    * modality's streaming mate, and the only one with EXACT (not
    * candidate-grain) semantics: the index carries the corpus vectors,
    * so one stream-static LEFT ANTI join whose condition embeds the
    * cosine verify drops a document iff a same-cell corpus embedding
    * has cos ≥ threshold. Assignment is the codegen'd map-only
    * NearestCentroid expression (bit-compatible with the index build's
    * assignment — same rounded cosine, min-cid ties), so the plan has
    * zero aggregations and zero state operators. The index is pinned
    * once at construction; each trigger re-joins it — corpus-scale
    * static side, the price of exactness (cosine is not bloomable the
    * way band-key membership is). Quantizer mismatch throws at scan
    * time via the cfg stamp. */
  def dropSemanticAgainstCellIndex(stream: DataFrame, index: DataFrame,
                                   vecCol: String, centroids: DataFrame,
                                   threshold: Double): DataFrame = {
    StreamingCheckpoints.install(stream.sparkSession)
    graft.ops.Similarity.semanticDropAgainstIndexPlan(
      stream, vecCol, index.localCheckpoint(), centroids, threshold, None)
  }

  /** Streaming semantic dedup against the PQ-CODED cell index
    * ([[graft.ops.Similarity.semanticCellIndexPq]]) — the corpus-scale
    * tier of [[dropSemanticAgainstCellIndex]]: the per-trigger static
    * side carries m int codes + one norm per corpus row instead of the
    * raw vector payload (~50× smaller at 768 dims, m=16), scored by
    * the codegen'd ADC lookup sum inside the anti-join condition.
    * Candidate-grain OVER-drop posture (the MinHash mirror's): every
    * index row carries its own sound score-error bound
    * ([[graft.ops.Similarity.semanticCellIndexPq]]), so every true
    * duplicate is dropped — screen recall provably 1, deltas included —
    * and near-threshold non-duplicates may over-drop; the batch tier
    * ([[graft.ops.Similarity.dropSemanticAgainstIndexPq]]) adds the
    * exact re-verify a stream cannot afford. `margin` is optional
    * extra slack (raising it only over-drops more). Zero state
    * operators; codebook/quantizer mismatch throws at scan time (cfg
    * stamp). */
  def dropSemanticAgainstCellIndexPq(stream: DataFrame, indexPq: DataFrame,
                                     vecCol: String, centroids: DataFrame,
                                     cb: Array[Double], m: Int,
                                     codesPerSub: Int, threshold: Double,
                                     margin: Double = 0.0): DataFrame = {
    StreamingCheckpoints.install(stream.sparkSession)
    graft.ops.Similarity.semanticDropAgainstIndexPqPlan(
      stream, vecCol, indexPq.localCheckpoint(), centroids, cb, m,
      codesPerSub, threshold, margin, None)
  }

  /** [[dropNearDupsAgainstHammingIndex]] via the map-only bloom plan
    * constant ([[graft.ops.Dedup.hammingBandKeyBloom]]) — the
    * corpus-scale path; posture and contract as
    * [[dropNearDupsAgainstIndexBloom]]. */
  def dropNearDupsAgainstHammingIndexBloom(stream: DataFrame,
                                           bloom: graft.ops.Dedup.BandKeyBloom,
                                           sigCol: String, sigBits: Int,
                                           maxHamming: Int): DataFrame =
    hammingKeyHits(stream, Right(bloom), sigCol, sigBits, maxHamming)
}
