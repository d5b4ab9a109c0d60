package graft.streaming

import graft.ops.{Dedup, Selection, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming train/eval contamination filtering: the ingest-side
  * mirror of [[graft.ops.Selection.contaminated]]/`decontaminate`
  * (exact fingerprint) and [[graft.ops.Dedup.crossNearDupPairs]]
  * (fuzzy MinHash-LSH + Jaccard verify). Decontamination is the
  * canonical place for a STREAMING operator in a training pipeline —
  * the benchmark suite is a small static table, the corpus is the
  * unbounded 100 TB/day crawl, and every document should be screened
  * once on arrival rather than in a nightly batch repair job.
  *
  * Scale/state contract (the reason these shapes were chosen):
  *  - The benchmark side is STATIC and broadcast. The stream is never
  *    shuffled and never keyed into a state store for the exact and
  *    decontaminate paths — they are stateless per-row probes against
  *    broadcast hash tables, so they run at scan speed regardless of
  *    how long the stream has been up.
  *  - Fuzzy decontamination avoids the one shape Structured Streaming
  *    cannot express statelessly (doc-level "no verified match in ANY
  *    band" over an exploded band join) by CHAINING one broadcast
  *    left_anti equi-join PER BAND, each with the exact-Jaccard verify
  *    as a residual join condition. A document survives iff every band
  *    probe misses (or fails verification) — exactly the batch
  *    candidates-then-verify semantics, with B hash probes per
  *    document and zero state.
  *  - Only the audit-trail pair report keeps state, and only the
  *    watermark-bounded key set needed to emit each (doc, benchmark)
  *    pair once.
  *
  * Divergence from batch, documented: [[Dedup.crossNearDupPairs]]
  * prunes oversized corpus-side band buckets (`maxBucket`) to cap the
  * candidate fan-out of a self-join-shaped plan. The streaming
  * decontaminate needs no such guard — the per-band probe fans out to
  * at most |benchmark| verify checks, bounded by the broadcast side —
  * so no bucket is ever dropped and recall is never sacrificed.
  * Reference: flox has no streaming surface; these extend the
  * contamination family (SURVEY §2 pipeline ops) to ingest.
  */
object StreamingContamination {

  /** Drop stream rows whose normalized fingerprint appears in the
    * static benchmark — stateless stream-static left_anti broadcast
    * join, the streaming mirror of [[Selection.decontaminate]]. */
  def decontaminateExact(stream: DataFrame, benchmark: DataFrame,
                         textCol: String): DataFrame = {
    StreamingCheckpoints.install(stream.sparkSession)
    Selection.decontaminate(stream, benchmark, textCol)
  }

  /** Per-band hash column b over signature columns mh0..mh{H-1},
    * bit-identical to the band key [[Dedup.lshCandidates]] and
    * [[Dedup.crossNearDupPairs]] explode to, so streaming and batch
    * candidate sets coincide exactly. */
  private def bandCol(b: Int, bandSize: Int): Column =
    Dedup.bandHash((0 until bandSize).map(j => col(s"mh${b * bandSize + j}")))

  /** Static benchmark band table with EVERY band's hash + the sorted
    * shingle set, materialized ONCE (localCheckpoint — the static side
    * is a bounded benchmark by contract). r13 review: building this
    * per band re-ran the full numHashes-lane minhash once per band,
    * and the un-materialized plan re-executed on the static side of
    * the join every micro-batch. */
  private def benchSlab(benchmark: DataFrame, textCol: String,
                        nBands: Int, numHashes: Int, bandSize: Int,
                        k: Int, useMd5: Boolean): DataFrame =
    Dedup.withMinhashSignature(benchmark, textCol, numHashes, k, useMd5)
      .select((0 until nBands).map(b =>
        bandCol(b, bandSize).as(s"__bh$b")) :+
        array_sort(array_distinct(TextAnalysis.shingles(col(textCol), k)))
          .as("__bsh"): _*)
      .localCheckpoint()

  /** Drop every stream row within shingle-Jaccard >= `threshold` of
    * any benchmark row — fuzzy streaming decontamination with ZERO
    * state. One broadcast left_anti hash join per band: the equi key
    * is the band hash, the residual condition is the codegen'd
    * sorted-merge Jaccard verify, so a row is dropped iff some band
    * bucket holds a VERIFIED benchmark match (= the batch
    * candidates-then-verify contract of [[Dedup.crossNearDupPairs]],
    * without its corpus-side `maxBucket` pruning — see class doc). */
  def decontaminateFuzzy(stream: DataFrame, benchmark: DataFrame,
                         textCol: String, threshold: Double = 0.8,
                         numHashes: Int = 6, bandSize: Int = 1,
                         k: Int = 3, useMd5: Boolean = false): DataFrame = {
    StreamingCheckpoints.install(stream.sparkSession)
    require(numHashes % bandSize == 0, "bandSize must divide numHashes")
    val nBands = numHashes / bandSize
    val withSig = Dedup.withMinhashSignature(stream, textCol, numHashes, k, useMd5)
      .withColumn("__sh",
        array_sort(array_distinct(TextAnalysis.shingles(col(textCol), k))))
    val slab = benchSlab(benchmark, textCol, nBands, numHashes,
      bandSize, k, useMd5)
    val probed = (0 until nBands).foldLeft(withSig) { (cur, b) =>
      cur.join(
        broadcast(slab.select(col(s"__bh$b"), col("__bsh").as(s"__bsh$b"))),
        bandCol(b, bandSize) === col(s"__bh$b") &&
          graft.functions.VectorExprs.jaccardSorted(
            col("__sh"), col(s"__bsh$b")) >= threshold,
        "left_anti")
    }
    probed.drop("__sh").drop((0 until numHashes).map(h => s"mh$h"): _*)
  }

  /** Audit-trail contamination pairs: (stream id, benchmark id,
    * jaccard) for every verified fuzzy match, each pair emitted once
    * per watermark horizon. The band explode is a stateless generator,
    * the candidate join is stream-static broadcast inner on the band
    * key, and the only state is `dropDuplicatesWithinWatermark` over
    * (idCol, benchmark id) — bounded by `delay`, needed because a pair
    * sharing s bands surfaces s times from the equi-join. Pair set and
    * jaccard values equal batch [[Dedup.crossNearDupPairs]] (modulo
    * its `maxBucket` pruning; see class doc). */
  def contaminationPairs(stream: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String, benchIdCol: String,
                         tsCol: String, delay: String = "10 minutes",
                         threshold: Double = 0.8, numHashes: Int = 6,
                         bandSize: Int = 1, k: Int = 3,
                         useMd5: Boolean = false): DataFrame = {
    StreamingCheckpoints.install(stream.sparkSession)
    require(numHashes % bandSize == 0, "bandSize must divide numHashes")
    val nBands = numHashes / bandSize
    val streamBands = Dedup.withMinhashSignature(
        stream.withWatermark(tsCol, delay), textCol, numHashes, k, useMd5)
      .withColumn("__sh",
        array_sort(array_distinct(TextAnalysis.shingles(col(textCol), k))))
      .select(
        col(idCol), col(tsCol), col("__sh"),
        posexplode(array((0 until nBands).map(bandCol(_, bandSize)): _*))
          .as(Seq("band_idx", "band_hash")))
    val bench = Dedup.withMinhashSignature(benchmark, textCol, numHashes, k, useMd5)
      .select(col(benchIdCol).as("__bid"),
        array_sort(array_distinct(TextAnalysis.shingles(col(textCol), k)))
          .as("__bsh"),
        posexplode(array((0 until nBands).map(bandCol(_, bandSize)): _*))
          .as(Seq("band_idx", "band_hash")))
      .select("band_idx", "band_hash", "__bid", "__bsh")
    streamBands
      .join(broadcast(bench), Seq("band_idx", "band_hash"))
      .withColumn("jaccard",
        graft.functions.VectorExprs.jaccardSorted(col("__sh"), col("__bsh")))
      .filter(col("jaccard") >= threshold)
      .select(col(idCol), col("__bid").as(benchIdCol), col("jaccard"), col(tsCol))
      .dropDuplicatesWithinWatermark(idCol, benchIdCol)
  }
}
