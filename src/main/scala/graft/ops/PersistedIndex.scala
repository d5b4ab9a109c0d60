package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The one lifecycle every persisted index family runs — the MinHash
  * and hamming band indexes ([[Dedup]]), the semantic cell indexes
  * ([[Similarity]]) and the URL index ([[Web]]):
  *
  *  1. BUILD: key the corpus rows, prune degenerate buckets
  *     ([[prune]]), stamp every row with the family's config (`cfg`),
  *     persist bucketed on the key ([[graft.api.Layout]]);
  *  2. PROBE: join a batch against index ∪ delta ([[probe]] for pairs,
  *     [[antiAll]] for survivors), every index side passing the stamp
  *     check ([[requireCfg]]); id sides broadcast under one size gate
  *     ([[idGate]]);
  *  3. APPEND: admitted survivors go to a plain-parquet delta side
  *     table ([[appendDelta]]) — a bucketed layout refuses appends;
  *  4. COMPACT: fold the delta into a NEW bucketed version
  *     ([[compact]]), applying the family's compaction rule.
  *
  * Streams skip the batch probe and drop on any key hit
  * ([[dropKeyHits]]). A family supplies only its key derivation, its
  * verify step (the `lookup`/`anti` functions passed here) and its
  * compaction rule. */
private[graft] object PersistedIndex {

  // ---- stamp check ----------------------------------------------------

  /** Loud build/query config check: if the index carries the `cfg`
    * column (every family's build stamps one), any index row whose
    * stamp differs from the query's throws AT SCAN TIME with both
    * stamps in the message. Implemented as a filter the optimizer
    * cannot prune (`coalesce(assert_true(...), true)` keeps every
    * row), codegen'd to one dictionary-constant string compare per
    * scanned row — free next to the join it guards.
    *
    * An index WITHOUT the column is REFUSED at plan time: every
    * current build stamps one, so its absence proves a stale-FORMAT
    * index — and because the band families fold the stamp into every
    * key, querying such an index yields deterministically ZERO
    * candidates, which for dedup is the unabsorbable direction (silent
    * duplicate leakage). Rebuild the index; or, for a deliberate read
    * of a pre-stamp layout, set `spark.graft.dedup.allowLegacyIndex=true`
    * to restore the zero-candidates-never-wrong-pairs fallback. */
  def requireCfg(index: DataFrame, expected: String): DataFrame =
    if (!index.columns.contains("cfg")) {
      val allow = index.sparkSession.conf
        .getOption("spark.graft.dedup.allowLegacyIndex")
        .exists(_.toBoolean)
      require(allow,
        "index has no 'cfg' column — a stale-format (pre-stamp) index: " +
          "querying it can only yield zero candidates (band keys fold " +
          "the config stamp in), i.e. silent duplicate leakage. Rebuild " +
          s"the index for '$expected', or set " +
          "spark.graft.dedup.allowLegacyIndex=true to accept the " +
          "zero-candidate fallback deliberately")
      index
    }
    else index.filter(coalesce(
      assert_true(col("cfg") <=> lit(expected),
        concat(lit("index config mismatch: rows stamped '"),
          col("cfg"), lit(s"' read under '$expected' — every parameter " +
            "the stamp encodes must match the index build"))),
      lit(true)))

  // ---- oversized-bucket prune -----------------------------------------

  /** Keys of the buckets holding more than `maxBucket` rows. */
  def oversizedKeys(rows: DataFrame, keys: Seq[String],
                    maxBucket: Int): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") > maxBucket)
      .select(keys.map(col): _*)

  /** Rows whose key is NOT among `keys`: a broadcast ANTI-join — the
    * key set is small by construction (oversized buckets are at most
    * rows/maxBucket; sidecars hold keys only), so the row side is never
    * shuffled or sorted for the prune. */
  def dropKeys(rows: DataFrame, keys: DataFrame, on: Seq[String]): DataFrame =
    rows.join(broadcast(keys), on, "left_anti")

  /** The degenerate-bucket guard: drop every row of a bucket with more
    * than `maxBucket` members (e.g. empty-text documents all hashing
    * alike), which would otherwise fan out quadratically in a self-join
    * or against every matching batch row. */
  def prune(rows: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    dropKeys(rows, oversizedKeys(rows, keys, maxBucket), keys)

  /** Rows not in the pruned-keys sidecar (`prunedKeys`, the keys a
    * build or compaction pruned): keeps a degenerate bucket pruned when
    * delta rows land in it, as a rebuild would. */
  def dropPruned(rows: DataFrame, prunedKeys: Option[DataFrame],
                 key: String): DataFrame =
    prunedKeys.fold(rows)(pk => dropKeys(rows, pk.select(key), Seq(key)))

  // ---- id-broadcast size gate -----------------------------------------

  /** Row-count gate for the explicit broadcast hints on id sides (an
    * un-gated hint turns an oversized batch into a driver-memory
    * failure a plain join would survive): `spark.graft.dedup
    * .idBroadcastThreshold` rows, default 4M — id rows are ~tens of
    * bytes. */
  private def idBroadcastThreshold(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dedup.idBroadcastThreshold")
      .map(_.toLong).getOrElse(1L << 22)

  /** A pinned frame, its row count and the gate's verdict on it. */
  final case class IdGate(pinned: DataFrame, rows: Long) {
    val under: Boolean = rows <= idBroadcastThreshold(pinned.sparkSession)
    /** `df` broadcast-hinted iff the gated count is under the gate. */
    def hint(df: DataFrame): DataFrame = if (under) broadcast(df) else df
    def hinted: DataFrame = hint(pinned)
  }

  /** The id-broadcast size gate: pin `df` (it has several consumers —
    * the count and at least one join), count it, and let the count
    * decide every hint derived from it. Under the gate the hint
    * stands; over it the joins run un-hinted and AQE decides. */
  def idGate(df: DataFrame): IdGate = {
    val pinned = df.localCheckpoint()
    IdGate(pinned, pinned.count())
  }

  // ---- probe with a delta ---------------------------------------------

  /** A batch's matches against index ∪ delta: `lookup(ix, batch)` per
    * stamp-checked index side, unioned, then `distinct` (a pair found
    * through both sides counts once). With a delta the batch side
    * feeds two lookups, so it is pinned and its derivation runs once;
    * the bucketed index still never moves. */
  def probe(batch: DataFrame, index: DataFrame, delta: Option[DataFrame],
            cfg: String)(lookup: (DataFrame, DataFrame) => DataFrame)
    : DataFrame = {
    val b = if (delta.isDefined) batch.localCheckpoint() else batch
    def one(ix: DataFrame) = lookup(requireCfg(ix, cfg), b)
    delta.fold(one(index))(d => one(index).unionByName(one(d))).distinct()
  }

  /** The anti-join twin of [[probe]]: `anti(rows, ix)` against the
    * stamp-checked index, then against the delta. Pure plan — no pin,
    * no job — so it runs unchanged on a streaming frame. */
  def antiAll(rows: DataFrame, index: DataFrame, delta: Option[DataFrame],
              cfg: String)(anti: (DataFrame, DataFrame) => DataFrame)
    : DataFrame =
    (index +: delta.toSeq).foldLeft(rows)((d, ix) => anti(d, requireCfg(ix, cfg)))

  // ---- delta append ---------------------------------------------------

  /** Append a day's admitted survivors' index rows to the DELTA side
    * table (plain parquet — append is safe precisely because it is NOT
    * bucketed; it is day-scale and joined as the small side).
    * `prunedKeys` (a band family's sidecar) drops rows landing in
    * build-pruned buckets, as a rebuild would.
    *
    * NOT idempotent under JOB-level re-runs (task retries are covered
    * by Spark's file commit protocol, but re-running the whole append
    * doubles the day's rows; [[compact]] drops the exact duplicates).
    * Exactly-once admission is the caller's commit protocol: record
    * the admitted batch id with the append and skip re-runs. */
  def appendDelta(delta: DataFrame, deltaPath: String,
                  prunedKeys: Option[DataFrame] = None): Unit =
    dropPruned(delta, prunedKeys, "band_key")
      .write.mode(SaveMode.Append).parquet(deltaPath)

  // ---- compaction -----------------------------------------------------

  /** Fold a delta into a NEW bucketed index version (corpus version
    * bump). Writes to `outTable` — never in place: Spark refuses to
    * overwrite a table it is reading, and the versioned table keeps
    * the old index queryable until cutover.
    *
    * Steps: refuse in place; refuse a delta built under another stamp
    * AT COMPACTION, not at first query (merging it would leave two
    * stamps in one table, so every later [[requireCfg]] scan of the
    * new version throws) — against `stamp` when the family has a fixed
    * one, else against the index's own (one head row prices the check;
    * an empty index has nothing to contradict); drop `prunedKeys`
    * rows; dedup the delta at its grain (`dedupOn`, empty = full row:
    * a re-run append leaves exact duplicate rows, which a rebuild from
    * admitted survivors would hold once); union; apply the family
    * `rule`; write bucketed on `key`. Returns the rule's side value
    * (the band families' newly-oversized keys). */
  def compact[A](spark: SparkSession, what: String, indexTable: String,
                 delta: DataFrame, outTable: String, buckets: Int,
                 path: Option[String], key: String,
                 stamp: Option[String] = None,
                 dedupOn: Seq[String] = Nil,
                 prunedKeys: Option[DataFrame] = None)
                (rule: DataFrame => (DataFrame, A)): A = {
    require(outTable != indexTable,
      s"$what writes a NEW table version: Spark cannot overwrite a " +
        "table it is reading from, and in-place compaction would leave " +
        "no index during the rewrite — compact to a new name and cut " +
        "readers over")
    val raw = graft.api.Layout.table(spark, indexTable)
    val index = stamp.fold(raw)(requireCfg(raw, _))
    val cols = index.columns.toSeq
    val expected = stamp.orElse(
      if (!cols.contains("cfg")) None
      else raw.select("cfg").limit(1).collect().headOption
        .filterNot(_.isNullAt(0)).map(_.getString(0)))
    val kept = dropPruned(expected.fold(delta)(requireCfg(delta, _)),
      prunedKeys, key).select(cols.map(col): _*)
    val deduped =
      if (dedupOn.isEmpty) kept.dropDuplicates() else kept.dropDuplicates(dedupOn)
    val (out, side) = rule(index.unionByName(deduped))
    graft.api.Layout.writeBucketed(out, outTable, Seq(key), buckets,
      path = path)
    side
  }

  // ---- streaming key-hit mirror ---------------------------------------

  /** Drop every row ANY of whose `keyCols` occurs in the index — the
    * streaming mirrors' one body, at candidate grain (over-drops on
    * candidates, never leaks one). Two lookups:
    *  - `Left(index)`: the index's distinct key set, pinned ONCE at
    *    construction (a bare static frame re-evaluates per micro-batch,
    *    re-scanning the corpus-sized index every trigger × key), then
    *    one stream-static LEFT join per key column — the distinct is
    *    load-bearing: a multi-member bucket would fan a matching row out
    *    per member into the next join. Stateless: no aggregation.
    *  - `Right(bloom)`: a map-only bloom probe per key column — zero
    *    joins, zero per-trigger static cost; false positives over-drop,
    *    there are no false negatives.
    * Either lookup is refused under a stamp other than `cfg` (the
    * bloom at construction: a silent mismatch would drop NOTHING).
    * `staged` names the caller's staging columns to drop after. */
  def dropKeyHits(frame: DataFrame, keyCols: Seq[Column], cfg: String,
                  lookup: Either[DataFrame, Dedup.BandKeyBloom],
                  staged: Seq[String] = Nil): DataFrame = lookup match {
    case Right(bloom) =>
      require(bloom.cfg == cfg,
        s"bloom built for cfg '${bloom.cfg}' but queried with '$cfg' — " +
          "the query's parameters must match the index the bloom was " +
          "built from (a mismatch would silently drop NOTHING)")
      val contains = Dedup.bloomKeyFilter(frame.sparkSession, bloom)
      val hit = keyCols.map(contains).reduce(_ || _)
      val kept = frame.filter(!hit)
      if (staged.isEmpty) kept else kept.drop(staged: _*)
    case Left(index) =>
      val keys = requireCfg(index, cfg)
        .select("band_key").distinct().localCheckpoint()
      val n = keyCols.length
      val keyed = keyCols.zipWithIndex.foldLeft(frame) {
        case (d, (kc, b)) => d.withColumn(s"__bk$b", kc)
      }
      val joined = (0 until n).foldLeft(keyed) { (d, b) =>
        d.join(
          keys.select(col("band_key").as(s"__bk$b"))
            .withColumn(s"__hit$b", lit(1)),
          Seq(s"__bk$b"), "left_outer")
      }
      val survives = (0 until n).map(b => col(s"__hit$b").isNull).reduce(_ && _)
      joined.filter(survives)
        .drop((0 until n).flatMap(b => Seq(s"__bk$b", s"__hit$b")) ++ staged: _*)
  }
}
