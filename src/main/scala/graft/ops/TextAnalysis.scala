package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure column expressions (whole-stage codegen,
  * no UDFs) — each runs as a per-row map over the scan with no shuffle,
  * so they cost one pass at any scale.
  */
object TextAnalysis {

  /** Whitespace tokenization of lowercased text. */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** k-word shingles; < k tokens -> empty array. Codegen'd one-pass
    * kernel (graft.functions.ShinglesExpr) — the transform/concat_ws
    * HOF formulation it replaces ran interpreted per element. */
  def shingles(text: Column, k: Int): Column =
    graft.functions.VectorExprs.shingles(tokens(text), k)

  private val stopwords = Seq("a", "the", "and", "of", "to", "is", "in")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = {
    val w = tokens(text)
    val stops = typedlit(stopwords)
    size(filter(w, t => array_contains(stops, t))).cast("double") /
      greatest(size(w), lit(1)).cast("double")
  }

  /** Fraction of non-whitespace chars that are punctuation/symbols. */
  def punctRatio(text: Column): Column = {
    val nonWs = regexp_replace(lower(text), "\\s+", "")
    val punct = regexp_replace(nonWs, "[a-z0-9]", "")
    length(punct).cast("double") / greatest(length(nonWs), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: length saturation + low-stopword
    * + low-punctuation. Deterministic heuristic in the C4/Gopher-rule
    * style (thresholded length/punct/stopword features).
    */
  def qualityScore(text: Column): Column =
    least(tokenCount(text).cast("double") / 100.0, lit(1.0)) * 0.5 +
      (lit(1.0) - stopwordRatio(text)) * 0.3 +
      (lit(1.0) - punctRatio(text)) * 0.2

  /** All five quality base counts (n_tokens, len_nws, n_stop, n_punct,
    * n_digit) as ONE struct from ONE pass over the text — the functions
    * above each rescan the document (regex replace per char class,
    * interpreted HOF filter for stopwords); at corpus scale every extra
    * pass rereads the dataset. Field semantics are identical to the
    * individual functions (kernel: graft.functions.TextKernels). */
  def qualityFeatures(text: Column): Column =
    graft.functions.VectorExprs.qualityFeatures(lower(text))

  /** Marker-word language-ID heuristic. Scores each candidate language
    * by marker-token hits; highest score wins (fixed tie order), zero
    * evidence -> "und". N-gram/stopword LID in miniature — swap the
    * marker lists for real wordlists in production.
    */
  def langId(text: Column): Column =
    graft.functions.VectorExprs.langIdBest(tokens(text))

  /** BPE-style subword pre-tokenization count: the GPT-2 pre-tokenizer
    * shape — contractions, letter runs, digit runs and punctuation
    * runs, each with an optional leading space. Counts the units a BPE
    * tokenizer would merge within, giving a far better token estimate
    * than whitespace splitting for code/punctuation-heavy text. Pure
    * RE2-compatible regex (no lookarounds), one codegen'd pass. */
  def subwordTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"),
      lit(0)))

  /** Exact content fingerprint: md5 of whitespace-normalized lowercase
    * text. Equal fingerprints = exact (mod whitespace) duplicates. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Rolling-hash document fingerprint: the minimum shingle hash —
    * a 1-hash MinHash, winnowing-style representative of content.
    * Fused token-shingle kernel: shingle strings never materialize. */
  def rollingFingerprint(text: Column, k: Int = 3): Column =
    graft.functions.VectorExprs.minHashMd5Tokens(tokens(text), k, "")

  /** Context-window chunking: split each document into token windows of
    * `size` tokens starting every `stride` tokens (stride < size gives
    * overlapping windows — the standard training-data packing prep so
    * no span longer than `size - stride` is lost at a boundary). The
    * final window is the last one starting before the text runs out, so
    * every token lands in at least one chunk; blank documents yield no
    * chunks. Returns (idCol, chunk_idx, n_chunk_tokens, chunk_text).
    *
    * Map-side explode: rows fan out ~n_tokens/stride with no shuffle,
    * the same shape as [[graft.ops.Dedup.passages]] (which is the
    * stride == size special case at dedup granularity).
    */
  def chunks(df: org.apache.spark.sql.DataFrame, textCol: String,
             idCol: String, size: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(size >= 1 && stride >= 1, "size and stride must be >= 1")
    require(stride <= size, "stride > size would drop tokens between windows")
    // One-pass GENERATOR kernel (graft.functions.ChunkWindows): windows
    // stream straight off the token boundaries of a single text scan.
    // Two composed formulations preceded it, both certified-equal and
    // both slower: transform(sequence(...)) built every chunk inside an
    // interpreted HOF (19.7s in the r6 sweep vs 0.3s DuckDB), and
    // explode + slice + array_join re-ran the regex split per projection
    // branch and copied the full token array into every exploded row
    // before slicing — O(windows x doc) bytes vs this kernel's
    // O(output). OpsSpec pins kernel ≡ composed-formulation parity on
    // the whitespace edge cases (tabs, multi-space, empty ends).
    df.select(col(idCol),
      graft.functions.VectorExprs.chunkWindows(lower(col(textCol)), size, stride)
        .as(Seq("chunk_idx", "n_chunk_tokens", "chunk_text")))
  }

  /** Corpus vocabulary: the `topN` most frequent whitespace tokens with
    * their counts and a dense 1-based rank (count desc, token asc — a
    * total order, so ranks are deterministic). The explode + partial
    * aggregation is the canonical Spark wordcount shape: map-side
    * combine absorbs per-partition repetition before the single shuffle
    * on token, and the global top-N is a TakeOrdered over the counts,
    * never a full sort. The rank runs through [[graft.api.GlobalScan]]'s
    * two-pass row number — bounded to topN rows here, but plan-shaped so
    * a web-scale topN never funnels through the single-partition window
    * Spark warns about (`WARN WindowExec: No Partition Defined`); as of
    * r10 NO production path builds that window, so any such warning in a
    * bench tail is a regression, not a known-cosmetic.
    */
  def vocabulary(df: org.apache.spark.sql.DataFrame, textCol: String,
                 topN: Int): org.apache.spark.sql.DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val counts = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(topN)
    graft.api.GlobalScan.rowNumber(
      counts, Seq(col("n").desc, col("token").asc), "rank")
  }

  /** Per-document repetition signals in the Gopher quality-filter
    * style: `distinct_ratio` (unique tokens / tokens — low means the
    * document loops over few words) and `top_bigram_frac` (occurrences
    * of the most frequent bigram / all bigrams — high means one phrase
    * repeats). Blank or sub-bigram documents score 0.0 by convention.
    *
    * distinct_ratio is map-only; top_bigram_frac explodes bigrams and
    * aggregates twice KEYED BY DOCUMENT, so both shuffles partition on
    * idCol and no task ever holds more than one document's bigram
    * histogram.
    */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, textCol: String,
                        idCol: String): org.apache.spark.sql.DataFrame = {
    def r4(c: Column) = floor(c * 10000 + 0.5) / 10000
    // Fused kernel: ONE tokenization pass computes all three signals.
    // The composed formulation below it tokenized three times (token
    // count, array_distinct, bigram kernel) and materialized two
    // arrays per row; SelectionSpec pins kernel ≡ composed parity.
    val st = graft.functions.VectorExprs.repetitionStats(lower(col(textCol)))
    df.select(col(idCol), st.as("__r"))
      .select(col(idCol),
        col("__r.n_tokens").as("n_tokens"),
        r4(col("__r.distinct_ratio")).as("distinct_ratio"),
        r4(col("__r.top_bigram_frac")).as("top_bigram_frac"))
  }

  /** The pre-kernel composed formulation, kept as the parity oracle for
    * SelectionSpec (three tokenizations; never the production path). */
  private[graft] def repetitionSignalsComposed(
      df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    def r4(c: Column) = floor(c * 10000 + 0.5) / 10000
    val toks = tokens(col(textCol))
    val n = tokenCount(col(textCol)).cast("long")
    // One map-only pass: the top-bigram fraction comes from the per-row
    // TopShingleFrac kernel. The previous formulation exploded every
    // bigram into a corpus-wide (doc, bigram) shuffle, aggregated
    // twice, and joined back — at 100 TB that shuffle carries ~the
    // whole corpus; the per-row hash count carries nothing. Kernel
    // yields 0.0 for < 2 tokens, matching the old LEFT JOIN +
    // coalesce(_, 0.0) on shingle-less documents.
    df.select(col(idCol), n.as("n_tokens"),
      r4(when(n === 0, lit(0.0)).otherwise(
        org.apache.spark.sql.functions.size(array_distinct(toks)).cast("double") /
          n.cast("double"))).as("distinct_ratio"),
      r4(graft.functions.VectorExprs.topShingleFrac(toks, 2))
        .as("top_bigram_frac"))
  }

  /** Top-k most characteristic terms per document by tf-idf, with the
    * multiplicative idf form `score = tf * N / df` — a single exact
    * integer product (tf·N) followed by ONE IEEE division, so the score
    * is bit-identical in any engine (a log-based idf would hang the
    * oracle on libm rounding). Ties (same score) break by ascending
    * term, making the top-k fully deterministic.
    *
    * Plan shape: explode → partial-agg'd (doc,term) counts → term
    * document-frequencies from that SAME tf relation (no second pass
    * over text) → join on term (AQE broadcasts it while the vocabulary
    * is small; at web-corpus vocabulary it degrades to a shuffle join on
    * term, which is the correct shape) → per-doc top-k window. Every
    * shuffle is keyed by doc or term; nothing ever single-tasks.
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be >= 1")
    val nonEmpty = df.filter(length(trim(col(textCol))) > 0)
    // The tf subtree appears twice in the plan (df-rollup + scoring
    // join). A localCheckpoint to materialize it once was MEASURED
    // AND REJECTED (r14): the duplicate subtrees run as CONCURRENT
    // stages of one job, so the recompute costs ~zero wall-clock,
    // while the eager checkpoint serializes a blocking job ahead of
    // them (0.61s vs 0.50s at sf0.1). At cluster scale the duplicate
    // explode is a real CPU trade — callers that care can pre-pin the
    // tokenized input themselves; the operator keeps the cache-free,
    // lowest-latency shape.
    val tf = nonEmpty
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = nonEmpty.agg(count(lit(1)).as("__n"))
    // Top-k per doc via a bounded per-doc buffer (sort_array + slice
    // under ObjectHashAggregate), not a row_number window: same one
    // shuffle on the doc key, but the window exec's full sort of every
    // (doc, term) row by score is replaced by per-doc sorts of
    // doc-length-bounded term lists — measured 0.54 s → 0.49 s warm at
    // sf0.1 (r15 `graft.PinAttackProbe`, kept at commit 316cdc8). The
    // struct sorts ascending on (−tfidf, term) ≡ (tfidf DESC, term
    // ASC), the window's exact order (negation is injective on the
    // strictly positive scores).
    // The dfreq side stays an UNHINTED equi-join: a forced broadcast
    // measured faster still (0.41 s) but collects the corpus
    // VOCABULARY — unbounded at 100 TB (Heaps' law) — rejected; AQE
    // makes that conversion at runtime when the vocab is genuinely
    // small, without wiring in the unbounded assumption.
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", (col("tf") * col("__n")) / col("df"))
      .groupBy(idCol)
      .agg(slice(sort_array(collect_list(struct(
        (-col("tfidf")).as("nt"), col("term").as("term"),
        col("tf").as("tf"), col("df").as("df")))), 1, k).as("__top"))
      .select(col(idCol), posexplode(col("__top")))
      .select(col(idCol), col("col.term").as("term"),
        col("col.tf").as("tf"), col("col.df").as("df"),
        (-col("col.nt")).as("tfidf"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Per-group distribution shift: total-variation distance between each
    * group's unigram distribution and the whole corpus's —
    * TV(g) = ½ Σ_t |p_g(t) − p(t)| — the signal a pipeline uses to spot
    * sources whose token mix diverges from the training mix (domain
    * weighting, contamination triage). Σ runs over the corpus
    * vocabulary, but terms ABSENT from a group contribute exactly
    * c_t·T_g, and Σ_t c_t = T, so the absent mass folds into closed
    * form: TV_num(g) = Σ_{t∈g} (|c_{g,t}·T − c_t·T_g| − c_t·T_g) + T_g·T
    * with TV = TV_num / (2·T_g·T). Everything up to the final single
    * division is 64-bit-exact integer arithmetic — no float summation,
    * so the result is order-independent and engine-exact (a naive
    * Σ|p−q| of doubles hashes differently per summation order).
    *
    * Shapes: one (group,term) partial-agg'd shuffle, a term-keyed join
    * against the per-term corpus counts derived from the same relation,
    * then a group-keyed rollup — all keyed shuffles, map-side combined.
    */
  def sourceShift(df: org.apache.spark.sql.DataFrame, textCol: String,
                  groupCol: String): org.apache.spark.sql.DataFrame = {
    val cgt = df.filter(length(trim(col(textCol))) > 0)
      .select(col(groupCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(groupCol, "term").agg(count(lit(1)).as("__cgt"))
    val ct = cgt.groupBy("term").agg(sum("__cgt").as("__ct"))
    val tg = cgt.groupBy(groupCol).agg(sum("__cgt").as("n_tokens"))
    val total = ct.agg(sum("__ct").as("__t"))
    cgt.join(ct, Seq("term"))
      .join(tg, Seq(groupCol))
      .crossJoin(broadcast(total))
      .groupBy(col(groupCol), col("n_tokens"), col("__t"))
      .agg(sum(abs(col("__cgt") * col("__t") - col("__ct") * col("n_tokens"))
        - col("__ct") * col("n_tokens")).as("__dev"))
      .select(col(groupCol), col("n_tokens"),
        (col("__dev") + col("n_tokens") * col("__t")).as("tv_num"),
        ((col("__dev") + col("n_tokens") * col("__t")).cast("double") /
          (col("n_tokens") * col("__t") * 2).cast("double")).as("tv"))
  }
}
