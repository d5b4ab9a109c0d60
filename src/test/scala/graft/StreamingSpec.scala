package graft

import graft.streaming.StreamingGroupBy
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming grouped reductions: windowed agg over a MemoryStream must
  * equal the same reduction run in batch. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(minute * 60000L)

  test("windowed streaming reduce equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "k", "v")

    val agg = StreamingGroupBy.windowedReduce(df, "ts", Seq("k"),
      Seq(("v", "sum", "s"), ("v", "count", "n"), ("v", "mean", "m")),
      windowDuration = "5 minutes", watermarkDelay = "0 seconds")

    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_out").start()
    try {
      input.addData(
        (ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(2), "b", 10.0),
        (ts(6), "a", 5.0), (ts(7), "b", 20.0))
      q.processAllAvailable()
      val got = spark.table("stream_out")
        .select(col("window.start").cast("long").as("w"), col("k"), col("s"), col("n"), col("m"))
        .orderBy("w", "k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      assert(got.toSeq === Seq(
        (0L, "a", 3.0, 2L, 1.5), (0L, "b", 10.0, 1L, 10.0),
        (300L, "a", 5.0, 1L, 5.0), (300L, "b", 20.0, 1L, 20.0)))
    } finally q.stop()
  }

  test("streaming ffill/cumsum state carries across micro-batches, equals batch scan") {
    import graft.streaming.StreamingScan
    import graft.streaming.StreamingScan.ScanEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ScanEvent]
    val out = StreamingScan.ffillCumsum(input.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("scan_out").start()
    try {
      // batch 1: key 1 sees a value then a gap; key 2 starts with a gap
      input.addData(
        ScanEvent(1L, 0L, Some(2.0)), ScanEvent(1L, 1L, None),
        ScanEvent(2L, 0L, None))
      q.processAllAvailable()
      // batch 2: the carry (last=2.0, sum=2.0 for key 1) must persist
      input.addData(
        ScanEvent(1L, 2L, Some(5.0)), ScanEvent(1L, 3L, None),
        ScanEvent(2L, 1L, Some(7.0)))
      q.processAllAvailable()
      val got = spark.table("scan_out")
        .orderBy("key", "idx").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4)))
      assert(got.toSeq === Seq(
        (1L, 0L, Some(2.0), 2.0), (1L, 1L, Some(2.0), 2.0),
        (1L, 2L, Some(5.0), 7.0), (1L, 3L, Some(5.0), 7.0),
        (2L, 0L, None, 0.0), (2L, 1L, Some(7.0), 7.0)))
      // equals the batch engine on the same data (ffill + nancumsum)
      val batchDf = Seq(
        (1L, 0L, Some(2.0)), (1L, 1L, None), (1L, 2L, Some(5.0)),
        (1L, 3L, None), (2L, 0L, None), (2L, 1L, Some(7.0)))
        .toDF("key", "idx", "v")
      val b1 = api.GroupByScan(batchDf, Seq("key"), "v", "ffill", "idx", "filled")
      val batch = api.GroupByScan(b1, Seq("key"), "v", "nancumsum", "idx", "cs")
        .orderBy("key", "idx").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4)))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates across batches") {
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingDedup.dropExactWithinWatermark(
      input.toDF().toDF("ts", "id", "text"), "text", "ts", delay = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData((ts(0), 1L, "hello world"), (ts(1), 2L, "hello  world"),
        (ts(1), 3L, "different"))
      q.processAllAvailable()
      // batch 2: same fingerprint again, still inside the watermark
      input.addData((ts(2), 4L, "HELLO WORLD"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("id")
        .collect().map(_.getLong(0)).toSet
      // exactly one of the batch-1 duplicates {1, 2} survives (within a
      // batch the keeper is arbitrary), 3 is unique, and 4 — the same
      // fingerprint arriving in batch 2 — is dropped by the state store
      assert(ids.size === 2 && ids.contains(3L) && !ids.contains(4L) &&
        (ids.contains(1L) ^ ids.contains(2L)), ids.toString)
    } finally q.stop()
  }

  test("streaming within-stream fuzzy near-dup drop: band claims carry " +
    "across batches, survivors match the batch replay of the same rule") {
    import graft.streaming.StreamingDedup
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq( // (minute, id, text) — ids 3,5 near-dup earlier docs
      (1, 1L, "the quick brown fox jumps high today"),
      (1, 2L, "completely different content lives here now"),
      (2, 3L, "the quick brown fox jumps low today"),
      (2, 4L, "yet another unrelated document entirely fresh"),
      (3, 5L, "completely different content lives here still"))
    // batch replay of the rule: claim band keys in arrival order, a doc
    // survives iff it claims ALL its bands first
    val sigRows = Dedup.withMinhashSignature(
      docs.map { case (_, id, t) => (id, t) }.toDF("id", "text"),
      "text", numHashes = 4, k = 2).collect()
      .map(r => r.getAs[Long]("id") ->
        (0 until 4).map(h => r.getAs[Long](s"mh$h")).toVector).toMap
    val claimed = scala.collection.mutable.Map[(Int, Long), Long]()
    val expected = docs.sortBy(d => (d._1, d._2)).flatMap { case (_, id, _) =>
      val bands = sigRows(id).zipWithIndex.map { case (h, b) => (b, h) }
      val wins = bands.map(bk => claimed.getOrElseUpdate(bk, id) == id)
      if (wins.forall(identity)) Some(id) else None
    }.toSet
    assert(expected.contains(1L) && expected.contains(2L))
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingDedup.dropNearDupsWithinWatermark(
      input.toDF().toDF("ts", "id", "text"), "text", "id", "ts",
      numHashes = 4, bandSize = 1, k = 2,
      delay = "10 minutes", windowLen = "1 minute")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("fuzzy_dedup_out").start()
    try {
      docs.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, batch) =>
        input.addData(batch.map { case (m, id, t) => (ts(m), id, t) }: _*)
        q.processAllAvailable()
      }
      // flush: advance the watermark past every doc window
      input.addData((ts(30), 99L, "watermark flush row"))
      q.processAllAvailable()
      val got = spark.table("fuzzy_dedup_out").select("id")
        .collect().map(_.getLong(0)).toSet
      assert(got === expected, s"got $got expected $expected")
      assert(!got.contains(3L) && !got.contains(5L),
        "near-dups of earlier stream content must be dropped")
      assert(q.lastProgress.stateOperators.map(_.operatorName).toSeq ===
        Seq("flatMapGroupsWithState"))
    } finally q.stop()
  }

  private val Minute = 60000L
  private val Day = 1440 * Minute
  private val T0 = 1704067200000L // 2024-01-01 00:00 UTC, in millis

  /** Five tokens no other call's text shares: unrelated documents whose
    * band keys collide with nothing (n picks the tokens). */
  private def uniqueText(n: Int) = (0 until 5).map(j => s"tok${n}x$j").mkString(" ")

  /** Runs [[graft.streaming.StreamingDedup.dropNearDupsWithinWatermark]]
    * (4 bands of 1 hash, 1-minute windows) over a MemoryStream into a
    * memory sink. `body` gets `feed`, which adds one micro-batch of
    * (ts millis, id, text) and processes it, and `ids`, which lists the
    * sink's ids with multiplicity. Returns the query's state operators
    * after the last batch. */
  private def nearDupQuery(delay: String, k: Int)(
      body: (Seq[(Long, Long, String)] => Unit, () => Seq[Long]) => Unit)
      : Seq[String] = {
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val name = "near_dup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingDedup.dropNearDupsWithinWatermark(
        input.toDF().toDF("ts", "id", "text"), "text", "id", "ts",
        numHashes = 4, bandSize = 1, k = k, delay = delay,
        windowLen = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      body(rows => {
        input.addData(rows.map { case (t, id, s) => (new Timestamp(t), id, s) }: _*)
        q.processAllAvailable()
      }, () => spark.table(name).select("id").collect().map(_.getLong(0)).toSeq)
      q.lastProgress.stateOperators.map(_.operatorName).toSeq
    } finally q.stop()
  }

  test("streaming fuzzy near-dup drop, seeded fuzz: survivors over many " +
    "micro-batches equal the batch replay of the claim rule, horizon " +
    "expiry included") {
    import graft.ops.Dedup
    val delayMs = 5 * Minute
    val rng = new scala.util.Random(20261020L)
    val vocab = (0 until 60).map(i => s"w$i")
    def fresh() = Seq.fill(8 + rng.nextInt(5))(vocab(rng.nextInt(vocab.size)))
    // about a third of the documents are planted near-dups of an earlier
    // one: a copy with one word replaced, or an exact copy
    val texts = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    (0 until 60).foreach { i =>
      texts += (if (i > 0 && rng.nextInt(3) == 0) {
        val src = texts(rng.nextInt(i))
        if (rng.nextBoolean()) src
        else src.updated(rng.nextInt(src.length), vocab(rng.nextInt(vocab.size)))
      } else fresh())
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i + 1L, t.mkString(" ")) }
    val keysOf = Dedup.withMinhashSignature(docs.toSeq.toDF("id", "text"),
        "text", numHashes = 4, k = 2).collect()
      .map(r => r.getAs[Long]("id") ->
        (0 until 4).map(h => (h, r.getAs[Long](s"mh$h"))).toSet).toMap
    // micro-batches of at most 6 documents in arrival order; a document
    // sharing a band key with one already in the batch opens the next
    // batch, so no tie inside a batch leaves the keeper to the engine
    val batches = docs.foldLeft(Vector(Vector.empty[(Long, String)])) {
      case (bs, d) =>
        val cur = bs.last
        if (cur.size < 6 && cur.forall(o => (keysOf(o._1) & keysOf(d._1)).isEmpty))
          bs.init :+ (cur :+ d)
        else bs :+ Vector(d)
    }
    // batch b sits at minute 3b; document j of it j seconds later
    val timed = batches.zipWithIndex.map { case (b, bi) =>
      b.zipWithIndex.map { case ((id, t), j) => (T0 + bi * 3 * Minute + j * 1000L, id, t) }
    }
    // replay: before batch b the watermark is (latest ts so far - delay)
    // and every claim with ts + delay <= watermark is gone; each band
    // row claims a free key, and a document survives iff it claimed all
    val claims = scala.collection.mutable.Map[(Int, Long), Long]() // key -> ts + delay
    var maxTs = Long.MinValue
    var readmitted = 0
    val expected = timed.flatMap { batch =>
      val wm = if (maxTs == Long.MinValue) 0L else maxTs - delayMs
      val expired = claims.filter(_._2 <= wm).keySet.toSet
      claims --= expired
      val won = batch.flatMap { case (t, id, _) =>
        val ks = keysOf(id)
        val wins = ks.forall(key => !claims.contains(key))
        if (wins && (ks & expired).nonEmpty) readmitted += 1
        ks.foreach(key => claims.getOrElseUpdate(key, t + delayMs))
        if (wins) Some(id) else None
      }
      maxTs = math.max(maxTs, batch.map(_._1).max)
      won
    }
    assert(expected.size > 10 && expected.size < docs.size - 10 && readmitted > 0,
      s"fixture must exercise survive, drop and horizon expiry: " +
        s"${expected.size}/${docs.size} survive, $readmitted readmitted")
    val ops = nearDupQuery("5 minutes", k = 2) { (feed, ids) =>
      timed.foreach(feed)
      feed(Seq((T0 + 400 * Day, -1L, "flush")))
      val got = ids()
      assert(got.sorted === expected.sorted)
    }
    assert(ops === Seq("flatMapGroupsWithState"))
  }

  test("streaming fuzzy near-dup drop releases a survivor exactly when " +
    "the watermark reaches its window end; a window that never closes " +
    "is never emitted (bench shape: k = 3, delay 1 day)") {
    nearDupQuery("1 day", k = 3) { (feed, ids) =>
      feed(Seq((T0 + 10000L, 1L, uniqueText(1)), (T0 + 20000L, 2L, uniqueText(2))))
      assert(ids().isEmpty)
      // watermark one millisecond below the window end T0 + 1 minute
      feed(Seq((T0 + Day + Minute - 1, 100L, uniqueText(100))))
      assert(ids().isEmpty, "released before the watermark reached the window end")
      feed(Seq((T0 + Day + Minute, 101L, uniqueText(101))))
      assert(ids().sorted === Seq(1L, 2L))
      feed(Seq((T0 + 400 * Day, 999L, uniqueText(999))))
      assert(ids().sorted === Seq(1L, 2L, 100L, 101L),
        "the far-future row's window never closes")
    }
  }

  test("streaming fuzzy near-dup drop holds a claim until the watermark " +
    "passes ts + delay, even after its claimant was released") {
    val text = uniqueText(1)
    nearDupQuery("10 minutes", k = 3) { (feed, ids) =>
      feed(Seq((T0, 1L, text)))
      feed(Seq((T0 + 11 * Minute, 101L, uniqueText(101)))) // watermark T0 + 1 min
      assert(ids() === Seq(1L))
      feed(Seq((T0 + 20 * Minute - 1, 102L, uniqueText(102)))) // T0 + 10 min - 1 ms
      feed(Seq((T0 + 12 * Minute, 2L, text))) // claim still held: dropped
      feed(Seq((T0 + 20 * Minute, 103L, uniqueText(103)))) // T0 + 10 min: expired
      feed(Seq((T0 + 13 * Minute, 3L, text))) // claims the keys again
      feed(Seq((T0 + 30 * Minute, 104L, uniqueText(104)))) // closes 3's window
      val got = ids()
      assert(got.count(_ == 1L) === 1 && !got.contains(2L) && got.contains(3L),
        got.toString)
    }
  }

  test("streaming fuzzy near-dup drop drops rows older than the watermark") {
    nearDupQuery("10 minutes", k = 3) { (feed, ids) =>
      feed(Seq((T0 + 20 * Minute, 101L, uniqueText(101)))) // watermark T0 + 10 min
      feed(Seq((T0 + 5 * Minute, 1L, uniqueText(1)), // late
        (T0 + 10 * Minute, 2L, uniqueText(2)), // at the watermark: late
        (T0 + 15 * Minute, 3L, uniqueText(3))))
      feed(Seq((T0 + 60 * Minute, 999L, uniqueText(999))))
      assert(ids().sorted === Seq(3L, 101L))
    }
  }

  test("streaming fuzzy near-dup drop counts one (window, id) fed in two " +
    "micro-batches as one document") {
    nearDupQuery("10 minutes", k = 3) { (feed, ids) =>
      feed(Seq((T0 + 10000L, 7L, uniqueText(7)), (T0 + 10000L, 8L, uniqueText(8))))
      // same window: 7 again (its rows all lose, 4 claims in all), 8
      // with other text (4 more claims, 8 in all: not one text's bands)
      feed(Seq((T0 + 40000L, 7L, uniqueText(7)), (T0 + 40000L, 8L, uniqueText(80))))
      feed(Seq((T0 + 60 * Minute, 999L, uniqueText(999))))
      assert(ids() === Seq(7L))
    }
  }

  test("streaming fuzzy near-dup drop resumes from its checkpoint: a " +
    "pending claim still drops its near-dup and is released exactly once") {
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_neardup_ck")
    val sink = java.nio.file.Files.createTempDirectory("graft_neardup_sink")
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingDedup.dropNearDupsWithinWatermark(
      input.toDF().toDF("ts", "id", "text"), "text", "id", "ts",
      numHashes = 4, bandSize = 1, k = 3, delay = "10 minutes",
      windowLen = "1 minute")
    // file sink: the memory sink refuses to recover from a checkpoint
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .format("parquet").option("path", sink.toString).start()
    def ids() = spark.read.schema(out.schema).parquet(sink.toString)
      .select("id").collect().map(_.getLong(0)).toSeq
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
             rows: (Long, Long, String)*): Unit = {
      input.addData(rows.map { case (t, id, s) => (new Timestamp(t), id, s) }: _*)
      q.processAllAvailable()
    }
    val q1 = start()
    try feed(q1, (T0, 1L, uniqueText(1))) finally q1.stop()
    assert(ids().isEmpty, "the claim must still be pending at the stop")
    val q2 = start()
    try {
      feed(q2, (T0 + 30000L, 2L, uniqueText(1)))
      feed(q2, (T0 + 60 * Minute, 999L, uniqueText(999)))
      assert(ids() === Seq(1L))
    } finally q2.stop()
  }

  test("streaming incremental dedup against a static band index: " +
    "survivors equal the batch candidate-grain computation, fully " +
    "stateless (zero state operators)") {
    import graft.streaming.StreamingDedup
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    val all = sf("documents")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val batchDocs = all.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val idx = Dedup.bandIndex(corpus, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .localCheckpoint() // static side, computed once
    // batch oracle at the same candidate grain: a doc is dropped iff
    // ANY of its band keys exists in the index
    def hx(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    val idxKeys = idx.select("band_key").distinct()
      .collect().map(r => hx(r.getAs[Array[Byte]](0))).toSet
    val batchKeys = Dedup.bandIndex(
        all.filter(col("doc_id") % 5 === 0), "text", "doc_id",
        numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .collect().map(r => (hx(r.getAs[Array[Byte]](0)), r.getLong(1)))
    val hitIds = batchKeys.collect {
      case (bk, id) if idxKeys(bk) => id
    }.toSet
    val expected = batchDocs.map(_._1).toSet -- hitIds
    assert(hitIds.nonEmpty && expected.nonEmpty,
      "fixture must exercise both drop and survive")
    val input = MemoryStream[(Long, String)]
    val out = StreamingDedup.dropNearDupsAgainstIndex(
      input.toDF().toDF("doc_id", "text"), idx, "text",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("inc_dedup_out").start()
    try {
      val (first, rest) = batchDocs.splitAt(batchDocs.length / 2)
      input.addData(first: _*); q.processAllAvailable()
      input.addData(rest: _*); q.processAllAvailable()
      val got = spark.table("inc_dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got === expected, s"got $got expected $expected")
      assert(q.lastProgress.stateOperators.isEmpty,
        "index lookup must be stateless (stream-static joins only)")
    } finally q.stop()
  }

  test("streaming hamming index lookup (multimodal mirror): survivors " +
    "equal the batch candidate-grain computation, stateless; the bloom " +
    "variant never leaks a join-path drop (no false negatives)") {
    import graft.streaming.StreamingDedup
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    // deterministic 16-bit-band fixture (sigBits=32, maxHamming=1 ⇒ 2
    // bands): sf-doc simhashes saturate narrow bands (every doc a
    // candidate — no survive case), so construct signatures where the
    // candidate verdict is hand-checkable. Corpus {0x12345678,
    // 0x0F0F00FF}; batch 10 shares corpus-1's HIGH band (low bit
    // flipped), batch 12 shares corpus-2's HIGH band, batch 11 shares
    // nothing ⇒ survivors = {11}
    val corpusSig = Seq((1L, 0x12345678L), (2L, 0x0F0F00FFL))
      .toDF("__id", "__sig")
    val batchSigs = Seq((10L, 0x12345679L), (11L, 0x7777AAAAL),
      (12L, 0x0F0FFFFFL))
    val idx = Dedup.hammingBandIndex(corpusSig,
      sigBits = 32, maxHamming = 1).localCheckpoint()
    // batch oracle at candidate grain: dropped iff ANY band key hits
    def hx(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    val idxKeys = idx.select("band_key").distinct()
      .collect().map(r => hx(r.getAs[Array[Byte]](0))).toSet
    val batchKeys = Dedup.hammingBandIndexDelta(
        batchSigs.toDF("__id", "__sig"), sigBits = 32, maxHamming = 1)
      .collect().map(r => (hx(r.getAs[Array[Byte]](0)), r.getLong(1)))
    val hitIds = batchKeys.collect {
      case (bk, id) if idxKeys(bk) => id
    }.toSet
    val expected = batchSigs.map(_._1).toSet -- hitIds
    assert(expected === Set(11L), "hand-checked survivor set")
    assert(hitIds === Set(10L, 12L), "hand-checked candidate drops")
    val input = MemoryStream[(Long, Long)]
    val out = StreamingDedup.dropNearDupsAgainstHammingIndex(
      input.toDF().toDF("doc_id", "sig"), idx, "sig",
      sigBits = 32, maxHamming = 1)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ham_idx_out").start()
    try {
      val (first, rest) = batchSigs.splitAt(batchSigs.length / 2)
      input.addData(first: _*); q.processAllAvailable()
      input.addData(rest: _*); q.processAllAvailable()
      val got = spark.table("ham_idx_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got === expected, s"got $got expected $expected")
      assert(q.lastProgress.stateOperators.isEmpty,
        "hamming index lookup must be stateless")
    } finally q.stop()
    // bloom variant: survivors ⊆ join-path survivors (false positives
    // only over-drop), and every join-path drop is also bloom-dropped
    val bloom = Dedup.hammingBandKeyBloom(idx, sigBits = 32,
      maxHamming = 1, fpp = 0.001)
    val input2 = MemoryStream[(Long, Long)]
    val outB = StreamingDedup.dropNearDupsAgainstHammingIndexBloom(
      input2.toDF().toDF("doc_id", "sig"), bloom, "sig",
      sigBits = 32, maxHamming = 1)
    val qB = outB.writeStream.outputMode("append")
      .format("memory").queryName("ham_bloom_out").start()
    try {
      input2.addData(batchSigs: _*); qB.processAllAvailable()
      val gotB = spark.table("ham_bloom_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(gotB.subsetOf(expected),
        s"bloom must never keep a join-path drop: ${gotB -- expected}")
      assert(gotB.nonEmpty, "fixture must leave bloom survivors")
      assert(qB.lastProgress.stateOperators.isEmpty)
    } finally qB.stop()
    // config-stamp contract: a mismatched query is refused LOUDLY at
    // construction (a silent mismatch would drop nothing)
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.dropNearDupsAgainstHammingIndexBloom(
        spark.readStream.format("rate").load()
          .select(col("value").as("sig")),
        bloom, "sig", sigBits = 32, maxHamming = 2)
    }
    assert(e.getMessage.contains("bloom built for"))
  }

  test("streaming MinHash bloom prefilter: map-only (zero state, zero " +
    "stream-static joins), survivors ⊆ the join formulation's, every " +
    "join-path drop caught") {
    import graft.streaming.StreamingDedup
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    val all = sf("documents")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val idx = Dedup.bandIndex(corpus, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .localCheckpoint()
    val batchDocs = all.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def run(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            name: String) = {
      val input = MemoryStream[(Long, String)]
      val q = mk(input.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        input.addData(batchDocs: _*); q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty)
        spark.table(name).select("doc_id")
          .collect().map(_.getLong(0)).toSet
      } finally q.stop()
    }
    val viaJoin = run(s => StreamingDedup.dropNearDupsAgainstIndex(
      s, idx, "text",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true), "mh_join_out")
    val bloom = Dedup.bandKeyBloom(idx,
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true, fpp = 0.001)
    val viaBloom = run(s => StreamingDedup.dropNearDupsAgainstIndexBloom(
      s, bloom, "text",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true), "mh_bloom_out")
    assert(viaBloom.subsetOf(viaJoin),
      s"bloom kept a join-path drop: ${viaBloom -- viaJoin}")
    assert(viaBloom.nonEmpty && viaJoin.nonEmpty)
    val eCfg = intercept[IllegalArgumentException] {
      StreamingDedup.dropNearDupsAgainstIndexBloom(
        spark.readStream.format("rate").load()
          .select(col("value").cast("string").as("text")),
        bloom, "text", numHashes = 6, bandSize = 1, k = 3, useMd5 = true)
    }
    assert(eCfg.getMessage.contains("bloom built for"))
  }

  test("mergeable delta blooms (r17 missing #3): merge(bloom(index), " +
    "bloomDelta(delta)) is BYTE-identical to a fresh build over " +
    "index ∪ delta at the same geometry; the merged bloom's streaming " +
    "drops cover both the stale bloom's and the exact join path's; " +
    "geometry and cfg mismatches refuse loudly") {
    import graft.streaming.StreamingDedup
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    val all = sf("documents")
    val corpus = all.filter(col("doc_id") % 10 >= 2)
    val survivors = all.filter(col("doc_id") % 10 === 1)
    val idx = Dedup.bandIndex(corpus, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .localCheckpoint()
    val delta = Dedup.bandIndexDelta(survivors, "text", "doc_id",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true)
      .localCheckpoint()
    val bloom0 = Dedup.bandKeyBloom(idx,
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true, fpp = 0.001)
    val dBloom = Dedup.bandKeyBloomDelta(delta, sizedLike = bloom0)
    val merged = Dedup.mergeKeyBlooms(bloom0, dBloom)
    // the strong law: inserting a key set is order- and
    // partition-independent (idempotent bit-OR), so the merged filter
    // is bit-for-bit the fresh build over the union at this geometry
    val rebuilt = Dedup.bandKeyBloomDelta(
      idx.unionByName(delta.select(idx.columns.map(col): _*)),
      sizedLike = bloom0)
    assert(java.util.Arrays.equals(merged.bytes, rebuilt.bytes),
      "merged bloom bits diverge from a same-geometry rebuild")
    assert(merged.cfg === bloom0.cfg &&
      merged.sizedForKeys === bloom0.sizedForKeys)
    // streaming: the merged bloom drops everything the STALE bloom
    // drops (bits only get added) AND everything the exact join path
    // drops against the FRESH corpus (no under-drop — the unabsorbable
    // direction)
    val batchDocs = all.filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def run(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            name: String) = {
      val input = MemoryStream[(Long, String)]
      val q = mk(input.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        input.addData(batchDocs: _*); q.processAllAvailable()
        spark.table(name).select("doc_id")
          .collect().map(_.getLong(0)).toSet
      } finally q.stop()
    }
    val survStale = run(s => StreamingDedup.dropNearDupsAgainstIndexBloom(
      s, bloom0, "text", numHashes = 4, bandSize = 1, k = 3,
      useMd5 = true), "mrg_stale_out")
    val survMerged = run(s => StreamingDedup.dropNearDupsAgainstIndexBloom(
      s, merged, "text", numHashes = 4, bandSize = 1, k = 3,
      useMd5 = true), "mrg_merged_out")
    val survJoinFresh = run(s => StreamingDedup.dropNearDupsAgainstIndex(
      s, idx.unionByName(delta.select(idx.columns.map(col): _*)), "text",
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true), "mrg_join_out")
    assert(survMerged.subsetOf(survStale),
      s"merged bloom un-dropped a stale-bloom drop: ${survMerged -- survStale}")
    assert(survMerged.subsetOf(survJoinFresh),
      s"merged bloom kept an exact fresh-path drop: ${survMerged -- survJoinFresh}")
    assert(survMerged.nonEmpty)
    // torrent-broadcast delivery (gate forced to 0 bytes so this small
    // fixture takes the big-filter path) is survivor-IDENTICAL to the
    // plan-constant delivery: same bits, same probe hash, only the
    // shipping changes (r17 review #3)
    spark.conf.set("spark.graft.dedup.bloomBroadcastBytes", "0")
    try {
      val survMergedBc = run(s =>
        StreamingDedup.dropNearDupsAgainstIndexBloom(
          s, merged, "text", numHashes = 4, bandSize = 1, k = 3,
          useMd5 = true), "mrg_merged_bc_out")
      assert(survMergedBc === survMerged,
        "broadcast-handle delivery diverged from the plan constant")
      // repeated construction over the SAME filter reuses the ONE
      // registered broadcast (content-hash key) — a daily batch job
      // re-invoking the drop must not pin a fresh GB-scale copy per
      // call
      val h1 = graft.functions.VectorExprs
        .registerBloomBroadcast(spark, merged.bytes)
      val h2 = graft.functions.VectorExprs
        .registerBloomBroadcast(spark, merged.bytes)
      assert(h1 === h2, "same filter bytes must reuse one broadcast")
      assert(h1 !== graft.functions.VectorExprs
        .registerBloomBroadcast(spark, bloom0.bytes),
        "different filters must not collide")
    } finally spark.conf.unset("spark.graft.dedup.bloomBroadcastBytes")
    // geometry mismatch (a delta bloom sized on its own key count)
    // refuses with the fix spelled out; cfg mismatch refuses too
    val wrongGeom = Dedup.bandKeyBloom(delta,
      numHashes = 4, bandSize = 1, k = 3, useMd5 = true, fpp = 0.001)
    val eG = intercept[IllegalArgumentException] {
      Dedup.mergeKeyBlooms(bloom0, wrongGeom)
    }
    assert(eG.getMessage.contains("bandKeyBloomDelta"), eG.getMessage)
    val eC = intercept[IllegalArgumentException] {
      Dedup.mergeKeyBlooms(bloom0,
        merged.copy(cfg = "mh:6:1:3:xx"))
    }
    assert(eC.getMessage.contains("different configs"), eC.getMessage)
  }

  test("streaming semantic drop against a cell index: EXACT survivors " +
    "(anti-join carries the cosine verify over index-carried vectors), " +
    "equal to the batch path, zero state operators; stale quantizer " +
    "refused loudly") {
    import graft.streaming.StreamingDedup
    import graft.ops.Similarity
    implicit val sqlCtx = spark.sqlContext
    // the OpsSpec incremental-semantic fixture: corpus {1→cell0,
    // 2→cell1}; stream {6 dup of 1 (dropped), 5 (its only near
    // neighbor, 4, is NOT indexed → survives exactly — a
    // candidate-grain mirror would have over-dropped nothing here,
    // but exactness is the claim), 7 clean}
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.semanticCellIndex(corpus, "vec_id", "embedding",
      cents)
    val batch = Seq((6L, Seq(1.0f, 0.0f)), (5L, Seq(0.55f, 0.835f)),
      (7L, Seq(0.3f, 0.3f)))
    val expected = Similarity.dropSemanticAgainstIndex(
        batch.toDF("vec_id", "embedding"), "vec_id", "embedding",
        idx, cents, threshold = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(expected === Set(5L, 7L), "hand-checked batch survivors")
    val input = MemoryStream[(Long, Seq[Float])]
    val out = StreamingDedup.dropSemanticAgainstCellIndex(
      input.toDF().toDF("vec_id", "embedding"), idx, "embedding",
      cents, threshold = 0.95)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sem_idx_out").start()
    try {
      input.addData(batch.take(2): _*); q.processAllAvailable()
      input.addData(batch.drop(2): _*); q.processAllAvailable()
      val got = spark.table("sem_idx_out").select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(got === expected, s"got $got expected $expected")
      assert(q.lastProgress.stateOperators.isEmpty,
        "semantic index drop must be stateless")
    } finally q.stop()
    // stale quantizer: the cfg stamp makes the mismatch loud at scan
    // time (the MemoryStream already holds rows, so the first batch
    // scans the index and the assert fires inside the query)
    val cents2 = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.1, 1.0)))
      .toDF("cid", "cv")
    val qBad = StreamingDedup.dropSemanticAgainstCellIndex(
        input.toDF().toDF("vec_id", "embedding"), idx, "embedding",
        cents2, threshold = 0.95)
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_bad").start()
    val eQ = intercept[Throwable] {
      try qBad.processAllAvailable() finally qBad.stop()
    }
    def msgs(t: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = t
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(msgs(eQ).contains("config mismatch"), msgs(eQ))
  }

  test("streaming semantic dedup drops same-PQ-code embeddings across " +
    "batches; distinct embeddings survive; one state op") {
    import graft.streaming.StreamingDedup
    import graft.ops.Similarity
    implicit val sqlCtx = spark.sqlContext
    val emb = sf("embeddings")
    val cb = Similarity.trainPq(emb, "vec_id", "embedding",
      dims = 64, m = 8, codesPerSub = 16, iters = 2)
    val vecs = emb.orderBy("vec_id").limit(3)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0))
    def jitter(v: Seq[Double], eps: Double) = v.map(_ + eps)
    val rows = Seq(
      (ts(1), 1L, vecs(0)),
      (ts(1), 2L, vecs(1)),
      // batch 2: a near-identical copy of vec 0 (tiny jitter keeps the
      // same Voronoi cells) and a genuinely different vector
      (ts(2), 3L, jitter(vecs(0), 1e-9)),
      (ts(2), 4L, vecs(2)))
    val input = MemoryStream[(Timestamp, Long, Seq[Double])]
    val q = StreamingDedup.dropSemanticWithinWatermark(
      input.toDF().toDF("ts", "id", "embedding"), "embedding", "ts",
      cb, m = 8, codesPerSub = 16)
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_dedup_out").start()
    try {
      rows.groupBy(_._1).toSeq.sortBy(_._1.getTime).foreach { case (_, b) =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
      val got = spark.table("sem_dedup_out").select("id")
        .collect().map(_.getLong(0)).toSet
      assert(got === Set(1L, 2L, 4L), got.toString)
      assert(q.lastProgress.stateOperators.length === 1)
    } finally q.stop()
  }

  test("streaming sessionize carries session state across batches, equals batch") {
    import graft.streaming.StreamingSessionize
    import graft.streaming.StreamingSessionize.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val out = StreamingSessionize.sessionize(input.toDS(), gap = 100L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // batch 1: key 1 events 0/50 (one session); key 2 at 0
      input.addData(SessionEvent(1L, 0L, 1L), SessionEvent(1L, 50L, 2L),
        SessionEvent(2L, 0L, 5L))
      q.processAllAvailable()
      // batch 2: key 1 jumps past the gap (cut -> session 2) then stays;
      // key 2 stays within gap (still session 1). The cut is computed
      // against STATE from batch 1, not within-batch lag.
      input.addData(SessionEvent(1L, 200L, 3L), SessionEvent(1L, 250L, 4L),
        SessionEvent(2L, 90L, 6L))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .orderBy("key", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(got.toSeq === Seq(
        (1L, 0L, 1L), (1L, 50L, 1L), (1L, 200L, 2L), (1L, 250L, 2L),
        (2L, 0L, 1L), (2L, 90L, 1L)))
      // batch twin on the same rows
      val batch = graft.ops.Events.sessionize(
        Seq((1L, 0L, 1L), (1L, 50L, 2L), (1L, 200L, 3L), (1L, 250L, 4L),
          (2L, 0L, 5L), (2L, 90L, 6L)).toDF("key", "ts", "tie"),
        "key", "ts", "tie", gap = 100L)
        .orderBy("key", "ts").select("key", "ts", "session_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("streaming rolling agg: in-span buffer carries across batches, " +
    "evicts behind the frame, RANGE peers within a batch see each " +
    "other — equals batch rollingAgg") {
    import graft.streaming.StreamingRolling
    import graft.streaming.StreamingRolling.RollEvent
    // events per key: in-order ts with ties INSIDE a batch, a missing
    // value, and a jump that empties the frame; split mid-span across
    // micro-batches so eviction and the carry both exercise
    val batch1 = Seq(
      RollEvent(1L, 0L, Some(2.0)), RollEvent(1L, 40L, Some(4.0)),
      RollEvent(1L, 40L, Some(6.0)), // tie run: both must see both
      RollEvent(2L, 10L, None))
    val batch2 = Seq(
      RollEvent(1L, 90L, Some(10.0)), // carries batch-1 state into frame
      RollEvent(1L, 300L, Some(1.0)), // frame [200, 300]: all evicted
      RollEvent(2L, 60L, Some(8.0)))
    for (span <- Seq(100L, 45L)) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[RollEvent]
      val out = StreamingRolling.rollingAgg(input.toDS(), span)
      val name = s"roll_out_$span"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        input.addData(batch2: _*)
        q.processAllAvailable()
        val got = spark.table(name)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3),
            Option(r.get(4)).map(_.asInstanceOf[Double]),
            Option(r.get(5)).map(_.asInstanceOf[Double])))
          .sortBy(t => (t._1, t._2, t._3.getOrElse(-1.0))).toSeq
        // the batch twin on the same rows
        val rows = (batch1 ++ batch2).map(e => (e.key, e.ts, e.value))
        val want = graft.ops.Events.rollingAgg(
          rows.toDF("key", "ts", "v"), "key", "ts", "v", span)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3),
            Option(r.get(4)).map(_.asInstanceOf[Double]),
            Option(r.get(5)).map(_.asInstanceOf[Double])))
          .sortBy(t => (t._1, t._2, t._3.getOrElse(-1.0))).toSeq
        assert(got === want, s"span=$span")
        // the tie run really saw itself: each ts=40 peer counts the
        // other (plus ts=0, in frame at both spans tested)
        val peers = got.filter(t => t._1 == 1L && t._2 == 40L)
        assert(peers.length === 2 && peers.map(_._4).forall(_ === 3L),
          s"span=$span peers=$peers")
      } finally q.stop()
    }
  }

  test("streaming rolling agg random fuzz equals batch across spans " +
    "and batch splits") {
    import graft.streaming.StreamingRolling
    import graft.streaming.StreamingRolling.RollEvent
    val rnd = new scala.util.Random(4242)
    // per-key sorted ts with duplicates and nulls; 3 keys x 30 events
    val events = (0 until 3).flatMap { k =>
      var t = 0L
      (0 until 30).map { _ =>
        t += rnd.nextInt(40) // 0 advances: in-batch ties happen
        RollEvent(k.toLong, t,
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(20).toDouble))
      }
    }
    // split per key mid-span at a ts BOUNDARY (equal-ts peers must
    // share a micro-batch per the operator's documented contract)
    val (b1, b2) = events.groupBy(_.key).values.map { g =>
      var cut = 17
      while (cut < g.length && g(cut).ts == g(cut - 1).ts) cut += 1
      g.splitAt(cut)
    }.unzip match {
      case (a, b) => (a.flatten.toSeq, b.flatten.toSeq)
    }
    for (span <- Seq(0L, 35L, 80L)) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[RollEvent]
      val out = StreamingRolling.rollingAgg(input.toDS(), span)
      val name = s"roll_fuzz_$span"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        input.addData(b1: _*)
        q.processAllAvailable()
        input.addData(b2: _*)
        q.processAllAvailable()
        def norm(rows: Array[org.apache.spark.sql.Row]) = rows
          .map(r => (r.getLong(0), r.getLong(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3),
            Option(r.get(4)).map(_.asInstanceOf[Double])))
          .sortBy(t => (t._1, t._2, t._3.getOrElse(-1.0), t._4)).toSeq
        val got = norm(spark.table(name).collect())
        val want = norm(graft.ops.Events.rollingAgg(
          events.map(e => (e.key, e.ts, e.value)).toDF("key", "ts", "v"),
          "key", "ts", "v", span)
          .select("key", "ts", "v", "roll_n", "roll_sum").collect())
        assert(got === want, s"span=$span")
      } finally q.stop()
    }
  }

  test("streaming approx_nunique (HLL sketch) merges across batches; exact nunique rejected") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingGroupBy.windowedReduce(
      input.toDF().toDF("ts", "k", "v"), "ts", Seq("k"),
      Seq(("v", "approx_nunique", "nd")),
      windowDuration = "10 minutes", watermarkDelay = "0 seconds")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("nd_out").start()
    try {
      input.addData((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(2), "a", 1.0))
      q.processAllAvailable()
      input.addData((ts(3), "a", 3.0), (ts(4), "a", 2.0))
      q.processAllAvailable()
      val got = spark.table("nd_out").select("nd").as[Long].collect()
      assert(got.toSeq === Seq(3L)) // {1.0, 2.0, 3.0}; HLL exact at this size
      val e = intercept[IllegalArgumentException] {
        StreamingGroupBy.windowedReduce(
          Seq((ts(0), "a", 1.0)).toDF("ts", "k", "v"), "ts", Seq("k"),
          Seq(("v", "nunique", "nd")), "10 minutes")
      }
      assert(e.getMessage.contains("not incrementally computable"))
    } finally q.stop()
  }

  test("streaming topk heap state merges across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingGroupBy.windowedReduce(
      input.toDF().toDF("ts", "k", "v"), "ts", Seq("k"),
      Seq(("v", "topk", "t3")),
      windowDuration = "10 minutes", watermarkDelay = "0 seconds",
      opts = graft.aggs.ReduceOptions(topK = 3))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("topk_out").start()
    try {
      input.addData((ts(0), "a", 5.0), (ts(1), "a", 1.0), (ts(2), "a", 9.0))
      q.processAllAvailable()
      input.addData((ts(3), "a", 7.0), (ts(4), "a", 3.0)) // top3 of {5,1,9,7,3} = [9,7,5]
      q.processAllAvailable()
      val got = spark.table("topk_out").select("t3").as[Seq[Double]].collect()
      assert(got.toSeq === Seq(Seq(9.0, 7.0, 5.0)))
    } finally q.stop()
  }

  test("non-streamable funcs rejected with clear error") {
    val df = Seq((ts(0), "a", 1.0)).toDF("ts", "k", "v")
    val e = intercept[IllegalArgumentException] {
      StreamingGroupBy.windowedReduce(df, "ts", Seq("k"),
        Seq(("v", "median", "m")), "5 minutes")
    }
    assert(e.getMessage.contains("median"))
  }

  test("streaming approx quantiles (mergeable sketch) equal batch in the exact regime") {
    import graft.aggs.ReduceOptions
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "k", "v")
    val opts = ReduceOptions(q = Seq(0.9), approxQuantile = true)
    val agg = StreamingGroupBy.windowedReduce(df, "ts", Seq("k"),
      Seq(("v", "quantile", "p90"), ("v", "median", "med")),
      windowDuration = "5 minutes", watermarkDelay = "0 seconds", opts = opts)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("q_stream_out").start()
    try {
      // two micro-batches: the sketch state must merge across them
      input.addData((ts(0), "a", 1.0), (ts(1), "a", 2.0), (ts(2), "a", 3.0))
      q.processAllAvailable()
      input.addData((ts(3), "a", 4.0), (ts(4), "a", 5.0), (ts(1), "b", 10.0))
      q.processAllAvailable()
      val got = spark.table("q_stream_out")
        .select(col("k"), col("p90"), col("med")).orderBy("k")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      // exact regime (n << accuracy): element at rank ceil(q*n)
      assert(got.toSeq === Seq(("a", 5.0, 3.0), ("b", 10.0, 10.0)))
      // and it equals the batch engine with the same options
      val batch = api.GroupByReduce.multi(
        Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0),
          ("b", 10.0)).toDF("k", "v"),
        Seq("k"), Seq(("v", "quantile", "p90"), ("v", "median", "med")), opts)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("ffill/cumsum arrival-order contract: cross-batch late idx folds in as newest") {
    import graft.streaming.StreamingScan
    import graft.streaming.StreamingScan.ScanEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ScanEvent]
    val out = StreamingScan.ffillCumsum(input.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("late_scan_out").start()
    try {
      input.addData(ScanEvent(1L, 0L, Some(2.0)), ScanEvent(1L, 2L, Some(5.0)))
      q.processAllAvailable()
      // idx 1 arrives AFTER idx 2 was processed — it violates the
      // documented ordering contract, and the state (which cannot
      // reorder the past) folds it in by ARRIVAL order
      input.addData(ScanEvent(1L, 1L, Some(3.0)))
      q.processAllAvailable()
      val got = spark.table("late_scan_out")
        .orderBy("idx").collect()
        .map(r => (r.getLong(1), r.getDouble(4)))
      // arrival order: cs(idx0)=2, cs(idx2)=7, then the late idx1 -> 10
      assert(got.toSeq === Seq((0L, 2.0), (1L, 10.0), (2L, 7.0)))
      // ...which deliberately DIFFERS from the batch engine's idx-order
      // result (cs at idx1 = 5.0): the contract is real, not decorative
      val batch = api.GroupByScan(
        Seq((1L, 0L, Some(2.0)), (1L, 1L, Some(3.0)), (1L, 2L, Some(5.0)))
          .toDF("key", "idx", "v"),
        Seq("key"), "v", "nancumsum", "idx", "cs")
        .orderBy("idx").collect().map(r => (r.getLong(1), r.getDouble(3)))
      assert(batch.toSeq === Seq((0L, 2.0), (1L, 5.0), (2L, 10.0)))
    } finally q.stop()
  }

  test("append mode: events later than the watermark are dropped from closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "k", "v")
    val agg = StreamingGroupBy.windowedReduce(df, "ts", Seq("k"),
      Seq(("v", "sum", "s"), ("v", "count", "n")),
      windowDuration = "5 minutes", watermarkDelay = "0 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_win_out").start()
    try {
      input.addData((ts(0), "a", 1.0), (ts(1), "a", 2.0))
      q.processAllAvailable()
      // advance event time past window [0, 5): the watermark closes it
      input.addData((ts(6), "a", 5.0))
      q.processAllAvailable()
      // a straggler INSIDE the closed window — dropped, not re-emitted
      input.addData((ts(2), "a", 100.0))
      q.processAllAvailable()
      // advance again so window [5, 10) also closes and emits
      input.addData((ts(11), "a", 7.0))
      q.processAllAvailable()
      val got = spark.table("late_win_out")
        .select(col("window.start").cast("long").as("w"), col("s"), col("n"))
        .orderBy("w").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // window 0 excludes the late 100.0; window 300 holds only the 5.0
      assert(got.toSeq === Seq((0L, 3.0, 2L), (300L, 5.0, 1L)))
    } finally q.stop()
  }

  test("sliding-window approx quantiles: overlap + cross-batch merge equal batch") {
    import graft.aggs.ReduceOptions
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "k", "v")
    val opts = ReduceOptions(approxQuantile = true)
    val agg = StreamingGroupBy.windowedReduce(df, "ts", Seq("k"),
      Seq(("v", "median", "med")),
      windowDuration = "10 minutes", slideDuration = Some("5 minutes"),
      watermarkDelay = "0 seconds", opts = opts)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("slide_q_out").start()
    try {
      // each event lands in TWO overlapping windows; the second batch
      // must merge sketch state into windows the first batch opened
      input.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0))
      q.processAllAvailable()
      input.addData((ts(6), "a", 3.0), (ts(7), "a", 4.0))
      q.processAllAvailable()
      val got = spark.table("slide_q_out")
        .select(col("window.start").cast("long").as("w"), col("med"))
        .orderBy("w").collect().map(r => (r.getLong(0), r.getDouble(1)))
      // exact regime: element at rank ceil(0.5 * n)
      assert(got.toSeq === Seq((-300L, 1.0), (0L, 2.0), (300L, 3.0)))
      // and the batch engine (same windowedReduce over a bounded frame)
      // agrees window-for-window
      val batch = StreamingGroupBy.windowedReduce(
        Seq((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(6), "a", 3.0),
          (ts(7), "a", 4.0)).toDF("ts", "k", "v"),
        "ts", Seq("k"), Seq(("v", "median", "med")),
        windowDuration = "10 minutes", slideDuration = Some("5 minutes"),
        opts = opts)
        .select(col("window.start").cast("long").as("w"), col("med"))
        .orderBy("w").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("streaming as-of join carries right state across batches, equals batch asofJoin") {
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.AsofEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsofEvent]
    val out = StreamingAsof.asofBackward(input.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()
    try {
      // batch 1: key 1 — left before any right (no match), right at 10,
      // equal-ts left at 10 (right visible), left at 15; key 2 — right only
      input.addData(
        AsofEvent(1L, 5L, 1, 50.0), AsofEvent(1L, 10L, 0, 1.0),
        AsofEvent(1L, 10L, 1, 51.0), AsofEvent(1L, 15L, 1, 52.0),
        AsofEvent(2L, 8L, 0, 9.0))
      q.processAllAvailable()
      // batch 2: the carried right rows (key1 ts=10, key2 ts=8) must
      // persist; then a newer right row takes over mid-batch
      input.addData(
        AsofEvent(1L, 20L, 1, 53.0), AsofEvent(1L, 25L, 0, 2.0),
        AsofEvent(1L, 30L, 1, 54.0), AsofEvent(2L, 40L, 1, 55.0))
      q.processAllAvailable()
      val got = spark.table("asof_out")
        .orderBy("key", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
      assert(got.toSeq === Seq(
        (1L, 5L, 50.0, None, None),
        (1L, 10L, 51.0, Some(10L), Some(1.0)),
        (1L, 15L, 52.0, Some(10L), Some(1.0)),
        (1L, 20L, 53.0, Some(10L), Some(1.0)),
        (1L, 30L, 54.0, Some(25L), Some(2.0)),
        (2L, 40L, 55.0, Some(8L), Some(9.0))))
      // equals the batch engine on the same split-apart data
      val left = Seq((1L, 5L, 50.0), (1L, 10L, 51.0), (1L, 15L, 52.0),
        (1L, 20L, 53.0), (1L, 30L, 54.0), (2L, 40L, 55.0))
        .toDF("k", "ts", "lv")
      val right = Seq((1L, 10L, 1.0), (1L, 25L, 2.0), (2L, 8L, 9.0))
        .toDF("k", "rts", "rv")
      val batch = ops.Events.asofJoin(left, right, Seq("k"), "ts", "rts",
        Seq("rv"), prefix = "m_")
        .orderBy("k", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      assert(batch.toSeq === got.toSeq.map(g => (g._1, g._2, g._3, g._5)))
      // the taggedUnion front door builds the same event stream
      val viaUnion = StreamingAsof.taggedUnion(
        left.toDF("key", "ts", "v"), right.toDF("key", "ts", "v"),
        "key", "ts", "v").collect().sortBy(e => (e.key, e.ts, e.tag))
      val expected = (right.toDF("key", "ts", "v").collect()
        .map(r => StreamingAsof.AsofEvent(r.getLong(0), r.getLong(1), 0, r.getDouble(2))) ++
        left.toDF("key", "ts", "v").collect()
          .map(r => StreamingAsof.AsofEvent(r.getLong(0), r.getLong(1), 1, r.getDouble(2))))
        .sortBy(e => (e.key, e.ts, e.tag))
      assert(viaUnion.toSeq === expected.toSeq)
    } finally q.stop()
  }

  test("streaming forward as-of: earliest-at-or-after match, horizon expiry, equals batch") {
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.AsofEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsofEvent]
    val out = StreamingAsof.asofForward(input.toDS(), horizon = 20L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("asof_fwd_out").start()
    try {
      // batch 1: left at 5 waits; right at 10 matches it; equal-ts
      // left+right at 10 match each other; left at 18 stays pending
      input.addData(
        AsofEvent(1L, 5L, 1, 50.0), AsofEvent(1L, 10L, 0, 1.0),
        AsofEvent(1L, 10L, 1, 51.0), AsofEvent(1L, 18L, 1, 52.0))
      q.processAllAvailable()
      // batch 2: right at 25 matches the carried-over left(18); left at
      // 30 then expires via the far sentinel left (no right within 20)
      input.addData(
        AsofEvent(1L, 25L, 0, 2.0), AsofEvent(1L, 30L, 1, 53.0),
        AsofEvent(1L, 99L, 1, -1.0)) // sentinel: expires left(30)
      q.processAllAvailable()
      val got = spark.table("asof_fwd_out")
        .orderBy("key", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
      assert(got.toSeq === Seq(
        (1L, 5L, 50.0, Some(10L), Some(1.0)),
        (1L, 10L, 51.0, Some(10L), Some(1.0)),
        (1L, 18L, 52.0, Some(25L), Some(2.0)),
        (1L, 30L, 53.0, None, None)))
      // batch twin (sentinel left included then dropped — batch forward
      // as-of has no horizon, and no right exists at/after 30 anyway)
      val left = Seq((1L, 5L, 50.0), (1L, 10L, 51.0), (1L, 18L, 52.0),
        (1L, 30L, 53.0)).toDF("k", "ts", "lv")
      val right = Seq((1L, 10L, 1.0), (1L, 25L, 2.0)).toDF("k", "rts", "rv")
      val batch = ops.Events.asofJoin(left, right, Seq("k"), "ts", "rts",
        Seq("rv"), prefix = "m_", direction = "forward")
        .orderBy("k", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      assert(batch.toSeq === got.toSeq.map(g => (g._1, g._2, g._3, g._5)))
    } finally q.stop()
  }

  test("streaming nearest as-of: closer side wins, ties backward, equals batch") {
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.AsofEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsofEvent]
    val out = StreamingAsof.asofNearest(input.toDS(), horizon = 50L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("asof_near_out").start()
    try {
      // rights at 10, 40; lefts at 12 (back closer), 30 (fwd closer),
      // 25 (equidistant 15/15 -> tie to backward), 45 (only back side)
      input.addData(
        AsofEvent(1L, 10L, 0, 1.0), AsofEvent(1L, 12L, 1, 50.0),
        AsofEvent(1L, 25L, 1, 51.0))
      q.processAllAvailable()
      input.addData(
        AsofEvent(1L, 30L, 1, 52.0), AsofEvent(1L, 40L, 0, 2.0),
        AsofEvent(1L, 45L, 1, 53.0), AsofEvent(1L, 999L, 1, -1.0)) // sentinel
      q.processAllAvailable()
      val got = spark.table("asof_near_out")
        .orderBy("key", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
      assert(got.toSeq === Seq(
        (1L, 12L, 50.0, Some(10L), Some(1.0)),   // 2 back vs 28 fwd
        (1L, 25L, 51.0, Some(10L), Some(1.0)),   // 15 vs 15 tie -> back
        (1L, 30L, 52.0, Some(40L), Some(2.0)),   // 20 back vs 10 fwd
        (1L, 45L, 53.0, Some(40L), Some(2.0))))  // back only (horizon)
      // batch twin (sentinel left dropped; no right near it anyway)
      val left = Seq((1L, 12L, 50.0), (1L, 25L, 51.0), (1L, 30L, 52.0),
        (1L, 45L, 53.0)).toDF("k", "ts", "lv")
      val right = Seq((1L, 10L, 1.0), (1L, 40L, 2.0)).toDF("k", "rts", "rv")
      val batch = ops.Events.asofJoin(left, right, Seq("k"), "ts", "rts",
        Seq("rv"), prefix = "m_", direction = "nearest")
        .orderBy("k", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      assert(batch.toSeq === got.toSeq.map(g => (g._1, g._2, g._3, g._5)))
    } finally q.stop()
  }

  test("streaming nearest as-of divergence boundary: forward beyond horizon " +
      "loses to a farther backward (bounded-state contract)") {
    // The ONE documented divergence from batch (StreamingAsof.asofNearest
    // scale note): when the true nearest match is a FORWARD right beyond
    // `horizon` while the backward candidate is even farther, batch keeps
    // looking and picks the forward row; streaming stops waiting at
    // leftTs + horizon and emits the backward candidate — bounded state
    // demands a finite wait. key 1 constructs that divergence; key 2 is
    // the adjacent agreeing regime (forward INSIDE the horizon beats a
    // farther backward) so the boundary itself is what's pinned.
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.AsofEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsofEvent]
    val out = StreamingAsof.asofNearest(input.toDS(), horizon = 50L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("asof_div_out").start()
    try {
      // key 1: back right at 0 (distance 100), fwd right at 170
      // (distance 70 > horizon 50 but < 100 -> batch picks it)
      // key 2: back right at 0 (distance 100), fwd right at 140
      // (distance 40 <= horizon -> both engines pick it)
      input.addData(
        AsofEvent(1L, 0L, 0, 1.0), AsofEvent(2L, 0L, 0, 1.0),
        AsofEvent(1L, 100L, 1, 50.0), AsofEvent(2L, 100L, 1, 60.0))
      q.processAllAvailable()
      input.addData(AsofEvent(2L, 140L, 0, 2.0), AsofEvent(1L, 170L, 0, 3.0))
      q.processAllAvailable()
      val got = spark.table("asof_div_out")
        .orderBy("key").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
      assert(got.toSeq === Seq(
        // the divergence: streaming emits the BACKWARD candidate when
        // the right at 170 closes the (deadline = 100 + horizon) window
        (1L, 100L, Some(0L), Some(1.0)),
        // the agreeing boundary one step inside the horizon
        (2L, 100L, Some(140L), Some(2.0))))
      // batch twin picks the forward row for key 1 — assert the
      // divergence is real, not an artifact of the test data
      val left = Seq((1L, 100L, 50.0), (2L, 100L, 60.0)).toDF("k", "ts", "lv")
      val right = Seq((1L, 0L, 1.0), (2L, 0L, 1.0),
        (1L, 170L, 3.0), (2L, 140L, 2.0)).toDF("k", "rts", "rv")
      val batch = ops.Events.asofJoin(left, right, Seq("k"), "ts", "rts",
        Seq("rv"), prefix = "m_", direction = "nearest")
        .orderBy("k").collect()
        .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Double])))
      assert(batch.toSeq === Seq((1L, Some(3.0)), (2L, Some(2.0))))
    } finally q.stop()
  }

  test("streaming range join (bucketed stream-stream) equals batch rangeJoin") {
    import graft.streaming.StreamingRangeJoin
    implicit val sqlCtx = spark.sqlContext
    // left probes at seconds 100/130/200; right events scattered around
    // them; window [ts-30, ts+10] — crossing bucket boundaries both ways
    val lIn = MemoryStream[(Timestamp, Long)]
    val rIn = MemoryStream[(Timestamp, Long, Double)]
    val out = StreamingRangeJoin.rangeJoin(
      lIn.toDF().toDF("lts", "lid"), rIn.toDF().toDF("rts", "rid", "rv"),
      "lts", "rts", lowerSec = -30L, upperSec = 10L,
      payload = Seq("rid", "rv"), watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("rj_out").start()
    def t(sec: Long) = new Timestamp(sec * 1000L)
    try {
      // batch 1: rights first, then a probe in the same micro-batch
      rIn.addData((t(75), 1L, 7.5), (t(95), 2L, 9.5), (t(111), 3L, 11.1))
      lIn.addData((t(100), 10L))
      q.processAllAvailable()
      // batch 2: a probe matching rights from BATCH 1 state (95, 111),
      // plus new rights; and a probe with no matches at all
      rIn.addData((t(128), 4L, 12.8), (t(205), 5L, 20.5))
      lIn.addData((t(130), 11L), (t(300), 12L))
      q.processAllAvailable()
      val got = spark.table("rj_out")
        .select(col("lid"), col("rj_rid"), col("rj_rv"))
        .orderBy("lid", "rj_rid")
        .as[(Long, Long, Double)].collect()
      // batch twin on the same data, integral-seconds ts
      val lB = Seq((100L, 10L), (130L, 11L), (300L, 12L)).toDF("lts", "lid")
      val rB = Seq((75L, 1L, 7.5), (95L, 2L, 9.5), (111L, 3L, 11.1),
        (128L, 4L, 12.8), (205L, 5L, 20.5)).toDF("rts", "rid", "rv")
      val want = ops.Events.rangeJoin(lB, rB, "lts", "rts",
        lower = -30L, upper = 10L, payload = Seq("rid", "rv"))
        .select(col("lid"), col("rj_rid"), col("rj_rv"))
        .orderBy("lid", "rj_rid")
        .as[(Long, Long, Double)].collect()
      assert(want.nonEmpty && got.toSeq === want.toSeq,
        s"got=${got.toSeq} want=${want.toSeq}")
    } finally q.stop()
  }

  test("multimodal frame decode runs unchanged on a stream: stateless " +
    "mapPartitions, batch-equal (incl. the quarantine fallback row)") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.{GifFrameDecoder, MediaRow}
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      MediaRow(1L, Multimodal.fixtureAnimatedGif(64, 64, 3, seed = 5L)),
      MediaRow(2L, Multimodal.fixtureAnimatedGif(48, 32, 2, seed = 9L)),
      MediaRow(9L, "not a gif".getBytes("UTF-8")))
    val input = MemoryStream[MediaRow]
    val out = Multimodal.decodeVideoFrames(input.toDS(), GifFrameDecoder)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("vid_out").start()
    try {
      input.addData(rows.take(1): _*)
      q.processAllAvailable()
      input.addData(rows.drop(1): _*)
      q.processAllAvailable()
      val got = spark.table("vid_out").orderBy("id", "frameIdx")
        .as[Multimodal.VideoFrame].collect().toSeq
      val want = Multimodal.decodeVideoFrames(
        spark.createDataset(rows)(
          org.apache.spark.sql.Encoders.product[MediaRow]), GifFrameDecoder)
        .collect().sortBy(f => (f.id, f.frameIdx)).toSeq
      assert(got === want && got.count(_.frameIdx == -1) === 1)
    } finally q.stop()
  }

  test("exact quantile stays rejected in streaming even with other opts") {
    val df = Seq((ts(0), "a", 1.0)).toDF("ts", "k", "v")
    val e = intercept[IllegalArgumentException] {
      StreamingGroupBy.windowedReduce(df, "ts", Seq("k"),
        Seq(("v", "nanquantile", "m")), "5 minutes")
    }
    assert(e.getMessage.contains("approxQuantile"))
  }

  // Shared corpus for the streaming-contamination family: 3 benchmark
  // docs, stream docs spanning exact copy / near-paraphrase / clean.
  private val benchDocs = Seq(
    (101L, "the quick brown fox jumps over the lazy dog"),
    (102L, "machine learning models require large clean training data sets"),
    (103L, "to be or not to be that is the question"))
  private val streamDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),            // exact 101
    (2L, "machine learning models require large clean training data sets today"), // near 102
    (3L, "completely unrelated text about cooking pasta with tomato sauce"),
    (4L, "to be or not to be that is the question"),                // exact 103
    (5L, "the weather in the mountains is cold and snowy this winter"))

  test("streaming fuzzy decontamination (chained per-band anti joins) equals batch, zero state") {
    import graft.streaming.StreamingContamination
    implicit val sqlCtx = spark.sqlContext
    val bench = benchDocs.toDF("bid", "text")
    val input = MemoryStream[(Long, String)]
    val out = StreamingContamination.decontaminateFuzzy(
      input.toDF().toDF("id", "text"), bench, "text",
      threshold = 0.7, numHashes = 6, bandSize = 1, k = 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("decontam_out").start()
    try {
      input.addData(streamDocs.take(3): _*)
      q.processAllAvailable()
      input.addData(streamDocs.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("decontam_out").select("id")
        .as[Long].collect().sorted
      // batch oracle: ids with a verified cross-corpus pair are dropped
      val docsB = streamDocs.toDF("id", "text")
      val dropped = ops.Dedup.crossNearDupPairs(bench, docsB, "text",
          "bid", "id", threshold = 0.7, numHashes = 6, bandSize = 1, k = 2)
        .select("id_r").as[Long].collect().toSet
      val want = streamDocs.map(_._1).filterNot(dropped).sorted
      // the exact copies MUST be caught (every band matches, jaccard 1.0)
      assert(!got.contains(1L) && !got.contains(4L), got.toSeq.toString)
      assert(got.toSeq === want, s"got=${got.toSeq} want=$want")
      // stateless contract: no state store operators in the plan
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("streaming contamination pair report equals batch crossNearDupPairs, once per pair") {
    import graft.streaming.StreamingContamination
    implicit val sqlCtx = spark.sqlContext
    val bench = benchDocs.toDF("bid", "text")
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingContamination.contaminationPairs(
      input.toDF().toDF("ts", "id", "text"), bench, "text",
      idCol = "id", benchIdCol = "bid", tsCol = "ts",
      delay = "10 minutes", threshold = 0.7,
      numHashes = 6, bandSize = 1, k = 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("contam_pairs_out").start()
    try {
      input.addData(streamDocs.take(3).map { case (i, t) => (ts(i.toInt), i, t) }: _*)
      q.processAllAvailable()
      input.addData(streamDocs.drop(3).map { case (i, t) => (ts(i.toInt), i, t) }: _*)
      q.processAllAvailable()
      val got = spark.table("contam_pairs_out")
        .select(col("id"), col("bid"), round(col("jaccard"), 6).as("j"))
        .as[(Long, Long, Double)].collect().sorted
      val want = ops.Dedup.crossNearDupPairs(bench,
          streamDocs.toDF("id", "text"), "text",
          "bid", "id", threshold = 0.7, numHashes = 6, bandSize = 1, k = 2)
        .select(col("id_r"), col("id_l"), round(col("jaccard"), 6).as("j"))
        .as[(Long, Long, Double)].collect().sorted
      // exact copies are guaranteed pairs; each pair appears exactly once
      assert(got.map(p => (p._1, p._2)).contains((1L, 101L)), got.toSeq.toString)
      assert(got.map(p => (p._1, p._2)).contains((4L, 103L)), got.toSeq.toString)
      assert(got.length === got.map(p => (p._1, p._2)).distinct.length)
      assert(want.nonEmpty && got.toSeq === want.toSeq,
        s"got=${got.toSeq} want=${want.toSeq}")
    } finally q.stop()
  }

  test("pii scrub runs unchanged on a stream: stateless projection, batch-equal") {
    import graft.ops.Pii
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "mail me at alice@example.com or call 415-555-0123"),
      (2L, "nothing sensitive here"),
      (3L, "server at 10.1.2.3, ssn 123-45-6789"))
    val input = MemoryStream[(Long, String)]
    val out = Pii.scrub(input.toDF().toDF("id", "text"), "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pii_out").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("pii_out")
        .select("id", "n_pii", "redacted").orderBy("id")
        .as[(Long, Long, String)].collect().toSeq
      val want = Pii.scrub(rows.toDF("id", "text"), "text")
        .select("id", "n_pii", "redacted").orderBy("id")
        .as[(Long, Long, String)].collect().toSeq
      assert(got === want)
      assert(got.map(_._2) === Seq(2L, 0L, 2L))
      assert(got.head._3 === "mail me at <EMAIL> or call <PHONE>")
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("quality-classifier scoring runs unchanged on a stream: stateless projection, batch-equal") {
    import graft.ops.QualityClassifier
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    val goodIdx = Seq("good").toDF("t")
      .select(QualityClassifier.featureIdx(col("t"), dim)).as[Int].head()
    val w = Array.fill(dim + 1)(0.0)
    w(goodIdx) = 2.0
    w(dim) = -1.0 // bias
    val rows = Seq((1L, "good stuff here"), (2L, "nothing relevant"), (3L, ""))
    val input = MemoryStream[(Long, String)]
    val out = QualityClassifier.scoreDocs(
      input.toDF().toDF("id", "text"), w.toSeq, dim, "text", "id")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("qc_out").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("qc_out").select("id", "margin").orderBy("id")
        .as[(Long, Double)].collect().toSeq
      val want = QualityClassifier.scoreDocs(
          rows.toDF("id", "text"), w.toSeq, dim, "text", "id")
        .select("id", "margin").orderBy("id")
        .as[(Long, Double)].collect().toSeq
      assert(got === want)
      assert(got.map(_._1) === Seq(1L, 2L)) // empty doc dropped, no evidence
      assert(got.head._2 > 0 && got(1)._2 < 0)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("gopher gate + DSIR local scoring run unchanged on a stream: " +
    "stateless projections, batch-equal") {
    import graft.ops.{Dsir, RuleFilters}
    implicit val sqlCtx = spark.sqlContext
    val dim = 32
    // pinned ratio vector (the deployed-model shape): favor 'the'-bucket
    val idx = Seq("the").toDF("t")
      .select(graft.ops.QualityClassifier.featureIdx(col("t"), dim))
      .as[Int].head()
    val ratios = Array.fill(dim)(-0.1)
    ratios(idx) = 1.5
    val rows = Seq(
      (1L, "the cat sat on the mat and the dog"),
      (2L, "xx yy zz"),  // fails gopher word floor
      (3L, "the committee shall review the annual report with care"),
      (4L, ""))
    def pipe(df: org.apache.spark.sql.DataFrame) =
      Dsir.logImportanceLocal(
        RuleFilters.gopherFilter(df, "text", minWords = 5, maxWords = 100,
          minMwl = 2.0, maxMwl = 8.0, minAlphaFrac = 0.5, minStopHits = 1),
        ratios.toSeq, dim, "text", "id")
    val input = MemoryStream[(Long, String)]
    val q = pipe(input.toDF().toDF("id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_gopher_out").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_gopher_out").orderBy("id")
        .as[(Long, Double)].collect().toSeq
      val want = pipe(rows.toDF("id", "text")).orderBy("id")
        .as[(Long, Double)].collect().toSeq
      assert(got === want)
      assert(got.map(_._1) === Seq(1L, 3L)) // 2 gated out, 4 no evidence
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming bloom n-gram decontamination: stateless plan-constant " +
    "prefilter, batch-equal, never leaks a contaminated doc") {
    import graft.ops.Contamination
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs")).toDF("id", "text")
    val rows = Seq(
      (1L, "he said the quick brown fox was a myth"), // shares a 3-gram
      (2L, "entirely novel content with no overlap at all"),
      (3L, "five dozen liquor jugs were packed"),      // shares a 3-gram
      (4L, "short one"))
    val bytes = Contamination.benchNgramBloom(bench, "text", k = 3)
    def clean(df: org.apache.spark.sql.DataFrame) =
      df.filter(!Contamination.mightBeContaminated(col("text"), bytes, 3))
    val input = MemoryStream[(Long, String)]
    val q = clean(input.toDF().toDF("id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("bloom_decontam_out").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("bloom_decontam_out").select("id")
        .as[Long].collect().toSet
      val want = clean(rows.toDF("id", "text")).select("id")
        .as[Long].collect().toSet
      assert(got === want)
      // conservative law: the stream NEVER keeps a doc the exact path
      // calls contaminated (bloom has no false negatives)
      val exact = Contamination.contaminatedIds(
        rows.toDF("id", "text"), bench, "text", "id", k = 3)
        .as[Long].collect().toSet
      assert(got.intersect(exact).isEmpty)
      assert((Set(1L, 2L, 3L, 4L) -- exact -- got).isEmpty ||
        got === Set(2L, 4L)) // fpp may drop extra docs, never leak
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("composed streaming curation: gopher gate -> classifier filter -> " +
    "DSIR scoring -> bloom decontam -> PQ semantic dedup; batch-equal, " +
    "one stateful op") {
    import graft.ops.{Contamination, Dsir, QualityClassifier, RuleFilters, Similarity}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val dim = 32
    // pinned DSIR ratios and classifier weights (deployed-model shape)
    val idx = Seq("the").toDF("t")
      .select(QualityClassifier.featureIdx(col("t"), dim)).as[Int].head()
    val ratios = Array.fill(dim)(-0.05); ratios(idx) = 1.0
    val qcw = Array.fill(dim + 1)(0.4) // every token votes keep
    // PQ codebook trained on the small embeddings table
    val cb = Similarity.trainPq(sf("embeddings"), "vec_id", "embedding",
      dims = 64, m = 8, codesPerSub = 16, iters = 1)
    val vecs = sf("embeddings").orderBy("vec_id").limit(2)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0))
    val bench = Seq((90L, "the eval set secret answer sheet rows")).toDF("id", "text")
    val bloomBytes = Contamination.benchNgramBloom(bench, "text", k = 3)
    val rows = Seq(
      // survives every stage
      (ts(1), 1L, "the committee shall review the annual report with care today", vecs(0)),
      // fails the gopher word floor
      (ts(1), 2L, "too short", vecs(1)),
      // contaminated: embeds a bench 3-gram
      (ts(1), 3L, "copy of the eval set secret answer sheet found here today", vecs(1)),
      // batch 2: same embedding cell as doc 1 -> semantic dup, dropped
      (ts(2), 4L, "the board must inspect the yearly figures with diligence now", vecs(0)),
      // batch 2: distinct embedding, clean, long enough -> survives
      (ts(2), 5L, "the council will examine the quarterly outcomes with rigor soon", vecs(1)))
    def pipe(df: org.apache.spark.sql.DataFrame) = {
      val gated = RuleFilters.gopherFilter(df, "text", minWords = 8,
        maxWords = 100, minMwl = 2.0, maxMwl = 9.0,
        minAlphaFrac = 0.5, minStopHits = 1)
      // DSIR scoring as a COLUMN (logImportanceLocal's kernel inline) —
      // a join back onto the same stream would be a stream-stream join
      val scored = QualityClassifier
        .filterByQuality(gated, qcw.toSeq, dim, "text")
        .withColumn("logw", round(graft.functions.VectorExprs.linearBagScore(
          Dsir.featureStrings(col("text")), ratios.toSeq :+ 0.0, dim), 6))
        .filter(col("logw").isNotNull)
      val clean = scored
        .filter(!Contamination.mightBeContaminated(col("text"), bloomBytes, 3))
      StreamingDedup.dropSemanticWithinWatermark(clean, "embedding", "ts",
        cb, m = 8, codesPerSub = 16)
    }
    val input = MemoryStream[(Timestamp, Long, String, Seq[Double])]
    val q = pipe(input.toDF().toDF("ts", "id", "text", "embedding"))
      .writeStream.outputMode("append")
      .format("memory").queryName("curation_out").start()
    try {
      rows.groupBy(_._1).toSeq.sortBy(_._1.getTime).foreach { case (_, b) =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
      val got = spark.table("curation_out").select("id")
        .collect().map(_.getLong(0)).toSet
      assert(got === Set(1L, 5L), got.toString)
      assert(q.lastProgress.stateOperators.length === 1)
    } finally q.stop()
  }

  test("streaming exact decontamination mirrors batch Selection on a stream") {
    import graft.streaming.StreamingContamination
    implicit val sqlCtx = spark.sqlContext
    val bench = benchDocs.toDF("bid", "text")
    val input = MemoryStream[(Long, String)]
    val out = StreamingContamination.decontaminateExact(
      input.toDF().toDF("id", "text"), bench, "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("decontam_exact_out").start()
    try {
      input.addData(streamDocs: _*)
      q.processAllAvailable()
      val got = spark.table("decontam_exact_out").select("id")
        .as[Long].collect().sorted
      val want = ops.Selection.decontaminate(
          streamDocs.toDF("id", "text"), bench, "text")
        .select("id").as[Long].collect().sorted
      assert(got.toSeq === Seq(2L, 3L, 5L) && got.toSeq === want.toSeq)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming perplexity filter (local model map) equals batch, zero state") {
    import graft.ops.LanguageModel
    implicit val sqlCtx = spark.sqlContext
    val train = Seq("the cat sat on the mat", "the cat ate the fish",
      "a dog sat on a log").map(Tuple1(_)).toDF("text")
    val local = LanguageModel.localModel(
      LanguageModel.trainBigram(train, "text"))
    val v = LanguageModel.vocabSizeLocal(train, "text")
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog ate a fish"),
      (3L, "zebra quantum flux"), (4L, "single"))
    // threshold between in-domain and fully-unseen scores
    val cut = math.log(v) - 0.5
    val input = MemoryStream[(Long, String)]
    val out = LanguageModel.perplexityFilterLocal(
      input.toDF().toDF("id", "text"), local, v, "text", "id", cut)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ppl_out").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("ppl_out").select("id").as[Long].collect().sorted
      val want = LanguageModel.perplexityFilterLocal(
          docs.toDF("id", "text"), local, v, "text", "id", cut)
        .select("id").as[Long].collect().sorted
      assert(got.toSeq === want.toSeq && got.contains(1L) && !got.contains(3L))
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("composed ingest pipeline: normalize -> PII scrub -> perplexity filter -> " +
    "watermark dedup -> fuzzy decontamination equals batch; exactly one stateful op") {
    import graft.ops.{Cleaning, Dedup, LanguageModel, Pii}
    import graft.streaming.{StreamingContamination, StreamingDedup}
    implicit val sqlCtx = spark.sqlContext
    val train = Seq("the cat sat on the mat", "the cat ate the fish",
      "a dog sat on a log", "the quick brown fox jumps over the lazy dog")
      .map(Tuple1(_)).toDF("text")
    val local = LanguageModel.localModel(LanguageModel.trainBigram(train, "text"))
    val v = LanguageModel.vocabSizeLocal(train, "text")
    val cut = math.log(v.toDouble) - 0.5
    val bench = Seq((101L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bid", "text")
    // The deployment-shape chain every stage individually mirrors:
    // each stage feeds the next exactly as q_pipeline_e2e's batch
    // composition does. `dedup` is the one stage whose engine differs
    // (state store vs min-id groupBy); everything else is the SAME
    // operator object running under both engines.
    def pipeline(df: org.apache.spark.sql.DataFrame,
                 streaming: Boolean): org.apache.spark.sql.DataFrame = {
      val norm = df.withColumn("text", Cleaning.normalize(col("text")))
      val scrubbed = Pii.scrub(norm, "text")
        .withColumn("text", col("redacted"))
        .select("ts", "id", "text")
      val kept = LanguageModel.perplexityFilterLocal(
        scrubbed, local, v, "text", "id", cut)
      val deduped =
        if (streaming) StreamingDedup.dropExactWithinWatermark(
          kept, "text", "ts", delay = "10 minutes")
        else Dedup.dropExact(kept, "text", "id")
      StreamingContamination.decontaminateFuzzy(deduped, bench, "text",
        threshold = 0.7, numHashes = 6, bandSize = 1, k = 2)
    }
    // batch-1 docs carry the duplicate-group minimum ids so the batch
    // analog (min-id keeper) and the stream (first-arrival keeper)
    // choose the same survivors
    // ts starts at minute 1: an event time of exactly epoch 0 equals the
    // query's INITIAL watermark and dropDuplicatesWithinWatermark drops
    // it as late — a degenerate fixture, not pipeline behavior
    val batch1 = Seq(
      (ts(1), 1L, "the cat sat on the mat"),
      // long in-domain prefix keeps the avg bigram NLL under the cut
      // with the two post-redaction unseen bigrams (*, <PHONE>)
      (ts(1), 4L, "the cat sat on the mat the cat ate the fish 415-555-0123"))
    val batch2 = Seq(
      (ts(2), 12L, "the cat <b>sat</b> on  the mat"), // dup of 1 ONLY after normalize
      (ts(2), 3L, "zebra quantum flux"),              // perplexity reject
      (ts(3), 5L, "the quick brown fox jumps over the lazy dog")) // bench copy
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = pipeline(input.toDF().toDF("ts", "id", "text"), streaming = true)
      .select("id", "text").writeStream.outputMode("append")
      .format("memory").queryName("ingest_e2e_out").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("ingest_e2e_out")
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val want = pipeline((batch1 ++ batch2).toDF("ts", "id", "text"),
        streaming = false)
        .select("id", "text").as[(Long, String)].collect().toSeq.sortBy(_._1)
      assert(got === want, s"got=$got want=$want")
      val ids = got.map(_._1)
      assert(ids.contains(1L))                 // clean in-domain doc survives
      assert(!ids.contains(12L))               // normalized dup of 1 deduped
      assert(!ids.contains(3L))                // out-of-domain rejected
      assert(!ids.contains(5L))                // bench copy decontaminated
      assert(got.find(_._1 == 4L).get._2.contains("<PHONE>")) // scrub upstream of dedup
      // the ONLY state in the whole chain is the dedup store — every
      // other stage is a stateless projection / broadcast anti join
      assert(q.lastProgress.stateOperators.length === 1, q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("ingest pipeline ordering: dedup before normalize does NOT commute (duplicate leaks)") {
    // The first non-commuting ordering in the composed chain: the
    // dedup fingerprint already folds case/whitespace, but NOT the
    // normalize stage's tag strip — so a tag-wrapped duplicate is
    // only caught when normalize runs upstream of dedup. (Scrub/dedup
    // is the same shape: docs differing only in their PII literals
    // dedup only after redaction.) Stream and batch agree on this —
    // the ordering contract is pipeline-inherent, not engine-specific.
    import graft.ops.Cleaning
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (ts(1), 1L, "the cat sat on the mat"),  // ts(1): epoch 0 == initial watermark is dropped as late
      (ts(2), 12L, "the cat <b>sat</b> on  the mat"))
    def run(normalizeFirst: Boolean): Seq[Long] = {
      val input = MemoryStream[(Timestamp, Long, String)]
      val df = input.toDF().toDF("ts", "id", "text")
      val chain =
        if (normalizeFirst)
          StreamingDedup.dropExactWithinWatermark(
            df.withColumn("text", Cleaning.normalize(col("text"))),
            "text", "ts", delay = "10 minutes")
        else
          StreamingDedup.dropExactWithinWatermark(
            df, "text", "ts", delay = "10 minutes")
            .withColumn("text", Cleaning.normalize(col("text")))
      val name = s"order_${normalizeFirst}_out"
      val q = chain.select("id").writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        input.addData(docs.head); q.processAllAvailable()
        input.addData(docs(1)); q.processAllAvailable()
        spark.table(name).as[Long].collect().toSeq.sorted
      } finally q.stop()
    }
    assert(run(normalizeFirst = true) === Seq(1L))       // dup caught
    assert(run(normalizeFirst = false) === Seq(1L, 12L)) // dup leaks
  }

  test("streaming tokenize-on-ingest: BPE min-rank and unigram Viterbi equal batch, zero state") {
    import graft.ops.{Bpe, UnigramLm}
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val trainDf = corpus.map(Tuple1(_)).toDF("text")
    val merges = Bpe.learnBpe(trainDf, "text", 6).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val ulm = UnigramLm.train(trainDf, "text", numRounds = 2,
      maxPieceLen = 4, maxSeed = 64, keepPieces = 32)
    val docs = Seq((1L, "newest lowest"), (2L, "wid low"), (3L, ""))
    for ((name, enc) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("bpe", d => Bpe.encodeDocs(d, "text", merges)),
      ("ulm", d => UnigramLm.segmentDocs(d, "text", ulm, maxPieceLen = 4)))) {
      val input = MemoryStream[(Long, String)]
      val q = enc(input.toDF().toDF("id", "text"))
        .select("id", "subwords").writeStream.outputMode("append")
        .format("memory").queryName(s"tok_${name}_out").start()
      try {
        input.addData(docs: _*)
        q.processAllAvailable()
        val got = spark.table(s"tok_${name}_out").orderBy("id")
          .as[(Long, Seq[String])].collect().toSeq
        val want = enc(docs.toDF("id", "text")).select("id", "subwords")
          .orderBy("id").as[(Long, Seq[String])].collect().toSeq
        assert(got === want, name)
        assert(got.map(_._2.nonEmpty) === Seq(true, true, false), name)
        assert(q.lastProgress.stateOperators.isEmpty, name)
      } finally q.stop()
    }
  }

  test("streaming CSV ingest: quarantine conservation across " +
    "micro-batches, per-shard headers drop (the readJsonlStream mirror)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_stream")
    def writeShard(name: String, lines: String): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      java.nio.file.Files.writeString(tmp, lines)
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      val hdr = "doc_id,text,lang,source"
      writeShard("a.csv",
        hdr + "\n1,first doc,en,w\nnotanumber,bad,en,w\n")
      val r = graft.sources.Ingest.readCsvStream(spark, dir.toString)
      assert(r.docs.isStreaming && r.quarantine.isStreaming)
      val qd = r.docs.writeStream.outputMode("append")
        .format("memory").queryName("csv_docs_out").start()
      val qq = r.quarantine.writeStream.outputMode("append")
        .format("memory").queryName("csv_quar_out").start()
      try {
        qd.processAllAvailable(); qq.processAllAvailable()
        writeShard("b.csv", hdr + "\n2,second doc,fr,b\n\n")
        qd.processAllAvailable(); qq.processAllAvailable()
        val docs = spark.table("csv_docs_out")
          .orderBy("doc_id").collect()
          .map(x => (x.getLong(0), x.getString(1)))
        assert(docs.toSeq === Seq((1L, "first doc"), (2L, "second doc")))
        val quar = spark.table("csv_quar_out").collect().map(_.getString(0))
        assert(quar.length === 2) // malformed + blank; headers dropped
        assert(quar.exists(_.contains("notanumber")))
        // stateless ingest: no state operators on either branch
        assert(qd.lastProgress.stateOperators.isEmpty)
        assert(qq.lastProgress.stateOperators.isEmpty)
      } finally { qd.stop(); qq.stop() }
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      java.nio.file.Files.delete(dir)
    }
  }

  test("streaming MULTILINE CSV ingest: quoted embedded newlines parse " +
    "as one record per micro-batch, record-grain quarantine, " +
    "conservation (the readCsvMultiline mirror)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvml_stream")
    def writeShard(name: String, lines: String): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      java.nio.file.Files.writeString(tmp, lines)
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      val hdr = "doc_id,text,lang,source"
      writeShard("a.csv",
        hdr + "\n1,\"line one\nline two, \"\"q\"\"\",en,w\nnotanumber,bad,en,w\n")
      val r = graft.sources.Ingest.readCsvMultilineStream(spark, dir.toString)
      assert(r.docs.isStreaming && r.quarantine.isStreaming)
      val qd = r.docs.writeStream.outputMode("append")
        .format("memory").queryName("csvml_docs_out").start()
      val qq = r.quarantine.writeStream.outputMode("append")
        .format("memory").queryName("csvml_quar_out").start()
      try {
        qd.processAllAvailable(); qq.processAllAvailable()
        writeShard("b.csv", hdr + "\n2,\"second\ndoc\",fr,b\n")
        qd.processAllAvailable(); qq.processAllAvailable()
        val docs = spark.table("csvml_docs_out")
          .orderBy("doc_id").collect()
          .map(x => (x.getLong(0), x.getString(1)))
        assert(docs.toSeq === Seq(
          (1L, "line one\nline two, \"q\""), (2L, "second\ndoc")))
        val quar = spark.table("csvml_quar_out").collect()
          .map(x => (x.getString(0), x.getString(1)))
        assert(quar.length === 1)
        assert(quar.head._1.contains("notanumber"))
        assert(quar.head._2.endsWith("a.csv"))
        // stateless ingest: no state operators on either branch
        assert(qd.lastProgress.stateOperators.isEmpty)
        assert(qq.lastProgress.stateOperators.isEmpty)
      } finally { qd.stop(); qq.stop() }
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      java.nio.file.Files.delete(dir)
    }
  }

  test("streaming JSONL ingest: quarantine conservation across " +
    "micro-batches, docs feed a stateless curation op, batch-equal (r12 #8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_stream")
    def writeShard(name: String, lines: String): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      java.nio.file.Files.writeString(tmp, lines)
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      writeShard("a.jsonl",
        """{"doc_id": 1, "text": "the committee shall review the annual report with care today", "lang": "en", "source": "w"}
          |broken line one
          |{"doc_id": 2, "text": "too short", "lang": "en", "source": "w"}
          |""".stripMargin)
      val r = graft.sources.Ingest.readJsonlStream(spark, dir.toString)
      assert(r.docs.isStreaming && r.quarantine.isStreaming)
      // docs branch feeds the REAL curation stages on the stream —
      // Gopher document gate, then bloom n-gram decontamination (both
      // stateless map-only, the streaming-curation chain's front half)
      val bench = Seq((90L, "the eval set secret answer sheet rows"))
        .toDF("id", "text")
      val bloomBytes = graft.ops.Contamination.benchNgramBloom(
        bench, "text", k = 3)
      val curated = graft.ops.RuleFilters.gopherFilter(r.docs, "text",
          minWords = 8, maxWords = 100, minMwl = 2.0, maxMwl = 9.0,
          minAlphaFrac = 0.5, minStopHits = 1)
        .filter(!graft.ops.Contamination.mightBeContaminated(
          col("text"), bloomBytes, 3))
        .select("doc_id", "lang")
      val qd = curated.writeStream.outputMode("append")
        .format("memory").queryName("jsonl_docs_out").start()
      val qq = r.quarantine.writeStream.outputMode("append")
        .format("memory").queryName("jsonl_quar_out").start()
      try {
        qd.processAllAvailable(); qq.processAllAvailable()
        // second micro-batch arrives as a new file: one contaminated
        // doc (embeds a bench 3-gram), one clean survivor, one
        // truncated JSON line
        writeShard("b.jsonl",
          """{"doc_id": 3, "text": "leaked copy of the eval set secret answer sheet found here", "lang": "en", "source": "b"}
            |{"doc_id": 4, "text": "the council will examine the quarterly outcomes with rigor soon", "lang": "fr", "source": "b"}
            |{"bad": [unterminated
            |""".stripMargin)
        qd.processAllAvailable(); qq.processAllAvailable()
        val docsGot = spark.table("jsonl_docs_out")
          .select("doc_id", "lang").collect()
          .map(x => x.getLong(0) -> x.getString(1)).toMap
        // doc 2 fails the gopher word floor; doc 3 is decontaminated
        assert(docsGot === Map(1L -> "en", 4L -> "fr"))
        val quarGot = spark.table("jsonl_quar_out")
          .as[String].collect().sorted
        assert(quarGot.length === 2)
        assert(quarGot.exists(_.contains("broken line")))
        assert(quarGot.exists(_.contains("unterminated")))
        // conservation vs the BATCH reader over the same files: every
        // line lands exactly once on each side of the split
        val batch = graft.sources.Ingest.readJsonl(spark, dir.toString)
        assert(batch.docs.count() === 4)  // pre-curation docs
        assert(batch.quarantine.count() === quarGot.length)
        // stateless plumbing: no state operators in either stream
        assert(qd.lastProgress.stateOperators.isEmpty)
        assert(qq.lastProgress.stateOperators.isEmpty)
      } finally { qd.stop(); qq.stop() }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir.toFile)
    }
  }
  test("taggedUnion NTZ key mapping is zone-free: injective across a " +
    "DST spring-forward gap (r14 review)") {
    import graft.streaming.StreamingAsof
    // In America/Los_Angeles the wall hour 02:00-02:59 of 2026-03-08
    // does not exist; the old cast(TimestampType)->unix_micros mapping
    // resolved NTZ 02:15 and 03:15 to the SAME instant, merging two
    // distinct keys' state. The zone-free field-arithmetic mapping
    // must keep them exactly one wall hour apart.
    val old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      import java.time.LocalDateTime
      val a = LocalDateTime.of(2026, 3, 8, 2, 15, 0)
      val b = LocalDateTime.of(2026, 3, 8, 3, 15, 0)
      val left = Seq((1L, a, 1.0), (1L, b, 2.0)).toDF("key", "ts", "v")
      assert(left.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampNTZType)
      val ev = StreamingAsof.taggedUnion(left, left.limit(0),
          "key", "ts", "v")
        .collect().sortBy(_.ts)
      assert(ev.length === 2)
      assert(ev(1).ts - ev(0).ts === 3600L * 1000000L)
      // and the absolute value is the wall-clock convention:
      // days-since-epoch * 86.4e9 + time-of-day micros
      val days = java.time.LocalDate.of(2026, 3, 8).toEpochDay
      assert(ev(0).ts === days * 86400000000L + (2L * 3600 + 15 * 60) * 1000000L)
    } finally spark.conf.set("spark.sql.session.timeZone", old)
  }
  test("taggedUnion rejects mixed ts/key dtypes across sides — the " +
    "per-dtype long mappings are mutually incomparable scales (r14 " +
    "review)") {
    import graft.streaming.StreamingAsof
    import org.apache.spark.sql.functions.col
    val tsSide = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:01"),
      1.0)).toDF("key", "ts", "v")
    val ntzSide = tsSide.withColumn("ts",
      col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
    val e = intercept[IllegalArgumentException] {
      StreamingAsof.taggedUnion(tsSide, ntzSide, "key", "ts", "v")
    }
    assert(e.getMessage.contains("dtype differs across sides"))
    val intKeySide = tsSide.withColumn("key", col("key").cast("int"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingAsof.taggedUnion(tsSide, intKeySide, "key", "ts", "v")
    }
    assert(e2.getMessage.contains("dtype differs across sides"))
    // same-dtype sides still union fine
    assert(StreamingAsof.taggedUnion(tsSide, tsSide, "key", "ts", "v")
      .collect().length === 2)
  }
  test("streaming shard sink: per-epoch manifest commit, exactly-once " +
    "replay skip, kill-recovery rewrite (r13 missing #2)") {
    import graft.ops.Selection
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files.createTempDirectory("shardstream")
    val out = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    val docs = input.toDS().toDF("doc_id", "text")
    val q = Selection.writeShardsStream(docs, "text", "doc_id", 2, out, ckpt)
    try {
      input.addData((1L, "alpha beta"), (2L, "gamma delta epsilon"),
        (3L, "zeta eta theta iota"))
      q.processAllAvailable()
      input.addData((4L, "kappa lambda"), (5L, "mu nu xi"))
      q.processAllAvailable()
      // both epochs committed and file-verified
      assert(Selection.verifyShardsStream(spark, out) === Seq(0L, 1L))
      // conservation: the union of epochs is exactly the input
      val ids = Seq(0L, 1L)
        .flatMap(e => spark.read.parquet(s"$out/epoch=$e")
          .select("doc_id").collect().map(_.getLong(0)))
      assert(ids.sorted === Seq(1L, 2L, 3L, 4L, 5L))
      // exactly-once: replaying a COMMITTED epoch is a no-op (same
      // batch data, same id) — file names (task UUIDs) prove no write
      def files(e: Long): Set[String] = {
        val b = scala.collection.mutable.Set[String]()
        java.nio.file.Files.walk(java.nio.file.Paths.get(out, s"epoch=$e"))
          .forEach(p => if (p.getFileName.toString.startsWith("part-"))
            b += p.toString)
        b.toSet
      }
      val before = files(1L)
      val batch1 = Seq((4L, "kappa lambda"), (5L, "mu nu xi"))
        .toDF("doc_id", "text")
      assert(!Selection.writeShardsEpoch(batch1, 1L, "text", "doc_id", 2, out))
      assert(files(1L) === before, "replay of a committed epoch rewrote it")
      // kill-recovery: a lost manifest (the kill-between-write-and-
      // commit state) makes the replay rewrite the epoch whole, and
      // the recovered manifest is byte-identical (deterministic
      // content-keyed sharding)
      val mPath = java.nio.file.Paths.get(out, "epoch=1", "_MANIFEST.json")
      val golden = java.nio.file.Files.readString(mPath)
      java.nio.file.Files.delete(mPath)
      assert(Selection.writeShardsEpoch(batch1, 1L, "text", "doc_id", 2, out))
      assert(java.nio.file.Files.readString(mPath) === golden)
      assert(Selection.verifyShardsStream(spark, out) === Seq(0L, 1L))
      // and a corrupted-but-manifested epoch is also rewritten (the
      // verify inside the epoch gate, not mere manifest existence)
      val victim = files(1L).head
      java.nio.file.Files.delete(java.nio.file.Paths.get(victim))
      assert(Selection.writeShardsEpoch(batch1, 1L, "text", "doc_id", 2, out))
      assert(java.nio.file.Files.readString(mPath) === golden)
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir.toFile)
    }
  }

  test("streaming crawl ingest: WARC bytes → parse → extract → bloom " +
    "URL dedup, one stateless map-only pipeline equal to batch") {
    import graft.ops.Web
    import graft.sources.Warc
    implicit val sqlCtx = spark.sqlContext
    // corpus index: the fixture response's URL is already published
    val corpus = Seq((1L, "https://example.com/a?x=1", 1L))
      .toDF("doc_id", "url", "score")
    val idx = Web.urlIndex(corpus, "url", "doc_id", "score")
    val bloom = Web.urlKeyBloom(idx, fpp = 0.01, sizeForKeys = Some(100L))
    def pipeline(files: org.apache.spark.sql.Dataset[(String, Array[Byte])]) =
      Web.dropUrlsAgainstBloom(
        Warc.parseFiles(files).toDF()
          .filter(col("httpStatus") === 200)
          .select(col("targetUri").as("url"),
            Web.htmlToText(decode(col("payload"), "UTF-8")).as("txt")),
        "url", bloom)
    val oneFile = ("day1.warc", Warc.fixtureWarc())
    val batchOut = pipeline(Seq(oneFile).toDS()).collect()
    // the fixture response canonicalizes to https://example.com/a —
    // NOT indexed (corpus has /a?x=1) → survives with its text
    assert(batchOut.map(_.getString(1)).toSeq === Seq("hello & crawl"))
    val input = MemoryStream[(String, Array[Byte])]
    val q = pipeline(input.toDS()).writeStream.outputMode("append")
      .format("memory").queryName("crawl_ingest_out").start()
    try {
      input.addData(oneFile); q.processAllAvailable()
      val got = spark.table("crawl_ingest_out").collect()
      assert(got.map(_.getString(1)).toSeq ===
        batchOut.map(_.getString(1)).toSeq)
      assert(q.lastProgress.stateOperators.isEmpty,
        "crawl ingest must be stateless end to end")
    } finally q.stop()
  }

  test("streaming container-metadata gate: containerMetas runs on a " +
    "media stream with zero state, batch-equal — the pre-decode " +
    "resolution filter at ingest") {
    import graft.ops.Multimodal._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      MediaRow(1L, fixtureWebpLossy(3840, 2160)),
      MediaRow(2L, fixtureMp4(640, 360, durationMs = 601000L)),
      MediaRow(3L, "junk".getBytes("UTF-8")))
    // the gate: drop >1080p stills and >10-minute clips, keep errors
    // for a quarantine sink
    def gate(ds: org.apache.spark.sql.Dataset[MediaRow]) =
      containerMetas(ds).filter(m =>
        m.error != null || (m.height <= 1080 && m.durationMs <= 600000L))
    val batch = gate(spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow]))
      .collect().map(_.id).sorted
    assert(batch === Array(3L), "4K still and 10-min clip must drop")
    val input = MemoryStream[MediaRow]
    val q = gate(input.toDS()).writeStream.outputMode("append")
      .format("memory").queryName("container_gate_out").start()
    try {
      input.addData(rows: _*); q.processAllAvailable()
      val got = spark.table("container_gate_out").collect()
        .map(_.getLong(0)).sorted
      assert(got === batch)
      assert(q.lastProgress.stateOperators.isEmpty, "must be stateless")
    } finally q.stop()
  }

  test("streaming link-graph production: WARC stream → href extraction " +
    "→ domain edges is the same stateless map chain as batch (rank " +
    "itself stays a batch job over the accumulated edges)") {
    import graft.ops.Web
    import graft.sources.Warc
    implicit val sqlCtx = spark.sqlContext
    def edges(files: org.apache.spark.sql.Dataset[(String, Array[Byte])]) =
      Web.edgesFromDocuments(
        Warc.parseFiles(files).toDF()
          .filter(col("httpStatus") === 200)
          .select(col("targetUri").as("url"),
            decode(col("payload"), "UTF-8").as("html")),
        "url", "html")
    val oneFile = ("linked.warc", Warc.fixtureLinkedCrawl())
    val batchEdges = edges(Seq(oneFile).toDS()).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    assert(batchEdges === Array(("alpha.com", "beta.com"),
      ("alpha.com", "gamma.com"), ("beta.com", "alpha.com"),
      ("beta.com", "alpha.com")))
    val input = MemoryStream[(String, Array[Byte])]
    val q = edges(input.toDS()).writeStream.outputMode("append")
      .format("memory").queryName("stream_edges_out").start()
    try {
      input.addData(oneFile); q.processAllAvailable()
      val got = spark.table("stream_edges_out").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted
      assert(got === batchEdges)
      assert(q.lastProgress.stateOperators.isEmpty,
        "edge production must be stateless")
    } finally q.stop()
  }

  test("streaming WAT ingest: the precomputed-link projection is the " +
    "same stateless map chain on a stream — batch-equal rows, zero " +
    "state, quarantine row included (r20 WAT mirror)") {
    import graft.sources.{Warc, Wat}
    implicit val sqlCtx = spark.sqlContext
    def links(files: org.apache.spark.sql.Dataset[(String, Array[Byte])]) =
      Wat.linksFromRecords(Warc.parseFiles(files).toDF())
        .select(col("url"), col("http_status"), col("link_idx"),
          col("link_path"), col("raw_href"), col("href"), col("error"))
    val oneFile = ("f.wat", Wat.fixtureWat())
    val batch = links(Seq(oneFile).toDS()).collect().map(_.toString).sorted
    assert(batch.length === 13, s"fixture shape: ${batch.toSeq}")
    val input = MemoryStream[(String, Array[Byte])]
    val q = links(input.toDS()).writeStream.outputMode("append")
      .format("memory").queryName("stream_wat_out").start()
    try {
      input.addData(oneFile); q.processAllAvailable()
      val got = spark.table("stream_wat_out").collect()
        .map(_.toString).sorted
      assert(got === batch)
      assert(q.lastProgress.stateOperators.isEmpty,
        "WAT link production must be stateless")
    } finally q.stop()
  }

  test("streaming URL dedup against a static index: the batch operator " +
    "runs unchanged on a stream (stream-static anti-join, zero state); " +
    "the bloom mirror is map-only and only over-drops") {
    import graft.ops.Web
    implicit val sqlCtx = spark.sqlContext
    // canonical identity = site(i % 5); corpus indexes sites 0..2, so
    // stream rows with i % 5 ∈ {3, 4} are new
    def urlOf(i: Int) = {
      val www = if (i % 2 == 0) "www." else ""
      s"https://${www}site${i % 5}.com/p?utm_x=$i&a=1"
    }
    val corpus = (0 to 2).map(i => (i.toLong, urlOf(i), 1L))
      .toDF("doc_id", "url", "score")
    val idx = Web.urlIndex(corpus, "url", "doc_id", "score")
      .localCheckpoint() // static side, computed once
    val streamRows = (100 to 119).map(i => (i.toLong, urlOf(i)))
    val expected = streamRows.collect {
      case (id, _) if id % 5 >= 3 => id
    }.toSet
    val input = MemoryStream[(Long, String)]
    val out = Web.dropUrlsAgainstIndex(
      input.toDF().toDF("doc_id", "url"), "url", idx)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("url_dedup_out").start()
    try {
      val (first, rest) = streamRows.splitAt(streamRows.length / 2)
      input.addData(first: _*); q.processAllAvailable()
      input.addData(rest: _*); q.processAllAvailable()
      val got = spark.table("url_dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got === expected, s"got $got expected $expected")
      assert(q.lastProgress.stateOperators.isEmpty,
        "URL index lookup must be stateless (stream-static join only)")
    } finally q.stop()
    // bloom mirror: map-only (no join at all in the plan), survivors a
    // subset of the exact path's
    val bloom = Web.urlKeyBloom(idx, fpp = 0.01, sizeForKeys = Some(1000L))
    val input2 = MemoryStream[(Long, String)]
    val out2 = Web.dropUrlsAgainstBloom(
      input2.toDF().toDF("doc_id", "url"), "url", bloom)
    val q2 = out2.writeStream.outputMode("append")
      .format("memory").queryName("url_bloom_out").start()
    try {
      input2.addData(streamRows: _*); q2.processAllAvailable()
      val got2 = spark.table("url_bloom_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got2.subsetOf(expected), s"bloom must only over-drop")
      assert(q2.lastProgress.stateOperators.isEmpty)
    } finally q2.stop()
  }
}
