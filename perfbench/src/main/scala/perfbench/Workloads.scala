package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.api.{GroupByReduce, GroupByScan}
import graft.ops.Dedup
import graft.streaming.{StreamingDedup, StreamingGroupBy, StreamingScan}
import graft.streaming.StreamingScan.ScanEvent

/** One timed operation. `construct` runs the program's public
  * constructor (or feeds a micro-batch) and returns the action, which
  * is timed separately. `module` names the graft module whose public
  * function the operation calls; the traced run rolls metrics up by it. */
trait Op {
  def name: String
  def module: String
  def construct(spark: SparkSession): () => Unit
}

/** The inputs and operations of one workload. */
trait Workload {
  def name: String
  /** Resolves inputs for a fresh session; part of the timed set-up. */
  def open(spark: SparkSession, data: String, work: String): Unit
  /** The operations of one pass, in run order. */
  def pass(): Seq[Op]
  /** True once the workload has no further input for another pass. */
  def exhausted: Boolean = false
  /** Untimed clean-up after each operation. */
  def teardown(spark: SparkSession): Unit = ()
  /** The keyed input that `Dispatch.keyStats` is timed on. */
  def keyedInput(spark: SparkSession): DataFrame
  /** The warm-up pass ending the set-up; returns (operation, error) for
    * each failure. Catalog workloads write each result to `out` for the
    * check. */
  def warmUp(spark: SparkSession, out: String): Seq[(String, String)]
  /** Untimed output check, run once: (operation, error) for each failure. */
  def check(spark: SparkSession, out: String): Seq[(String, String)]
  def close(): Unit = ()
}

object Workloads {
  /** Catalog queries (name, module) of the batch workload. Over the
    * sf0.1 row tables: flox-core reductions and scans (an exact
    * quantile, the GlobalScan carry tier, the events skew tier) and the
    * bucketed-layout write plus read. Over the 500-row text and vector
    * tables and the fixed WARC fixture: pipeline operators whose cost is
    * mostly the per-query floor (construction-time jobs, planning,
    * codegen, tiny jobs). */
  val batchOps: Seq[(String, String)] = Seq(
    "q_quantile" -> "api.reduce", "q_ffill_dist" -> "api.scan",
    "q_bucketed_agg" -> "api.layout", "q_rolling_skewed" -> "ops.events",
    "q_minhash" -> "ops.dedup", "q_embed_topk" -> "ops.similarity",
    "q_doc_tokens" -> "ops.text", "q_web_e2e" -> "ops.web",
    "q_warc_read" -> "sources")

  def apply(name: String): Workload = name match {
    case "batch_sweep" => new CatalogWorkload(name, batchOps)
    case "stream_ingest" => new StreamWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Catalog queries from `SparkEntry.queries`, each written to the
  * `noop` sink, in sorted order. */
final class CatalogWorkload(val name: String, entries: Seq[(String, String)]) extends Workload {
  private var data: String = _
  private val ops: Seq[Op] = entries.sortBy(_._1).map { case (q, m) =>
    val fn = SparkEntry.queries.getOrElse(q, sys.error(s"query $q is not in SparkEntry.queries"))
    new Op {
      val name = q
      val module = m
      def construct(spark: SparkSession): () => Unit = {
        val df = fn(spark, data)
        () => df.write.format("noop").mode("overwrite").save()
      }
    }
  }

  def open(spark: SparkSession, data: String, work: String): Unit = {
    this.data = data
    Seq("lineitem", "orders", "events", "documents", "embeddings")
      .foreach(t => Tables(spark, data, t))
  }

  def pass(): Seq[Op] = ops

  /** Pins and cached plans of the finished query are released before
    * the next one, as a one-job-per-session pipeline would. Blocking, so
    * no pin outlives its query into the next one's live-set reading. */
  override def teardown(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def keyedInput(spark: SparkSession): DataFrame = Tables(spark, data, "events")

  /** Writes each query's result as parquet plus its oracle SQL; the
    * DuckDB compare of these files runs outside the JVM (check.py). */
  def warmUp(spark: SparkSession, out: String): Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    val failed = ops.flatMap { op =>
      val err = try {
        SparkEntry.queries(op.name)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/${op.name}")
        if (oracle.contains(op.name)) None else Some("no oracle SQL")
      } catch { case e: Throwable => Some(s"threw: $e") }
      teardown(spark)
      err.map(op.name -> _)
    }
    val sql = ops.flatMap(op => oracle.get(op.name).map(s => Json.str(op.name) + ":" + Json.str(s)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      sql.mkString("{", ",\n", "}\n"))
    failed
  }

  def check(spark: SparkSession, out: String): Seq[(String, String)] = Nil
}

/** One producer feeds seeded micro-batches of the generated events and
  * documents through MemoryStream into three streaming operators. Each
  * pass adds the next micro-batch to every stream; each
  * `processAllAvailable()` is one timed operation. */
final class StreamWorkload extends Workload {
  val name = "stream_ingest"
  val EventsPerBatch = 200
  val DocsPerBatch = 10
  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private var events: Array[(Long, Long, Long, Double)] = _ // event_id, ts ms, user, value
  private var docs: Array[(Long, String)] = _
  private var batch = 0
  private var data: String = _
  private var queries: Seq[StreamingQuery] = Nil
  private var evIn: MemoryStream[(Timestamp, Long, Double)] = _
  private var docIn: MemoryStream[(Timestamp, Long, String)] = _
  private var scanIn: MemoryStream[ScanEvent] = _

  private def evSlice(b: Int) = events.slice(b * EventsPerBatch, (b + 1) * EventsPerBatch)
  private def docSlice(b: Int) = docs.slice(b * DocsPerBatch, (b + 1) * DocsPerBatch)
  /** Documents of micro-batch b share the event time T0 + b seconds. */
  private def docTs(b: Int) = new Timestamp(T0 + b * 1000L)
  private def scanValue(id: Long, v: Double): Option[Double] = if (id % 13 == 0) None else Some(v)

  def open(spark: SparkSession, data: String, work: String): Unit = {
    this.data = data
    import spark.implicits._
    docs = Tables(spark, data, "documents").select("doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    // the documents bound the number of micro-batches; only the events
    // those batches can feed are read
    val ev = Tables(spark, data, "events")
    events = ev.select(col("event_id"), (Tables.tsMicros(ev) / 1000).cast("long"),
        col("user_id"), col("value")).orderBy("event_id")
      .limit(docs.length / DocsPerBatch * EventsPerBatch)
      .as[(Long, Long, Long, Double)].collect()
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    evIn = MemoryStream[(Timestamp, Long, Double)]
    docIn = MemoryStream[(Timestamp, Long, String)]
    scanIn = MemoryStream[ScanEvent]
    val win = StreamingGroupBy.windowedReduce(evIn.toDF().toDF("ts", "user_id", "value"),
      "ts", Seq("user_id"),
      Seq(("value", "sum", "s"), ("value", "count", "n"), ("value", "max", "mx")),
      "1 hour", watermarkDelay = "10 minutes")
    val dedup = StreamingDedup.dropNearDupsWithinWatermark(
      docIn.toDF().toDF("ts", "id", "text"), "text", "id", "ts",
      numHashes = 4, bandSize = 1, k = 3, delay = "1 day", windowLen = "1 minute")
    val scan = StreamingScan.ffillCumsum(scanIn.toDS())
    def start(df: DataFrame, q: String) = df.writeStream.outputMode("append")
      .format("memory").queryName(q)
      .option("checkpointLocation", s"$work/checkpoints/$q").start()
    queries = Seq(start(win, "win"), start(dedup, "dedup"), start(scan.toDF(), "scan"))
  }

  override def exhausted: Boolean =
    (batch + 1) * EventsPerBatch > events.length || (batch + 1) * DocsPerBatch > docs.length

  private def op(n: String, q: StreamingQuery)(feed: => Unit): Op = new Op {
    val name = n
    val module = "streaming"
    def construct(spark: SparkSession): () => Unit = { feed; () => q.processAllAvailable() }
  }

  def pass(): Seq[Op] = {
    val b = batch
    batch += 1
    Seq(
      op("windowed_reduce", queries(0))(evIn.addData(evSlice(b).map { case (_, t, u, v) =>
        (new Timestamp(t), u, v) }.toIndexedSeq)),
      op("near_dup_drop", queries(1))(docIn.addData(docSlice(b).map { case (id, t) =>
        (docTs(b), id, t) }.toIndexedSeq)),
      op("ffill_cumsum", queries(2))(scanIn.addData(evSlice(b).map { case (id, _, u, v) =>
        ScanEvent(u, id, scanValue(id, v)) }.toIndexedSeq)))
  }

  def keyedInput(spark: SparkSession): DataFrame = Tables(spark, data, "events")

  def warmUp(spark: SparkSession, out: String): Seq[(String, String)] =
    pass().flatMap { op =>
      try { op.construct(spark)(); None }
      catch { case e: Throwable => Some(op.name -> s"warm-up threw: $e") }
    }

  /** Flushes every window with a far-future row, then compares each
    * sink with its batch twin over the same rows. */
  def check(spark: SparkSession, out: String): Seq[(String, String)] = {
    import spark.implicits._
    val fed = batch
    val flush = new Timestamp(T0 + 400L * 86400000L)
    evIn.addData((flush, -1L, 0.0))
    docIn.addData((flush, -1L, "flush"))
    queries.foreach(_.processAllAvailable())
    def guard(n: String)(body: => Option[String]): Option[(String, String)] =
      (try body catch { case e: Throwable => Some(s"threw: $e") }).map(n -> _)
    val evFed = events.take(fed * EventsPerBatch)
    val evDf = evFed.toSeq.map { case (id, t, u, v) => (id, new Timestamp(t), u, v) }
      .toDF("event_id", "ts", "user_id", "value")

    val win = guard("windowed_reduce") {
      def key(r: Row) = (r.getTimestamp(0).getTime, r.getLong(1))
      val got = spark.table("win")
        .select(col("window.start"), col("user_id"), col("s"), col("n"), col("mx")).collect()
        .map(r => key(r) -> (r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
      val want = GroupByReduce.multi(
          evDf.withColumn("w", window(col("ts"), "1 hour").getField("start")),
          Seq("w", "user_id"),
          Seq(("value", "sum", "s"), ("value", "count", "n"), ("value", "max", "mx")))
        .select("w", "user_id", "s", "n", "mx").collect()
        .map(r => key(r) -> (r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
      val bad = want.collect { case (k, (s, n, mx)) if !got.get(k).exists { case (s2, n2, mx2) =>
        math.abs(s - s2) <= 1e-9 * math.max(1.0, math.abs(s)) && n == n2 && mx == mx2 } => k }
      if (got.size != want.size) Some(s"${got.size} windows, batch twin has ${want.size}")
      else if (bad.nonEmpty) Some(s"${bad.size} windows differ, e.g. ${bad.head}")
      else None
    }

    val scan = guard("ffill_cumsum") {
      def row(r: Row) = (r.getLong(1), (Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4)))
      val got = spark.table("scan").collect().map(row).toMap
      val scanDf = evFed.toSeq.map { case (id, _, u, v) => (u, id, scanValue(id, v)) }
        .toDF("key", "idx", "value")
      val ff = GroupByScan(scanDf, Seq("key"), "value", "ffill", "idx", "filled")
      val want = GroupByScan(ff, Seq("key"), "value", "nancumsum", "idx", "cumsum")
        .select("key", "idx", "value", "filled", "cumsum").collect().map(row).toMap
      val bad = want.collect { case (k, (f, c)) if !got.get(k).exists { case (f2, c2) =>
        f == f2 && math.abs(c - c2) <= 1e-9 * math.max(1.0, math.abs(c)) } => k }
      if (got.size != want.size) Some(s"${got.size} rows, batch twin has ${want.size}")
      else if (bad.nonEmpty) Some(s"${bad.size} rows differ, e.g. idx ${bad.head}")
      else None
    }

    // Ties inside one micro-batch keep whichever row the dedup operator
    // meets first, so the check asserts only what the stream order
    // fixes: survivors share no band key with each other or with any
    // earlier micro-batch, and a document sharing no band key with any
    // other document survives.
    val dedup = guard("near_dup_drop") {
      val got = spark.table("dedup").select("id").as[Long].collect().toSet
      val fedDocs = (0 until fed).flatMap(b => docSlice(b).map { case (id, t) => (b, id, t) })
      val sig = Dedup.withMinhashSignature(fedDocs.toDF("b", "id", "text"), "text", 4, 3)
        .select(col("b"), col("id"), array((0 until 4).map(h => col(s"mh$h")): _*))
        .as[(Int, Long, Seq[Long])].collect()
      val keys = sig.map { case (b, id, mh) => id -> (b, mh.zipWithIndex.toSet) }.toMap
      val owners = sig.toSeq.flatMap { case (b, id, mh) => mh.zipWithIndex.map(k => k -> (b, id)) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val leaked = got.toSeq.filter { id =>
        val (b, ks) = keys(id)
        ks.exists(k => owners(k).exists { case (b2, id2) => id2 != id && (b2 < b || got(id2)) })
      }
      val lost = keys.collect { case (id, (_, ks)) if !got(id) && ks.forall(k => owners(k).size == 1) => id }
      if (!got.subsetOf(keys.keySet)) Some("survivor that was never fed")
      else if (leaked.nonEmpty) Some(s"${leaked.size} survivors share a band key, e.g. ${leaked.head}")
      else if (lost.nonEmpty) Some(s"${lost.size} unique documents dropped, e.g. ${lost.head}")
      else None
    }
    Seq(win, scan, dedup).flatten
  }

  override def close(): Unit = { queries.foreach(_.stop()); queries = Nil }
}
