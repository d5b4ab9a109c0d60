package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: name, start, end (epoch microseconds) and the
  * span that caused it (-1 for the root). */
final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

/** Epoch-microsecond clock shared by the benchmark's own spans and the
  * listener events (which Spark stamps in epoch milliseconds). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** JVM-wide counters read around each timed region. */
object JvmCounters {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  /** Heap in use after a full collection. Spark's ContextCleaner frees
    * the blocks of collected plans from its own thread after the first
    * collection; the second one, after a pause, collects those too, so
    * the reading does not depend on that race. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    heapUsedMb
  }
  def heapMaxMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0
}

/** Execution counters of the Spark jobs that carried one tag. */
final class JobCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuMs = 0.0
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spillMemory = 0L; var spillDisk = 0L
  var scanRows = 0L; var scanBytes = 0L
  /** (start, end) epoch ms of each finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listeners plus span store for a traced run. Every job a timed
  * phase submits carries the local property `perfbench.tag`
  * ("<op>/<phase>"), so job, stage and task events are attributed
  * exactly; Catalyst phase times arrive through the
  * QueryExecutionListener with their own timestamps and streaming
  * progress through the StreamingQueryListener. Spans stay in memory
  * and are written out once at the end of the run. */
final class Tracer(spark: SparkSession) {
  val TagKey = "perfbench.tag"
  private val counters = new ConcurrentHashMap[String, JobCounters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** (phase name, start ms, end ms) of every finished QueryExecution. */
  private val catalyst = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  /** Tag of the phase the client thread entered last. Jobs submitted
    * from other threads (streaming micro-batches) carry no local
    * property; in the closed loop they belong to the current phase. */
  @volatile private var active: String = null

  private def of(tag: String) = counters.computeIfAbsent(tag, _ => new JobCounters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse(active)
      if (tag != null) {
        jobStart.put(e.jobId, (tag, e.time))
        e.stageIds.foreach(stageTag.put(_, tag))
        val c = of(tag); c.synchronized { c.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (tag, t0) =>
        val c = of(tag); c.synchronized { c.jobIntervals += ((t0, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
        val c = of(tag); c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).foreach { tag =>
        val m = e.taskMetrics
        val c = of(tag)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.cpuMs += m.executorCpuTime / 1e6
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spillMemory += m.memoryBytesSpilled
            c.spillDisk += m.diskBytesSpilled
            c.scanRows += m.inputMetrics.recordsRead
            c.scanBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      catalyst.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          if (phase != "parsing") catalyst += ((phase, s.startTimeMs, s.endTimeMs))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Runs `body` with its jobs tagged `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    active = tag
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  def span(parent: Int, name: String, startUs: Long, endUs: Long): Int = spans.synchronized {
    val id = spans.size
    spans += Span(id, parent, name, startUs, endUs)
    id
  }

  /** Closes a span opened before its end was known. */
  def replaceEnd(id: Int, endUs: Long): Unit =
    spans.synchronized { spans(id) = spans(id).copy(endUs = endUs) }

  /** Counters of one tag, removed from the store. */
  def take(tag: String): JobCounters =
    Option(counters.remove(tag)).getOrElse(new JobCounters)

  def takeCatalyst(): Seq[(String, Long, Long)] =
    catalyst.synchronized { val r = catalyst.toList; catalyst.clear(); r }

  def takeProgress(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.synchronized { val r = progress.toList; progress.clear(); r }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

object Spans {
  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> ((s.endUs - s.startUs) - covered(kids, s.startUs, s.endUs))
    }.toMap
  }

  def toJson(spans: Seq[Span]): String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
