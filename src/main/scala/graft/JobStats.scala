package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Run queries under a SparkListener that counts jobs / stages / tasks
  * and sums task time — the r21 instrument separating scheduling-bound
  * queries (wall >> task-time/cores, many tiny sequential jobs) from
  * compute-bound ones. Same session shape and noop sink as Bench.
  *
  * Usage: runMain graft.JobStats [--repeat=N] <q1> [q2 ...]
  */
object JobStats {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeat = args.collectFirst { case a if a.startsWith("--repeat=") =>
      a.stripPrefix("--repeat=").toInt }.getOrElse(2)
    val names = args.filterNot(_.startsWith("--"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    // shuffle bytes (r22): the §2.3 narrower-types evidence channel —
    // read+write bytes across all tasks of the measured run
    val shWr = new AtomicLong; val shRd = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          gcMs.addAndGet(t.taskMetrics.jvmGCTime)
          shWr.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
          shRd.addAndGet(t.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => System.err.println(s"[jobstats] warmup: $e") }
    // exact drain (every event posted so far is delivered) after the
    // warmup and after each run: no straggling onTaskEnd bleeds into
    // the next run's counters
    GraftSqlBridge.drainListenerBus(spark.sparkContext)
    for (name <- names; r <- 1 to repeat) {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown $name"))
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); gcMs.set(0)
      shWr.set(0); shRd.set(0)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[jobstats] $name: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSqlBridge.drainListenerBus(spark.sparkContext)
      println(f"""{"query":"$name","run":$r,"sec":$wall%.3f,""" +
        s""""jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},""" +
        s""""task_ms":${taskMs.get},"gc_ms":${gcMs.get},""" +
        s""""shuffle_write":${shWr.get},"shuffle_read":${shRd.get},"ok":$ok}""")
    }
    spark.stop()
  }
}
