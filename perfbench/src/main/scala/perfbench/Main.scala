package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark runner: one client thread issues the next
  * operation only after the previous one returned.
  *
  * A run sets the workload up once (JVM start to session, inputs
  * resolved and one untimed warm-up pass), then repeats passes over the
  * workload's operations until `seconds` have passed, then checks the
  * outputs once. With tracing on,
  * the first half of the time runs untraced and the second half under
  * the listeners, so the traced/untraced pass-time ratio is the tracing
  * overhead. Raw results go to `<work>/raw.json`; run.py derives the
  * reported metrics from them.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <seed> <cores>
  */
object Main {
  final case class OpRecord(pass: Int, traced: Boolean, name: String,
                            constructS: Double, actionS: Double, error: Option[String],
                            heapMb: Double)

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // a run spans several state-store snapshot cycles
      .config("spark.sql.streaming.stateStore.minDeltasForSnapshot", "4")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "2s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, data, work, secondsS, traceS, seedS, coresS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    Files.createDirectories(Paths.get(work))
    val wl = Workloads(wlName)

    // ---- set-up: session, inputs resolved, one untimed warm-up pass
    // (which also writes the outputs the check compares)
    val checkDir = s"$work/out"
    Files.createDirectories(Paths.get(checkDir))
    val spark = session(work, cores)
    wl.open(spark, data, work)
    val warmFailures = wl.warmUp(spark, checkDir)
    val setupS = (Clock.nowUs - jvmStartUs) / 1e6

    // ---- timed passes
    val tracer = new Tracer(spark)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val passTraced = mutable.ArrayBuffer.empty[Boolean]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var heapLiveMb = 0.0
    val rootId = if (trace) tracer.span(-1, s"workload:$wlName", Clock.nowUs, Long.MaxValue) else -1
    val startUs = Clock.nowUs
    val endUs = startUs + (seconds * 1e6).toLong
    val halfUs = if (trace) startUs + (seconds * 5e5).toLong else endUs
    var p = 0
    var traced = false
    while ((p == 0 || Clock.nowUs < endUs || (trace && !traced)) && !wl.exhausted) {
      if (trace && !traced && p > 0 && Clock.nowUs >= halfUs) { tracer.attach(); traced = true }
      val l = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var slotMs = 0.0
      val p0 = Clock.nowUs
      val passId = if (traced) tracer.span(rootId, s"pass:$p", p0, 0L) else -1
      wl.pass().foreach { op =>
        val gc0 = JvmCounters.gcMs
        val (cc0, cn0) = (JvmCounters.compiles, JvmCounters.compileNs)
        val t0 = Clock.nowUs
        var t1 = -1L; var tA = -1L
        val key = s"$p/${op.name}"
        var pins = 0; var pinned = 0L
        val err = try {
          val action = tracer.tagged(s"$key/construct")(op.construct(spark))
          t1 = Clock.nowUs
          if (traced) { // untimed: between construct and action
            pins = spark.sparkContext.getPersistentRDDs.size
            pinned = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          }
          tA = Clock.nowUs
          tracer.tagged(s"$key/action")(action())
          None
        } catch { case e: Throwable => Some(e.toString.linesIterator.next()) }
        val t2 = Clock.nowUs
        if (t1 < 0) t1 = t2
        if (tA < 0) tA = t2
        val gcDelta = JvmCounters.gcMs - gc0
        if (traced) {
          l("codegen.compiles") += JvmCounters.compiles - cc0
          l("codegen.compile_ms") += (JvmCounters.compileNs - cn0) / 1e6
          l("jvm.gc_ms") += gcDelta
          l("cache.pins") += pins
          l("cache.pinned_bytes") += pinned
          tracer.drain()
          slotMs += recordOp(tracer, l, passId, key, op, t0, t1, tA, t2, cores)
        }
        // live set with this operation's pins still held; untimed
        val heapMb = JvmCounters.liveHeapMb()
        if (!traced) heapLiveMb = math.max(heapLiveMb, heapMb)
        ops += OpRecord(p, traced, op.name, (t1 - t0) / 1e6, (t2 - tA) / 1e6, err, heapMb)
        wl.teardown(spark)
      }
      val p1 = Clock.nowUs
      passTraced += traced
      if (traced) {
        tracer.replaceEnd(passId, p1)
        val k0 = Clock.nowUs
        tracer.tagged(s"$p/keystats/construct")(
          graft.api.Dispatch.keyStats(wl.keyedInput(spark), Seq("user_id")))
        val k1 = Clock.nowUs
        tracer.drain()
        l("dispatch.keystats_ms") += (k1 - k0) / 1e3
        l("dispatch.keystats_jobs") += tracer.take(s"$p/keystats/construct").jobs
        tracer.takeCatalyst()
        streamingLayers(tracer, l)
        l("sched.busy_share") = if (slotMs > 0) 1.0 - l("sched.idle_ms") / slotMs else 0.0
        layers += l.toMap
      }
      p += 1
    }
    if (traced) tracer.detach()
    // pass wall times exclude the untimed per-op GC and teardown
    val opsByPass = ops.groupBy(o => o.pass)
    val passTimes = passTraced.zipWithIndex.map { case (t, i) =>
      (t, opsByPass.getOrElse(i, Nil).map(o => o.constructS + o.actionS).sum)
    }

    // ---- output check, untimed
    val checks = warmFailures ++ wl.check(spark, checkDir)

    if (trace) {
      tracer.replaceEnd(rootId, Clock.nowUs)
      Files.writeString(Paths.get(s"$work/spans.json"), Spans.toJson(tracer.allSpans))
    }
    val env = Json.obj(Seq(
      "workload" -> Json.str(wlName), "seed" -> seedS, "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(JvmCounters.heapMaxMb),
      "spark" -> Json.str(spark.version), "java" -> Json.str(System.getProperty("java.version"))))
    def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
    val opJson = ops.map(o => Json.obj(Seq(
      "pass" -> o.pass.toString, "traced" -> o.traced.toString, "name" -> Json.str(o.name),
      "construct_s" -> Json.num(o.constructS),
      "action_s" -> Json.num(o.actionS),
      "heap_mb" -> Json.num(o.heapMb),
      "error" -> o.error.map(Json.str).getOrElse("null"))))
    val raw = Json.obj(Seq(
      "env" -> env,
      "setup_s" -> Json.num(setupS),
      "pass_s" -> arr(passTimes.collect { case (false, s) => Json.num(s) }),
      "traced_pass_s" -> arr(passTimes.collect { case (true, s) => Json.num(s) }),
      "heap_live_mb" -> Json.num(heapLiveMb),
      "ops" -> arr(opJson),
      "layers" -> arr(layers.map(m => Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))),
      "check_failures" -> Json.obj(checks.map { case (n, e) => n -> Json.str(e) }),
      "op_names" -> arr(ops.map(o => Json.str(o.name)).distinct)))
    Files.writeString(Paths.get(s"$work/raw.json"), raw + "\n")
    wl.close()
    spark.stop()
  }

  /** Folds one traced operation's listener counters, Catalyst phases and
    * spans into the pass's layer metrics; returns the operation's
    * task-slot time (job wall time x cores). */
  private def recordOp(tracer: Tracer, l: mutable.Map[String, Double], passId: Int,
                       key: String, op: Op, t0: Long, t1: Long, tA: Long, t2: Long,
                       cores: Int): Double = {
    val opId = tracer.span(passId, s"op:${op.name}", t0, t2)
    val cId = tracer.span(opId, "construct", t0, t1)
    val aId = tracer.span(opId, "action", tA, t2)
    val c = tracer.take(s"$key/construct")
    val a = tracer.take(s"$key/action")
    def jobSpans(parent: Int, jc: JobCounters): Unit =
      jc.jobIntervals.foreach { case (s, e) => tracer.span(parent, "job", s * 1000L, e * 1000L) }
    jobSpans(cId, c); jobSpans(aId, a)
    tracer.takeCatalyst().foreach { case (phase, s, e) =>
      tracer.span(if (s * 1000L < t1) cId else aId, s"catalyst.$phase", s * 1000L, e * 1000L)
      l(s"catalyst.${phase}_ms") += (e - s)
    }
    val constructMs = (t1 - t0) / 1e3
    val actionMs = (t2 - tA) / 1e3
    // exec.* and sched.* cover every job of the operation, those its
    // constructor runs as well as those of its action; construct.jobs
    // is the constructor's share
    val execMs = Spans.covered((c.jobIntervals ++ a.jobIntervals).toSeq,
      t0 / 1000L - 1, t2 / 1000L + 1).toDouble
    l("construct.ms") += constructMs
    l("construct.jobs") += c.jobs
    l("exec.ms") += execMs
    for (jc <- Seq(c, a)) {
      l("exec.jobs") += jc.jobs
      l("exec.stages") += jc.stages
      l("exec.tasks") += jc.tasks
      l("exec.task_ms") += jc.taskMs
      l("exec.cpu_ms") += jc.cpuMs
      l("shuffle.write_bytes") += jc.shuffleWrite
      l("shuffle.read_bytes") += jc.shuffleRead
      l("shuffle.fetch_wait_ms") += jc.fetchWaitMs
      l("spill.memory_bytes") += jc.spillMemory
      l("spill.disk_bytes") += jc.spillDisk
      l("scan.rows") += jc.scanRows
      l("scan.bytes") += jc.scanBytes
    }
    l("sched.idle_ms") += execMs * cores - (c.taskMs + a.taskMs)
    val selfs = Spans.selfTimes(tracer.allSpans.filter(s => s.id >= opId))
    l("construct.self_ms") += selfs(cId) / 1e3
    l("action.self_ms") += selfs(aId) / 1e3
    val m = op.module
    l(s"$m.ms") += constructMs + actionMs
    l(s"$m.jobs") += c.jobs + a.jobs
    l(s"$m.task_ms") += c.taskMs + a.taskMs
    l(s"$m.shuffle_bytes") += c.shuffleWrite + c.shuffleRead + a.shuffleWrite + a.shuffleRead
    execMs * cores
  }

  /** Streaming progress of the pass: durations summed, state size as
    * the latest level of each query. */
  private def streamingLayers(tracer: Tracer, l: mutable.Map[String, Double]): Unit = {
    val prog = tracer.takeProgress()
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    prog.foreach { p =>
      l("streaming.add_batch_ms") += dur(p, "addBatch")
      l("streaming.planning_ms") += dur(p, "queryPlanning")
      l("streaming.wal_commit_ms") += dur(p, "walCommit")
      l("streaming.commit_ms") += dur(p, "commitOffsets")
    }
    prog.groupBy(_.id).values.map(_.maxBy(_.batchId)).foreach { p =>
      l("streaming.state_rows") += p.stateOperators.map(_.numRowsTotal).sum
      l("streaming.state_bytes") += p.stateOperators.map(_.memoryUsedBytes).sum
    }
  }
}
