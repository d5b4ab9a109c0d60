package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.streaming.{LocalCheckpointFileManager, StreamingCheckpoints, StreamingDedup,
  StreamingGroupBy}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FilterFileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** A filesystem that is not Hadoop's local one, for the manager's
  * non-local branch (registered as `graftfilter:` below). */
class GraftFilterFileSystem extends FilterFileSystem(new RawLocalFileSystem)

/** Laws of [[graft.streaming.LocalCheckpointFileManager]]: Spark's
  * checkpoint-manager contract on the local filesystem, Spark's own
  * manager everywhere else, no OS process per checkpoint write, and
  * checkpoints that resume across the two managers. */
class StreamingCheckpointsSpec extends SparkTestBase {
  import spark.implicits._

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def tempDir(prefix: String): NioPath = Files.createTempDirectory(prefix)
  private def graftManager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
  private def sparkManager(dir: NioPath) =
    new FileContextBasedCheckpointFileManager(new Path(dir.toUri), new Configuration())
  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def write(m: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Runs `body` with the session's manager key set to `value` (None:
    * unset), then puts back what was there. */
  private def withManagerKey[T](value: Option[String])(body: => T): T = {
    val saved = spark.conf.getOption(Key)
    def put(v: Option[String]): Unit = v.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    put(value)
    try body finally put(saved)
  }

  test("a write without overwrite onto an existing file throws Hadoop's " +
    "FileAlreadyExistsException on close and keeps the original bytes") {
    val dir = tempDir("graft_ckpt_noover")
    val m = graftManager(dir)
    val f = new Path(dir.toUri.toString, "0")
    write(m, f, "first", overwrite = false)
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(m, f) === "first")
    assert(names(dir) === Set("0"), "no temp file is left behind")
  }

  test("a write with overwrite replaces the file") {
    val dir = tempDir("graft_ckpt_over")
    val m = graftManager(dir)
    val f = new Path(dir.toUri.toString, "1.delta")
    write(m, f, "old bytes", overwrite = false)
    write(m, f, "new", overwrite = true)
    assert(read(m, f) === "new")
    assert(names(dir) === Set("1.delta"))
  }

  test("cancel leaves neither the final file nor a temp file") {
    val dir = tempDir("graft_ckpt_cancel")
    val m = graftManager(dir)
    val out = m.createAtomic(new Path(dir.toUri.toString, "2"), overwriteIfPossible = false)
    out.write("never".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")), "the write goes to a temp sibling")
    out.cancel()
    out.close() // a closed-after-cancel stream stays cancelled
    assert(names(dir).isEmpty)
  }

  test("list hides temp files and Hadoop checksum files") {
    val dir = tempDir("graft_ckpt_list")
    val m = graftManager(dir)
    val root = dir.toUri.toString
    write(sparkManager(dir), new Path(root, "0"), "spark", overwrite = false)
    write(m, new Path(root, "1"), "graft", overwrite = false)
    val pending = m.createAtomic(new Path(root, "2"), overwriteIfPossible = false)
    try {
      assert(names(dir).exists(_.endsWith(".crc")) && names(dir).exists(_.endsWith(".tmp")),
        s"both kinds of hidden file are on disk: ${names(dir)}")
      assert(m.list(new Path(root)).map(_.getPath.getName).toSet === Set("0", "1"))
    } finally pending.cancel()
  }

  test("a file written by Spark's FileContext manager, with its .crc sidecar, " +
    "then overwritten by the graft manager reads back the new bytes through both") {
    val dir = tempDir("graft_ckpt_crc")
    val f = new Path(dir.toUri.toString, "3.delta")
    write(sparkManager(dir), f, "written by spark's manager", overwrite = false)
    assert(names(dir).contains(".3.delta.crc"), s"precondition: a sidecar, ${names(dir)}")
    write(graftManager(dir), f, "graft", overwrite = true)
    assert(read(graftManager(dir), f) === "graft")
    assert(read(sparkManager(dir), f) === "graft")
  }

  test("local paths write through java.nio; a path on any other " +
    "filesystem gets Spark's default manager") {
    val dir = tempDir("graft_ckpt_fs")
    val local = graftManager(dir)
    assert(local.isLocal)
    assert(local.target.isInstanceOf[LocalCheckpointFileManager.NioWrites])
    val conf = new Configuration()
    conf.set("fs.graftfilter.impl", classOf[GraftFilterFileSystem].getName)
    conf.setBoolean("fs.graftfilter.impl.disable.cache", true)
    // the key names this class, as it does in a session it was installed in
    conf.set(Key, classOf[LocalCheckpointFileManager].getName)
    val other = new Path("graftfilter:" + dir.toUri.getPath)
    val m = new LocalCheckpointFileManager(other, conf)
    // Spark's own choice with the key unset: FileContext has no
    // AbstractFileSystem for the scheme, so the FileSystem fallback
    val expected = {
      val c = new Configuration(conf)
      c.unset(Key)
      CheckpointFileManager.create(other, c)
    }
    assert(expected.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(m.target.getClass === expected.getClass)
    assert(conf.get(Key) === classOf[LocalCheckpointFileManager].getName,
      "the caller's conf is not changed")
  }

  test("install sets the graft manager only when the key is unset") {
    withManagerKey(None) {
      StreamingCheckpoints.install(spark)
      assert(spark.conf.get(Key) === classOf[LocalCheckpointFileManager].getName)
    }
    val users = classOf[FileContextBasedCheckpointFileManager].getName
    withManagerKey(Some(users)) {
      StreamingCheckpoints.install(spark)
      StreamingGroupBy.windowedReduce(Seq((new Timestamp(0L), 1.0)).toDF("ts", "v"),
        "ts", Nil, Seq(("v", "sum", "s")), "1 hour")
      assert(spark.conf.get(Key) === users)
    }
  }

  /** Counts the OS processes started by Hadoop's `Shell` while `body`
    * runs, from a JFR recording of `jdk.ProcessStart` with stacks. */
  private def shellStarts(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.count { e =>
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))
      }
    } finally {
      rec.close()
      Files.deleteIfExists(f)
    }
  }

  private def startMemory(df: org.apache.spark.sql.DataFrame, name: String): StreamingQuery =
    df.writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", tempDir("graft_ckpt_proc").toString).start()

  test("a running stateful graft stream starts no OS process for its " +
    "offsets, commits and state files") {
    implicit val sqlCtx = spark.sqlContext
    withManagerKey(None) {
      val ev = MemoryStream[(Timestamp, Long, Double)]
      val docs = MemoryStream[(Timestamp, Long, String)]
      val win = startMemory(StreamingGroupBy.windowedReduce(
        ev.toDF().toDF("ts", "user_id", "value"), "ts", Seq("user_id"),
        Seq(("value", "sum", "s"), ("value", "count", "n")), "1 hour",
        watermarkDelay = "10 minutes"), "ckpt_proc_win")
      val dedup = startMemory(StreamingDedup.dropNearDupsWithinWatermark(
        docs.toDF().toDF("ts", "id", "text"), "text", "id", "ts",
        numHashes = 4, bandSize = 1, k = 3, delay = "1 day",
        windowLen = "1 minute"), "ckpt_proc_dedup")
      try {
        val starts = shellStarts {
          for (b <- 0 until 3) {
            val t = new Timestamp(b * 3600000L)
            ev.addData((0 until 20).map(i => (new Timestamp(t.getTime + i * 1000L),
              i % 4L, i.toDouble)): _*)
            docs.addData((0 until 5).map(i => (t, b * 10L + i,
              s"document $b number $i has some words")): _*)
            win.processAllAvailable()
            dedup.processAllAvailable()
          }
        }
        for (q <- Seq(win, dedup))
          assert(q.recentProgress.count(_.numInputRows > 0) >= 3, q.name)
        assert(starts === 0)
      } finally {
        win.stop()
        dedup.stop()
      }
    }
  }

  /** Four micro-batches of a windowed reduction into a parquet sink;
    * with `halves`, a stop after the second and a restart on the same
    * checkpoint, each half run with the manager key at the given value
    * (None: the value `install` gives). Returns the sink's rows. */
  private def windowedSink(halves: Option[(Option[String], Option[String])]): Seq[String] = {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft_ckpt_resume")
    val sink = tempDir("graft_ckpt_resume_sink")
    val in = MemoryStream[(Timestamp, String, Double)]
    /** Runs micro-batches `batches` in one query; returns its last batch id. */
    def run(batches: Range): Long = {
      val q = StreamingGroupBy.windowedReduce(
          in.toDF().toDF("ts", "k", "v"), "ts", Seq("k"),
          Seq(("v", "sum", "s"), ("v", "count", "n")), "1 hour",
          watermarkDelay = "10 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", ckpt.toString).option("path", sink.toString).start()
      try {
        batches.foreach { b =>
          in.addData((0 until 6).map(i => (new Timestamp((b * 60L + i * 10) * 60000L),
            if (i % 2 == 0) "a" else "b", (b * 6 + i).toDouble)): _*)
          q.processAllAvailable()
        }
        q.lastProgress.batchId
      } finally q.stop()
    }
    halves match {
      case None => run(0 until 4)
      case Some((first, second)) =>
        val firstLast = withManagerKey(first)(run(0 until 2))
        withManagerKey(second)(run(2 until 4))
        // each half wrote its offsets and state deltas through the
        // manager it was given: only Spark's FileContext manager leaves
        // checksum sidecars (state version v is written by batch v - 1)
        for ((dir, suffix, shift) <- Seq((ckpt.resolve("offsets"), "", 0),
                                         (ckpt.resolve("state/0/0"), ".delta", 1))) {
          val onDisk = names(dir)
          val written = onDisk.filter(n => !n.startsWith(".") && n.endsWith(suffix))
          assert(written.nonEmpty, dir)
          for (n <- written) {
            val batch = n.stripSuffix(suffix).toLong - shift
            val manager = if (batch <= firstLast) first else second
            assert(onDisk.contains(s".$n.crc") === manager.isDefined, s"$dir/$n: $onDisk")
          }
        }
    }
    spark.read.parquet(sink.toString)
      .select(col("window.start").cast("long"), col("k"), col("s"), col("n"))
      .collect().map(_.toString).toSeq.sorted
  }

  private val fileContext = Some(classOf[FileContextBasedCheckpointFileManager].getName)

  test("a stateful stream started under Spark's FileContext manager resumes " +
    "under the graft manager; its sink equals one uninterrupted run") {
    withManagerKey(None) {
      val whole = windowedSink(None)
      assert(whole.size === 6, "three windows of two keys close within the four batches")
      assert(windowedSink(Some(fileContext -> None)) === whole)
    }
  }

  test("a stateful stream started under the graft manager resumes under " +
    "Spark's FileContext manager; its sink equals one uninterrupted run") {
    withManagerKey(None) {
      assert(windowedSink(Some(None -> fileContext)) === windowedSink(None))
    }
  }
}
