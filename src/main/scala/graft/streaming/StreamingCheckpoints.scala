package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/** Spark's `CheckpointFileManager` for streaming checkpoints on the
  * local filesystem, writing through `java.nio.file` so that no write
  * starts an OS process.
  *
  * Without libhadoop, Hadoop's local filesystem shells out on every
  * checkpoint write: each rename through Spark's default
  * `FileContextBasedCheckpointFileManager` runs `readlink` (the local
  * `renameInternal` reads the destination's link status) and each create
  * or mkdir runs `chmod`. The offset log, the commit log and every
  * state-store delta of every micro-batch pay that, tens of
  * milliseconds per file on a small batch.
  *
  * On a path whose Hadoop `FileSystem` is `LocalFileSystem` or
  * `RawLocalFileSystem`:
  *  - `createAtomic` writes a hidden temp sibling `.<name>.<uuid>.tmp`
  *    (Spark's naming) and on `close()` moves it into place with
  *    `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)`. Without
  *    `overwriteIfPossible` an existing target throws Hadoop's
  *    `FileAlreadyExistsException` (what `HDFSMetadataLog` catches to
  *    detect a concurrent writer) — check, then rename, as the local
  *    FileContext rename does. `cancel()` deletes the temp file.
  *    Moving into place deletes the target's Hadoop checksum sidecar
  *    `.<name>.crc`: a file first written by Spark's default manager
  *    has one, and reads go through Hadoop's checksummed local FS, so a
  *    stale sidecar would fail the next read.
  *  - `mkdirs` and `createCheckpointDirectory` use
  *    `Files.createDirectories`.
  *  - `open`, `list`, `exists` and `delete` stay on Hadoop's
  *    `FileSystem`, which starts no process for them; `list` also hides
  *    temp files.
  *
  * Every other filesystem (HDFS, object stores, ...) gets exactly
  * Spark's default choice: `CheckpointFileManager.create` with
  * `spark.sql.streaming.checkpointFileManagerClass` unset, i.e. the
  * FileContext manager or its FileSystem fallback. Spark's
  * `ChecksumCheckpointFileManager` still wraps this manager for state
  * files. Installed by [[StreamingCheckpoints.install]]. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** Where every call goes: the java.nio writer on the local
    * filesystem, Spark's default manager anywhere else. */
  private[graft] val target: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case fs @ (_: LocalFileSystem | _: RawLocalFileSystem) =>
        new LocalCheckpointFileManager.NioWrites(path, fs)
      case _ =>
        val conf = new Configuration(hadoopConf)
        conf.unset(StreamingCheckpoints.ManagerClassKey)
        CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    target.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = target.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = target.list(p, filter)
  override def mkdirs(p: Path): Unit = target.mkdirs(p)
  override def exists(p: Path): Boolean = target.exists(p)
  override def delete(p: Path): Unit = target.delete(p)
  override def isLocal: Boolean = target.isLocal
  override def createCheckpointDirectory(): Path = target.createCheckpointDirectory()
  override def close(): Unit = target.close()
}

object LocalCheckpointFileManager {

  /** Spark's temp-file naming: hidden, unique, `.tmp`. */
  private def isTemp(name: String) = name.startsWith(".") && name.endsWith(".tmp")

  /** Writes through java.nio, reads through Hadoop's local `fs`. */
  private[graft] final class NioWrites(root: Path, fs: FileSystem)
      extends CheckpointFileManager {
    /** The file a path names, resolved as Hadoop's local FS resolves it. */
    private def nio(p: Path) = Paths.get(fs.makeQualified(p).toUri.getPath)

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val dst = nio(p)
      new AtomicStream(dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"),
        dst, overwriteIfPossible)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, (q: Path) => !isTemp(q.getName) && filter.accept(q))
    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit =
      try fs.delete(p, true) catch { case _: FileNotFoundException => } // already gone
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val dir = fs.makeQualified(root)
      Files.createDirectories(nio(dir))
      dir
    }
  }

  /** Writes `tmp`; `close()` moves it onto `dst`, `cancel()` drops it. */
  private final class AtomicStream(tmp: java.nio.file.Path, dst: java.nio.file.Path,
                                   overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (!overwrite && Files.exists(dst))
            throw new FileAlreadyExistsException(s"Failed to rename $tmp to $dst as it already exists")
          Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
          Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp)
      }
    }
  }
}

/** Installs [[LocalCheckpointFileManager]] as the session's streaming
  * checkpoint manager. */
object StreamingCheckpoints {

  private[streaming] val ManagerClassKey: String =
    SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Sets `spark.sql.streaming.checkpointFileManagerClass` to
    * [[LocalCheckpointFileManager]] only when the session has no value
    * for it; a value the user set, to any class, is left untouched. This
    * mutates the session's conf, so queries started later on the same
    * session (graft or not) use it too. Every public entry point of the
    * `graft.streaming` operators calls it before returning its plan. */
  private[graft] def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ManagerClassKey).isEmpty)
      spark.conf.set(ManagerClassKey, classOf[LocalCheckpointFileManager].getName)
}
