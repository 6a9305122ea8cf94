package graft.cef.spark

import java.io.BufferedOutputStream
import java.nio.file.{FileAlreadyExistsException => NioExists, Files, Path => JPath, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of the keyed stream ([[Keyed.stream]]) and
  * the streaming-gate scaffold, selected through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` ([[selectIn]]).
  *
  * Spark's default manager reaches Hadoop's `RawLocalFs`, which without
  * libhadoop forks a `readlink` on status and rename calls and a `chmod`
  * on every create — dozens of processes per micro-batch for the offset,
  * commit and state-store files, all of it reaped child CPU. `file:`
  * checkpoints go to [[CheckpointFiles.Local]] instead (java.nio, no
  * forks); every other scheme gets Spark's own default choice. The
  * contract of the Structured Streaming paper holds on both: a file
  * becomes visible only by an atomic rename, an existing file is never
  * overwritten unless asked, and `cancel()` leaves neither the file nor
  * its temp file.
  */
final class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  private[spark] val underlying: CheckpointFileManager =
    if (CheckpointFiles.isFileScheme(path, conf)) new CheckpointFiles.Local(path, conf)
    else {
      val spark = new Configuration(conf)
      spark.unset(CheckpointFiles.Key)
      CheckpointFileManager.create(path, spark)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object CheckpointFiles {
  /** Spark's key naming the checkpoint file manager class. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** The setting that selects [[CheckpointFiles]] in `spark`, or none when
    * the session already names a manager: a user's choice wins. */
  def setting(spark: SparkSession): Option[(String, String)] =
    Option.when(spark.conf.getOption(Key).isEmpty)(Key -> classOf[CheckpointFiles].getName)

  /** Apply [[setting]] to `spark` for good: the keyed stream's manager is
    * instantiated when the caller starts the query, after the Dataset is
    * built, so the choice cannot be scoped to one query. Every later
    * streaming query of the session (file sources and sinks included)
    * then writes its checkpoint through [[CheckpointFiles]], which keeps
    * the contract of Spark's default. */
  def selectIn(spark: SparkSession): Unit = setting(spark).foreach { case (k, v) => spark.conf.set(k, v) }

  private def isFileScheme(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** `file:` checkpoints on java.nio. Hadoop's local file system stays
    * only for the calls that do not fork: open, exists, list and delete
    * (`createTempFile`/`renameTempFile` serve only Spark's rename-based
    * stream, which [[createAtomic]] replaces). A write goes to a hidden
    * temp file in the target's directory and is published by
    * `Files.move(ATOMIC_MOVE)` when overwriting is asked for, else by a
    * hard link, which fails if the target exists (one writer wins; Spark
    * reads Hadoop's FileAlreadyExistsException as a concurrent writer).
    * Writes are buffered, as Hadoop's local stream is: Spark's log
    * serializers make several small writes per entry.
    * A published file's stale `.crc` sibling, left by Hadoop's
    * checksummed writers, is removed so that Hadoop still reads the new
    * content.
    */
  private[spark] final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    private def local(p: Path): JPath = new java.io.File(fs.makeQualified(p).toUri.getPath).toPath

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def createCheckpointDirectory(): Path = {
      val dir = fs.makeQualified(path)
      Files.createDirectories(local(dir))
      dir
    }

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      val raw = Files.newOutputStream(temp)
      new CancellableFSDataOutputStream(new BufferedOutputStream(raw, 64 << 10)) {
        private var terminated = false
        override def close(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try {
              super.close()
              publish(temp, target, overwriteIfPossible)
            } finally Files.deleteIfExists(temp)
          }
        }
        override def cancel(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try raw.close() finally Files.deleteIfExists(temp) // unflushed bytes are dropped
          }
        }
      }
    }

    private def publish(temp: JPath, target: JPath, overwrite: Boolean): Unit = {
      if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      else
        try Files.createLink(target, temp)
        catch { case _: NioExists => throw new FileAlreadyExistsException(s"$target already exists") }
      dropChecksum(target)
    }

    private def dropChecksum(target: JPath): Unit =
      Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
  }
}
