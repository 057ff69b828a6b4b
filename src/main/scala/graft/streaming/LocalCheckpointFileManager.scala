package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager whose `file:` writes start no process.
  *
  * Without the native libhadoop, Spark's stock local manager
  * (`FileContextBasedCheckpointFileManager` over `LocalFs`) forks a
  * `chmod` for every file it creates and a `readlink` for every path its
  * rename inspects: about 20 processes per micro-batch, all on the
  * stream execution thread, for the offset-log and commit-log entries.
  * This manager keeps Spark's protocol (write a hidden temp file in the
  * target directory, then publish it under the final name) but does each
  * step through `java.nio`:
  *
  *  - `overwriteIfPossible = false` publishes with a hard link, which
  *    fails atomically when the final file exists (a plain rename would
  *    replace it silently), then drops the temp name;
  *  - `overwriteIfPossible = true` publishes with an atomic rename;
  *  - `cancel()` deletes the temp file.
  *
  * Files are written without Hadoop's `.<name>.crc` sidecar; publish and
  * `delete` remove a stale one, so a sidecar left by an earlier writer
  * cannot fail a checksum-verifying read of the newer file. Reads,
  * `list` and `exists` go to Spark's stock manager, which also reads the
  * checkpoints it wrote itself, sidecars included. Durability is the
  * stock local manager's: neither fsyncs.
  *
  * Any other scheme (gs://, hdfs://, ...) goes to Spark's stock manager
  * unchanged. Installed per session by [[LocalCheckpointFileManager.install]].
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** What `CheckpointFileManager.create` picks when no class is configured. */
  private[streaming] val stock: CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, hadoopConf) }

  private[streaming] val writesLocally: Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!writesLocally) stock.createAtomic(p, overwriteIfPossible)
    else {
      val dst = nio(p)
      new LocalAtomicStream(dst, dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit =
    if (writesLocally) Files.createDirectories(nio(p)) else stock.mkdirs(p)

  override def delete(p: Path): Unit =
    if (!writesLocally || Files.isDirectory(nio(p), LinkOption.NOFOLLOW_LINKS)) stock.delete(p)
    else {
      Files.deleteIfExists(nio(p))
      Files.deleteIfExists(crcOf(nio(p)))
    }

  override def open(p: Path): FSDataInputStream = stock.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = stock.list(p, filter)
  override def exists(p: Path): Boolean = stock.exists(p)
  override def isLocal: Boolean = stock.isLocal
  override def createCheckpointDirectory(): Path = stock.createCheckpointDirectory()
  override def close(): Unit = stock.close()
}

object LocalCheckpointFileManager {
  /** Spark's conf naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the session's checkpoint file manager unless the user has
    * chosen one. Call before `writeStream.start()`: a query copies the
    * session conf when it starts. Setting [[ConfKey]] to Spark's own
    * `FileContextBasedCheckpointFileManager` opts out. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  /** Hadoop's checksum sidecar of `f`, as `LocalFs` names it. */
  private def crcOf(f: NioPath): NioPath =
    f.resolveSibling(s".${f.getFileName}.crc")

  /** Writes `tmp`, a file next to `dst` named as Spark names its own temp
    * files (hidden, so log and state-store listings skip it), and
    * publishes it as `dst` on `close()`. */
  private final class LocalAtomicStream(dst: NioPath, tmp: NioPath,
                                        overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(
        tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) try {
        underlyingStream.close()
        if (overwrite) {
          Files.deleteIfExists(crcOf(dst))
          Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        } else {
          // checked first so a refused write leaves the existing file's
          // sidecar alone; the link itself is the atomic guard
          if (Files.exists(dst, LinkOption.NOFOLLOW_LINKS)) throw alreadyExists(dst)
          Files.deleteIfExists(crcOf(dst))
          try Files.createLink(dst, tmp)
          catch { case _: java.nio.file.FileAlreadyExistsException => throw alreadyExists(dst) }
        }
      } finally {
        terminated = true
        Files.deleteIfExists(tmp) // the published file keeps its own link
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) try underlyingStream.close() finally {
        terminated = true
        Files.deleteIfExists(tmp)
      }
    }
  }

  private def alreadyExists(dst: NioPath) =
    new FileAlreadyExistsException(s"$dst already exists")
}
