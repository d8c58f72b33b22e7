package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The streaming checkpoint file manager [[Feeds.prepare]] installs:
  * `file:` checkpoints through [[LocalCheckpointFileManager.Local]],
  * every other path through the manager Spark would pick without this
  * class, so non-local checkpoints behave exactly as Spark's default.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new LocalCheckpointFileManager.Local(path, conf)
    else {
      val plain = new Configuration(conf)
      plain.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, plain)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = delegate.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  def exists(p: Path): Boolean = delegate.exists(p)
  def delete(p: Path): Unit = delegate.delete(p)
  def isLocal: Boolean = delegate.isLocal
  def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's file-system manager over [[localFs]]: atomic create is a
    * temp file renamed on close, `.crc` files are written, and a
    * no-overwrite rename checks the target first (what Hadoop's own
    * `AbstractFileSystem.renameInternal` does on the local file
    * system). */
  private[graft] final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = localFs(conf)
  }

  /** Without `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission`
    * forks `chmod` for every file and directory it creates. */
  private final class NioRawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.getUserAction.SYMBOL +
          perm.getGroupAction.SYMBOL + perm.getOtherAction.SYMBOL))
  }

  /** One checksummed local file system per JVM, configured by its first
    * caller, as Hadoop's file-system cache does for `file:`. */
  @volatile private var shared: FileSystem = _
  private def localFs(conf: Configuration): FileSystem = {
    if (shared == null) synchronized {
      if (shared == null) {
        val fs = new LocalFileSystem(new NioRawLocalFs)
        fs.initialize(URI.create("file:///"), conf)
        shared = fs
      }
    }
    shared
  }
}
