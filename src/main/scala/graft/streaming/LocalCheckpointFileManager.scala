package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** A streaming `CheckpointFileManager` that writes local checkpoints
  * without starting a process per file.
  *
  * Without libhadoop (the native library most single-node installs
  * lack), Hadoop's local file system shells out: `RawLocalFileSystem`
  * forks `chmod` to set the mode of every file it creates, the `.crc`
  * sidecar included, and `FileContext`'s symlink-aware rename, which
  * Spark's default manager uses, forks `readlink` several times per
  * path. A micro-batch writes a delta file per state store plus offset,
  * commit, source and sink log entries, so a short drain starts about
  * a thousand child processes at over a millisecond each.
  *
  * For a `file:` path this is Spark's own
  * [[FileSystemBasedCheckpointFileManager]] (rename is `File.renameTo`,
  * an atomic `rename(2)` that resolves no symlinks) over Hadoop's
  * checksummed `LocalFileSystem`, whose raw layer sets the same mode
  * bits through `java.nio`. It is chosen by scheme, not by the class
  * `FileSystem.get` returns: with Hive on the classpath, `file:` maps
  * to Hive's `ProxyLocalFileSystem`, a proxy over the same local file
  * system. Files, `.crc` sidecars, state checksum files and modes are
  * the ones Spark's default manager writes through Hadoop's `LocalFs`.
  * Every other file system (HDFS, object stores) gets Spark's default
  * [[FileContextBasedCheckpointFileManager]], unchanged.
  *
  * Installed as `spark.sql.streaming.checkpointFileManagerClass` by
  * [[ProductViewPipeline.startWithStateStores]] on a session that names
  * no manager, and left set rather than restored after `start()`: the
  * file source builds its `sources/` metadata log later, on the stream
  * thread, from the session that created the source, so a restored
  * setting would be missed there.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val fm: CheckpointFileManager = {
    val uri = path.getFileSystem(hadoopConf).getUri
    if (uri.getScheme == "file") new LocalCheckpointFileManager.OnLocalFs(path, hadoopConf, uri)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = fm.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = fm.list(p, filter)
  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def exists(p: Path): Boolean = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object LocalCheckpointFileManager {

  private final class OnLocalFs(path: Path, hadoopConf: Configuration, uri: URI)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissions)
      local.setConf(hadoopConf)
      local.initialize(uri, hadoopConf)
      local
    }
  }

  /** `RawLocalFileSystem` with `chmod` done in-process. A mode with the
    * sticky bit, or a store without POSIX attributes, takes Hadoop's
    * own path. */
  private final class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (view == null || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        // PosixFilePermission's order is owner rwx, group rwx, others rwx
        view.setPermissions(PosixFilePermission.values.toSet
          .filter(b => (mode & (1 << (8 - b.ordinal))) != 0).asJava)
      }
    }
  }
}
