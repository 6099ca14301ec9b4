package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager every engine stream writes through (offsets,
  * commits, metadata and state-store deltas all open one per directory).
  *
  * Spark's default, `FileContextBasedCheckpointFileManager`, reaches a local
  * checkpoint through Hadoop's `LocalFs`; without libhadoop that shells out
  * to `readlink` on every rename, dozens of process launches per trigger.
  * So a path whose `FileSystem` is Hadoop's `LocalFileSystem` goes to Spark's
  * `FileSystemBasedCheckpointFileManager` instead: its rename is
  * `File.renameTo` (an atomic POSIX rename), and it still writes and
  * verifies the `.crc` sidecars. Hadoop's raw local file system also
  * launches `chmod` for every file and directory it creates; the manager's
  * file system is a [[PosixLocalFileSystem]], which sets the same modes
  * in-process. Spark's state checksum files are unaffected
  * (`ChecksumCheckpointFileManager` wraps whichever manager is underneath).
  * Every other scheme gets exactly what Spark would have chosen without
  * this class. Spark instantiates it by reflection through
  * [[CheckpointFiles.confKey]], which [[StreamOps.checkpointed]] sets; see
  * SCALE.md "Streaming checkpoint I/O".
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  val underlying: CheckpointFileManager = path.getFileSystem(hadoopConf) match {
    case _: LocalFileSystem =>
      // FileSystem's cache is keyed by scheme and user, not by the class
      // configured for the scheme, so the copy must bypass it
      val posix = new Configuration(hadoopConf)
      posix.setClass("fs.file.impl", classOf[PosixLocalFileSystem], classOf[FileSystem])
      posix.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, posix)
    case _ =>
      val default = new Configuration(hadoopConf)
      default.unset(CheckpointFiles.confKey)
      CheckpointFileManager.create(path, default)
  }

  override def createAtomic(path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = underlying.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = underlying.list(path, filter)
  override def list(path: Path): Array[FileStatus] = underlying.list(path)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object CheckpointFiles {

  /** Spark's own setting naming the checkpoint file manager class. */
  val confKey = "spark.sql.streaming.checkpointFileManagerClass"
}

/** Hadoop's checksummed local file system over [[PosixRawLocalFileSystem]]:
  * the same files, `.crc` sidecars and renames, with no process launch to
  * set a mode. Hadoop instantiates it from `fs.file.impl`. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** Hadoop's raw local file system, setting modes with `java.nio` instead of
  * a `chmod` process (what it does without libhadoop). The bits are the ones
  * Hadoop computed (the requested or default mode under the configured
  * umask); only the sticky bit, which `java.nio` cannot set, still goes
  * through Hadoop. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
