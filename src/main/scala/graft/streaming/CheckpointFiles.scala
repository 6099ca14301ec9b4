package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter}
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
  * verifies the `.crc` sidecars. Spark's state checksum files are unaffected
  * (`ChecksumCheckpointFileManager` wraps whichever manager is underneath).
  * Every other scheme gets exactly what Spark would have chosen without
  * this class. Spark instantiates it by reflection through
  * [[CheckpointFiles.confKey]], which [[StreamOps.checkpointed]] sets; see
  * SCALE.md "Streaming checkpoint I/O".
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  val underlying: CheckpointFileManager = path.getFileSystem(hadoopConf) match {
    case _: LocalFileSystem => new FileSystemBasedCheckpointFileManager(path, hadoopConf)
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
