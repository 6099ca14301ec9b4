package graft

import java.nio.file.Files

import graft.streaming.{CheckpointFiles, StreamOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Which checkpoint file manager a stream gets: [[CheckpointFiles]] sends a
  * checkpoint on Hadoop's LocalFileSystem to the FileSystem-based manager
  * (no `readlink` launch per rename) and everything else to Spark's
  * default; [[StreamOps.checkpointed]] installs it without overriding a
  * session's own choice. */
class CheckpointFilesSpec extends SparkSpec {

  private def tmpPath = new Path(Files.createTempDirectory("graft-cpf").toUri)

  test("a local checkpoint gets the FileSystem-based manager") {
    val fm = new CheckpointFiles(tmpPath, new Configuration())
    assert(fm.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(fm.isLocal)
  }

  test("a path whose FileSystem is not LocalFileSystem keeps Spark's default manager") {
    // the same directory, but reached through a FileSystem that is not
    // Hadoop's checksummed LocalFileSystem
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf.set(CheckpointFiles.confKey, classOf[CheckpointFiles].getName)
    val fm = new CheckpointFiles(tmpPath, conf)
    assert(fm.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("Spark instantiates the class named by the setting") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(CheckpointFiles.confKey, classOf[CheckpointFiles].getName)
    val fm = CheckpointFileManager.create(tmpPath, conf)
    assert(fm.isInstanceOf[CheckpointFiles])
    val file = new Path(tmpPath, "offsets-0")
    val out = fm.createAtomic(file, overwriteIfPossible = false)
    out.write(42); out.close()
    assert(fm.exists(file))
    val in = fm.open(file)
    try assert(in.read() == 42) finally in.close()
  }

  test("checkpointed installs CheckpointFiles on a session that names no manager") {
    val s = spark.newSession()
    assert(s.conf.getOption(CheckpointFiles.confKey).isEmpty)
    StreamOps.checkpointed(s.readStream.format("rate").load(), tmpPath.toString)
    assert(s.conf.get(CheckpointFiles.confKey) == classOf[CheckpointFiles].getName)
  }

  test("checkpointed keeps a session's own checkpoint file manager") {
    val s = spark.newSession()
    val own = classOf[FileContextBasedCheckpointFileManager].getName
    s.conf.set(CheckpointFiles.confKey, own)
    StreamOps.checkpointed(s.readStream.format("rate").load(), tmpPath.toString)
    assert(s.conf.get(CheckpointFiles.confKey) == own)
  }
}
