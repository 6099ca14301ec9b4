package graft

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import graft.streaming.{CheckpointFiles, PosixLocalFileSystem, StreamOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.PrivateMethodTester

/** Which checkpoint file manager a stream gets: [[CheckpointFiles]] sends a
  * checkpoint on Hadoop's LocalFileSystem to the FileSystem-based manager
  * (no `readlink` launch per rename) on a [[PosixLocalFileSystem]] (no
  * `chmod` launch per created file) and everything else to Spark's
  * default; [[StreamOps.checkpointed]] installs it without overriding a
  * session's own choice. */
class CheckpointFilesSpec extends SparkSpec with PrivateMethodTester {

  private def tmpPath = new Path(Files.createTempDirectory("graft-cpf").toUri)

  test("a local checkpoint gets the FileSystem-based manager") {
    val fm = new CheckpointFiles(tmpPath, new Configuration())
    assert(fm.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(fm.isLocal)
    val fs = fm.underlying.invokePrivate(PrivateMethod[FileSystem](Symbol("fs"))())
    assert(fs.isInstanceOf[PosixLocalFileSystem], fs.getClass.getName)
  }

  test("files and directories a local checkpoint creates get Hadoop's modes under the umask") {
    def mode(f: File) = PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))
    for ((umask, file, dir) <- Seq((None, "rw-r--r--", "rwxr-xr-x"),
                                   (Some("027"), "rw-r-----", "rwxr-x---"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val root = tmpPath
      val fm = new CheckpointFiles(root, conf)
      val log = new Path(root, "offsets")
      fm.mkdirs(log)
      val out = fm.createAtomic(new Path(log, "0"), overwriteIfPossible = false)
      out.write(42); out.close()
      val dirFile = new File(log.toUri)
      assert(mode(dirFile) == dir, s"umask $umask: offsets/")
      for (name <- Seq("0", ".0.crc"))
        assert(mode(new File(dirFile, name)) == file, s"umask $umask: offsets/$name")
    }
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
