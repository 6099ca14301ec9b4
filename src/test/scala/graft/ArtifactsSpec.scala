package graft

import functions.{Artifacts, FsUtil}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions.col
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The write-once artifact module: the on-disk and catalog layout every
  * family has always used, the build-once/lock/retry contract of
  * `Artifacts.ensure`, the writer lock's reentrancy, and the source
  * guards that keep the layout decided in one place. */
class ArtifactsSpec extends SparkSpec {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-artifacts").toString + "/artifact"

  /** (relative name, mtime) of every file under `dir`. */
  private def listing(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    val files = Files.walk(root)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => (root.relativize(p).toString, p.toFile.lastModified))
      .sorted
    finally files.close()
  }

  test("layout: every family's artifact sits at its established path and catalog name") {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest((sf + "\n" + FsUtil.manifest(sf, strict = true))
        .getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    assert(Artifacts.dirTag(sf) == tag)
    val tmp = System.getProperty("java.io.tmpdir")
    // (family, kind) -> a completion file the build leaves behind
    val built = Seq(
      ("tokens", "store") -> "tf/_SUCCESS",
      ("tokens", "base") -> "tf/_SUCCESS",
      ("tokens", "cmp") -> "compacted",
      ("grams", "store") -> "gram2/_SUCCESS",
      ("grams", "base") -> "sh3/_SUCCESS",
      ("grams", "cmp") -> "compacted",
      ("retr", "base") -> "doclens/_SUCCESS",
      ("retr", "cmp") -> "compacted",
      ("dedup", "full") -> "clusters/_SUCCESS",
      ("dedup", "base") -> "bandcounts/_SUCCESS",
      ("dedup", "cmpc") -> "compacted",
      ("dedup", "sim") -> "pairs/_SUCCESS",
      ("dedup", "simc") -> "compacted",
      ("lsh", "base") -> "pairs/_SUCCESS",
      ("lsh", "cmp") -> "compacted",
      ("partitioned", "ord") -> "_SUCCESS",
      ("bucketed", "graft_bkt_li") -> "_SUCCESS",
      ("bucketed", "graft_bkt_ord") -> "_SUCCESS")
    built.foreach { case ((family, kind), _) =>
      assert(Artifacts.path(family, kind, sf) ==
        s"$tmp/graft_$family/${kind}_$tag")
    }
    // build through the public entry points, then find every artifact
    // and catalog table under its literal name
    assert(IncrementContract.prebuildBases(spark, sf).forall(_._2 >= 0))
    functions.TokenStore.termFreqBucketed(spark, sf).count()
    functions.GramStore.shingles3Bucketed(spark, sf).count()
    functions.GramStore.spans8Bucketed(spark, sf).count()
    operators.DedupQueries.persistedClusters(spark, sf).count()
    operators.DedupQueries.incBandsTable(spark, sf).count()
    q("q_join_bucketed").collect()
    q("q_dpp_join").collect()
    built.foreach { case ((family, kind), done) =>
      val f = new java.io.File(s"$tmp/graft_$family/${kind}_$tag/$done")
      assert(f.exists(), s"$family/$kind: missing $f")
    }
    Seq(s"graft_bkt_li_$tag", s"graft_bkt_ord_$tag",
      s"graft_dedup_bands_$tag", s"graft_tokens_$tag",
      s"graft_grams_sh3_$tag", s"graft_grams_span8_$tag")
      .foreach(t => assert(spark.catalog.tableExists(t), t))
  }

  test("ensure: a built artifact is a hit — the second call runs no build") {
    val root = tmpRoot()
    val builds = new AtomicInteger()
    def touch(): String = Artifacts.ensure(root, "rel/_SUCCESS") { p =>
      builds.incrementAndGet()
      new java.io.File(s"$p/rel").mkdirs()
      new java.io.File(s"$p/rel/_SUCCESS").createNewFile(): Unit
    }
    assert(touch() == root)
    assert(touch() == root)
    assert(builds.get == 1)
  }

  test("ensure: a build that throws leaves no completion file, the next call builds") {
    val root = tmpRoot()
    val builds = new AtomicInteger()
    def touch(fail: Boolean): String =
      Artifacts.ensure(root, "rel/_SUCCESS", Artifacts.Compacted) { p =>
        builds.incrementAndGet()
        new java.io.File(s"$p/rel").mkdirs()
        new java.io.File(s"$p/rel/_SUCCESS").createNewFile()
        // an IllegalStateException is not a lock refusal: no retry
        if (fail) throw new IllegalStateException("compaction died")
      }
    val e = intercept[IllegalStateException](touch(fail = true))
    assert(e.getMessage == "compaction died")
    assert(builds.get == 1, "a failed build must not be retried in place")
    assert(!new java.io.File(s"$root/${Artifacts.Compacted}").exists())
    touch(fail = false)
    assert(builds.get == 2)
    assert(new java.io.File(s"$root/${Artifacts.Compacted}").exists())
    touch(fail = false)
    assert(builds.get == 2)
  }

  test("ensure: a concurrent caller waits for the running build, then skips it") {
    val root = tmpRoot()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val builds = new AtomicInteger()
    def touch(): String = Artifacts.ensure(root, "_SUCCESS") { p =>
      builds.incrementAndGet()
      started.countDown()
      assert(release.await(60, TimeUnit.SECONDS))
      new java.io.File(s"$p/_SUCCESS").createNewFile(): Unit
    }
    val first = Future(touch())
    assert(started.await(60, TimeUnit.SECONDS))
    val second = Future(touch())
    Thread.sleep(500)
    assert(!second.isCompleted, "the second caller must wait on the build")
    release.countDown()
    assert(Await.result(first, 60.seconds) == root)
    assert(Await.result(second, 60.seconds) == root)
    assert(builds.get == 1, "the waiter must find the artifact built")
  }

  test("writer lock: reentrant for its holder, still refused to other threads") {
    val root = tmpRoot()
    val lock = Paths.get(s"$root/_writer.lock")
    val pid = s"${ProcessHandle.current().pid()}"
    def otherThreadRefused(): Boolean =
      Await.result(Future {
        try { FsUtil.withWriterLock(root)(()); false }
        catch { case _: FsUtil.WriterLockHeld => true }
      }, 60.seconds)
    var innerRan = false
    FsUtil.withWriterLock(root) {
      FsUtil.withWriterLock(root) {
        innerRan = true
        assert(otherThreadRefused())
      }
      // the inner exit released nothing: the OS lock (and its pid stamp)
      // stays held until the outermost call returns
      assert(Files.readString(lock).trim == pid)
      assert(otherThreadRefused())
    }
    assert(innerRan)
    assert(Files.readString(lock).isEmpty)
    assert(!otherThreadRefused(), "the outer exit must release the lock")
  }

  test("q_join_bucketed's tables survive a fresh catalog: re-registered, not rewritten") {
    val first = q("q_join_bucketed").collect().toSeq
    val tbls = Seq("li", "ord").map(n =>
      (s"graft_bkt_${n}_${Artifacts.dirTag(sf)}",
        Artifacts.path("bucketed", s"graft_bkt_$n", sf)))
    val before = tbls.map { case (_, dir) => listing(dir) }
    assert(before.forall(_.exists(_._1.endsWith(".parquet"))))
    // external tables: DROP forgets the catalog entry, the files stay
    tbls.foreach { case (t, _) => spark.sql(s"DROP TABLE $t") }
    assert(q("q_join_bucketed").collect().toSeq == first)
    assert(tbls.map { case (_, dir) => listing(dir) } == before,
      "a fresh catalog must re-register the bucketed files, not rewrite them")
    val Seq(li, ord) = tbls.map { case (t, _) => spark.table(t) }
    val plan = li.hint("merge")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
  }

  test("source guards: one module decides the artifact layout") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    def hits(pattern: String, under: String = ""): Seq[String] = {
      val files = Files.walk(root.resolve(under))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(pattern) =>
            s"${root.relativize(p)}:${i + 1}"
        })
      finally files.close()
    }
    val tmpdir = hits("java.io.tmpdir")
    assert(tmpdir.nonEmpty &&
      tmpdir.forall(_.startsWith("graft/functions/Artifacts.scala:")),
      s"artifact paths built outside Artifacts: $tmpdir")
    val ops = hits("graft.operators", "graft/functions")
    assert(ops.isEmpty, s"functions/ reaching into operators: $ops")
    val bucketed = hits("bucketBy(")
    assert(bucketed.nonEmpty &&
      bucketed.forall(_.startsWith("graft/functions/BucketedTable.scala:")),
      s"bucketed writes outside BucketedTable: $bucketed")
  }
}
