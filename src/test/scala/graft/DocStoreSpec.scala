package graft

import functions.{Artifacts, DocStore, FsUtil}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions.{col, length}
import scala.jdk.CollectionConverters._

/** The one per-doc store protocol: a store counts as built iff every
  * relation's `_SUCCESS` exists, and the source guards that keep the
  * protocol in `DocStore` (TokenStore, GramStore and RetrievalIndex
  * declare their relations and read them; they never drive the commit,
  * compaction, ledger or artifact primitives themselves). */
class DocStoreSpec extends SparkSpec {

  test("ensure builds iff some relation's _SUCCESS is missing") {
    val builds = new AtomicInteger()
    val store = new DocStore("docstorespec", Seq("ids", "lens"))({ docs =>
      builds.incrementAndGet()
      Seq(docs.select("doc_id"),
        docs.select(col("doc_id"), length(col("text")).as("n")))
    })
    val root = Artifacts.path("docstorespec", "store", sf)
    FsUtil.deleteRecursively(new java.io.File(root))
    try {
      assert(store.ensure(spark, sf) == root)
      assert(builds.get == 1)
      store.ensure(spark, sf)
      assert(builds.get == 1, "a built store is a hit")
      // one relation losing its marker makes the whole store unbuilt
      Files.delete(Paths.get(s"$root/lens/_SUCCESS"))
      store.ensure(spark, sf)
      assert(builds.get == 2)
      val Seq(ids, lens) = store.read(spark, root)
      val n = table("documents").count()
      assert(ids.count() == n && lens.count() == n)
    } finally FsUtil.deleteRecursively(new java.io.File(root).getParentFile)
  }

  test("source guards: one module drives the per-doc store protocol") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), src.toAbsolutePath.toString)
    /** (path relative to src/, line) of every line containing `pattern`. */
    def hits(pattern: String, under: String): Seq[(String, String)] = {
      val files = Files.walk(src.resolve(under))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap(p => Files.readAllLines(p).asScala.collect {
          case line if line.contains(pattern) =>
            (src.relativize(p).toString, line.trim)
        })
      finally files.close()
    }
    val stores = Seq("TokenStore", "GramStore", "RetrievalIndex")
      .map(n => s"main/scala/graft/functions/$n.scala")
    val primitives =
      Seq("CompactStore.", "StagedCommit.", "AppendLedger.", "Artifacts.ensure")
    val direct = primitives.flatMap(hits(_, "main/scala/graft/functions"))
      .filter { case (f, _) => stores.contains(f) }
    assert(direct.isEmpty, s"stores driving the protocol directly: $direct")
    // each primitive call appears at most once, in DocStore
    Seq("CompactStore.compactRelation(", "CompactStore.heal(",
      "StagedCommit.commitAppend(", "AppendLedger.appendOnce(",
      "AppendLedger.bindEpoch(", "Artifacts.ensure(").foreach { call =>
      val inDocStore = hits(call, "main").filter(
        _._1 == "main/scala/graft/functions/DocStore.scala")
      assert(inDocStore.size == 1, s"$call in DocStore: $inDocStore")
    }
    val binds = hits("AppendLedger.bindEpoch", "main")
    assert(binds.nonEmpty &&
      binds.forall(_._1 == "main/scala/graft/functions/DocStore.scala"),
      s"ledger epochs bound outside DocStore: $binds")
    val manifest = hits("Manifest" + "Store", "")
    assert(manifest.isEmpty, s"the removed manifest layer is named: $manifest")
  }
}
