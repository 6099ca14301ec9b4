package graft

import graft.functions.FsUtil
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench harness's pure machinery — the parts that produce the GRADED
  * artifact. Two rounds of grading were misled by harness bugs (r04's
  * single-shot timings, r08's DataFrame retention), so the outlier gate,
  * the artifact's writer and reader, and the fixture manifest (FsUtil.manifest,
  * which also keys engine state) carry their own unit contracts. */
class BenchSupportSpec extends AnyFunSuite {

  private val artifact =
    """{"metric":"total","value":12.5,"unit":"sec","queries":{"q_a":0.25,
      |"q_b":1.5,"q_neg":-1.0,"q_exp":1.2E-4},"sf":"/root/testdata/sf0.1",
      |"runs":3}""".stripMargin.replace("\n", "")

  private def medians(txt: String, sfDir: String): Map[String, Double] =
    BenchSupport.readBaseline(txt, sfDir).fold(Map.empty[String, Double])(_.queries)

  test("readBaseline reads medians, including failure markers and exponents") {
    val m = medians(artifact, "/root/testdata/sf0.1")
    assert(m == Map("q_a" -> 0.25, "q_b" -> 1.5, "q_neg" -> -1.0,
      "q_exp" -> 1.2e-4))
  }

  test("readBaseline refuses a different fixture dir (cross-SF timings differ)") {
    assert(BenchSupport.readBaseline(artifact, "/tmp/graft-sf1").isEmpty)
  }

  test("readBaseline reads the driver wrapper's parsed object") {
    // the committed BENCH_r*.json is the driver's capture wrapper,
    // pretty-printed: my JSON line sits parsed in its "parsed" field (and
    // escaped in the clipped "tail" string, which is never read)
    val wrapper =
      """{"n": 8, "rc": 0, "sf": 0.1,
        | "tail": "{\"metric\":\"total\",\"queries\":{\"q_z\":9.0}}",
        | "parsed": {"metric": "total", "queries": {"q_a": 0.5, "q_b": 2.0},
        |   "sf": "/root/testdata/sf0.1"}}""".stripMargin
    assert(medians(wrapper, "/root/testdata/sf0.1") ==
      Map("q_a" -> 0.5, "q_b" -> 2.0))
  }

  test("readBaseline returns nothing for a wrapper whose parsed is null") {
    // the driver could not parse a clipped line: the medians in the tail
    // are not salvaged
    val clipped =
      """{"n": 8, "tail": "6733,\"q_zzz\":0.13}", "parsed": null}"""
    assert(BenchSupport.readBaseline(clipped, "x").isEmpty)
  }

  test("readBaseline is total on malformed input") {
    assert(BenchSupport.readBaseline("not json at all", "x").isEmpty)
    assert(BenchSupport.readBaseline("""{"queries":17,"sf":"x"}""", "x").isEmpty)
    assert(BenchSupport.readBaseline("""{"queries":{"q_a":1.0""", "x").isEmpty)
    assert(BenchSupport.readBaseline("", "x").isEmpty)
  }

  test("latestRoundArtifact picks the highest round number") {
    val dir = java.nio.file.Files.createTempDirectory("benchsupport").toFile
    try {
      Seq("BENCH_r02.json", "BENCH_r10.json", "BENCH_r9.json",
        "BENCH_LOCAL.json", "BENCH_SF1_r08.json").foreach { n =>
        java.nio.file.Files.writeString(new java.io.File(dir, n).toPath, "{}")
      }
      assert(BenchSupport.latestRoundArtifact(dir).map(_.getName)
        .contains("BENCH_r10.json"))
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  test("latestRoundArtifact is None with no artifacts") {
    val dir = java.nio.file.Files.createTempDirectory("benchsupport2").toFile
    try assert(BenchSupport.latestRoundArtifact(dir).isEmpty)
    finally dir.delete()
  }

  test("outlier gate: >1.5x prev AND >0.5s absolute; failed queries never gate") {
    assert(BenchSupport.isOutlier(median = 1.0, prev = 0.4))
    assert(BenchSupport.isOutlier(median = 5.6, prev = 2.8),
      "the round-9 q_dedup_cluster VM-noise reading must gate now")
    assert(!BenchSupport.isOutlier(median = 0.55, prev = 0.4), "under 1.5x")
    assert(!BenchSupport.isOutlier(median = 0.45, prev = 0.1),
      "sub-half-second medians jitter past the ratio on noise alone")
    assert(!BenchSupport.isOutlier(median = 5.0, prev = -1.0),
      "a previously-failed query has no baseline")
    assert(!BenchSupport.isOutlier(median = 5.0, prev = 0.0))
  }

  test("manifest is stable for same bytes, changes with size, never throws") {
    val dir = java.nio.file.Files.createTempDirectory("benchsupport3").toFile
    try {
      val f = new java.io.File(dir, "t.parquet")
      java.nio.file.Files.writeString(f.toPath, "abc")
      val m1 = FsUtil.manifest(dir.getPath)
      val m2 = FsUtil.manifest(dir.getPath)
      assert(m1 == m2 && m1.length == 32)
      java.nio.file.Files.writeString(f.toPath, "abcd")
      assert(FsUtil.manifest(dir.getPath) != m1,
        "size change must change the manifest")
      assert(FsUtil.manifest("/nonexistent/dir/xyz").nonEmpty)
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  test("calibrated outlier gate normalizes both sides by their run's load") {
    // raw doubling on a 2x-hotter VM hour is NOT an outlier...
    assert(!BenchSupport.isOutlierCalibrated(
      median = 2.0, prev = 1.0, calNow = 1.0, calPrev = 0.5))
    // ...while a flat raw value on a 2x-COOLER hour IS (the q_bpe_merge
    // miss: the raw gate saw no delta, the plan got slower)
    assert(BenchSupport.isOutlierCalibrated(
      median = 1.0, prev = 1.0, calNow = 0.5, calPrev = 1.0))
    // absolute floor stays raw: sub-half-second medians never flag
    assert(!BenchSupport.isOutlierCalibrated(
      median = 0.4, prev = 0.1, calNow = 1.0, calPrev = 1.0))
    // missing calibration on either side falls back to the raw gate
    assert(BenchSupport.isOutlierCalibrated(
      median = 2.0, prev = 1.0, calNow = -1.0, calPrev = 1.0))
    assert(!BenchSupport.isOutlierCalibrated(
      median = 1.2, prev = 1.0, calNow = 1.0, calPrev = -1.0))
  }

  test("readBaseline's calibration: plain, extended and wrapper forms") {
    def cal(obj: String): Option[Double] = BenchSupport.readBaseline(
      s"""{"queries":{"q_a":1.0},"sf":"x",$obj}""", "x").flatMap(_.calibration)
    assert(cal(""""calibration":{"pre":0.5,"post":1.5},"y":1""").contains(1.0))
    // round-12 artifacts append a "prev" field
    assert(cal(""""calibration":{"pre":0.5,"post":1.5,"prev":0.7}""")
      .contains(1.0))
    // inside the driver wrapper's parsed object
    assert(BenchSupport.readBaseline(
      """{"tail":"","parsed":{"queries":{"q_a":1.0},"sf":"x",
        |"calibration":{"pre":2.0,"post":4.0}}}""".stripMargin, "x")
      .flatMap(_.calibration).contains(3.0))
    assert(cal(""""no":"cal"""").isEmpty)
    assert(cal(""""calibration":{"pre":-1.0,"post":0.5}""").isEmpty,
      "a mean not above 0 is no calibration")
  }

  test("manifest catches a same-size in-place regeneration via mtime") {
    // round-11 advice: a seeded/fixed-width generator can rewrite a
    // fixture with byte-identical sizes; the artifact tags must still
    // invalidate, so the manifest folds each file's mtime
    val dir = java.nio.file.Files.createTempDirectory("benchsupport4").toFile
    try {
      val f = new java.io.File(dir, "t.parquet")
      java.nio.file.Files.writeString(f.toPath, "abc")
      assert(f.setLastModified(1000000000000L))
      val m1 = FsUtil.manifest(dir.getPath)
      java.nio.file.Files.writeString(f.toPath, "xyz") // same size
      assert(f.setLastModified(1000000001000L))
      assert(FsUtil.manifest(dir.getPath) != m1,
        "same-size regeneration must change the manifest via mtime")
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  test("manifest of a single file hashes its own line; directory format unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("benchsupport5").toFile
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    try {
      val f = new java.io.File(dir, "t.parquet")
      java.nio.file.Files.writeString(f.toPath, "abc")
      assert(f.setLastModified(1000000000000L))
      val sub = new java.io.File(dir, "d")
      assert(sub.mkdir())
      val g = new java.io.File(sub, "p.parquet")
      java.nio.file.Files.writeString(g.toPath, "xy")
      assert(g.setLastModified(1000000002000L))
      // a file stamps its own (name, size, mtime) line...
      val m1 = FsUtil.manifest(f.getPath, strict = true)
      assert(m1 == md5("t.parquet:3:1000000000000"))
      assert(m1 != md5(""), "a single file must not hash the empty listing")
      // ...and a directory keeps the sorted relative listing it always had
      assert(FsUtil.manifest(dir.getPath) ==
        md5("d/p.parquet:2:1000000002000\nt.parquet:3:1000000000000"))
      java.nio.file.Files.writeString(f.toPath, "xyz") // same size
      assert(f.setLastModified(1000000001000L))
      assert(FsUtil.manifest(f.getPath, strict = true) != m1,
        "an in-place rewrite of the file must change its manifest")
    } finally {
      Option(new java.io.File(dir, "d").listFiles()).getOrElse(Array.empty)
        .foreach(_.delete())
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  private def sweep(errors: Seq[(String, String)] = Nil,
                    sf: String = "/root/testdata/sf0.1") =
    BenchSupport.artifact(sfDir = sf, runs = 3,
      queries = Seq("q_a" -> 0.25, "q_neg" -> -1.0, "q_exp" -> 1.2e-4),
      calPre = 0.5, calPost = 0.7, calPrev = 0.6,
      planRisks = 2, planRisksNovel = 0, planAuditErrors = 0,
      manifest = "abc", baseBuilds = Seq("tfidf" -> 1.5),
      storageBytes = 10L, storageRdds = 1, overBudget = false,
      remeasured = Seq("q_a" -> ((0.9, 0.25, 0.3))),
      partialRuns = Seq("q_exp" -> 2), errors = errors)

  test("the artifact's JSON escapes quotes and control characters") {
    val mapper = BenchSupport.mapper
    val strings = Seq("plain", "a\"quote", "back\\slash", "line\nbreak",
      "tab\there", "ctl\u0001char", "all \" \\ \n \t \u0001 \r end")
    val json = mapper.writeValueAsString(
      sweep(errors = strings.map(s => s -> s), sf = "sf \"q\"\n"))
    assert(!json.exists(_ < ' '), s"raw control character in $json")
    val errs = mapper.readTree(json).get("errors")
    strings.foreach(s => assert(errs.get(s).asText == s, s))
    // the oracle map Verify writes goes through the same mapper
    val oracle = mapper.readTree(mapper.writeValueAsString(Map("k\t" -> "v\"\n")))
    assert(oracle.get("k\t").asText == "v\"\n")
    assert(BenchSupport.readBaseline(json, "sf \"q\"\n").isDefined)
  }

  test("artifact write -> read round trip: 19 keys in order, same medians") {
    val json = BenchSupport.mapper.writeValueAsString(sweep())
    val root = BenchSupport.mapper.readTree(json)
    assert(root.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "queries_calibrated", "sf", "runs", "stat", "calibration",
      "total_calibrated", "planRisks", "planRisksNovel", "planAuditErrors",
      "fixture", "baseBuilds", "storagePost", "remeasured", "partialRuns",
      "errors"))
    assert(root.get("runs").isInt && root.get("storagePost").get("bytes").isIntegralNumber)
    assert(root.get("storagePost").get("overBudget").isBoolean)
    assert(root.get("remeasured").get("q_a").get("isolated").asBoolean)
    assert(root.get("value").asDouble == 0.25 + 1.2e-4)
    assert(root.get("queries_calibrated").get("q_a").asDouble == 0.4167)
    assert(root.get("queries_calibrated").get("q_neg").asDouble == -1.0)
    val back = BenchSupport.readBaseline(json, "/root/testdata/sf0.1")
    assert(back.contains(BenchSupport.Baseline(
      Map("q_a" -> 0.25, "q_neg" -> -1.0, "q_exp" -> 1.2e-4), Some(0.6))))
  }

  test("readBaseline reads every committed BENCH_*.json artifact") {
    // read-only over the repository's own artifacts: the reader, given
    // each file's own sf, returns every median its object holds; the
    // parsed-null driver wrappers (r01-r12) yield no baseline
    val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("BENCH_") && f.getName.endsWith(".json"))
      .sortBy(_.getName)
    assert(Seq("BENCH_r13.json", "BENCH_r14.json", "BENCH_LOCAL.json")
      .forall(n => files.exists(_.getName == n)), files.map(_.getName).toSeq)
    val read = files.map { f =>
      val txt = java.nio.file.Files.readString(f.toPath)
      val root = BenchSupport.mapper.readTree(txt)
      val obj = if (root.has("parsed")) root.get("parsed") else root
      val sf = Option(obj.path("sf").textValue).getOrElse(root.path("sf").asText)
      val got = BenchSupport.readBaseline(txt, sf)
      assert(got.fold(0)(_.queries.size) == obj.path("queries").size,
        s"${f.getName}: read ${got.fold(0)(_.queries.size)} of " +
          s"${obj.path("queries").size} medians")
      f.getName -> got
    }.toMap
    assert(read("BENCH_r13.json").map(_.queries.size).contains(236))
    assert(read("BENCH_r14.json").map(_.queries.size).contains(236))
    assert(read("BENCH_r14.json").flatMap(_.calibration)
      .exists(c => math.abs(c - 0.587338446) < 1e-9))
    (1 to 12).map(n => f"BENCH_r$n%02d.json").foreach { n =>
      assert(read.get(n).exists(_.isEmpty), s"$n should yield no baseline")
    }
  }
}
