package graft

import graft.functions.FsUtil
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's pure machinery — the parts that produce the GRADED
  * artifact. Two rounds of grading were misled by harness bugs (r04's
  * single-shot timings, r08's DataFrame retention), so the outlier gate,
  * the prev-artifact parser, and the fixture manifest (FsUtil.manifest,
  * which also keys engine state) carry their own unit contracts. */
class BenchSupportSpec extends AnyFunSuite {

  private val artifact =
    """{"metric":"total","value":12.5,"unit":"sec","queries":{"q_a":0.25,
      |"q_b":1.5,"q_neg":-1.0,"q_exp":1.2E-4},"sf":"/root/testdata/sf0.1",
      |"runs":3}""".stripMargin.replace("\n", "")

  test("parsePrevQueries reads medians, including failure markers and exponents") {
    val m = BenchSupport.parsePrevQueries(artifact, "/root/testdata/sf0.1")
    assert(m == Map("q_a" -> 0.25, "q_b" -> 1.5, "q_neg" -> -1.0,
      "q_exp" -> 1.2e-4))
  }

  test("parsePrevQueries refuses a different fixture dir (cross-SF timings are incomparable)") {
    assert(BenchSupport.parsePrevQueries(artifact, "/tmp/graft-sf1").isEmpty)
  }

  test("parsePrevQueries reads the driver wrapper's escaped tail") {
    // the committed BENCH_r*.json is the driver's capture wrapper: my
    // JSON line sits escaped inside its "tail" string (and may be
    // clipped — a partial medians map is still a usable baseline)
    val wrapper =
      """{"n": 8, "rc": 0, "sf": 0.1,
        | "tail": "{\"metric\":\"total\",\"queries\":{\"q_a\":0.5,\"q_b\":2.0},\"sf\":\"/root/testdata/sf0.1\"}",
        | "parsed": null}""".stripMargin
    val m = BenchSupport.parsePrevQueries(wrapper, "/root/testdata/sf0.1")
    assert(m == Map("q_a" -> 0.5, "q_b" -> 2.0))
  }

  test("parsePrevQueries returns empty on a clipped tail missing the queries key") {
    val clipped =
      """{"n": 8, "tail": "6733,\"q_zzz\":0.13}", "parsed": null}"""
    assert(BenchSupport.parsePrevQueries(clipped, "x").isEmpty)
  }

  test("parsePrevQueries is total on malformed input") {
    assert(BenchSupport.parsePrevQueries("not json at all", "x").isEmpty)
    assert(BenchSupport.parsePrevQueries("""{"queries":17}""", "x").isEmpty)
    assert(BenchSupport.parsePrevQueries("", "x").isEmpty)
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

  test("parsePrevCalibration reads plain, extended and wrapper-escaped forms") {
    assert(BenchSupport.parsePrevCalibration(
      """{"calibration":{"pre":0.5,"post":1.5},"x":1}""").contains(1.0))
    // round-12 artifacts append a "prev" field — must still parse
    assert(BenchSupport.parsePrevCalibration(
      """{"calibration":{"pre":0.5,"post":1.5,"prev":0.7}}""").contains(1.0))
    // escaped inside the driver wrapper's tail string
    assert(BenchSupport.parsePrevCalibration(
      """{"tail":"{\"calibration\":{\"pre\":2.0,\"post\":4.0}}"}""")
      .contains(3.0))
    assert(BenchSupport.parsePrevCalibration("""{"no":"cal"}""").isEmpty)
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

  test("jsonString escapes quote, backslash and control characters; Jackson reads it back") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("plain", "a\"quote", "back\\slash", "line\nbreak", "tab\there",
        "ctl\u0001char", "all \" \\ \n \t \u0001 \r end").foreach { s =>
      val lit = BenchSupport.jsonString(s)
      assert(lit.startsWith("\"") && lit.endsWith("\""), lit)
      assert(!lit.exists(_ < ' '), s"raw control character in $lit")
      assert(mapper.readValue(lit, classOf[String]) == s, lit)
    }
    // as a key and value inside an object, the way Bench and Verify write
    val obj = s"{${BenchSupport.jsonString("k\t")}: ${BenchSupport.jsonString("v\"\n")}}"
    assert(mapper.readTree(obj).get("k\t").asText() == "v\"\n")
  }
}
