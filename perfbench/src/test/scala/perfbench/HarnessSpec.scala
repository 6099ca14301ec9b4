package perfbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Spark-free pieces of the harness. */
class HarnessSpec extends AnyFunSuite {

  test("tail percentile: highest rung with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1000, 99) == 99)
    assert(Stats.tailPercentile(999, 99) == 95)   // p99 would leave 9.99 beyond
    assert(Stats.tailPercentile(200, 99) == 95)
    assert(Stats.tailPercentile(100, 90) == 90)
    assert(Stats.tailPercentile(99, 90) == 75)
    assert(Stats.tailPercentile(100000, 90) == 90) // never above the target
    assert(Stats.tailPercentile(20, 90) == 50)
    assert(Stats.tailPercentile(3, 90) == 50)      // too few: the median
  }

  test("percentile interpolates like numpy") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 50) == 2.5)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("an offset maps to the micro-batch whose (start, end] holds it") {
    // (batchId, startOffset, endOffset) as the progress reports give them;
    // batch 2 is a no-data batch (start == end)
    val of = StreamWordCount.batchOfOffset(Seq(
      (0L, None, 2L), (1L, Some(2L), 5L), (2L, Some(5L), 5L), (3L, Some(5L), 6L)))
    assert((0L to 6L).map(of) ==
      Seq(Some(0L), Some(0L), Some(0L), Some(1L), Some(1L), Some(1L), Some(3L)))
    assert(of(7L).isEmpty)
  }

  test("result JSON round-trips through jackson-module-scala") {
    val r = Result(correct = true, 1234, 0, Result.metrics(
      "setup_s" -> Metric(12.3456789, "s"),
      "throughput" -> Metric(19987.25, "1/s")))
    val json = r.toJson
    assert(json.startsWith("""{"correct":true,"attempted":1234,"failed":0,"metrics":{"setup_s":"""))
    val back = Result.fromJson(json)
    assert(back == r)
  }

  test("golden file round-trips") {
    val f = Files.createTempFile("golden", ".json").toFile
    try {
      val g = Map("q_a" -> (3L, "123456789012345678901"), "q_b" -> (0L, "0"))
      Registry.writeGolden(f, g)
      assert(Registry.loadGolden(f) == g)
    } finally f.delete()
  }

  test("seeded pass order is a permutation, stable per (seed, pass)") {
    val names = (1 to 30).map(i => s"q$i")
    val a = Registry.order(names, 7, 0)
    assert(a.sorted == names.sorted)
    assert(a == Registry.order(names, 7, 0))
    assert(a != Registry.order(names, 7, 1))
    assert(a != Registry.order(names, 8, 0))
  }
}
