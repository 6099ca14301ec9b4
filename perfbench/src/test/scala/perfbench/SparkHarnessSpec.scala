package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The harness pieces that need a live session: fingerprints and the
  * event → micro-batch mapping. Fixtures are the benchmark's own copy. */
class SparkHarnessSpec extends AnyFunSuite {
  private val fixtures = new File("fixtures/sf0.1").getAbsolutePath

  private def withSession[T](body: SparkSession => T): T = {
    val dir = Files.createTempDirectory("perfbench-spec").toFile
    val spark = Session.build(dir)
    try body(spark) finally spark.stop()
  }

  private def fp(spark: SparkSession, q: String) =
    Fingerprint.collect(Fingerprint.of(graft.SparkEntry.queries(q)(spark, fixtures)))

  private val probes = Seq("q_ab_test", "q_filter_in", "q_win_dist")

  test("fingerprints are stable across two sessions and ignore row order") {
    val first = withSession(s => probes.map(fp(s, _)))
    val second = withSession { s =>
      val shuffled = graft.SparkEntry.queries(probes(1))(s, fixtures)
        .repartition(7).sortWithinPartitions(org.apache.spark.sql.functions.rand(1))
      assert(Fingerprint.collect(Fingerprint.of(shuffled)) == first(1))
      probes.map(fp(s, _))
    }
    assert(first == second)
    assert(first.forall(_._1 > 0))
    assert(first.map(_._2).distinct.size == probes.size)
  }

  test("fingerprints match the golden file for the probe queries") {
    val golden = Registry.loadGolden(new File("golden/registry.json"))
    assert(Registry.light.toSet == golden.keySet)
    withSession(s => probes.foreach(q => assert(fp(s, q) == golden(q), q)))
  }

  test("progress offsets map every MemoryStream chunk to the batch that saw it") {
    withSession { spark =>
      import spark.implicits._
      val in = MemoryStream[Long](implicitly[org.apache.spark.sql.Encoder[Long]], spark.sqlContext)
      val seen = mutable.Map.empty[Long, Set[Long]]
      val sink: (Dataset[Row], Long) => Unit = (df, id) =>
        seen.synchronized { seen(id) = df.collect().map(_.getLong(0)).toSet }
      val q = in.toDF().writeStream.foreachBatch(sink)
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString).start()
      // chunk k holds the values 100k .. 100k + 9; chunks are added in
      // groups so several land in one micro-batch
      val offsets = mutable.ArrayBuffer.empty[Long]
      try for (group <- Seq(1, 3, 2)) {
        (0 until group).foreach { _ =>
          val k = offsets.size
          offsets += in.addData((0 until 10).map(i => 100L * k + i)).json().toLong
        }
        q.processAllAvailable()
      } finally q.stop()
      val batchOf = StreamWordCount.batchOfOffset(q.recentProgress.toSeq.map { p =>
        val s = p.sources.head
        def off(x: String) = Option(x).filterNot(_ == "null").map(_.toLong)
        (p.batchId, off(s.startOffset), off(s.endOffset).getOrElse(-1L))
      })
      offsets.zipWithIndex.foreach { case (o, k) =>
        val b = batchOf(o)
        assert(b.isDefined, s"chunk $k unmapped")
        assert(seen(b.get).contains(100L * k), s"chunk $k not in batch ${b.get}")
      }
      assert(offsets.map(batchOf).distinct.size == 3)
    }
  }
}
