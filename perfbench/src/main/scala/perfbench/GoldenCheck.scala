package perfbench

import java.io.File

/** Ties the golden fingerprints to the DuckDB oracle: fingerprints the
  * results `graft.Verify` wrote (the same results `tools/check.py` compares
  * against the oracle) and checks they equal the golden file.
  *
  *   java -cp <classes>:$SPARK_HOME/jars/'*' graft.Verify perfbench/fixtures/sf0.1 <out> <queries...>
  *   python3 tools/check.py perfbench/fixtures/sf0.1 <out> <queries...>
  *   java -cp <classes>:$SPARK_HOME/jars/'*' perfbench.GoldenCheck <out> perfbench/golden/registry.json <runDir>
  */
object GoldenCheck {
  def main(args: Array[String]): Unit = {
    val (out, golden) = (args(0), Registry.loadGolden(new File(args(1))))
    val spark = Session.build(new File(args(2)))
    val bad = try golden.toSeq.sortBy(_._1).filter { case (n, want) =>
      val got = Fingerprint.collect(Fingerprint.of(spark.read.parquet(s"$out/$n")))
      println(s"${if (got == want) "OK  " else "DIFF"} $n $got")
      got != want
    } finally spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
