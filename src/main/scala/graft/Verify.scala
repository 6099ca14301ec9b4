package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args: restrict the dump to the named queries (dev
    // loop; the driver passes none and gets the full registry). A name
    // not in the registry is a hard error — a typo would otherwise dump
    // nothing and exit 0, looking like a clean run against stale output.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // Bench's session: the correctness gate exercises exactly the plans
    // the bench times
    val spark = Bench.session(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // fixture-presence gate: the 7 extended-surface TPC-H queries (and
    // their oracle entries below) join the sweep only when the sfDir
    // actually carries partsupp + the extra lineitem columns — the driver
    // extends the fixtures, the 22-query sweep turns on by itself.
    val gated = operators.TpchGatedQueries.supported(spark, sfDir)
    if (gated) System.err.println(
      "[verify] extended TPC-H fixtures detected — including Q2/Q9/Q11/Q12/Q16/Q20/Q21")
    val registry = SparkEntry.queries ++
      (if (gated) operators.TpchGatedQueries.queries else Map.empty)
    val unknown = only.diff(registry.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    registry
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val oracles = SparkEntry.oracleSql ++
      (if (gated) operators.TpchGatedQueries.oracleSql else Map.empty)
    val json = oracles
      .map { case (k, v) =>
        s"${BenchSupport.jsonString(k)}: ${BenchSupport.jsonString(v)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
