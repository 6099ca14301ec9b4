package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one-call entry point: attach is idempotent and actually wires the
  * SQL surface (native function, TVF, optimizer rules), and every session
  * in the repo gets it from the one place. */
class GraftSessionSpec extends SparkSpec {

  test("attach wires functions, strategies, TVFs, and rules — twice is safe") {
    GraftSession.attach(spark)
    GraftSession.attach(spark) // idempotent
    // native function callable from SQL
    val c = spark.sql(
      "SELECT cosine_sim(ARRAY(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "ARRAY(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    // TVF surface resolves (topk_per_group over a tiny relation)
    spark.range(10).selectExpr("id % 2 AS g", "id AS v")
      .createOrReplaceTempView("gs_t")
    val k = spark.sql(
      "SELECT * FROM topk_per_group('gs_t', 'g', 'v', 2)").count()
    assert(k == 4L)
    // optimizer rules attached exactly once
    val opts = spark.experimental.extraOptimizations
    assert(opts.count(_ == plans.RollupRewrite) == 1)
    assert(opts.count(_ == plans.JoinElimination) == 1)
    val strats = spark.experimental.extraStrategies
    assert(strats.count(_ == plans.AsofJoinStrategy) == 1)
  }

  test("builder carries the session contract") {
    // Bench.session builds every session in the repo: UTC, nanosAsLong,
    // every component once, and only GraftSession assigns the experimental
    // lists
    val s = Bench.session(defaultCpus = 4)
    assert(s eq spark, "the test session is Bench.session's session")
    GraftSession.attach(s)
    GraftSession.attach(s)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val opts = s.experimental.extraOptimizations
    GraftSession.optimizerRules.foreach(r =>
      assert(opts.count(_ == r) == 1, s"${r.ruleName} in $opts"))
    val strats = s.experimental.extraStrategies
    GraftSession.plannerStrategies.foreach(st =>
      assert(strats.count(_ == st) == 1, s"$st in $strats"))
    val fns = s.sessionState.functionRegistry
    GraftSession.nativeFunctions.foreach(f => assert(fns.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(f.name)), f.name))
    val tvfs = s.sessionState.tableFunctionRegistry
    GraftSession.tableFunctions.foreach(t =>
      assert(tvfs.functionExists(t._1), t._1.funcName))
    // the experimental lists are written in one place: an assignment
    // anywhere else in the engine is a second install path that can drift
    val hits = mainSourceLines("""\bextra(Optimizations|Strategies)\s*=(?!=)""")
    // one assignment per list, both in GraftSession's shared helper
    assert(hits.length == 2 &&
      hits.forall(_.startsWith("graft/GraftSession.scala:")),
      s"experimental lists assigned outside the shared helper: $hits")
  }

  test("one SQL surface: no Scala UDF is registered or built in the engine") {
    // every SQL name is a NativeFunction, so GraftExtensions injects all of
    // them; a spark.udf name would exist on attached sessions only
    val registered = mainSourceLines("""\budf\.register\b""")
    assert(registered.isEmpty, s"Scala UDFs registered at $registered")
    // PlanDoctor's risk check is the one reader of ScalaUDF
    val udfs = mainSourceLines("""\bScalaUDF\b""")
    assert(udfs.nonEmpty && udfs.forall(_.startsWith("graft/plans/PlanDoctor.scala:")),
      s"ScalaUDF outside PlanDoctor: $udfs")
  }

  /** `file:line` of every main-source line matching `pattern`. */
  private def mainSourceLines(pattern: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    val re = pattern.r
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined =>
          s"${root.relativize(p)}:${i + 1}"
      })
    finally files.close()
  }
}
