package graft

import java.nio.file.{Files, Paths}

/** Dev utility: dump `.explain("formatted")` of registry queries to files
  * and audit each plan with PlanDoctor. Test-sources-only (must not ship
  * in the production artifact); run with BOTH target/scala-2.13/classes
  * and target/scala-2.13/test-classes (plus the Spark jars) on the
  * classpath:
  *   java -cp "<classes>:<test-classes>:<spark jars>" graft.ExplainQuery
  *     <outDir> <suffix> <sfDir> [query ...]
  * With no query names it covers the whole registry. Writes
  * <outDir>/<query>_<suffix>.txt per query. The plan is the EXECUTED
  * adaptive plan (the df is run first via toRdd.count, so AQE's final
  * join strategies / coalesced exchanges are what lands in the file —
  * the same flavor Bench's plan audit grades). Prints every PlanDoctor
  * risk finding tagged NOVEL or allowlisted (plans/PlanAllowlist.scala),
  * then the raw and novel totals — the drill-down behind Bench's
  * planRisks / planRisksNovel counters.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainQuery <outDir> <suffix> <sfDir> [query ...]")
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.session(defaultCpus = 32)
    Files.createDirectories(Paths.get(outDir))
    var raw = 0; var novel = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // run it so the adaptive plan is final, then capture both views
        df.queryExecution.toRdd.count()
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val plan = df.queryExecution.executedPlan
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          s"== explain(formatted) ==\n$formatted\n== executedPlan (final adaptive) ==\n$plan\n")
        println(s"[explain] wrote $name")
        val findings = plans.PlanDoctor.diagnosePlan(plan)
          .filter(_.severity == "risk")
        val nv = plans.PlanAllowlist.filterNovel(name, findings, plan)
        raw += findings.size; novel += nv.size
        findings.foreach { f =>
          val tag = if (nv.contains(f)) "NOVEL" else "allowlisted"
          println(s"[explain] $tag $name: ${f.render}")
        }
      } catch { case e: Throwable =>
        println(s"[explain] ERR $name ${Option(e.getMessage).getOrElse(e.getClass.getName).take(160)}")
      }
    }
    println(s"[explain] risks raw=$raw novel=$novel")
    spark.stop()
  }
}
