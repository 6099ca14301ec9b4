package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.functions.{GraftExtensions, NativeCosine}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExtensionsProbe

/** The native codegen CosineSim expression: correctness vs the HOF
  * formulation, null semantics, plan shape, and registration paths. */
class NativeExprSpec extends SparkSpec {

  private val hofCosine =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
      | / (sqrt(aggregate(a, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |  * sqrt(aggregate(b, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin

  test("native cosine is bit-identical to the HOF formulation on embeddings") {
    NativeCosine.register(spark)
    val e = table("embeddings")
    val pairs = e.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(broadcast(
        e.filter(col("vec_id") < 3).select(col("embedding").as("b"))))
    val rows = pairs.select(
      call_function(NativeCosine.name, col("a"), col("b")).as("native"),
      expr(hofCosine).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
  }

  test("null semantics: length mismatch, empty arrays, zero norm, null input") {
    NativeCosine.register(spark)
    val r = spark.sql(s"""SELECT
      ${NativeCosine.name}(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS len_mismatch,
      ${NativeCosine.name}(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS empty,
      ${NativeCosine.name}(array(CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS zero_norm,
      ${NativeCosine.name}(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS null_in""").head()
    (0 until 4).foreach(i => assert(r.isNullAt(i), s"field $i should be null"))
  }

  test("interpreted eval path agrees with codegen (filter forces eval)") {
    NativeCosine.register(spark)
    // constant-folding runs the interpreted eval; compare to a literal
    val folded = spark.sql(s"""SELECT ${NativeCosine.name}(
        array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        array(CAST(2.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c""").head().getDouble(0)
    assert(math.abs(folded - 1.0) < 1e-12)
  }

  test("q_cosine_topk plan contains the native expression, no UDF invoke") {
    val plan = q("q_cosine_topk").queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim_native"), s"native expr missing:\n$plan")
    assert(!plan.contains("ScalaUDF"), "hot path fell back to a Scala UDF")
  }

  test("cosine_sim resolves to the native expression, no ScalaUDF") {
    table("embeddings").limit(20).createOrReplaceTempView("emb_native")
    val df = spark.sql("""
      SELECT vec_id, cosine_sim(embedding, embedding) AS c
      FROM emb_native""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim_native"),
      s"cosine_sim did not build the native expression:\n$plan")
    assert(!plan.contains("ScalaUDF"), "cosine_sim planned a ScalaUDF")
    df.collect().foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
  }

  test("native token_set_jaccard matches array_intersect formulation") {
    graft.functions.NativeJaccard.register(spark)
    val df = table("documents").limit(60)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("t"))
    val a = df.alias("a"); val b = df.alias("b")
    val inter = size(array_intersect(col("a.t"), col("b.t")))
    val rows = a.crossJoin(b)
      .select(
        call_function(graft.functions.NativeJaccard.name,
          col("a.t"), col("b.t")).as("native"),
        (inter.cast("double") /
          (size(col("a.t")) + size(col("b.t")) - inter)).as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native=${r.getDouble(0)} ref=${r.getDouble(1)}"))
  }

  test("token_set_jaccard null/edge semantics") {
    graft.functions.NativeJaccard.register(spark)
    val r = spark.sql(s"""SELECT
      token_set_jaccard(CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<STRING>)) AS both_empty,
      token_set_jaccard(array('a'), CAST(array() AS ARRAY<STRING>)) AS one_empty,
      token_set_jaccard(array('a','a','b'), array('a','b')) AS dup_input""").head()
    assert(r.isNullAt(0), "0/0 must be null")
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 1.0, "duplicates must collapse to sets")
  }

  test("native rolling_fingerprint equals the HOF fold on all documents") {
    graft.functions.NativeFingerprint.register(spark)
    val hofFp =
      """aggregate(split(text, ' '), CAST(0 AS BIGINT),
        |  (acc, w) -> (acc * 131 + aggregate(split(w, ''), CAST(0 AS BIGINT),
        |    (a, c) -> (a * 31 + ascii(c)) % 1000000007)) % 1000000007)""".stripMargin
    val rows = table("documents").select(
      call_function(graft.functions.NativeFingerprint.name, col("text")).as("native"),
      expr(hofFp).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native=${r.getLong(0)} hof=${r.getLong(1)}"))
  }

  test("rolling_fingerprint edge cases match split semantics") {
    graft.functions.NativeFingerprint.register(spark)
    val r = spark.sql("""SELECT
      rolling_fingerprint('') AS empty,
      rolling_fingerprint('a  b') AS double_space,
      rolling_fingerprint(' a') AS leading,
      rolling_fingerprint('ab') AS plain""").head()
    // '' → one empty token → 0
    assert(r.getLong(0) == 0L)
    // 'ab' → ((97*31+98) % P) folded once
    assert(r.getLong(3) == ((0L * 131) + (97L * 31 + 98)) % 1000000007L)
    // double space / leading space: hash empty tokens as 0 (just stable)
    assert(r.getLong(1) != r.getLong(3) && r.getLong(2) != r.getLong(3))
  }

  test("native dot_long equals the HOF fold, exact-integer, on scaled vectors") {
    graft.functions.NativeDot.register(spark)
    val e = table("embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 10000 + 0.5) AS BIGINT))")
          .as("iv"))
    val pairs = e.select(col("vec_id"), col("iv").as("a"))
      .crossJoin(broadcast(e.filter(col("vec_id") < 3).select(col("iv").as("b"))))
    val rows = pairs.select(
      call_function(graft.functions.NativeDot.name, col("a"), col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native=${r.getLong(0)} hof=${r.getLong(1)}"))
  }

  test("dot_long null/edge semantics; interpreted path agrees with codegen") {
    graft.functions.NativeDot.register(spark)
    val n = graft.functions.NativeDot.name
    val r = spark.sql(s"""SELECT
      $n(array(1L), array(1L, 2L)) AS len_mismatch,
      $n(CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>)) AS empty,
      $n(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS null_in,
      $n(array(2L, -3L, 5L), array(7L, 11L, -13L)) AS v""").head()
    assert(r.isNullAt(0) && r.isNullAt(2), "mismatch/null must be NULL")
    assert(r.getLong(1) == 0L, "empty arrays dot to 0")
    assert(r.getLong(3) == 2L * 7 - 3 * 11 - 5 * 13)
    // interpreted eval (nullSafeEval) — exercised via the expression
    // directly, no codegen context
    val ex = graft.functions.DotLong(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(2L, -3L, 5L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(7L, 11L, -13L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
    assert(ex.eval(null) == (2L * 7 - 3 * 11 - 5 * 13))
  }

  test("dot_long NULL ELEMENT yields NULL on both eval paths") {
    // the two engine paths used to disagree: interpreted NPE'd unboxing a
    // GenericArrayData null while codegen read 0 from an UnsafeArrayData
    // null slot — both must return NULL for a null element on either side
    graft.functions.NativeDot.register(spark)
    val n = graft.functions.NativeDot.name
    // a select over literals constant-folds: the optimizer evaluates it
    // with the interpreted eval before any task runs, so it pins the
    // literal form only
    val r = spark.sql(
      s"""SELECT $n(array(1L, CAST(NULL AS BIGINT), 3L), array(1L, 2L, 3L)) AS a,
         |       $n(array(1L, 2L, 3L), array(1L, CAST(NULL AS BIGINT), 3L)) AS b
         |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1),
      "literal form must return NULL on a null element")
    // codegen path: the same arrays from a parquet file, whole-stage fused
    val arrays = nonLocal(spark.sql("""SELECT
      array(1L, CAST(NULL AS BIGINT), 3L) AS x, array(1L, 2L, 3L) AS y"""))
    val compiled = arrays.selectExpr(s"$n(x, y) AS a", s"$n(y, x) AS b")
    assert(fusedProject(compiled), compiled.queryExecution.executedPlan.toString)
    val c = compiled.head()
    assert(c.isNullAt(0) && c.isNullAt(1),
      "codegen path must return NULL on a null element")
    // interpreted path (direct eval over GenericArrayData)
    val at = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = true)
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq[java.lang.Long](1L, null, 3L), at)
    val full = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq[java.lang.Long](1L, 2L, 3L), at)
    assert(graft.functions.DotLong(lit, full).eval(null) == null)
    assert(graft.functions.DotLong(full, lit).eval(null) == null)
  }

  /** `df` written to and read back from a temp parquet file: Spark runs
    * literal selects and projections over local data through the
    * interpreted eval (ConstantFolding, ConvertToLocalRelation), so only a
    * file-backed input reaches the generated code. */
  private def nonLocal(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-native").resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** True when the plan's projection runs inside a whole-stage codegen stage. */
  private def fusedProject(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists {
      case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[ProjectExec])
      case _ => false
    }

  test("every native expression returns the same rows compiled and interpreted") {
    import graft.functions._
    import org.apache.spark.sql.graftbridge.PlanBridge.{column, expression}
    GraftSession.attach(spark)
    // one file-backed table of edge rows: NULL inputs, NULL elements,
    // length mismatches, empty arrays, NaN/Infinity, zero vectors
    val input = nonLocal(spark.sql("""
      SELECT id, CAST(fa AS ARRAY<FLOAT>) AS fa, CAST(fb AS ARRAY<FLOAT>) AS fb,
             CAST(fa AS ARRAY<DOUBLE>) AS da, CAST(la AS ARRAY<BIGINT>) AS la,
             CAST(lb AS ARRAY<BIGINT>) AS lb, CAST(ta AS ARRAY<STRING>) AS ta,
             CAST(tb AS ARRAY<STRING>) AS tb, s, s2, CAST(v AS DOUBLE) AS v,
             g, CAST(codes AS ARRAY<INT>) AS codes,
             CAST(lut AS ARRAY<DOUBLE>) AS lut
      FROM VALUES
        (1, array(1.0, 2.0, 3.0, 4.0), array(2.0, 4.0, 6.0, 8.5),
            array(2, -3, 5), array(7, 11, -13), array('a', 'b', 'a', 'c'),
            array('a', 'c'), 'martha', 'marhta', '1.5', 0,
            array(0, 2), array(0.5, 1.0, 1.5, 2.0, 2.5, 3.0)),
        (2, array(1.0, 2.0, 3.0), array(1.0, 2.0, 3.0, 4.0), array(1),
            array(1, 2), array('x', NULL, 'y', 'x', NULL), array(NULL),
            '', 'abc', 'NaN', 1, array(1), array(1.0, 2.0, 3.0, 4.0)),
        (3, array(), array(), array(), array(), array(), array(),
            'a  b', '', NULL, 0, array(), array()),
        (4, NULL, array(1.0, 1.0, 1.0, 1.0), NULL, array(1), NULL, NULL,
            NULL, 'x', 'Infinity', 1, NULL, NULL),
        (5, array(1.0, CAST('NaN' AS DOUBLE), 0.0, 1.0), array(1.0, 1.0, NULL, 1.0),
            array(1, NULL, 3), array(1, 2, 3), array('a', NULL, 'b'),
            array('b', 'a'), 'héllo wörld 日本', 'hello world', '-2.0', 0,
            array(0, 0), array(CAST('NaN' AS DOUBLE), 1.0, 2.0, 3.0, 4.0, 5.0)),
        (6, array(0.0, 0.0, 0.0, 0.0), array(1.0, 1.0, 1.0, 1.0),
            array(1, 2, 3), array(1, 2, NULL), array('a', 'b', 'a', 'b'),
            array('a', 'b'), 'the cat and the dog', 'de la', '0.0', 1,
            array(2, 1), array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
      AS t(id, fa, fb, la, lb, ta, tb, s, s2, v, g, codes, lut)"""))
    val planes = Array(Array(1.0, -1.0, 0.5, 0.0), Array(0.0, 1.0, 1.0, -1.0),
      Array(-0.5, 0.0, 0.0, 2.0))
    val codebooks = Array(
      Array(Array(0.5, 0.5), Array(-0.5, 0.1), Array(0.0, 0.9)),
      Array(Array(0.7, 0.0), Array(0.1, -0.6), Array(0.3, 0.3)))
    val splits = Array(Array(-1.0, 0.0, 1.5, 2.0), Array.empty[Double])
    def native(e: Expression): Column = column(e)
    def c(name: String): Expression = expression(col(name))
    val cases: Seq[Column] = Seq(
      expr(s"${NativeCosine.name}(fa, fb)"),
      expr(s"${NativeCosine.name}(fa, da)"),
      expr(s"${NativeDot.name}(la, lb)"),
      // sequence() is non-null-typed: the kernel's unguarded loop
      expr(s"${NativeDot.name}(sequence(1L, size(la) + 1L), sequence(2L, size(lb) + 2L))"),
      native(LshBucket(c("fa"), planes)),
      native(LshBucket(c("da"), planes)),
      expr(s"${NativeSimHash.name}(ta)"),
      native(BucketIndex(c("g"), c("v"), splits, asc = true, nullBucket = 0)),
      native(BucketIndex(c("g"), c("v"), splits, asc = false, nullBucket = 4)),
      native(PqEncode(c("fa"), codebooks)),
      native(PqEncode(c("da"), codebooks)),
      native(PqLut(c("fa"), codebooks)),
      native(PqAdc(c("codes"), c("lut"), 3)),
      expr(s"${NativeJaccard.name}(ta, tb)"),
      expr(s"${NativeJaro.name}(s, s2)"),
      // non-nullable inputs: the generated call without a NULL branch
      expr(s"${NativeJaro.name}(coalesce(s, ''), coalesce(s2, ''))"),
      expr(s"${NativeFingerprint.name}(s)"),
      expr(s"${NativeFingerprint.name}(coalesce(s, ''))"),
      BpeMergePair.merge(col("ta"), "a b"),
      WordGrams.grams(col("ta"), 2, distinct = false),
      WordGrams.grams(col("ta"), 2, distinct = true),
      WordGrams.grams(col("ta"), 5, distinct = false),
      LangId.detect(col("s")))
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val covered = cases.flatMap { e =>
      // a fresh DataFrame per path: each plans under the conf it runs with
      def run(df: DataFrame) = df.collect().sortBy(_.getInt(0)).map(_.toString).toSeq
      val df = input.select(col("id"), e.as("r"))
      assert(fusedProject(df), df.queryExecution.executedPlan.toString)
      val compiled = run(df)
      val evaluated = withConf(interpreted: _*) {
        val plain = input.select(col("id"), e.as("r"))
        assert(!plain.queryExecution.executedPlan.exists(
          _.isInstanceOf[WholeStageCodegenExec]))
        run(plain)
      }
      assert(compiled.length == 6 && compiled == evaluated,
        s"$e\ncompiled:    $compiled\ninterpreted: $evaluated")
      df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case x if x.getClass.getPackageName == "graft.functions" =>
          x.getClass.getSimpleName
      })
    }.toSet
    assert(covered == Set("CosineSim", "DotLong", "LshBucket", "SimHashSig",
      "BucketIndex", "PqEncode", "PqLut", "PqAdc", "TokenSetJaccard",
      "JaroWinkler", "RollingFingerprint", "BpeMergePair", "WordGrams",
      "LangDetectExpr"), covered)
  }

  test("no generated-code string under functions/ carries a Java loop") {
    // every native expression's loop is its Scala kernel; a `for (` or
    // `while (` inside a string literal is a second, Janino-only copy
    val root = Paths.get("src/main/scala/graft/functions")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    val literal = "(?s)\"\"\".*?\"\"\"|\"(?:[^\"\\\\\n]|\\\\.)*\"".r
    val loop = """\b(for|while)\s*\(""".r
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { p =>
          literal.findAllIn(new String(Files.readAllBytes(p), "UTF-8"))
            .filter(loop.findFirstIn(_).isDefined)
            .map(l => s"${root.relativize(p)}: ${l.take(80)}")
        }
      finally files.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("GraftExtensions injects the function into a new session") {
    // The cluster path (spark.sql.extensions=graft.functions.GraftExtensions)
    // installs exactly what the library path (GraftSession.attach) does.
    def functionNames(s: SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    def tableFunctionNames(s: SparkSession): Set[String] =
      s.sessionState.tableFunctionRegistry.listFunction().map(_.funcName).toSet
    val bare = spark.newSession()
    val attached = GraftSession.attach(spark.newSession())
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)

    assert(ExtensionsProbe.strategies(ext, bare) ==
      attached.experimental.extraStrategies)
    assert(ExtensionsProbe.optimizerRules(ext, bare) ==
      attached.experimental.extraOptimizations)
    val injected = ExtensionsProbe.functionNames(ext)
    assert(injected.contains(NativeCosine.name))
    Seq("cosine_sim", "lang_id", "jaccard_tokens", "normalize_text", "token_count")
      .foreach(n => assert(injected.contains(n), n))
    assert(injected == functionNames(attached) -- functionNames(bare))
    val injectedTvfs = ExtensionsProbe.tableFunctionNames(ext)
    assert(injectedTvfs.nonEmpty &&
      injectedTvfs == tableFunctionNames(attached) -- tableFunctionNames(bare))
  }

  test("BpeMergePair rejects a malformed pair on the driver, before any task") {
    import spark.implicits._
    val toks = Seq(Tuple1(Seq("a", "b"))).toDF("t")
    Seq("a", "a b c").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        toks.select(graft.functions.BpeMergePair.merge(col("t"), bad)))
      assert(e.getMessage.contains(s"'$bad'"))
    }
    val merged = toks.select(
      graft.functions.BpeMergePair.merge(col("t"), "a b").as("m"))
    assert(merged.head().getSeq[String](0) == Seq("a_b"))
  }

  test("BpeMergePair passes a null element through and declares it nullable") {
    val toks = spark.sql("SELECT array('a', null, 'b') AS t, array('x', null, 'a', 'b') AS u")
    val merged = toks.select(
      graft.functions.BpeMergePair.merge(col("t"), "a b").as("m"),
      graft.functions.BpeMergePair.merge(col("u"), "a b").as("n"))
    merged.schema.fields.foreach { f =>
      assert(f.dataType == org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true), f.toString)
    }
    val r = merged.head()
    assert(r.getSeq[String](0) == Seq("a", null, "b"))
    assert(r.getSeq[String](1) == Seq("x", null, "a_b"))
  }
}
