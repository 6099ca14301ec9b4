package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to [[CosineLsh]] (SURVEY.md north star: "an IVF or
  * LSH-bucketed variant").
  *
  * Train: Lloyd's k-means on a BOUNDED driver-side sample (IVF training is
  * an offline step everywhere — the sample cap keeps the driver safe at
  * any corpus size; seed-fixed for reproducibility). Index: every vector
  * is assigned to its nearest centroid cell — ONE pass, cell id is a plain
  * column, so the "index" is just a partitioning key (at 100 TB: write the
  * corpus partitioned/bucketed by cell and searches touch only probed
  * cells' files). Search: probes visit their nProbe nearest cells — the
  * candidate join is key-equality on cell id, shuffle ∝ probed cells only,
  * never all-pairs.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0d; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Lloyd's k-means over `min(sampleN, corpus)` vectors on the driver.
    *
    * The sample is the sampleN rows with the smallest seeded xxhash64 of
    * the vector — a uniform pseudo-random draw over the WHOLE corpus, not
    * a `limit(n)` prefix (a prefix follows storage order, so a corpus
    * sorted or clustered by source/topic would train centroids on one
    * region of the space and recall collapses elsewhere). orderBy+limit
    * plans as TakeOrdered: each partition keeps its own top-sampleN by
    * hash in a bounded heap and the driver merges — no full sort, no
    * extra shuffle, and the collect stays capped at sampleN rows at any
    * corpus size. Seed-fixed for reproducibility. */
  def train(df: DataFrame, vecCol: String, k: Int, seed: Long = 42L,
            sampleN: Int = 1000, iters: Int = 5): Model = {
    // float AND double corpora: a float element widens to double exactly,
    // so the float path's arithmetic is bit-unchanged; a double corpus
    // previously ClassCastException'd in getSeq[Float] (self-review)
    val sample: Array[Array[Double]] = df.select(col(vecCol))
      .orderBy(xxhash64(lit(seed), col(vecCol)).asc)
      .limit(sampleN)
      .collect().map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case other => throw new IllegalArgumentException(
          s"$vecCol must be ARRAY<FLOAT> or ARRAY<DOUBLE>, found element $other")
      }.toArray)
    require(sample.nonEmpty, "cannot train IVF on an empty corpus")
    val rnd = new Random(seed)
    val dim = sample.head.length
    var centroids = rnd.shuffle(sample.toSeq).take(k)
      .map(_.clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centroids.length) {
          val d = sqDist(centroids(c), v)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // keep empty cells stable
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    Model(centroids)
  }

  /** Negated squared L2 distance to a literal centroid (HOF fold; higher
    * is nearer, so struct-max picks the closest cell). */
  private def negSqDist(vec: Column, centroid: Array[Double]): Column =
    aggregate(
      zip_with(vec, typedlit(centroid.toSeq),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0d), (acc, v) => acc + v) * -1d

  /** Nearest-cell id for a vector column (0 until model.k). */
  def assign(vec: Column, m: Model): Column =
    greatest(m.centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(negSqDist(vec, c).as("d"), lit(i).as("cell"))
    }: _*).getField("cell")

  /** The nProbe nearest cell ids for a probe vector (array column). */
  def probeCells(vec: Column, m: Model, nProbe: Int): Column = {
    val scored = array(m.centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(negSqDist(vec, c).as("d"), lit(i).as("cell"))
    }: _*)
    // sort ascending by (d, cell) then take the LAST nProbe (largest -d =
    // nearest), as plain cell ids
    transform(
      slice(array_sort(scored), -nProbe, nProbe),
      s => s.getField("cell"))
  }

  /** Approximate top-k: probes search only their nProbe nearest cells.
    * Output: (probe_id, rn, vec_id, cos). */
  def topK(corpus: DataFrame, probes: DataFrame, idCol: String,
           vecCol: String, m: Model, k: Int, nProbe: Int = 2): DataFrame =
    topKAssigned(
      // spread BEFORE assign: cell scoring is k interpreted HOF folds per
      // row (zip_with is CodegenFallback) and a one-file corpus would run
      // them all — and the probe join after — in a single task
      Materialize.spread(
        corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv")))
        .withColumn("cell", assign(col("cv"), m)),
      probes, idCol, vecCol, m, k, nProbe)

  /** [[topK]] over a corpus already carrying (vec_id, cv, cell) — shared
    * by the in-memory and on-disk paths. */
  private def topKAssigned(c: DataFrame, probes: DataFrame, idCol: String,
                           vecCol: String, m: Model, k: Int,
                           nProbe: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      explode(probeCells(col(vecCol), m, nProbe)).as("cell"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    c.join(p, "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        call_function(NativeCosine.name, col("cv"), col("pv")).as("cos"))
      .groupBy("probe_id", "vec_id").agg(max("cos").as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), col("cos"))
  }

  /** Persist the trained centroids under an index root (one row per
    * cell), next to the `cells/` data table — the index directory is
    * fully self-contained. (Not an underscore-prefixed subdir INSIDE the
    * data table: Spark reads such paths only via a fragile
    * explicit-path exemption, with an "All paths were ignored" warning.) */
  def saveModel(spark: org.apache.spark.sql.SparkSession, m: Model,
                path: String): Unit = {
    import spark.implicits._
    m.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/ivf_model")
  }

  /** Re-open the centroids persisted by [[saveModel]] — a bounded
    * (k rows) driver collect. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): Model = {
    val rows = spark.read.parquet(s"$path/ivf_model")
      .orderBy("cell").collect()
    require(rows.nonEmpty, s"no IVF model at $path/ivf_model")
    Model(rows.map(_.getSeq[Double](1).toArray))
  }

  /** Materialize the on-disk IVF index: the corpus written PARTITIONED BY
    * cell id, with the centroids saved alongside ([[saveModel]]) so the
    * directory is self-contained — a later session needs only the path.
    * The "index" is nothing but a directory layout — it inherits
    * parquet's durability/compaction story, any engine can read it, and
    * at 100 TB each cell is a directory a planner can skip wholesale. */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 m: Model, path: String): Unit = {
    Materialize.spread(
        corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv")))
      .withColumn("cell", assign(col("cv"), m))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    saveModel(corpus.sparkSession, m, path)
  }

  /** APPEND a batch of new vectors to an on-disk index WITHOUT touching
    * the standing cells: the batch assigns against the STORED centroids
    * (the model stays fixed — IVF appends never re-train; re-train and
    * rebuild when assignment drift accumulates, the standard IVF
    * maintenance contract) and parquet-appends into the partitioned
    * layout, so the increment costs one batch scan + the appended files.
    * appendVectors(writeIndex(C, m), B) ≡ writeIndex(C ∪ B, m): the
    * assignment depends only on (vector, centroids), so probes see
    * identical results either way (IvfSpec pins it). */
  def appendVectors(path: String, batch: DataFrame, idCol: String,
                    vecCol: String): Unit = {
    val m = loadModel(batch.sparkSession, path)
    // NOT the StagedCommit single-file path: the cell-PARTITIONED layout
    // needs one file per touched cell dir, so this append is not
    // crash-atomic — a crash mid-write can leave some cells appended.
    // Appended rows are per-vector and idempotent to re-derive, so the
    // recovery is re-run appendVectors after de-duplicating on vec_id
    // (or rebuild); the exactly-once arrival path is StreamingAnn.
    Materialize.spread(
        batch.select(col(idCol).as("vec_id"), col(vecCol).as("cv")))
      .withColumn("cell", assign(col("cv"), m))
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** DELETE compaction (round-12): drop every cell row of `removeIds`
    * vectors — rows are per-vector, so probes simply stop seeing them;
    * the centroid model is untouched (assignment of the survivors never
    * changes, so search ≡ an index the removed vectors never entered).
    * An updated vector composes removeVectors + appendVectors.
    * Partition-aware touched-file rewrite under the writer lock. */
  def removeVectors(path: String, removeIds: DataFrame): Unit =
    FsUtil.withWriterLock(path) {
      CompactStore.compactPartitioned(s"$path/cells", "vec_id", "cell",
        removeIds.select(col(removeIds.columns.head).as("vec_id")))
    }

  /** Search an on-disk index written by [[writeIndex]]: the equi-join on
    * the PARTITION column `cell` lets the planner prune every non-probed
    * cell's files (dynamic partition pruning from the small probe side),
    * so the scan touches ~nProbe/k of the corpus — the point of IVF at
    * scale. */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  probes: DataFrame, idCol: String, vecCol: String,
                  m: Model, k: Int, nProbe: Int = 2): DataFrame =
    topKAssigned(spark.read.parquet(s"$path/cells"), probes, idCol, vecCol, m, k,
      nProbe)

  /** [[topKIndexed]] with the centroids loaded from the index directory
    * itself — the self-contained open path a new session uses. */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  probes: DataFrame, idCol: String, vecCol: String,
                  k: Int, nProbe: Int): DataFrame =
    topKIndexed(spark, path, probes, idCol, vecCol, loadModel(spark, path),
      k, nProbe)
}
