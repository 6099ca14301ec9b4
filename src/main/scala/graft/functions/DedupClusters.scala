package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTERING: turn a pair list (from MinHashDedup /
  * CosineLsh / SimHash candidates) into connected components and a
  * canonical-survivor corpus. Pair detection alone under-deletes: with
  * docs A≈B, B≈C but A̸≈C, deleting one doc per PAIR can still keep two
  * near-identical docs — the component {A,B,C} must collapse to one
  * survivor. This is the last stage of every production dedup pipeline.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with its own id; each round a node takes the minimum label in its
  * closed neighborhood; fixpoint = every component labeled by its minimum
  * id. Rounds needed = O(component diameter) — near-dup components are
  * small and dense in practice, so a handful of rounds suffices; maxIter
  * bounds the worst case.
  *
  * Scale notes:
  *   - each round is one equi-join on node id + one hash aggregate — the
  *     same shuffle shape as a word count; nothing driver-sized.
  *   - labels are localCheckpoint'ed every round: iterative DataFrames
  *     otherwise grow their lineage/plan exponentially.
  *   - convergence is checked with a scalar SUM(label) per round (labels
  *     only decrease, so an unchanged sum IS the fixpoint) — one tiny
  *     driver scalar, not a data collect.
  */
object DedupClusters {

  /** Connected components of the undirected pair graph.
    *
    * @param pairs columns (aCol, bCol) — one row per detected pair
    * @return (id, cluster) where cluster = min node id in the component
    * @param reliable write per-round checkpoints to the configured
    *   SparkContext checkpoint dir instead of executor-pinned
    *   localCheckpoints — the fault-tolerant mode for long-running
    *   100 TB jobs (see [[Materialize]]); also switched on globally by
    *   spark.graft.reliableCheckpoints=true. Same fixpoint either way. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id",
                          maxIter: Int = 20,
                          reliable: Boolean = false,
                          roundsOut: Option[java.util.concurrent.atomic.AtomicInteger] = None): DataFrame = {
    val rel = reliable || Materialize.reliableRequested(pairs)
    val edges = Materialize( // reused every round — cut it off the source plan
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct(), rel)
    var labels = Materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")), rel)
    var prevSum = labels.agg(sum("cluster")).head().getLong(0)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("cluster"))
      labels = Materialize(labels.unionAll(viaNeighbors)
        .groupBy("id").agg(min("cluster").as("cluster")), rel)
      val s = labels.agg(sum("cluster")).head().getLong(0)
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    // a maxIter exit without convergence returns NON-MINIMAL labels —
    // on a high-diameter component (propagation needs O(diameter)
    // rounds) that is silently wrong clustering, so say so loudly; the
    // star variant converges in O(log n) rounds on the same graph
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents exited at maxIter=$maxIter UNCONVERGED — " +
          "labels may not be component minima; raise maxIter or use " +
          "connectedComponentsStar (O(log n) rounds) for high-diameter graphs")
    roundsOut.foreach(_.set(i))
    labels
  }

  /** Alternating large-star/small-star connected components — the
    * standard O(log n)-round MapReduce CC (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014; public algorithm).
    * Label propagation needs O(component diameter) rounds: a 1M-hop chain
    * component (pathological but real in fuzzy-threshold dedup graphs) is
    * 1M checkpointed joins. The star operations instead REWRITE the edge
    * set toward min-centered stars — each large-star hop halves long
    * paths, so convergence is logarithmic in component size regardless of
    * diameter. Per round: two grouped-min aggregates + two equi-joins on
    * node id, nothing driver-sized; same fixpoint contract as
    * [[connectedComponents]] ((id, cluster = component-min), one row per
    * node appearing in `pairs`), proven equal in FunctionsLibSpec on
    * chains, islands, self-pairs and the LSH pair graph.
    *
    * large-star(u): every neighbor v > u re-attaches to m(u) = min of
    * u's closed neighborhood; small-star(u): every neighbor v ≤ u (and u
    * itself) attaches to m(u). Both preserve connectivity; alternating
    * them converges to stars centered at component minima. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String = "a_id",
                              bCol: String = "b_id",
                              maxIter: Int = 30,
                              reliable: Boolean = false,
                              roundsOut: Option[java.util.concurrent.atomic.AtomicInteger] = None): DataFrame = {
    val rel = reliable || Materialize.reliableRequested(pairs)
    def sym(df: DataFrame): DataFrame =
      df.unionAll(df.select(col("v").as("u"), col("u").as("v")))
    def minsOf(e: DataFrame): DataFrame =
      e.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
    var edges = Materialize(
      sym(pairs.select(col(aCol).as("u"), col(bCol).as("v"))
        .where(col("u") =!= col("v"))).distinct(), rel)
    // set-equality probe: count + two independently-seeded order-invariant
    // hash sums. Labels are not monotone under edge REWRITING (unlike
    // propagation), so the sum-of-labels trick doesn't apply; an unchanged
    // probe is the fixpoint (the edge set stopped changing). Sums run in
    // DECIMAL(38,0) over mod-1e9 hash values — a raw BIGINT sum of 64-bit
    // hashes overflows (ANSI error) past ~1e9 edges; two seeds put a
    // sham-convergence collision at ~1e-18 per round, and the spec pins
    // label equality against the propagation variant regardless.
    def checksum(e: DataFrame): (Long, String, String) = {
      def hsum(seed: Int) = sum(
        pmod(xxhash64(lit(seed), col("u"), col("v")), lit(1000000007L))
          .cast("decimal(38,0)"))
      val r = e.agg(count(lit(1)), hsum(1), hsum(2)).head()
      (r.getLong(0), String.valueOf(r.get(1)), String.valueOf(r.get(2)))
    }
    var prev = checksum(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: symmetric edge list means every undirected edge shows
      // up in its smaller endpoint's list as a larger neighbor — (v, m)
      // with m ≤ u < v, so no self-loops to drop
      val m1 = minsOf(edges)
      val large = edges.join(m1, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val afterLarge = Materialize(sym(large).distinct(), rel)
      // small-star: smaller-or-equal neighbors plus u itself onto m(u)
      val m2 = minsOf(afterLarge)
      val small = afterLarge.where(col("v") <= col("u")).join(m2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(m2.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
      edges = Materialize(sym(small).distinct(), rel)
      val s = checksum(edges)
      converged = s == prev
      prev = s
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponentsStar exited at maxIter=$maxIter UNCONVERGED — " +
          "labels may not be component minima (should not happen below " +
          "~2^30-node components; raise maxIter)")
    roundsOut.foreach(_.set(i))
    // stars: every node's closed-neighborhood min IS its component min;
    // self-pair-only nodes (filtered with the u≠v guard) label themselves,
    // matching the propagation variant's output exactly
    val labels = minsOf(edges).select(col("u").as("id"), col("m").as("cluster"))
    val selfOnly = pairs.where(col(aCol) === col(bCol))
      .select(col(aCol).as("id")).distinct()
      .join(labels, Seq("id"), "left_anti")
      .withColumn("cluster", col("id"))
    labels.unionAll(selfOnly)
  }

  /** Collapse a corpus to canonical survivors: for every component keep
    * the minimum-id row; rows in no pair survive untouched. */
  def keepCanonical(df: DataFrame, idCol: String,
                    pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    df.join(comps, df(idCol) === comps("id"), "left")
      .filter(col("cluster").isNull || col("cluster") === df(idCol))
      .drop("id", "cluster")
  }

  /** INCREMENTAL cluster refresh — the operation a living corpus runs
    * when a batch of new near-dup pairs arrives, WITHOUT re-running
    * connected components over the standing pair graph. Standard
    * union-find-by-contraction: every new edge's endpoints map to their
    * CURRENT cluster label (new nodes label themselves), connected
    * components run over that CONTRACTED graph — whose size is ∝ the new
    * pairs, never the corpus — and the resulting label→label remap joins
    * back over the standing clusters.
    *
    * Why the result equals a from-scratch rebuild (DedupPersistSpec pins
    * it): old labels are component MINIMA, so a merged component's
    * contracted minimum = min over its old-component minima and its new
    * node ids = the merged component's true minimum node id; components
    * untouched by new edges are unchanged in the full graph, and their
    * labels miss the remap, so they pass through.
    *
    * Scale posture: one CC fixpoint over the contracted graph (tiny),
    * one broadcast-sized remap join over the standing (id, cluster)
    * relation — O(delta + |clusters|), never O(pairs). Output contract
    * matches [[connectedComponents]]: one row per node that appears in
    * `oldClusters` or in a new pair; cluster = component-min id. */
  /** Default driver-side union-find cap for the CONTRACTED refresh
    * graph: at or below this many contracted edges (≈16 MB of long
    * pairs) the merge fixpoint runs in-memory on the driver — a BOUNDED
    * collect (the cap is explicit, the relation was just counted) with a
    * distributed star-CC fallback above it and for non-long id types.
    * The contracted graph is ∝ the increment's new pairs, so a daily
    * batch sits far under the cap and the refresh costs one collect +
    * one broadcast remap join instead of an iterative multi-job
    * fixpoint; a backfill that merges tens of millions of pairs falls
    * back to the O(log n)-round distributed path. The cap is an explicit
    * PER-CALL parameter of [[refreshClusters]] (it was a mutable shared
    * var toggled by the spec — a concurrent refresh could observe the
    * temporarily-zeroed cap and silently take the slow path). */
  val DefaultLocalRefreshMaxEdges: Long = 1L << 20

  /** @param localRefreshMaxEdges per-call driver union-find cap (see
    *   [[DefaultLocalRefreshMaxEdges]]); pass 0 to force the distributed
    *   star-CC path — same labels either way, DedupPersistSpec pins it. */
  def refreshClusters(oldClusters: DataFrame, newPairs: DataFrame,
                      aCol: String = "a_id", bCol: String = "b_id",
                      localRefreshMaxEdges: Long = DefaultLocalRefreshMaxEdges): DataFrame = {
    // old is scanned several times below (two label joins, the remap
    // pass, the new-node anti-join) but NOT checkpointed here: the
    // standing cluster relation is a stored table in every real caller,
    // and re-writing the whole corpus's labels per increment would cost
    // more than the re-scans.
    val old = oldClusters.select(col("id"), col("cluster"))
    val edges = Materialize(
      newPairs.select(col(aCol).as("u"), col(bCol).as("v")))
    val labU = old.select(col("id").as("u"), col("cluster").as("cu"))
    val labV = old.select(col("id").as("v"), col("cluster").as("cv"))
    // endpoints → current labels; a node the standing relation has never
    // seen labels itself (it IS its own component so far)
    val contractedEdges = edges
      .join(labU, Seq("u"), "left")
      .join(labV, Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("a_id"),
        coalesce(col("cv"), col("v")).as("b_id"))
    val longIds = contractedEdges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // BOUNDED one-action probe: collect at most cap+1 contracted edges —
    // cap+1 rows prove overflow without counting the relation first, so
    // the common (delta-sized) case pays ONE tiny job instead of a
    // checkpoint + count + collect chain (the increment's refresh leg is
    // overhead-bound: its data is ∝ the new pairs, not the corpus)
    val localRows =
      if (longIds && localRefreshMaxEdges > 0 &&
          localRefreshMaxEdges < Int.MaxValue) {
        val r = contractedEdges
          .limit(localRefreshMaxEdges.toInt + 1).collect()
        if (r.length <= localRefreshMaxEdges) Some(r) else None
      } else None
    val remap = localRows match {
      case Some(rows) => localUnionFindRemap(rows, edges.sparkSession)
      case None =>
        // star CC: contracted components can chain through many labels
        // when one batch merges k old components — O(log) rounds; the
        // overflow probe above re-derives the contracted joins once
        // (small equi-joins — cheaper than checkpointing them eagerly
        // on every delta-sized refresh just in case)
        Materialize(connectedComponentsStar(contractedEdges)
          .select(col("id").as("lbl"), col("cluster").as("newc")))
    }
    val oldRefreshed = old
      .join(remap, old("cluster") === remap("lbl"), "left")
      .select(old("id").as("id"),
        coalesce(col("newc"), old("cluster")).as("cluster"))
    // nodes introduced by the new pairs: their contracted label is their
    // own id, so the remap carries their cluster directly
    val newNodes = edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id"))).distinct()
      .join(old.select("id"), Seq("id"), "left_anti")
    val newRows = newNodes
      .join(remap, newNodes("id") === remap("lbl"), "left")
      .select(newNodes("id").as("id"),
        coalesce(col("newc"), newNodes("id")).as("cluster"))
    oldRefreshed.unionAll(newRows)
  }

  /** In-memory min-label union-find over a BOUNDED contracted edge list
    * (the caller's cap+1 limit-collect enforces the bound): path-
    * compressed find, then one pass assigning each root the minimum
    * member id. Returns the (lbl, newc) remap as a local (hence
    * broadcastable) relation with the same contract as the distributed
    * branch. */
  private def localUnionFindRemap(rows: Array[org.apache.spark.sql.Row],
                                  spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.get(c); parent.put(c, r); c = nxt
      }
      r
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // roots are already component minima: unions always point the larger
    // root at the smaller, and initial roots are the ids themselves
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val seen = new java.util.HashSet[Long]()
    rows.foreach { r =>
      Seq(r.getLong(0), r.getLong(1)).foreach { v =>
        if (seen.add(v)) out += ((v, find(v)))
      }
    }
    import spark.implicits._
    out.toSeq.toDF("lbl", "newc")
  }

  /** Persist the dedup-cluster artifact — the relation every downstream
    * consumer (split assignment, survivor filters, curation pipelines)
    * actually reads — as two self-describing parquet tables under `path`:
    * `clusters/` = (id, cluster) and `pairs/` = the verified pair
    * relation it was built from (the audit/rebuild trail). The
    * RollupRewrite discipline: compute once, read many; a later session
    * re-opens with [[readPersistedClusters]] and never re-derives
    * signatures from raw text. Returns the read-back clusters. */
  def writePersisted(pairs: DataFrame, path: String,
                     aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val p = Materialize(pairs)
    p.write.mode("overwrite").parquet(s"$path/pairs")
    // self-describing artifact: record the pair id columns so recovery
    // (recoverAppended's trail rebuild) needs no caller-supplied names —
    // production artifacts use (id_a, id_b), the default is (a_id, b_id)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/pair_cols"), s"$aCol,$bCol"): Unit
    connectedComponents(p, aCol, bCol)
      .write.mode("overwrite").parquet(s"$path/clusters")
    pairs.sparkSession.read.parquet(s"$path/clusters")
  }

  /** The pair id columns an artifact was written with ([[writePersisted]]
    * records them; artifacts from older builds fall back to defaults). */
  private def persistedPairCols(path: String): (String, String) = {
    val f = new java.io.File(s"$path/pair_cols")
    if (f.exists()) {
      val Array(a, b) = java.nio.file.Files.readString(f.toPath)
        .trim.split(",")
      (a, b)
    } else ("a_id", "b_id")
  }

  /** Re-open a persisted cluster artifact. */
  def readPersistedClusters(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame =
    spark.read.parquet(s"$path/clusters")

  /** Re-open the persisted pair relation of a cluster artifact. */
  def readPersistedPairs(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    spark.read.parquet(s"$path/pairs")

  /** The on-disk flavor of [[refreshClusters]] under the APPEND-ONLY
    * contract (new pairs only — retracting a pair needs a
    * [[writePersisted]] rebuild): refresh the stored clusters through the
    * contracted-CC increment, parquet-APPEND the new pairs to the audit
    * trail, and swap `clusters/` to the refreshed relation — materialized
    * BEFORE any write so the lazy read cannot race its own target (the
    * RollupRewrite.refreshAppended discipline). Costs O(delta + clusters),
    * never a pair-graph or text re-scan.
    *
    * CRASH SAFETY (intent marker + staged swap, never in-place): an
    * intent marker `refresh_pending` is created FIRST, then the new
    * pairs append to `pairs/`, then the refreshed clusters (materialized
    * before any write) are fully written to `clusters_next/`, then
    * `clusters/` swaps to the staged copy via renames, then the marker
    * clears. Every crash window recovers through [[recoverAppended]]:
    * marker-without-staging (crash before/during/after the append)
    * rebuilds clusters from the full `pairs/` trail — the trail is the
    * source of truth and is, by the append-first ordering, always equal
    * to or ahead of the stored clusters, never behind a staged copy —
    * and a completed `clusters_next/` proves the append finished, so
    * recovery may simply promote it (the old stage-first ordering could
    * promote merges absent from the trail; the old marker-less ordering
    * silently LOST an appended delta's merges forever when the crash
    * landed between append and staging). A replayed refresh after a
    * mid-append crash may duplicate trail rows — harmless: CC is
    * edge-idempotent and the trail is a multiset audit log.
    * CONCURRENCY: the rename window means readers must not race a
    * refresh — serialize refreshes and reads of the same artifact
    * (single-writer, the standard table-maintenance contract); a reader
    * that opens `clusters/` mid-swap fails loudly (missing path) rather
    * than seeing partial data. */
  def refreshAppended(path: String, newPairs: DataFrame,
                      aCol: String = "a_id", bCol: String = "b_id"): DataFrame =
    FsUtil.withWriterLock(path) {
    val spark = newPairs.sparkSession
    // a surviving marker means a PRIOR refresh crashed with its merges
    // only in the trail — heal first, or this refresh would compute from
    // the stale clusters and clear the marker below, losing them forever
    if (new java.io.File(s"$path/refresh_pending").exists())
      recoverAppended(spark, path): Unit
    // likewise a crashed COMPACTION: without this, the refresh would
    // fold its pairs into clusters computed over half-compacted state
    // (the later recoverCompact still converges — full-trail rebuild —
    // but readers in between would see removed docs still clustered)
    recoverCompact(spark, path): Unit
    val old = readPersistedClusters(spark, path)
    // materialized BEFORE any write: the refresh must not lazily re-read
    // `pairs/`/`clusters/` after they start changing underneath it
    val refreshed = Materialize(refreshClusters(old, newPairs, aCol, bCol))
    val pairCols = spark.read.parquet(s"$path/pairs").columns
    // intent marker: from here until the post-swap clear, recovery knows
    // a refresh was in flight and can rebuild from the trail
    val pending = new java.io.File(s"$path/refresh_pending")
    pending.createNewFile(): Unit
    // staged-rename commit: the trail gains ALL the folded pairs or NONE
    // (a torn pairs append under the marker would make trail-rebuild
    // recovery silently drop the missing merges)
    StagedCommit.commitAppend(s"$path/pairs",
      newPairs.select(pairCols.map(col).toIndexedSeq: _*))
    // stage only AFTER the trail holds the pairs the refresh folded in
    refreshed.write.mode("overwrite").parquet(s"$path/clusters_next")
    swapInStagedClusters(path)
    pending.delete(): Unit
    readPersistedClusters(spark, path)
    }

  /** Promote a completed `clusters_next/` staging dir to `clusters/`
    * (two local renames; the old dir is deleted only after the staged
    * one is verified complete by its _SUCCESS marker). */
  private def swapInStagedClusters(path: String): Unit = {
    val next = new java.io.File(s"$path/clusters_next")
    require(new java.io.File(next, "_SUCCESS").exists(),
      s"staged clusters at $next are incomplete — refusing to swap")
    val live = new java.io.File(s"$path/clusters")
    val retired = new java.io.File(s"$path/clusters_old")
    FsUtil.deleteRecursively(retired)
    if (live.exists() && !live.renameTo(retired))
      throw new java.io.IOException(s"could not retire $live")
    if (!next.renameTo(live))
      throw new java.io.IOException(s"could not promote $next to $live")
    FsUtil.deleteRecursively(retired)
  }

  /** Finish an interrupted [[refreshAppended]]. Call on open before
    * trusting `clusters/` when a prior refresh may have died. Returns
    * true when a recovery action ran. Two windows:
    *
    *   - completed `clusters_next/` present (crash between staging and
    *     swap): promote it — the append-first ordering proves the trail
    *     already holds its merge pairs;
    *   - `refresh_pending` marker WITHOUT a completed staging dir
    *     (crash before/during/after the pairs append): the trail may be
    *     ahead of the stored clusters with the in-flight refresh lost —
    *     rebuild clusters from the full `pairs/` trail (the documented
    *     rebuild source; labels = connected components of every pair
    *     ever appended) through the same staged swap. Without this leg
    *     the appended delta's merges would silently never fold in.
    */
  def recoverAppended(spark: org.apache.spark.sql.SparkSession,
                      path: String): Boolean = {
    val next = new java.io.File(s"$path/clusters_next")
    val pending = new java.io.File(s"$path/refresh_pending")
    if (next.exists() && new java.io.File(next, "_SUCCESS").exists()) {
      swapInStagedClusters(path)
      pending.delete(): Unit
      true
    } else if (pending.exists()) {
      // star-CC for the rebuild: the trail can hold high-diameter chain
      // components (hot-bucket chaining emits sorted id-paths), where
      // label propagation's maxIter would exit unconverged; the id
      // columns come from the artifact's own pair_cols record
      val (a, b) = persistedPairCols(path)
      connectedComponentsStar(readPersistedPairs(spark, path), a, b)
        .write.mode("overwrite").parquet(s"$path/clusters_next")
      swapInStagedClusters(path)
      pending.delete(): Unit
      true
    } else false
  }

  /** DELETE compaction of a persisted cluster artifact (round-11 verdict
    * task #1, the dedup leg): drop every stored pair that touches a
    * `removeIds` document and REFRESH the clusters that held them — a
    * removed doc can split its component or take its min-id label with
    * it, so labels must recompute, not just filter. The recompute is
    * AFFECTED-CLUSTERS-ONLY: every pair's endpoints share a cluster (the
    * trail invariant), so components without removed members keep their
    * rows untouched and never reshuffle — cost ∝ clusters holding
    * removed docs, not the corpus. An UPDATED document composes the two
    * maintained paths: compactRemoved its old version out, then
    * refreshAppended its re-paired new version in.
    *
    * Crash discipline (the refresh_pending pattern): the removal set
    * persists to `compact_rm/` and a `compact_pending` marker is set
    * BEFORE pairs mutate; [[recoverCompact]] re-runs the idempotent pair
    * compaction from the stored set and rebuilds clusters from the
    * compacted trail. Single-writer, like every maintenance path. */
  def compactRemoved(spark: org.apache.spark.sql.SparkSession,
                     path: String, removeIds: DataFrame): DataFrame =
    FsUtil.withWriterLock(path) {
    recoverAppended(spark, path): Unit // heal any append crash first
    recoverCompact(spark, path): Unit  // and any prior compaction
    removeIds.select(col(removeIds.columns.head).as("id")).distinct()
      .write.mode("overwrite").parquet(s"$path/compact_rm")
    new java.io.File(s"$path/compact_pending").createNewFile(): Unit
    val (a, b) = persistedPairCols(path)
    compactPairs(spark, path, a, b)
    val rm = spark.read.parquet(s"$path/compact_rm")
    val old = readPersistedClusters(spark, path)
    val affected = Materialize(old.join(rm, Seq("id"), "semi")
      .select("cluster").distinct())
    val members = old.join(broadcast(affected), Seq("cluster"), "semi")
    // one-endpoint restriction suffices: both endpoints of any trail
    // pair share a cluster, so a pair touches an affected cluster iff
    // its a-side member does
    val subPairs = readPersistedPairs(spark, path)
      .join(members.select(col("id").as(a)), Seq(a), "semi")
    val recomputed = connectedComponentsStar(subPairs, a, b)
    old.join(broadcast(affected), Seq("cluster"), "left_anti")
      .select("id", "cluster")
      .unionByName(recomputed)
      .write.mode("overwrite").parquet(s"$path/clusters_next")
    swapInStagedClusters(path)
    new java.io.File(s"$path/compact_pending").delete(): Unit
    FsUtil.deleteRecursively(new java.io.File(s"$path/compact_rm"))
    readPersistedClusters(spark, path)
    }

  /** Drop pair rows touching the stored removal set — one touched-file
    * rewrite per endpoint column, each idempotent (pure deletions). */
  private def compactPairs(spark: org.apache.spark.sql.SparkSession,
                           path: String, a: String, b: String): Unit = {
    val rm = spark.read.parquet(s"$path/compact_rm")
    CompactStore.compactRelation(s"$path/pairs", a,
      rm.select(col("id").as(a)), None)
    CompactStore.compactRelation(s"$path/pairs", b,
      rm.select(col("id").as(b)), None)
  }

  /** Finish an interrupted [[compactRemoved]] (marker present): re-run
    * the idempotent pair compaction from `compact_rm/`, then rebuild
    * clusters from the FULL compacted trail — mid-crash the affected
    * set can no longer be re-derived from a possibly half-swapped
    * clusters relation, so recovery takes the always-correct full
    * star-CC (the recoverAppended trail-rebuild discipline; compaction
    * crashes are rare enough that the full rebuild is the right
    * trade). Returns true when a recovery ran. */
  def recoverCompact(spark: org.apache.spark.sql.SparkSession,
                     path: String): Boolean = {
    val pending = new java.io.File(s"$path/compact_pending")
    if (!pending.exists()) return false
    val (a, b) = persistedPairCols(path)
    compactPairs(spark, path, a, b)
    connectedComponentsStar(readPersistedPairs(spark, path), a, b)
      .write.mode("overwrite").parquet(s"$path/clusters_next")
    swapInStagedClusters(path)
    pending.delete(): Unit
    FsUtil.deleteRecursively(new java.io.File(s"$path/compact_rm"))
    true
  }
}
