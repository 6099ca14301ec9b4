package graft

import graft.functions._
import org.apache.spark.sql.functions._

/** ScalaTest coverage for the non-oracle (hash-seed-dependent) engine
  * functions: MinHash+LSH, SimHash, VectorMean UDAF, cosine-LSH ANN,
  * language-ID. Near-dup suites plant known duplicates and assert they are
  * found (the reference's received ⊇ sent assertion style). */
class FunctionsLibSpec extends SparkSpec {
  import spark.implicits._

  /** documents plus a planted near-dup (doc 9001 ≈ doc with min id: one
    * token appended) and a planted exact dup (9002). */
  private lazy val planted = {
    val docs = table("documents").select("doc_id", "text")
    val base = docs.orderBy("doc_id").limit(1).collect()(0)
    val extra = Seq(
      (9001L, base.getString(1) + " extraword"),
      (9002L, base.getString(1))).toDF("doc_id", "text")
    docs.unionByName(extra)
  }

  test("MinHashDedup finds planted near and exact duplicates") {
    val pairs = MinHashDedup
      .nearDuplicatePairs(planted, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val baseId = planted.agg(min("doc_id")).head().getLong(0)
    assert(pairs.contains((baseId, 9002L)), s"exact dup not found in $pairs")
    assert(pairs.contains((baseId, 9001L)), s"near dup not found in $pairs")
  }

  test("MinHashDedup.dedup drops the planted dups, keeps the original") {
    val kept = MinHashDedup.dedup(planted, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    val baseId = planted.agg(min("doc_id")).head().getLong(0)
    assert(kept.contains(baseId))
    assert(!kept.contains(9002L))
  }

  /** documents plus a planted 50-doc mega-bucket (identical boilerplate
    * text) — every pair of the 50 collides in EVERY band, the degenerate
    * shape the hot-bucket cap exists for. */
  private lazy val megaBucket = {
    val docs = table("documents").select("doc_id", "text")
    val boiler = (0 until 50).map(i =>
      (9100L + i, "lorem ipsum boilerplate footer text repeated verbatim"))
      .toDF("doc_id", "text")
    docs.unionByName(boiler)
  }

  test("hot-bucket cap: chain mode bounds candidates, keeps the cluster connected") {
    val planted = (9100L until 9150L).toSet
    val cands = MinHashDedup
      .candidatePairs(megaBucket, "doc_id", "text", maxBucket = 8)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    val inBucket = cands.filter(p => planted(p._1) && planted(p._2))
    // clique would be 50*49/2 = 1225 pairs; the chain is exactly 49 —
    // same 49 consecutive-id edges from every band, collapsed by distinct
    assert(inBucket.length == 49,
      s"expected the 49-edge chain, got ${inBucket.length} pairs")
    assert(inBucket.toSet == (9100L until 9149L).map(i => (i, i + 1)).toSet)
    // reachability: dedup collapses the whole cluster through the chain
    val kept = MinHashDedup.dedup(megaBucket, "doc_id", "text", 0.5,
      maxBucket = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.intersect(planted) == Set(9100L),
      s"chain should leave one survivor, kept ${kept.intersect(planted)}")
  }

  test("hot-bucket cap: drop mode excludes the bucket and hotBuckets reports it") {
    val planted = (9100L until 9150L).toSet
    val cands = MinHashDedup
      .candidatePairs(megaBucket, "doc_id", "text", maxBucket = 8,
        chainHotBuckets = false)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(!cands.exists(p => planted(p._1) && planted(p._2)),
      "over-cap bucket pairs must be dropped in drop mode")
    // the truncation is visible, not silent: all 4 bands report the bucket
    val hot = MinHashDedup.hotBuckets(megaBucket, "doc_id", "text",
      maxBucket = 8).collect()
    assert(hot.length == 4, s"expected 4 hot band buckets, got ${hot.length}")
    assert(hot.forall(_.getAs[Long]("n_docs") == 50L))
  }

  test("hot-bucket cap above all bucket sizes is a no-op") {
    val base = MinHashDedup
      .candidatePairs(planted, "doc_id", "text", maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = MinHashDedup
      .candidatePairs(planted, "doc_id", "text", maxBucket = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == capped)
  }

  test("MinHash signature is deterministic and length B*R") {
    val sig = planted.select(MinHashDedup.signature(
      MinHashDedup.shingles(col("text"), 2), 16).as("s"))
    val a = sig.collect().map(_.getSeq[Long](0))
    val b = sig.collect().map(_.getSeq[Long](0))
    assert(a.zip(b).forall { case (x, y) => x == y })
    assert(a.forall(_.length == 16))
  }

  test("SimHash: identical texts distance 0; perturbed small; disjoint large") {
    val df = Seq(
      ("a1", "data processing pipeline with streaming state"),
      ("a2", "data processing pipeline with streaming state"),
      ("a3", "data processing pipeline with streaming windows"),
      ("zz", "qqq www eee rrr ttt yyy uuu iii")
    ).toDF("id", "text")
      .select(col("id"), SimHash.signature(split(col("text"), " ")).as("sig"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a1") == m("a2"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m("a1"), m("a3")) < ham(m("a1"), m("zz")),
      s"perturbed ${ham(m("a1"), m("a3"))} !< disjoint ${ham(m("a1"), m("zz"))}")
  }

  test("SimHash.bucketKeys: pairs within distance d share a block key") {
    val sigs = table("documents")
      .select(col("doc_id"), SimHash.signature(split(col("text"), " ")).as("sig"))
    val d = 3
    val keyed = sigs.select(col("doc_id"), col("sig"),
      explode(SimHash.bucketKeys(col("sig"), d)).as("k"))
    val a = keyed.alias("a"); val b = keyed.alias("b")
    val viaKeys = a.join(b, col("a.k") === col("b.k")
        && col("a.doc_id") < col("b.doc_id"))
      .filter(SimHash.hammingDist(col("a.sig"), col("b.sig")) <= d)
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val s = sigs.alias("x"); val t2 = sigs.alias("y")
    val exact = s.crossJoin(t2)
      .filter(col("x.doc_id") < col("y.doc_id"))
      .filter(SimHash.hammingDist(col("x.sig"), col("y.sig")) <= d)
      .count()
    assert(viaKeys == exact, s"block-key join found $viaKeys of $exact pairs")
  }

  test("SimHash: native signature kernel is bit-identical to the HOF mirror") {
    val docs = table("documents").limit(100)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // edge shapes the corpus lacks: empty array, null token inside
      .unionByName(Seq(
        (9201L, Seq.empty[String]),
        (9202L, Seq("one", null, "two"))).toDF("doc_id", "t"))
    val mismatch = docs.select(
        SimHash.signature(col("t")).as("native"),
        HofMirrors.simHashSignature(col("t")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatch == 0, s"$mismatch signatures differ between kernels")
  }

  test("SimHash.blocksForCount: d+1 at small corpora, widens with count, caps at maxKeys") {
    val d = 3
    // small corpora keep the minimal 4-block / 16-bit-key scheme
    assert(SimHash.blocksForCount(0L, d) == d + 1)
    assert(SimHash.blocksForCount(1000L, d) == d + 1)
    // 16-bit keys hold exactly while floor(count / 2^16) <= 1024
    assert(SimHash.blocksForCount(1024L << 16, d) == d + 1)
    assert(SimHash.blocksForCount(1025L << 16, d) > d + 1)
    // monotone non-decreasing in count
    val ns = Seq(1L << 20, 1L << 30, 1L << 40, 1L << 50, Long.MaxValue)
      .map(SimHash.blocksForCount(_, d))
    assert(ns == ns.sorted, s"non-monotone sizing ladder $ns")
    // the C(n, d) <= 64 fan-out cap binds at n = 8 for d = 3
    assert(ns.last == 8, s"expected the 56-key cap at n=8, got ${ns.last}")
    // when uncapped, the expected bucket size bound actually holds:
    // n blocks -> (n-d)*floor(64/n)-bit keys
    val count = 1L << 30
    val n = SimHash.blocksForCount(count, d)
    val w = (n - d) * (64 / n)
    assert((count >> w) <= 1024L, s"bound violated: count=$count n=$n width=$w")
  }

  test("SimHash.bucketKeysSized: wider blocks keep exact recall at d=3") {
    val sigs = table("documents")
      .select(col("doc_id"), SimHash.signature(split(col("text"), " ")).as("sig"))
    val d = 3
    for (nBlocks <- Seq(5, 6, 8)) {
      val keyed = sigs.select(col("doc_id"), col("sig"),
        explode(SimHash.bucketKeysSized(col("sig"), d, nBlocks)).as("k"))
      val a = keyed.alias("a"); val b = keyed.alias("b")
      val viaKeys = a.join(b, col("a.k") === col("b.k")
          && col("a.doc_id") < col("b.doc_id"))
        .filter(SimHash.hammingDist(col("a.sig"), col("b.sig")) <= d)
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      val s = sigs.alias("x"); val t2 = sigs.alias("y")
      val exact = s.crossJoin(t2)
        .filter(col("x.doc_id") < col("y.doc_id"))
        .filter(SimHash.hammingDist(col("x.sig"), col("y.sig")) <= d)
        .count()
      assert(viaKeys == exact,
        s"nBlocks=$nBlocks: sized-key join found $viaKeys of $exact pairs")
    }
  }

  test("SimHash.nearDuplicatePairs: empty corpus yields empty, no NPE") {
    // blocksForCorpus's candidate-volume sum over an empty signature
    // relation is NULL — pre-fix this path NPE'd on head().getLong
    // (round-8 advice item)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val out = SimHash.nearDuplicatePairs(empty, "doc_id", "toks",
      d = 3, corpusCount = 0L)
    assert(out.count() == 0L)
  }

  test("SimHash.nearDuplicatePairs: finds planted dups, matches brute force") {
    val d = 3
    val tok = planted.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val n = planted.count()
    val got = SimHash.nearDuplicatePairs(tok, "doc_id", "toks", d, n)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseId = planted.agg(min("doc_id")).head().getLong(0)
    assert(got.contains((baseId, 9002L)), s"exact dup not found in $got")
    val sigs = tok.select(col("doc_id"), SimHash.signature(col("toks")).as("sig"))
    val brute = sigs.alias("x").crossJoin(sigs.alias("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .filter(SimHash.hammingDist(col("x.sig"), col("y.sig")) <= d)
      .select(col("x.doc_id"), col("y.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"pairs mismatch: got ${got.size}, brute ${brute.size}")
  }

  test("CosineLsh: native bucket kernel is bit-identical to the HOF mirror") {
    val ps = CosineLsh.planes(dim = 64, nPlanes = 6, seed = 42L)
    val e = table("embeddings")
    val mismatch = e.select(
        CosineLsh.bucket(col("embedding"), ps).as("native"),
        HofMirrors.lshBucket(col("embedding"), ps).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatch == 0, s"$mismatch bucket ids differ between kernels")
  }

  test("MinHashDedup.dedupIncremental: batch dedups vs corpus and itself") {
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (11L, "alpha beta gamma delta epsilon zeta eta"), // near dup of 1
      (12L, "totally different content words here now"), // novel
      (13L, "red orange yellow green blue indigo"), // novel, dup'd by 14
      (14L, "red orange yellow green blue indigo") // batch-internal dup
    ).toDF("doc_id", "text")
    val kept = MinHashDedup
      .dedupIncremental(existing, batch, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L), s"kept $kept, expected {12, 13}")

    // empty corpus degenerates to plain batch dedup
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val viaIncr = MinHashDedup
      .dedupIncremental(empty, batch, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    val viaDedup = MinHashDedup.dedup(batch, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(viaIncr == viaDedup, s"$viaIncr != $viaDedup")
  }

  test("MinHashDedup.updateIndex: append(buildIndex(C), B) == buildIndex(C + B)") {
    // the invariant that makes increments safe: appending a batch's delta
    // relations to a standing index yields EXACTLY the index a full
    // rebuild over the union would (round-8 verdict task #3)
    val docs = table("documents").limit(300)
      .select(col("doc_id"), col("text"))
    val c = docs.filter(col("doc_id") % 5 =!= 0)
    val b = docs.filter(col("doc_id") % 5 === 0)
    val appended = MinHashDedup.updateIndex(
      MinHashDedup.buildIndex(c, "doc_id", "text"), b, "doc_id", "text")
    val full = MinHashDedup.buildIndex(c.unionAll(b), "doc_id", "text")
    assert(appended.keys.exceptAll(full.keys).isEmpty &&
      full.keys.exceptAll(appended.keys).isEmpty, "band-key relations differ")
    assert(appended.shingles.exceptAll(full.shingles).isEmpty &&
      full.shingles.exceptAll(appended.shingles).isEmpty,
      "shingle relations differ")
    // and the on-disk twin: write + appendIndex reads back the same index
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx_").toString
    MinHashDedup.writeIndex(MinHashDedup.buildIndex(c, "doc_id", "text"), dir)
    MinHashDedup.appendIndex(dir, b, "doc_id", "text")
    val onDisk = MinHashDedup.readIndex(spark, dir)
    assert(onDisk.keys.exceptAll(full.keys).isEmpty &&
      full.keys.exceptAll(onDisk.keys).isEmpty, "persisted keys differ")
    assert(onDisk.shingles.exceptAll(full.shingles).isEmpty &&
      full.shingles.exceptAll(onDisk.shingles).isEmpty,
      "persisted shingles differ")
  }

  test("BpeTrainer: learns the hand-computed merge sequence and stops when dry") {
    import BpeTrainer.MergeStep
    val docs = Seq((1L, "a a a b"), (2L, "a a b")).toDF("doc_id", "text")
    // hand trace — round 1: "a a" occurs 3x (2 in doc1: the padded-regex
    // left-to-right rule counts occurrences, merges non-overlapping);
    // round 2: all pairs count 1, "a b" wins lexicographically (space <
    // underscore); round 3: "a_a a_b" < "a_a b" at the 5th char
    val (merged3, steps3) = BpeTrainer.train(docs, "text", rounds = 3)
    assert(steps3 == Seq(
      MergeStep(1, "a a", 3), MergeStep(2, "a b", 1), MergeStep(3, "a_a a_b", 1)),
      s"unexpected merge sequence $steps3")
    val m = merged3.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "a_a_a_b", 2L -> "a_a b"), s"unexpected corpus $m")

    // unlimited rounds: round 4 merges the last pair, round 5 finds no
    // pair with >= 2 tokens anywhere and the loop exits early
    val (_, all) = BpeTrainer.train(docs, "text", rounds = 10)
    assert(all.length == 4 && all(3) == MergeStep(4, "a_a b", 1),
      s"expected 4 merges then dry, got $all")

    // minCount gate: round 2's best count is 1 < 2 -> stop after round 1
    val (_, gated) = BpeTrainer.train(docs, "text", rounds = 10, minCount = 2)
    assert(gated == Seq(MergeStep(1, "a a", 3)), s"minCount gate broke: $gated")
  }

  test("BpeTrainer.trainDelta: identical merges and corpus to the full recount") {
    // the delta recount (counts - pairs(affected_before) +
    // pairs(affected_after)) must be indistinguishable from train's full
    // per-round recount — steps, counts, and the merged corpus itself
    val hand = Seq((1L, "a a a b", "x"), (2L, "a a b", "y"))
      .toDF("doc_id", "text", "tag")
    val corpus = table("documents").limit(50).select(col("doc_id"), col("text"))
    for ((docs, rounds) <- Seq((hand, 10), (corpus, 6))) {
      val (mFull, sFull) = BpeTrainer.train(docs, "text", rounds)
      val (mDelta, sDelta) = BpeTrainer.trainDelta(docs, "text", rounds)
      assert(sDelta == sFull, s"merge sequences differ: $sDelta vs $sFull")
      // same schema and column order as the input (text is not last in hand)
      assert(mFull.schema == docs.schema && mDelta.schema == docs.schema,
        s"schemas differ: ${mFull.schema} / ${mDelta.schema} vs ${docs.schema}")
      val full = mFull.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val delta = mDelta.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(delta == full, "merged corpora differ")
    }
    // minCount gate behaves identically
    val (_, g1) = BpeTrainer.train(hand, "text", 10, minCount = 2)
    val (_, g2) = BpeTrainer.trainDelta(hand, "text", 10, minCount = 2)
    assert(g1 == g2)
  }

  test("BpeTrainer.tokenize replays a learned merge table exactly") {
    val docs = Seq((1L, "a a a b"), (2L, "a a b")).toDF("doc_id", "text")
    val (merged, steps) = BpeTrainer.train(docs, "text", rounds = 3)
    // inference over the training corpus == training's merged corpus
    val replay = docs.select(col("doc_id"),
        BpeTrainer.tokenize(col("text"), steps).as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trained = merged.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(replay == trained, s"replay $replay != trained $trained")
    // unseen text, rules in training order: "c a b a a" → round 1 merges
    // the trailing "a a", round 2 merges "a b", round 3 finds nothing
    val unseen = Seq((9L, "c a b a a")).toDF("doc_id", "text")
      .select(BpeTrainer.tokenize(col("text"), steps).as("t"))
      .head().getString(0)
    assert(unseen == "c a_b a_a", s"unseen tokenization: $unseen")
  }

  test("BpeTrainer.applyMerge: regex-special tokens merge literally") {
    val docs = Seq((1L, "x.y z k x.y z"), (2L, "xAy z")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        BpeTrainer.applyMerge(col("text"), "x.y z").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // unquoted, the "." would also match "xAy z"; quoted, it must not
    assert(out(1L) == "x.y_z k x.y_z", s"got ${out(1L)}")
    assert(out(2L) == "xAy z", s"dot matched as wildcard: ${out(2L)}")
  }

  test("BpeTrainer.applyMerge: greedy left-to-right scan (round-8 advice)") {
    // consecutive occurrences share their delimiter space — the consuming
    // regex this replaced merged only every other one ("a b a b" →
    // "a_b a b"); the lookahead scan merges all of them in ONE pass,
    // while overlapping occurrences (w1 == w2) stay non-overlapping,
    // exactly BPE's greedy rule
    val cases = Seq(
      (1L, "a b a b"), (2L, "a b a b a b"), (3L, "x a b a b"),
      (4L, "a a a"), (5L, "a b"), (6L, "b a"), (7L, "q"))
    val docs = cases.toDF("doc_id", "text")
    val ab = docs.select(col("doc_id"),
        BpeTrainer.applyMerge(col("text"), "a b").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ab == Map(1L -> "a_b a_b", 2L -> "a_b a_b a_b",
      3L -> "x a_b a_b", 4L -> "a a a", 5L -> "a_b", 6L -> "b a",
      7L -> "q"), s"pair (a,b): $ab")
    val aa = docs.select(col("doc_id"),
        BpeTrainer.applyMerge(col("text"), "a a").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "a a a" → first two fuse, third is left (non-overlap); a run of 5
    // would give "a_a a_a a" — the canonical greedy trace
    assert(aa(4L) == "a_a a", s"pair (a,a) on 'a a a': ${aa(4L)}")
    val run5 = Seq((9L, "a a a a a")).toDF("doc_id", "text")
      .select(BpeTrainer.applyMerge(col("text"), "a a").as("t"))
      .head().getString(0)
    assert(run5 == "a_a a_a a", s"greedy run-of-5 trace: $run5")
  }

  test("DedupClusters: transitive components collapse to one survivor") {
    // chain 1-2, 2-3 (transitive: 1,2,3 one component) + island 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val comps = DedupClusters.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L,
      s"chain not collapsed: $comps")
    assert(comps(10L) == 10L && comps(11L) == 10L)

    val corpus = Seq(1L, 2L, 3L, 7L, 10L, 11L).toDF("doc_id")
    val kept = DedupClusters.keepCanonical(corpus, "doc_id", pairs)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    // one survivor per component + the untouched singleton 7
    assert(kept == Seq(1L, 7L, 10L))
  }

  test("DedupClusters: star variant equals propagation; fewer rounds at diameter") {
    import java.util.concurrent.atomic.AtomicInteger
    // 16-hop chain (the diameter shape propagation pays O(D) rounds for),
    // an island, a self-pair-only node, and a triangle
    val pairs = ((1L to 16L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((100L, 101L), (200L, 200L), (50L, 51L), (51L, 52L), (50L, 52L)))
      .toDF("a_id", "b_id")
    val propRounds = new AtomicInteger
    val starRounds = new AtomicInteger
    val prop = DedupClusters
      .connectedComponents(pairs, maxIter = 40, roundsOut = Some(propRounds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = DedupClusters
      .connectedComponentsStar(pairs, roundsOut = Some(starRounds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop, s"star diverged: $star vs $prop")
    assert((1L to 16L).forall(star(_) == 1L))
    assert(star(200L) == 200L && star(101L) == 100L && star(52L) == 50L)
    // the O(log) claim, measured: propagation needs ~diameter rounds on
    // the chain; the star alternation collapses it in a logarithmic few
    assert(starRounds.get < propRounds.get,
      s"star took ${starRounds.get} rounds vs propagation's ${propRounds.get}")
    assert(starRounds.get <= 8,
      s"expected O(log n) rounds on a 16-chain, got ${starRounds.get}")
  }

  test("DedupClusters: star variant matches propagation on the LSH pair graph") {
    val pairs = MinHashDedup.nearDuplicatePairs(planted, "doc_id", "text", 0.5)
      .select(col("a_id"), col("b_id"))
    val prop = DedupClusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = DedupClusters.connectedComponentsStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop)
  }

  // MUST run before the reliable-checkpoint test below: SparkContext has
  // no API to UNSET a checkpoint dir, so once that test configures one on
  // the JVM-shared session it stays configured — running this first is
  // what keeps the fail-fast contract actually exercised in a full-suite
  // run (assume() makes any ordering violation visible, not vacuous).
  test("DedupClusters: reliable mode without a checkpoint dir fails fast") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir is already configured on the shared session — " +
        "this contract needs a fresh session to be testable")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val e = intercept[IllegalArgumentException] {
      DedupClusters.connectedComponents(pairs, reliable = true).collect()
    }
    assert(e.getMessage.contains("setCheckpointDir"))
  }

  test("DedupClusters: reliable-checkpoint mode reaches the same fixpoint") {
    // the fault-tolerant 100 TB mode: per-round materialization goes to a
    // durable checkpoint dir instead of executor-pinned blocks — identical
    // labels either way (see Materialize)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("a_id", "b_id")
    val local = DedupClusters.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val hadCkpt = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val rel = DedupClusters.connectedComponents(pairs, reliable = true)
        .collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
      assert(rel == local, s"reliable mode diverged: $rel vs $local")
      // the conf switch drives the same path without the explicit flag
      spark.conf.set(graft.functions.Materialize.confKey, "true")
      try {
        val viaConf = DedupClusters.connectedComponents(pairs).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
        assert(viaConf == local)
      } finally spark.conf.unset(graft.functions.Materialize.confKey)
    } finally hadCkpt.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("DedupClusters: end-to-end with MinHash pairs on planted dups") {
    val pairs = MinHashDedup
      .nearDuplicatePairs(planted, "doc_id", "text", threshold = 0.5)
    val kept = DedupClusters.keepCanonical(planted, "doc_id", pairs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val baseId = planted.agg(min("doc_id")).head().getLong(0)
    // base doc survives; its exact clone (9002) and near-dup (9001) do not
    assert(kept.contains(baseId))
    assert(!kept.contains(9002L), "exact clone must be deduplicated")
    assert(!kept.contains(9001L), "near-dup must be deduplicated")
  }

  test("q_dedup_cluster equals a union-find over q_minhash_lsh pairs") {
    val pairs = q("q_minhash_lsh").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = component minimum (path-compress to fixpoint)
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val got = q("q_dedup_cluster").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(got == expected)
  }

  test("SimHash.bucketKeys: d=0 (exact) and non-dividing d keep recall") {
    // planted clone guarantees at least one distance-0 pair; d=2 exercises
    // the 64 % 3 != 0 variable-width block path (the old fixed-width split
    // left the top bits of the signature uncovered, and d=0 overflowed
    // (1L << 64) into a single degenerate bucket).
    val sigs = planted
      .select(col("doc_id"), SimHash.signature(split(col("text"), " ")).as("sig"))
    for (d <- Seq(0, 2)) {
      val keyed = sigs.select(col("doc_id"), col("sig"),
        explode(SimHash.bucketKeys(col("sig"), d)).as("k"))
      val a = keyed.alias("a"); val b = keyed.alias("b")
      val viaKeys = a.join(b, col("a.k") === col("b.k")
          && col("a.doc_id") < col("b.doc_id"))
        .filter(SimHash.hammingDist(col("a.sig"), col("b.sig")) <= d)
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      val s = sigs.alias("x"); val t2 = sigs.alias("y")
      val exact = s.crossJoin(t2)
        .filter(col("x.doc_id") < col("y.doc_id"))
        .filter(SimHash.hammingDist(col("x.sig"), col("y.sig")) <= d)
        .count()
      assert(viaKeys == exact, s"d=$d: block-key join found $viaKeys of $exact")
      if (d == 0) assert(exact >= 1, "planted exact dup should collide at d=0")
    }
  }

  test("VectorMean: empty vectors excluded; counts survive partial merges") {
    val df = Seq(
      (1, Array(2f, 4f)), (1, Array.empty[Float]), (1, Array(4f, 8f)),
      (2, Array.empty[Float]))
      .toDF("label", "embedding")
      .repartition(4) // force per-partition partial buffers + merges
    val rows = df.groupBy("label")
      .agg(VectorMean.vectorMean(col("embedding")).as("mv"))
      .collect().map(r => r.getAs[Int]("label") -> r.getSeq[Float](1)).toMap
    assert(rows(1) == Seq(3f, 6f), s"mean skewed: ${rows(1)}")
    assert(rows(2).isEmpty, "all-empty group should yield an empty mean")
  }

  test("VectorMean: ragged vector lengths fail fast") {
    val df = Seq((1, Array(1f, 2f)), (1, Array(1f, 2f, 3f)))
      .toDF("label", "embedding")
    val ex = intercept[Exception] {
      df.groupBy("label")
        .agg(VectorMean.vectorMean(col("embedding")).as("mv")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null)
      && causes(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("ragged"))), ex.toString)
  }

  test("LangId.detect: NULL text deterministically yields und") {
    val df = Seq((1, Option.empty[String]), (2, Some("the cat and the dog")))
      .toDF("id", "text")
      .select(col("id"), LangId.detect(col("text")).as("got"))
    val m = df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m(1) == "und", s"null text detected as ${m(1)}")
    assert(m(2) == "en")
  }

  test("VectorMean UDAF matches the relational mean") {
    val viaUdaf = table("embeddings")
      .groupBy("label")
      .agg(VectorMean.vectorMean(col("embedding")).as("mv"))
      .collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Float](1)).toMap
    val relational = q("q_vector_mean").collect()
      .groupBy(_.getAs[Int]("label"))
    relational.foreach { case (label, rows) =>
      val mv = viaUdaf(label)
      rows.foreach { r =>
        val pos = r.getAs[Int]("pos")
        val expect = r.getAs[Double]("mean_v")
        assert(math.abs(mv(pos - 1) - expect) < 1e-3,
          s"label=$label pos=$pos udaf=${mv(pos - 1)} rel=$expect")
      }
    }
  }

  test("CosineLsh: planted identical vector is always the top neighbor") {
    val e = table("embeddings")
    val clone = e.filter(col("vec_id") === 7)
      .select(lit(9007L).as("vec_id"), col("embedding"), col("label"))
    val corpus = e.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(clone)
    val probes = corpus.filter(col("vec_id") === 9007L)
    val top = CosineLsh.topK(corpus, probes, "vec_id", "embedding", k = 1)
      .collect()
    assert(top.length == 1)
    assert(top(0).getAs[Long]("vec_id") == 7L)
    assert(math.abs(top(0).getAs[Double]("cos") - 1.0) < 1e-9)
  }

  test("CosineLsh.planesForCount: sized to the target expected bucket, clamped") {
    assert(CosineLsh.planesForCount(1000, 1024) == 2) // floor: never < 2
    assert(CosineLsh.planesForCount(1L << 30, 1024L) == 20) // 2^30/2^20 = 1024
    assert(CosineLsh.planesForCount(1L << 31, 1024L) == 21)
    assert(CosineLsh.planesForCount(Long.MaxValue, 1L) == 24) // hard clamp
    assert(CosineLsh.planesForCount(0, 1024) == 2)
  }

  test("CosineLsh: hot-bucket cap bounds candidates while planted recall holds") {
    // controlled dim-8 corpus: 12 spread basis vectors, one isolated
    // near-dup pair (200, 9007), and a 100-clone mega-cluster — the
    // degenerate bucket shape the cap exists for
    val dim = 8
    def vec(xs: Double*): Array[Float] = xs.toArray.map(_.toFloat)
    val spread = (0 until 12).map { i =>
      val v = Array.fill(dim)(0f); v(i % dim) = if (i < dim) 1f else -1f
      (i.toLong, v)
    }
    val v200 = vec(0.6, 0.8, 0, 0, 0, 0, 0, 0)
    val v9007 = vec(0.6 + 1e-6, 0.8, 0, 0, 0, 0, 0, 0)
    val vm = vec(0, 0, 0, 0, 0, 0, 0.8, 0.6)
    val mega = (0 until 100).map(i => (95000L + i, vm))
    val corpus = (spread ++ Seq((200L, v200), (9007L, v9007)) ++ mega)
      .toDF("vec_id", "embedding")
    val np = CosineLsh.planesForCount(corpus.count(), targetBucketSize = 8)
    assert(np == 4, s"expected 4 planes for 114 vecs @ target 8, got $np")

    val pairs = CosineLsh.nearDuplicatePairs(corpus, "vec_id", "embedding",
        threshold = 0.99, nPlanes = np, dim = dim, maxBucket = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall: the isolated near-dup pair lives in a small bucket → found
    assert(pairs.contains((200L, 9007L)), s"planted pair lost in $pairs")
    // boundedness: the mega-cluster contributes its 99-edge chain (every
    // edge cosine 1, so the cluster stays one connected component), never
    // the 4 950-pair clique
    val megaPairs = pairs.filter(p => p._1 >= 95000L && p._2 >= 95000L)
    assert(megaPairs == (95000L until 95099L).map(i => (i, i + 1)).toSet,
      s"expected the 99-edge chain, got ${megaPairs.size} pairs")
    // the truncation is observable, never silent
    val hot = CosineLsh.bucketStats(corpus, "embedding", nPlanes = np,
      dim = dim, maxBucket = 40).collect()
    assert(hot.nonEmpty && hot.forall(_.getAs[Long]("n_vecs") >= 100L),
      s"bucketStats missed the mega bucket: ${hot.toSeq}")
    // drop mode: mega pairs vanish, the isolated pair stays
    val dropped = CosineLsh.nearDuplicatePairs(corpus, "vec_id", "embedding",
        threshold = 0.99, nPlanes = np, dim = dim, maxBucket = 40,
        chainHotBuckets = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped.contains((200L, 9007L)))
    assert(!dropped.exists(p => p._1 >= 95000L && p._2 >= 95000L))
  }

  test("CosineLsh recall vs brute force is nonzero and buckets bound work") {
    val e = table("embeddings").limit(200)
    val probes = e.filter(col("vec_id") < 10)
    val approx = CosineLsh.topK(e, probes, "vec_id", "embedding", k = 3)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    // every probe returns at most k results
    approx.groupBy(_._1).foreach { case (_, s) => assert(s.size <= 3) }
  }

  test("WordGrams: native builder == HOF twin (distinct and not, k=2,3,5,8)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Seq("a", "b", "cc", "", "dd d", "eee")
    val rows = Seq("", "a", "a b", "a a a a a a a a a",
      "a b a b a b a b") ++
      (1 to 150).map(_ => Seq.fill(rnd.nextInt(14))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = rows.toDF("text").select(split(col("text"), " ").as("t"))
    for (k <- Seq(2, 3, 5, 8); d <- Seq(true, false)) {
      val hof = expr(
        s"transform(sequence(1, size(t) - ${k - 1}), i -> array_join(slice(t, i, $k), ' '))")
      val twin = if (d) array_distinct(hof) else hof
      val bad = df
        .filter(size(col("t")) >= k)
        .select(WordGrams.grams(col("t"), k, d).as("a"), twin.as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(bad == 0, s"WordGrams(k=$k, distinct=$d) must equal the HOF twin")
    }
  }

  test("LangId: native scorer == HOF mirror on edge cases and random text") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Seq("the", "la", "de", "und", "zzz", "el", "le", "est",
      "mit", "que", "", "is", "das", "nicht", "y")
    val rows = Seq(null, "", " ", "THE  AND of", "la la la", "de de",
      "und und und", "xyzzy") ++
      (1 to 200).map(_ => Seq.fill(rnd.nextInt(30))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = rows.toDF("text")
    val got = df.select(
        LangId.detect(col("text")).as("a"),
        HofMirrors.langDetect(col("text")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(got == 0, "native LangId scorer must equal the HOF mirror")
  }

  test("LangId detects marker-heavy texts and falls back to und") {
    val df = Seq(
      ("en", "the cat and the dog is in the house"),
      ("es", "el perro y la casa de que los gatos"),
      ("fr", "le chien et les chats des maisons une est"),
      ("de", "der hund und die katze ist ein haus"),
      ("und", "zzz qqq www")
    ).toDF("expect", "text")
      .select(col("expect"), LangId.detect(col("text")).as("got"))
    df.collect().foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"expected ${r.getString(0)} got ${r.getString(1)}")
    }
  }

  test("VectorQuantizer: int8 codes reconstruct within half a step") {
    import spark.implicits._
    import graft.functions.VectorQuantizer
    val df = Seq(
      (1L, Seq(0.0f, 10.0f, -5.0f)),
      (2L, Seq(1.0f, 20.0f, 5.0f)),
      (3L, Seq(0.5f, 15.0f, 0.0f))).toDF("id", "emb")
    val bounds = VectorQuantizer.fit(df, "emb")
    val q = VectorQuantizer.quantize(df, "emb", bounds)
    q.select(explode(col("codes"))).collect().foreach { r =>
      val c = r.getInt(0); assert(c >= 0 && c <= 255)
    }
    val errBound = bounds.select(VectorQuantizer.maxError(bounds))
      .head().getDouble(0)
    VectorQuantizer.dequantize(q, "codes", bounds)
      .select(col("emb"), col("approx")).collect().foreach { r =>
        r.getSeq[Float](0).zip(r.getSeq[Double](1)).foreach {
          case (o, a) => assert(math.abs(o - a) <= errBound + 1e-9,
            s"$o reconstructed as $a, bound $errBound")
        }
      }
    // fixture embeddings roundtrip: every vector quantizes, count holds
    val emb = table("embeddings")
    val b2 = VectorQuantizer.fit(emb, "embedding")
    val q2 = VectorQuantizer.quantize(emb, "embedding", b2)
    assert(q2.count() == emb.count())
    assert(q2.select(explode(col("codes"))).agg(max("col")).head().getInt(0)
      <= 255)
  }
}
