package graft

import graft.functions.{MinHashDedup, SimHash}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Property-style invariants (SURVEY.md §5.2 item 3) over seeded random
  * inputs — deterministic across runs (fixed seed), 50+ cases each. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)
  private val vocab = graft.streaming.StreamOps.vocabulary

  private def randomSentence(): String =
    Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  test("tokenizer round-trip: split(concat_ws(words)) == words") {
    val cases = Seq.fill(60)(Seq.fill(1 + rnd.nextInt(10))(
      vocab(rnd.nextInt(vocab.size))))
    val df = cases.map(ws => (ws, ws.mkString(" "))).toDF("words", "joined")
      .select(col("words"), split(col("joined"), " ").as("resplit"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    val texts = Seq.fill(80)(randomSentence())
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val once = MinHashDedup.dedup(df, "doc_id", "text", 0.8)
    val twice = MinHashDedup.dedup(once, "doc_id", "text", 0.8)
    assert(once.select("doc_id").as[Long].collect().sorted.toSeq ==
      twice.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("cosine bounds: cos(a,b) in [-1,1] and cos(v,v) ~= 1") {
    val vecs = Seq.fill(50)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    df.createOrReplaceTempView("prop_vecs")
    val cos =
      """aggregate(zip_with(a.v, b.v, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, x) -> acc + x)
        | / (sqrt(aggregate(a.v, 0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
        |  * sqrt(aggregate(b.v, 0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))""".stripMargin
    val pairs = spark.sql(
      s"SELECT a.id AS ai, b.id AS bi, $cos AS c FROM prop_vecs a JOIN prop_vecs b")
      .collect()
    pairs.foreach { r =>
      val c = r.getAs[Double]("c")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"cos out of bounds: $c")
      if (r.getAs[Long]("ai") == r.getAs[Long]("bi"))
        assert(math.abs(c - 1.0) < 1e-9)
    }
  }

  test("window-count == group-count when the window spans all data") {
    val byWindow = table("events")
      .groupBy(window(col("ts"), "3650 days"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select("event_type", "cnt")
      .as[(String, Long)].collect().toMap
    val byGroup = table("events").groupBy("event_type")
      .agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(byWindow == byGroup)
  }

  test("portable round: |x - pround4(x)| <= 5e-5 and 4-decimal stable") {
    val xs = Seq.fill(200)(rnd.nextDouble() * 2000 - 1000)
    val df = xs.toDF("x").select(col("x"),
      (floor(col("x") * 10000 + lit(0.5)) / 10000).as("r"))
    df.collect().foreach { row =>
      val x = row.getDouble(0); val r = row.getDouble(1)
      assert(math.abs(x - r) <= 5.0001e-5, s"pround4($x) = $r drifts")
      // re-rounding is a fixpoint
      val r2 = math.floor(r * 10000 + 0.5) / 10000
      assert(r2 == r)
    }
  }

  test("simhash: identical token arrays always hash identically; distance symmetric") {
    val texts = Seq.fill(40)(randomSentence())
    val df = (texts ++ texts).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), col("text"),
        SimHash.signature(split(col("text"), " ")).as("sig"))
    val sigs = df.collect().map(r => r.getAs[String]("text") -> r.getAs[Long]("sig"))
    sigs.groupBy(_._1).foreach { case (_, ss) =>
      assert(ss.map(_._2).distinct.length == 1, "same text, different simhash")
    }
  }

  test("minhash: identical shingle sets give identical signatures") {
    val texts = Seq.fill(30)(randomSentence())
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sig = MinHashDedup.signature(
      MinHashDedup.shingles(col("text"), 2), 16)
    val a = df.select(col("text"), sig.as("s")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val b = df.orderBy(col("doc_id").desc).select(col("text"), sig.as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(a == b, "signature depends on row order")
  }

  test("pq adc invariants: non-negative, self-distance ~0, unit-sphere bound") {
    val emb = table("embeddings")
    val model = graft.functions.ProductQuantizer.train(emb, "embedding", m = 8, k = 16)
    val base = emb.orderBy("vec_id").limit(60).select(
      col("vec_id"),
      graft.functions.ProductQuantizer.codes(col("embedding"), model).as("c"),
      graft.functions.ProductQuantizer.lut(col("embedding"), model).as("l"))
    // pair row i with row i+1's LUT: a RANDOM other vector's distance
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    val rows = base
      .withColumn("l_other", lead("l", 1).over(w))
      .filter(col("l_other").isNotNull)
      .select(
        graft.functions.ProductQuantizer.adc(col("c"), col("l"), model).as("self"),
        graft.functions.ProductQuantizer.adc(col("c"), col("l_other"), model).as("other"))
      .as[(Double, Double)].collect()
    rows.foreach { case (self, other) =>
      // sum of squared distances: >= 0 always; both sides normalized to
      // the unit sphere so ||p - x||^2 <= 4 (+ quantization residual eps)
      assert(self >= 0d && self <= 4.5d, s"self adc $self out of range")
      assert(other >= 0d && other <= 4.5d, s"other adc $other out of range")
      // the self distance is PURE quantization error — it must sit well
      // under the ~2.0 expected distance between independent unit vectors
      assert(self < other, f"self $self%.3f >= random-other $other%.3f")
    }
  }

  test("bpe tokenize idempotence: applying a merge table twice == once") {
    val docs = table("documents").limit(40).select("doc_id", "text")
    val (_, steps) = graft.functions.BpeTrainer.train(docs, "text", rounds = 3)
    val once = graft.functions.BpeTrainer.tokenize(col("text"), steps)
    val twice = graft.functions.BpeTrainer.tokenize(once, steps)
    // after one application every occurrence is merged (the merged token
    // joins with '_', so the space-padded pattern can never re-match)
    val diff = docs.select(once.as("a"), twice.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0, s"$diff docs changed on the second application")
  }

  test("shard assignment is a pure function of (seed, id): stable under reordering") {
    val docs = table("documents").select("doc_id", "text")
    val dirA = java.nio.file.Files.createTempDirectory("graft-prop-shard").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-prop-shard").toString
    graft.sources.ShardExport.exportParquet(docs, "doc_id", dirA, shards = 4)
    graft.sources.ShardExport.exportParquet(docs.orderBy(col("text")), "doc_id",
      dirB, shards = 4)
    def assign(d: String) = spark.read.parquet(d)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(assign(dirA) == assign(dirB),
      "input ordering leaked into shard assignment")
  }

  test("jaro-winkler invariants: bounds, identity, symmetry, prefix monotone") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.functions.JaroImpl.jaroWinkler(
        UTF8String.fromString(a), UTF8String.fromString(b))
    val strs = Seq.fill(80)(
      Seq.fill(rnd.nextInt(12))("abcde".charAt(rnd.nextInt(5))).mkString)
    for (a <- strs.take(30); b <- strs.take(30)) {
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0, s"out of bounds: jw($a,$b)=$s")
      assert(s == jw(b, a), s"asymmetric: $a,$b")
      if (a.nonEmpty) assert(jw(a, a) == 1.0)
      if (a.isEmpty || b.isEmpty) assert(s == 0.0)
    }
    // appending a shared prefix never decreases similarity of distinct
    // suffixes below the unprefixed score (Winkler boost direction)
    assert(jw("martha", "marhta") <= jw("xmartha", "xmarhta") + 1e-9)
  }

  test("as-of operator: every exec x direction x join type matches an independent model") {
    // Random keyed event sets with a DENSE time domain (forced ties and
    // null keys/times), checked against a plain-Scala reference model —
    // independent of both the custom execs and the declarative Spark plan.
    import java.sql.Timestamp
    import graft.plans.AsofJoinOp
    val arnd = new Random(7)
    (1 to 5).foreach { round =>
      def key() = if (arnd.nextInt(8) == 0) None else Some(1L + arnd.nextInt(3))
      def sec() = if (arnd.nextInt(10) == 0) None else Some(arnd.nextInt(40).toLong)
      val lefts = (1 to 20 + arnd.nextInt(15)).map(i =>
        (i.toLong, key(), sec()))
      val rights = (1 to 20 + arnd.nextInt(15)).map(i =>
        (1000L + i, key(), sec()))
      val hSec = 3L + arnd.nextInt(12)

      def model(direction: String): Map[Long, Option[Long]] =
        lefts.flatMap { case (pid, ku, pts) =>
          (ku, pts) match {
            case (Some(u), Some(pt)) =>
              val cand = rights.collect {
                case (cid, Some(cu), Some(ct)) if cu == u &&
                  (direction match {
                    case "backward" => ct <= pt && ct > pt - hSec
                    case "forward" => ct >= pt && ct < pt + hSec
                    case "nearest" => ct > pt - hSec && ct < pt + hSec
                  }) => (ct, cid)
              }
              Some(pid -> (if (cand.isEmpty) None
                else Some(direction match {
                  case "backward" => cand.max._2
                  case "forward" => cand.min._2
                  case "nearest" =>
                    // closer neighbor wins; exact matches and equidistant
                    // ties go backward; within a side, that side's own
                    // tie-break (backward max id, forward min id)
                    cand.minBy { case (ct, cid) =>
                      (math.abs(ct - pt), if (ct <= pt) 0 else 1,
                        if (ct <= pt) -cid else cid)
                    }._2
                })))
            case _ => Some(pid -> None)
          }
        }.toMap

      val lDf = lefts.map { case (i, k, s) =>
        (i, k, s.map(x => new Timestamp(x * 1000))) }
        .toDF("p_id", "user_id", "p_ts")
      val rDf = rights.map { case (i, k, s) =>
        (i, k, s.map(x => new Timestamp(x * 1000))) }
        .toDF("c_id", "c_user", "c_ts")

      for (strat <- Seq("merge", "broadcast", "salted");
           dir <- Seq("backward", "forward", "nearest");
           outer <- Seq(false, true)) {
        // "salted" = the hot-key skew rewrite with EVERY key declared hot
        // (all keys replicated across salt buckets — the strongest
        // exercise of the salt's result-identity), pinned against the
        // same independent model as the plain execs
        val jt = if (outer) "left" else "inner"
        val df =
          if (strat == "salted")
            AsofJoinOp.asofSkewSalted(lDf, rDf,
              Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
              horizonMicros = hSec * 1000000L,
              hotKeys = Seq(1L, 2L, 3L).toDF("user_id"),
              joinType = jt, direction = dir, saltBuckets = 3)
          else
            AsofJoinOp.asof(lDf, rDf,
              Seq("user_id"), Seq("c_user"), "p_ts", "c_ts", Seq("c_id"),
              horizonMicros = hSec * 1000000L,
              joinType = jt, strategy = strat, direction = dir)
        val got = df
          .select("p_id", "c_id").collect()
          .map(x => x.getLong(0) ->
            (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
        val m = model(dir)
        val expect = if (outer) m else m.filter(_._2.isDefined)
        assert(got == expect,
          s"round=$round strat=$strat dir=$dir outer=$outer:\n" +
            s"got    ${got.toSeq.sortBy(_._1)}\n" +
            s"expect ${expect.toSeq.sortBy(_._1)}")
      }
    }
  }

  test("bpe greedy merge: regex scan == independent token-scan model") {
    // BpeTrainer.applyMerge is a lookahead regex; this pins its semantics
    // to a plain left-to-right token scan (match -> emit merged, skip 2;
    // else emit 1) over a tiny alphabet where consecutive AND overlapping
    // (w1 == w2) occurrences are frequent — the shapes the round-8 advice
    // bug got wrong
    def refMerge(tokens: Seq[String], w1: String, w2: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < tokens.length) {
        if (i + 1 < tokens.length && tokens(i) == w1 && tokens(i + 1) == w2) {
          out += s"${w1}_$w2"; i += 2
        } else { out += tokens(i); i += 1 }
      }
      out.toSeq
    }
    val alpha = Vector("a", "b", "c")
    val cases = Seq.fill(120) {
      val toks = Seq.fill(1 + rnd.nextInt(10))(alpha(rnd.nextInt(3)))
      (toks, alpha(rnd.nextInt(3)), alpha(rnd.nextInt(3)))
    }
    for (((w1, w2), grp) <- cases.groupBy(c => (c._2, c._3))) {
      val df = grp.map(_._1.mkString(" ")).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select(col("id"),
          graft.functions.BpeTrainer.applyMerge(col("text"), s"$w1 $w2").as("m"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      grp.zipWithIndex.foreach { case ((toks, _, _), i) =>
        val want = refMerge(toks, w1, w2).mkString(" ")
        assert(got(i.toLong) == want,
          s"pair ($w1,$w2) on ${toks.mkString(" ")}: got '${got(i.toLong)}' want '$want'")
      }
    }
  }

  test("bpe native array merge == regex merge on random tiny-alphabet corpora") {
    // BpeMergePair (the trainer's split-once token-array merge) must walk
    // the same greedy non-overlapping scan as applyMerge's lookahead regex
    // on space-normalized corpora — same dense consecutive/overlapping
    // shapes as the regex-vs-scan leg above, both eval and codegen paths
    val alpha = Vector("a", "b", "c")
    val cases = Seq.fill(150) {
      val toks = Seq.fill(1 + rnd.nextInt(10))(alpha(rnd.nextInt(3)))
      (toks, alpha(rnd.nextInt(3)), alpha(rnd.nextInt(3)))
    }
    for (((w1, w2), grp) <- cases.groupBy(c => (c._2, c._3))) {
      val df = grp.map(_._1.mkString(" ")).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val both = df.select(col("id"),
          array_join(graft.functions.BpeMergePair.merge(
            split(col("text"), " "), s"$w1 $w2"), " ").as("nat"),
          graft.functions.BpeTrainer.applyMerge(col("text"), s"$w1 $w2").as("rex"))
        .collect()
      both.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"pair ($w1,$w2) id ${r.getLong(0)}: native '${r.getString(1)}' " +
            s"vs regex '${r.getString(2)}'")
      }
    }
  }

  test("bpe delta recount == full recount on random tiny-alphabet corpora") {
    // tiny alphabet -> dense consecutive/overlapping pair occurrences,
    // the hardest case for the delta algebra (counts - before + after)
    for (_ <- 1 to 3) {
      val docs = Seq.fill(30)(
          Seq.fill(2 + rnd.nextInt(8))(Vector("a", "b", "c")(rnd.nextInt(3)))
            .mkString(" "))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (mF, sF) = graft.functions.BpeTrainer.train(docs, "text", rounds = 4)
      val (mD, sD) = graft.functions.BpeTrainer.trainDelta(docs, "text", rounds = 4)
      assert(sD == sF, s"merge sequences diverge: $sD vs $sF")
      val full = mF.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val delta = mD.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(delta == full, "merged corpora diverge")
    }
  }

  test("kmv state: permutation/batching invariant; hv48 matches SQL conv") {
    import graft.streaming.StreamingSketch
    val k = 8
    for (_ <- 1 to 30) {
      val elems = Seq.fill(5 + rnd.nextInt(60))(
        vocab(rnd.nextInt(vocab.size)) + rnd.nextInt(20))
      val base = StreamingSketch.insertAll(Vector.empty, elems.iterator, k)
      // any permutation, and any split into successive batches, must land
      // on the identical k-min set (the mergeable-sketch invariant that
      // makes the streaming estimate replay/repartition-stable)
      val perm = rnd.shuffle(elems)
      assert(StreamingSketch.insertAll(Vector.empty, perm.iterator, k) == base)
      val cut = rnd.nextInt(elems.size)
      val staged = StreamingSketch.insertAll(
        StreamingSketch.insertAll(Vector.empty, elems.take(cut).iterator, k),
        elems.drop(cut).iterator, k)
      assert(staged == base, "batch-staged state diverged")
      // the k-min set is exactly the k smallest distinct hashes
      val truth = elems.map(StreamingSketch.hv48).distinct.sorted.take(k)
      assert(base == truth.toVector)
    }
    // JVM hv48 == the engine-side conv(substring(md5(w),1,12),16,10)
    val words = Seq.fill(40)(vocab(rnd.nextInt(vocab.size)) + rnd.nextInt(999))
    val sqlSide = words.toDF("w")
      .select(col("w"), conv(substring(md5(col("w").cast("binary")), 1, 12),
        16, 10).cast("bigint").as("hv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(StreamingSketch.hv48(w) == sqlSide(w), s"hash fork on '$w'")
    }
  }

  test("psi: zero against itself, non-negative, disjoint mass clears the gate") {
    import graft.streaming.StreamingDrift
    for (_ <- 1 to 50) {
      val h = Array.fill(StreamingDrift.Buckets)(rnd.nextInt(1000).toLong)
      // identical distributions: every (p − q) is exactly 0, so every
      // scaled term floors to 0 — PSI is 0 by construction, not ~0
      assert(StreamingDrift.psi(h, h) == 0.0)
      // PSI is a sum of (p−q)·ln(p/q) terms, each non-negative (both
      // factors share sign), so any histogram pair scores >= 0
      val g = Array.fill(StreamingDrift.Buckets)(rnd.nextInt(1000).toLong)
      assert(StreamingDrift.psi(h, g) >= 0.0, s"negative PSI")
      // heavy mass in a bucket the reference lacks scores far past the
      // usual 0.25 "significant drift" gate
      val spiked = h.clone(); spiked(0) += 5000
      val ref = h.clone(); ref(0) = 0
      assert(StreamingDrift.psi(spiked, ref) > 1.0)
    }
  }

  test("streaming sample: permutation/batch-split invariant membership") {
    import graft.streaming.StreamingSketch
    // the bottom-k (hash, id) fold is the same mergeable-sketch shape as
    // KMV — replay it through the pure hash to pin membership stability
    def fold(ids: Seq[Long], k: Int): Vector[(Long, Long)] =
      ids.foldLeft(Vector.empty[(Long, Long)]) { (s, id) =>
        val e = (StreamingSketch.hv48(id.toString), id)
        if (s.contains(e)) s
        else if (s.length < k) (s :+ e).sorted
        else if (implicitly[Ordering[(Long, Long)]].lt(e, s.last))
          (s.init :+ e).sorted
        else s
      }
    for (_ <- 1 to 30) {
      val ids = Seq.fill(10 + rnd.nextInt(80))(rnd.nextInt(10000).toLong)
      val base = fold(ids, 8)
      assert(fold(rnd.shuffle(ids), 8) == base)
      val truth = ids.distinct.map(id =>
        (StreamingSketch.hv48(id.toString), id)).sorted.take(8)
      assert(base == truth.toVector)
    }
  }

  test("bootstrap state: batch-split/permutation invariant; weights in [0,6]") {
    import graft.streaming.StreamingBootstrap._
    def zero = BootState(0L, 0L, Array.fill(B)(0L), Array.fill(B)(0L))
    def eq(a: BootState, b: BootState): Boolean =
      a.n == b.n && a.sx == b.sx &&
        a.swx.sameElements(b.swx) && a.sw.sameElements(b.sw)
    for (_ <- 1 to 20) {
      val docs = Seq.fill(5 + rnd.nextInt(40))(
        DocArrival("l", rnd.nextInt(100000).toLong, 1L + rnd.nextInt(500)))
      // the state is a vector sum: any split or order lands on the same
      // totals (the merge contract a shard-then-merge topology relies on)
      val whole = fold(zero, docs.iterator)
      val cut = rnd.nextInt(docs.length)
      val (a, b) = docs.splitAt(cut)
      assert(eq(fold(fold(zero, a.iterator), b.iterator), whole))
      assert(eq(fold(zero, rnd.shuffle(docs).iterator), whole))
      // Poisson(1) weights: bounded, and the mean over many draws is ~1
      val ws = for (d <- docs; bb <- 1 to B) yield weight(d.docId, bb)
      assert(ws.forall(w => w >= 0L && w <= 6L))
      val mean = ws.sum.toDouble / ws.length
      assert(mean > 0.7 && mean < 1.3, s"weight mean $mean far from 1")
    }
  }

  test("ohlc state: batch-split/permutation invariant; matches a naive model") {
    import graft.streaming.StreamingOhlc._
    for (_ <- 1 to 20) {
      val ticks = Seq.tabulate(3 + rnd.nextInt(40))(i =>
        TickArrival("a", "d", rnd.nextInt(5).toLong /* force ts ties */,
          i.toLong, rnd.nextInt(1000) / 10.0))
      val whole = fold(None, ticks.iterator).get
      val cut = rnd.nextInt(ticks.length)
      val (a, b) = ticks.splitAt(cut)
      assert(fold(fold(None, a.iterator), b.iterator).get == whole)
      assert(fold(None, rnd.shuffle(ticks).iterator).get == whole)
      // naive model: sort by the total order, take ends
      val sorted = ticks.sortBy(t => (t.tsUs, t.eventId))
      assert(whole.open == sorted.head.value)
      assert(whole.close == sorted.last.value)
      assert(whole.high == ticks.map(_.value).max)
      assert(whole.low == ticks.map(_.value).min)
      assert(whole.n == ticks.length.toLong)
    }
  }

  test("simjoin: prefix-filtered join equals brute force on random corpora") {
    // 12 seeded corpora spanning the shapes that stress the filter: tiny
    // vocab (dense overlap — every pair a candidate), huge vocab (sparse —
    // prefixes prune nearly everything), mixed set sizes incl. singletons
    // and exact twins; thresholds walk the (0, 1] range incl. rational
    // boundaries (1/3, 1/2, 2/3) where a float alpha could lose a prefix
    // slot. Equality with the brute-force twin is exactly the prefix
    // lemma's claim, exercised end-to-end.
    val thresholds = Seq(0.2, 1.0 / 3, 0.5, 2.0 / 3, 0.75, 1.0)
    for (c <- 0 until 12) {
      val vocabSize = Seq(6, 40, 400)(c % 3)
      val v = (1 to vocabSize).map(i => s"t$i")
      val n = 30 + rnd.nextInt(40)
      val rows = (0 until n).map { i =>
        val sz = 1 + rnd.nextInt(12)
        (i.toLong, Seq.fill(sz)(v(rnd.nextInt(v.size))))
      } ++ Seq((900L, Seq("t1", "t2", "t3")), (901L, Seq("t1", "t2", "t3")))
      val df = rows.toDF("id", "toks")
      val t = thresholds(c % thresholds.size)
      val fast = graft.functions.SimilarityJoin
        .jaccardSelfJoin(df, "id", "toks", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      val brute = graft.functions.SimilarityJoin
        .bruteForceSelfJoin(df, "id", "toks", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      assert(fast == brute, s"corpus $c (vocab $vocabSize, t=$t) diverged")
      assert(fast.exists(p => p._1 == 900L && p._2 == 901L),
        s"planted exact twins missing at t=$t")
    }
  }
}
