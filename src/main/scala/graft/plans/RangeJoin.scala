package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, GenerateUnsafeProjection, JavaCode, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Keyless interval-stab join — the THIRD full custom-operator stack
  * (logical node → planner strategy → physical exec), for the join shape
  * Spark has no good plan for: "attach every interval [lo, hi] that
  * CONTAINS this value", with NO equality key to hash on (IP-block → geo
  * lookup, value → irregular band, SCD-2 validity windows without a
  * surrogate key).
  *
  * The declarative form `facts JOIN dims ON v >= lo AND v <= hi` has no
  * equi-conjunct, so Spark plans BroadcastNestedLoopJoin: every fact row
  * compared against EVERY interval — O(n·m) predicate evaluations. At
  * 100 TB of facts against even 10⁴ intervals that is 10⁴ comparisons per
  * fact row, all wasted on non-matches.
  *
  * This operator broadcasts the interval side (dimension-sized by nature),
  * and each task builds ONE stab index over it: intervals sorted by lo,
  * overlaid with a segment-max tree on hi (an implicit augmented interval
  * tree). A fact row binary-searches the last interval with lo ≤ v, then
  * descends the tree over the eligible prefix, pruning every subtree
  * whose max hi < v — so after the O(log m) search, work is O(log m) per
  * EMITTED match, output-sensitive at any overlap shape. In particular
  * the former degenerate — one giant spanning interval holding a running
  * prefix-max high above thousands of non-matching narrow intervals — now
  * skips the non-matches in whole subtrees instead of walking them one by
  * one. Non-overlapping intervals (IP blocks) stab in O(log m + 1). The
  * fact side never shuffles and never materializes a candidate pair it
  * doesn't emit.
  *
  * Bounds are evaluated as single-column rows compared by a generated
  * ordering, so any orderable type works (longs, decimals, timestamps,
  * strings) with Spark's own comparison semantics. NULL value / lo / hi
  * never match (the SQL BETWEEN convention); intervals with lo > hi are
  * empty and never match.
  *
  * STREAM-STATIC: a streaming fact side against a static interval table
  * works as-is (spec-proven) — the exec is stateless per fact row, so
  * each micro-batch re-plans it like any stream-static enrichment; the
  * interval side re-broadcasts per batch, the usual stream-static
  * contract.
  */
case class RangeLookupJoin(
    value: Expression,
    lo: Expression,
    hi: Expression,
    loInclusive: Boolean,
    hiInclusive: Boolean,
    leftOuter: Boolean,
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeLookupJoin =
    copy(left = newLeft, right = newRight)
}

/** The per-task stab index: intervals sorted by lo, augmented with a
  * segment-max tree over hi (implicit interval tree: node k covers leaves
  * [2k, 2k+1] recursively; `segMax(k)` is the subtree's max hi, null for
  * padding). `stab` appends every containing interval's row to `out` in
  * DESCENDING lo order (ties = build order after the stable sort),
  * deterministic because downstream rows carry a full ordering.
  */
final class RangeStabIndex(
    loRows: Array[UnsafeRow],          // sorted ascending
    hiRows: Array[UnsafeRow],          // parallel to loRows
    rows: Array[InternalRow],          // parallel payload rows
    ord: Ordering[InternalRow],
    loInclusive: Boolean,
    hiInclusive: Boolean) {

  // leaves sit at [leafBase, leafBase + n); leafBase is the next power of
  // two ≥ n so every internal node has a fixed two-child shape
  private val n = loRows.length
  private val leafBase: Int = {
    var p = 1
    while (p < n) p <<= 1
    p
  }
  private val segMax: Array[UnsafeRow] = {
    val t = new Array[UnsafeRow](leafBase * 2)
    var i = 0
    while (i < n) { t(leafBase + i) = hiRows(i); i += 1 }
    var k = leafBase - 1
    while (k >= 1) {
      val l = t(2 * k); val r = t(2 * k + 1)
      t(k) =
        if (l == null) r
        else if (r == null) l
        else if (ord.compare(l, r) >= 0) l else r
      k -= 1
    }
    t
  }

  /** max hi in the subtree fails the match bound → the whole subtree has
    * no containing interval. */
  private def pruned(maxHi: UnsafeRow, v: UnsafeRow): Boolean = {
    if (maxHi == null) return true
    val c = ord.compare(maxHi, v)
    c < 0 || (!hiInclusive && c == 0)
  }

  /** Emit matching leaves of `node` (covering [nodeLo, nodeLo + width))
    * whose index < bound, right child first so output stays in descending
    * lo order. Depth is log2(leafBase) ≤ 31. */
  private def collect(node: Int, nodeLo: Int, width: Int, bound: Int,
                      v: UnsafeRow, out: java.util.ArrayList[InternalRow]): Int = {
    if (nodeLo >= bound || pruned(segMax(node), v)) 0
    else if (width == 1) { out.add(rows(nodeLo)); 1 } // leaf: lo ok (< bound), hi ok (not pruned)
    else {
      val half = width >>> 1
      val fromRight = collect(2 * node + 1, nodeLo + half, half, bound, v, out)
      fromRight + collect(2 * node, nodeLo, half, bound, v, out)
    }
  }

  /** Number of intervals containing v; matching rows are appended to out. */
  def stab(v: UnsafeRow, out: java.util.ArrayList[InternalRow]): Int = {
    if (n == 0) return 0
    // last index with lo <= v (inclusive) / lo < v (exclusive)
    var loIdx = 0
    var hiIdx = n
    while (loIdx < hiIdx) {
      val mid = (loIdx + hiIdx) >>> 1
      val c = ord.compare(loRows(mid), v)
      if (c < 0 || (loInclusive && c == 0)) loIdx = mid + 1 else hiIdx = mid
    }
    if (loIdx == 0) 0
    else collect(1, 0, leafBase, loIdx, v, out)
  }
}

/** Physical broadcast interval-stab. EnsureRequirements broadcasts the
  * interval side; the fact side streams with no exchange. Multi-match:
  * each fact row emits one output row per containing interval.
  */
case class RangeLookupJoinExec(
    value: Expression,
    lo: Expression,
    hi: Expression,
    loInclusive: Boolean,
    hiInclusive: Boolean,
    leftOuter: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution ::
      BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning = left.outputPartitioning

  /** Build the stab index from the broadcast interval rows (once per
    * task). Null-lo/hi and empty (lo > hi) intervals are dropped here —
    * they can never match. */
  def buildIndex(broadcastRows: Array[InternalRow]): RangeStabIndex = {
    val rOut = right.output
    val loProj = UnsafeProjection.create(Seq(lo), rOut)
    val hiProj = UnsafeProjection.create(Seq(hi), rOut)
    val ord = new LazilyGeneratedOrdering(Seq(SortOrder(
      BoundReference(0, value.dataType, nullable = true), Ascending)), Nil)
    val kept = new java.util.ArrayList[(UnsafeRow, UnsafeRow, InternalRow)]()
    broadcastRows.foreach { r =>
      val l = loProj(r)
      val h = hiProj(r)
      if (!l.isNullAt(0) && !h.isNullAt(0) && ord.compare(l, h) <= 0)
        kept.add((l.copy(), h.copy(), r))
    }
    val sorted = kept.toArray(new Array[(UnsafeRow, UnsafeRow, InternalRow)](kept.size))
    java.util.Arrays.sort(sorted,
      (a: (UnsafeRow, UnsafeRow, InternalRow),
       b: (UnsafeRow, UnsafeRow, InternalRow)) => ord.compare(a._1, b._1))
    val loRows = sorted.map(_._1)
    val hiRows = sorted.map(_._2)
    val rows = sorted.map(_._3)
    new RangeStabIndex(loRows, hiRows, rows, ord, loInclusive, hiInclusive)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val valueExpr = value
    val outer = leftOuter
    val outAttrs = output
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    val buildFn = buildIndex _
    left.execute().mapPartitions { lIt =>
      val index = buildFn(bcast.value)
      val vProj = UnsafeProjection.create(Seq(valueExpr), lOut)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rOut.size)
      val hits = new java.util.ArrayList[InternalRow]()
      lIt.flatMap { l =>
        hits.clear()
        val v = vProj(l)
        val n = if (v.isNullAt(0)) 0 else index.stab(v, hits)
        if (n == 0) {
          if (outer) Iterator.single(outProj(joined(l, nullRight)))
          else Iterator.empty
        } else {
          // l is stable for the duration of this flatMap element; copy
          // is unnecessary because outProj materializes each output row
          val matched = hits.toArray(new Array[InternalRow](n))
          matched.iterator.map(r => outProj(joined(l, r)))
        }
      }
    }
  }

  // ---- whole-stage codegen (fact-side pipeline; multi-match inner loop,
  // cf. BroadcastHashJoin with non-unique keys) ----

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[CodegenSupport].inputRDDs()

  // a fact row can emit SEVERAL rows that share generated buffers — the
  // non-unique-key BroadcastHashJoin rule: downstream must copy
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(
      ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val bcastRef = ctx.addReferenceObj("rangeBroadcast",
      right.executeBroadcast[Array[InternalRow]]())
    val thisPlan = ctx.addReferenceObj("rangePlan", this)
    val indexVar = ctx.addMutableState(classOf[RangeStabIndex].getName,
      "rangeIndex",
      v => s"$v = $thisPlan.buildIndex((InternalRow[]) $bcastRef.value());",
      forceInline = true)
    val hitsVar = ctx.addMutableState("java.util.ArrayList<InternalRow>",
      "rangeHits", v => s"$v = new java.util.ArrayList<InternalRow>();",
      forceInline = true)

    // the probe value as a 1-col UnsafeRow, from the exploded fact vars
    ctx.currentVars = input
    val vEv = GenerateUnsafeProjection.createCode(ctx,
      Seq(BindReferences.bindReference(value, left.output)))
    val matched = ctx.freshName("rangeMatched")
    val n = ctx.freshName("rangeN")
    val i = ctx.freshName("rangeI")

    // right-side columns read from the matched row; under left-outer the
    // loop's single no-match iteration passes matched == null → nulls
    ctx.currentVars = null
    ctx.INPUT_ROW = matched
    val rightVars = right.output.zipWithIndex.map { case (a, idx) =>
      val ev = BoundReference(idx, a.dataType, nullable = true).genCode(ctx)
      if (!leftOuter) ev
      else {
        val isNull = ctx.freshName("rangeIsNull")
        val v = ctx.freshName("rangeValue")
        val javaType = CodeGenerator.javaType(a.dataType)
        ExprCode(
          code"""
            |boolean $isNull = true;
            |$javaType $v = ${CodeGenerator.defaultValue(a.dataType)};
            |if ($matched != null) {
            |  ${ev.code}
            |  $isNull = ${ev.isNull};
            |  $v = ${ev.value};
            |}""".stripMargin,
          JavaCode.isNullVariable(isNull),
          JavaCode.variable(v, a.dataType))
      }
    }

    val bound = if (leftOuter) s"java.lang.Math.max($n, 1)" else n
    s"""
       |${vEv.code}
       |$hitsVar.clear();
       |int $n = ${vEv.value}.isNullAt(0)
       |  ? 0 : $indexVar.stab(${vEv.value}, $hitsVar);
       |for (int $i = 0; $i < $bound; $i++) {
       |  InternalRow $matched = $i < $n
       |    ? (InternalRow) $hitsVar.get($i) : null;
       |  ${consume(ctx, input ++ rightVars)}
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeLookupJoinExec =
    copy(left = newLeft, right = newRight)
}

object RangeLookupStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeLookupJoin(v, l, h, li, hii, outer, lp, rp) =>
      RangeLookupJoinExec(v, l, h, li, hii, outer,
        planLater(lp), planLater(rp)) :: Nil
    case _ => Nil
  }
}

object RangeJoinOp {

  /** Scale path for an interval side TOO LARGE to broadcast: grid-bucket
    * the value domain with a caller-supplied width. Each interval
    * replicates to every bucket it overlaps (replication factor ≈ mean
    * interval width / bucketWidth + 1 — pick the width near the typical
    * interval size); each fact lands in exactly ONE bucket, so no output
    * dedup is needed. The join is then EQUI on the bucket + range
    * residual — a plain shuffled hash join Catalyst plans and AQE tunes,
    * with no broadcast-size ceiling and no nested loop. This is the
    * interval analog of the grid-salted self-joins used by the dedup
    * family; [[rangeLookup]]'s broadcast stab exec remains the fast path
    * for dimension-sized interval tables.
    *
    * Long-typed value/lo/hi only (the grid needs exact integer floor
    * division; scale decimals to integer units first, as q_range_lookup
    * does with cents). Bounds inclusive (SQL BETWEEN).
    *
    * `maxReplication` guards the replication blow-up this path is prone
    * to: an interval spanning more than that many buckets (a catch-all
    * sentinel row, or a bucketWidth far below the interval scale) raises
    * a runtime error NAMING the offending interval instead of silently
    * materializing millions of replicas (or overflowing sequence()'s
    * array limit). Raise the width or pre-split such intervals.
    */
  def rangeLookupPartitioned(
      facts: DataFrame, intervals: DataFrame,
      valueCol: String, loCol: String, hiCol: String,
      bucketWidth: Long,
      joinType: String = "inner",
      maxReplication: Long = 10000L): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(maxReplication > 0, "maxReplication must be positive")
    require(joinType == "inner" || joinType == "left",
      s"rangeLookupPartitioned joinType must be inner or left, got $joinType")
    import org.apache.spark.sql.functions.{col, explode, expr, lit, raise_error, sequence, when, concat}
    def checkLong(df: DataFrame, n: String): Unit = {
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in [${df.columns.mkString(", ")}]"))
      require(f.dataType == org.apache.spark.sql.types.LongType,
        s"rangeLookupPartitioned needs BIGINT columns; $n is ${f.dataType}")
    }
    checkLong(facts, valueCol); checkLong(intervals, loCol)
    checkLong(intervals, hiCol)
    // both frames join with unqualified column references below — shared
    // names would bind ambiguously (the same reason rangeLookup rejects
    // overlapping attribute ids)
    val shared = facts.columns.map(_.toLowerCase)
      .intersect(intervals.columns.map(_.toLowerCase))
    require(shared.isEmpty,
      s"fact and interval sides share column names ${shared.mkString(", ")}" +
        " — alias the interval side's columns")
    // exact FLOOR division on longs (correct for negatives, no double
    // round-trip): (x - pmod(x, w)) is the nearest multiple of w at or
    // below x and pmod is nonnegative, so the integer `div` is exact.
    // Names are backquoted so any legal column name survives expr().
    def bucketExpr(n: String) = {
      val q = s"`${n.replace("`", "``")}`"
      expr(s"($q - pmod($q, $bucketWidth)) div $bucketWidth")
    }
    val f = facts.withColumn("__graft_bucket", bucketExpr(valueCol))
    val span = bucketExpr(hiCol) - bucketExpr(loCol) + lit(1L)
    val iv = intervals
      .where(col(loCol) <= col(hiCol))
      .withColumn("__graft_ibucket",
        explode(when(span <= maxReplication,
            sequence(bucketExpr(loCol), bucketExpr(hiCol)))
          .otherwise(raise_error(concat(
            lit(s"rangeLookupPartitioned: interval ["), col(loCol),
            lit(", "), col(hiCol),
            lit(s"] spans more than $maxReplication buckets at width " +
              s"$bucketWidth — raise bucketWidth/maxReplication or " +
              "pre-split the interval"))))))
    f.join(iv,
        col("__graft_bucket") === col("__graft_ibucket")
          && col(valueCol) >= col(loCol) && col(valueCol) <= col(hiCol),
        joinType)
      .drop("__graft_bucket", "__graft_ibucket")
  }

  /** Strategy-selecting front door for the interval family, mirroring
    * [[AsofJoinStrategy]]'s auto rule: "auto" broadcasts (the stab exec —
    * zero fact-side shuffle) when the interval side's optimized-plan
    * statistics fall at or under spark.sql.autoBroadcastJoinThreshold
    * (disabled when the threshold is ≤ 0), and otherwise grid-partitions
    * ([[rangeLookupPartitioned]] — no broadcast-size ceiling). Callers
    * with a reference-sized band table get the fast path without a hint;
    * a 100 TB-scale interval side degrades to the shuffle path instead of
    * OOMing the driver on a broadcast build.
    *
    * The intersection contract both paths support: inclusive bounds (SQL
    * BETWEEN), BIGINT value/lo/hi (the grid needs exact integer floor
    * division), inner/left join, no shared column names across sides.
    * `strategy` forces "broadcast" or "partitioned" explicitly.
    */
  def rangeLookupAuto(
      facts: DataFrame, intervals: DataFrame,
      valueCol: String, loCol: String, hiCol: String,
      bucketWidth: Long,
      joinType: String = "inner",
      maxReplication: Long = 10000L,
      strategy: String = "auto"): DataFrame = {
    require(Set("auto", "broadcast", "partitioned").contains(strategy),
      s"strategy must be auto|broadcast|partitioned, got $strategy")
    // validate the cross-path BIGINT contract up front: the broadcast stab
    // accepts any orderable bound type, but the partitioned grid needs
    // exact integer floor division — without this check a non-BIGINT
    // caller WORKS while the interval side sits under the broadcast
    // threshold, then breaks (or silently mis-buckets) the day its stats
    // grow past it. Fail at plan time, deterministically, on every path.
    Seq(valueCol -> facts, loCol -> intervals, hiCol -> intervals)
      .foreach { case (n, df) =>
        val hits = df.schema.fields.filter(_.name.equalsIgnoreCase(n))
        require(hits.nonEmpty,
          s"column $n not in [${df.columns.mkString(", ")}]")
        hits.foreach(f => require(
          f.dataType == org.apache.spark.sql.types.LongType,
          s"rangeLookupAuto: $n must be BIGINT (the partitioned fallback's " +
            s"grid math requires it), got ${f.dataType.simpleString} — " +
            "cast explicitly, or call rangeLookup directly for " +
            "orderable-typed broadcast-only stabs"))
      }
    val bcast = strategy match {
      case "broadcast" => true
      case "partitioned" => false
      case _ => // auto: same signal BroadcastHashJoin planning uses
        val threshold = facts.sparkSession.sessionState.conf
          .autoBroadcastJoinThreshold
        threshold > 0 &&
          intervals.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    }
    if (bcast) rangeLookup(facts, intervals, valueCol, loCol, hiCol, joinType)
    else rangeLookupPartitioned(facts, intervals, valueCol, loCol, hiCol,
      bucketWidth, joinType, maxReplication)
  }

  /** Interval-stab join: for each `facts` row, every `intervals` row whose
    * [lo, hi] contains the fact's `valueCol` (bounds inclusive by default
    * — SQL BETWEEN). joinType "inner" drops unmatched facts; "left" keeps
    * them with a null interval side.
    *
    * The intervals side broadcasts whole (it is dimension-sized by the
    * operator's nature); see [[RangeLookupJoin]] for the complexity story
    * vs the BroadcastNestedLoopJoin Spark would otherwise plan.
    *
    * Fails fast on: mismatched value/lo/hi dataTypes (ordering-based stab
    * compares raw values), and overlapping attribute ids between sides
    * (alias a self-derived interval table).
    */
  def rangeLookup(
      facts: DataFrame, intervals: DataFrame,
      valueCol: String, loCol: String, hiCol: String,
      joinType: String = "inner",
      loInclusive: Boolean = true,
      hiInclusive: Boolean = true): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"rangeLookup joinType must be inner or left, got $joinType")
    val spark = facts.sparkSession
    // a bare session needs the strategy to plan the node handed back
    graft.GraftSession.add(spark, strategies = Seq(RangeLookupStrategy))
    val lp = facts.queryExecution.analyzed
    val rp = intervals.queryExecution.analyzed
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false") == "true"
    def res(plan: LogicalPlan, n: String): Attribute = {
      val hits = plan.output.filter(a =>
        if (caseSensitive) a.name == n else a.name.equalsIgnoreCase(n))
      if (hits.isEmpty) throw new IllegalArgumentException(
        s"column $n not in [${plan.output.map(_.name).mkString(", ")}]")
      if (hits.length > 1) throw new IllegalArgumentException(
        s"column $n is ambiguous (${hits.length} matches) — alias first")
      hits.head
    }
    val v = res(lp, valueCol)
    val l = res(rp, loCol)
    val h = res(rp, hiCol)
    Seq(l, h).foreach { b =>
      require(b.dataType == v.dataType,
        s"rangeLookup bound type mismatch: ${b.name}: ${b.dataType} vs " +
          s"${v.name}: ${v.dataType} — cast before joining")
    }
    require(org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(v.dataType),
      s"rangeLookup value type ${v.dataType} is not orderable")
    val overlap = lp.outputSet.intersect(rp.outputSet)
    require(overlap.isEmpty,
      s"fact and interval sides share attributes " +
        s"${overlap.toSeq.map(_.name).mkString(", ")} — alias the interval" +
        " side's columns")
    PlanBridge.ofRows(spark, RangeLookupJoin(
      v, l, h, loInclusive, hiInclusive, joinType == "left", lp, rp))
  }
}
