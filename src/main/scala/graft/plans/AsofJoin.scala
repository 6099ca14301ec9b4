package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, GenerateUnsafeProjection, JavaCode, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Sort-merge AS-OF join — the second full custom-operator stack (logical
  * node → planner strategy → physical exec), for a join Spark has no native
  * operator for: "for each left row, the LATEST right row with the same key
  * at time ≤ left time, within a horizon".
  *
  * The declarative form (q_join_asof, operators/JoinQueries.scala) is
  * equi-join on the key + range condition, then a row_number window keeps
  * rank 1: every purchase×click candidate pair inside the horizon is
  * MATERIALIZED and shuffled to the window, then all but one per purchase
  * is discarded. Candidate fan-out ∝ per-key activity × horizon; at 100 TB
  * with a 7-day horizon that is the dominant cost of the query.
  *
  * This operator computes the same relation with zero fan-out: both sides
  * hash-cluster on the key (two exchanges, same as the join) and sort
  * within partitions by (key, time) — then ONE forward merge pass holds
  * exactly one buffered right row (the as-of candidate) at a time. O(n+m)
  * after sort, no candidate materialization, no window. Ties on right time
  * resolve by the trailing tie-break sort keys: the LAST row in sort order
  * wins, matching the declarative form's ORDER BY ts DESC, id DESC rank 1.
  *
  * Semantics (inner as-of):
  *   - NULL in any key field never matches (equi-join convention);
  *   - NULL times never match;
  *   - match requires leftTime - horizon < rightTime ≤ leftTime.
  *
  * Correctness is driver-gated through q_asof_custom (same DuckDB oracle
  * as q_join_asof) and spec-checked equal to the declarative plan.
  */
case class AsofJoin(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    horizonMicros: Long,
    leftOuter: Boolean,
    strategy: String, // "auto" | "merge" | "broadcast"
    direction: String, // "backward" | "forward" | "nearest"
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  require(horizonMicros > 0, "asof horizon must be positive")
  require(Set("auto", "merge", "broadcast").contains(strategy),
    s"asof strategy must be auto, merge or broadcast, got $strategy")
  require(AsofDirection.valid(direction),
    s"asof direction must be backward, forward or nearest, got $direction")
  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Window-bound arithmetic on micros longs. horizonMicros is caller-
  * supplied: a huge horizon against an extreme timestamp would wrap Long
  * arithmetic and silently INVERT the window predicate. Saturating at the
  * Long range instead keeps the predicate monotone — effectively
  * unbounded for any real timestamp. Edge note: the window checks stay
  * STRICT (ct > lowBound / ct < highBound), so a right time exactly equal
  * to the saturated sentinel (Long.MinValue backward / Long.MaxValue
  * forward) is still excluded; ±292,000-year epoch-micros sentinels don't
  * occur in real data, and excluding them beats special-casing the
  * comparison per probe.
  */
private[plans] object AsofDirection {
  val Backward = "backward"
  val Forward = "forward"
  val Nearest = "nearest"
  def valid(d: String): Boolean =
    d == Backward || d == Forward || d == Nearest
}

private[plans] object AsofBounds {
  /** pt - h (h > 0), saturating to Long.MinValue on underflow. */
  def lowBound(pt: Long, h: Long): Long = {
    val r = pt - h
    if (((pt ^ h) & (pt ^ r)) < 0) Long.MinValue else r
  }
  /** pt + h (h > 0), saturating to Long.MaxValue on overflow. */
  def highBound(pt: Long, h: Long): Long = {
    val r = pt + h
    if (((pt ^ r) & (h ^ r)) < 0) Long.MaxValue else r
  }
}

/** Physical sort-merge as-of. EnsureRequirements inserts the co-partitioned
  * exchanges (ClusteredDistribution on both key lists) and the per-partition
  * sorts (requiredChildOrdering); doExecute is a single forward merge that
  * buffers ONE right row per key — the current as-of candidate.
  *
  * DELIBERATELY not CodegenSupport (unlike [[AsofJoinBroadcastExec]], which
  * fuses): CollapseCodegenStages special-cases Spark's own sort-merge join
  * classes to wrap BOTH sorted children in InputAdapter so each keeps its
  * own fused stage; a custom binary node gets the generic treatment, so
  * implementing produce here would pull the child SortExecs into this
  * node's stage unfused — trading their codegen away for one fewer
  * iterator boundary. As-is, the children fuse below (exchange → *(n)
  * Sort) and the framework's InputAdapter fuses everything above the
  * join; only the merge loop itself stays interpreted, and it is a tight
  * single pass with generated orderings/projections already.
  */
case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    horizonMicros: Long,
    leftOuter: Boolean,
    direction: String,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    (rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))
      ++ rightTieBreak.map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val ltExpr = leftTime
    val rtExpr = rightTime
    val h = horizonMicros
    val outer = leftOuter
    val dir = direction
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt0) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      // both key projections share one schema — compare with a generated
      // ordering over bound references into that schema
      val keyOrd = new LazilyGeneratedOrdering(
        lKeyExprs.zipWithIndex.map { case (e, i) =>
          SortOrder(BoundReference(i, e.dataType, nullable = true), Ascending)
        }, Nil)
      val ltEval = BindReferences.bindReference(ltExpr, lOut)
      val rtEval = BindReferences.bindReference(rtExpr, rOut)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rOut.size)
      val rIter = rIt0.buffered
      // the as-of candidate: latest right row consumed so far whose key
      // equals lastKey and whose time ≤ the current left time
      var lastKey: InternalRow = null
      var lastRight: InternalRow = null
      var lastCt = 0L

      new Iterator[InternalRow] {
        private var ready = false
        private var nextRow: InternalRow = null

        private def findNext(): Unit = {
          nextRow = null
          while (nextRow == null && lIt.hasNext) {
            val l = lIt.next()
            val lk = lKeyProj(l)
            // match = the right row to attach, or null (null key / null
            // time / no candidate in the horizon) — single emit point
            var matched: InternalRow = null
            if (!lk.anyNull) {
              val ptv = ltEval.eval(l)
              if (ptv != null) {
                val pt = ptv.asInstanceOf[Long]
                if (dir != AsofDirection.Forward) {
                  // BACKWARD / NEAREST (latest right ≤ pt): consume rows
                  // behind the current key, and rows at the current key
                  // with time ≤ pt (each replaces the candidate — sort
                  // order makes the last one the latest, tie-break
                  // included)
                  var advance = true
                  while (advance && rIter.hasNext) {
                    val rk = rKeyProj(rIter.head)
                    if (rk.anyNull) { rIter.next() }
                    else {
                      val c = keyOrd.compare(rk, lk)
                      if (c < 0) {
                        rIter.next(); lastKey = null; lastRight = null
                      } else if (c == 0) {
                        val ctv = rtEval.eval(rIter.head)
                        if (ctv == null) { rIter.next() }
                        else {
                          val ct = ctv.asInstanceOf[Long]
                          if (ct <= pt) {
                            lastRight = rIter.next().copy()
                            lastCt = ct
                            if (lastKey == null ||
                                keyOrd.compare(lastKey, lk) != 0)
                              lastKey = lk.copy()
                          } else advance = false
                        }
                      } else advance = false
                    }
                  }
                  var backCand: InternalRow = null
                  var backCt = 0L
                  if (lastRight != null && lastKey != null &&
                      keyOrd.compare(lastKey, lk) == 0 &&
                      lastCt > AsofBounds.lowBound(pt, h)) {
                    backCand = lastRight
                    backCt = lastCt
                  }
                  if (dir == AsofDirection.Backward) matched = backCand
                  else {
                    // NEAREST: the other neighbor is the head — the first
                    // same-key row with time STRICTLY above pt (equal
                    // times were consumed as backward candidates, so a
                    // distance-0 match always resolves backward). Closer
                    // side wins; ties resolve backward. Distances compare
                    // UNSIGNED: each fits [0, 2^64) even when a saturated
                    // horizon admits the full Long time range.
                    var fwdCand: InternalRow = null
                    var fwdCt = 0L
                    if (rIter.hasNext) {
                      val head = rIter.head
                      val rk = rKeyProj(head)
                      if (!rk.anyNull && keyOrd.compare(rk, lk) == 0) {
                        val ct = rtEval.eval(head).asInstanceOf[Long]
                        if (ct < AsofBounds.highBound(pt, h)) {
                          fwdCand = head
                          fwdCt = ct
                        }
                      }
                    }
                    matched =
                      if (backCand == null) fwdCand
                      else if (fwdCand == null) backCand
                      else if (java.lang.Long.compareUnsigned(
                        fwdCt - pt, pt - backCt) < 0) fwdCand
                      else backCand
                  }
                } else {
                  // FORWARD (earliest right ≥ pt): rows behind the key, and
                  // same-key rows with time < pt, are dead for every later
                  // left row (pt is non-decreasing) — consume them. The
                  // candidate is the head itself, NOT consumed: the next
                  // left row at the same pt needs it too. Sort order makes
                  // the head the earliest time with the MIN tie-break.
                  var advance = true
                  while (advance && rIter.hasNext) {
                    val rk = rKeyProj(rIter.head)
                    if (rk.anyNull) { rIter.next() }
                    else {
                      val c = keyOrd.compare(rk, lk)
                      if (c < 0) { rIter.next() }
                      else if (c == 0) {
                        val ctv = rtEval.eval(rIter.head)
                        if (ctv == null) { rIter.next() }
                        else if (ctv.asInstanceOf[Long] < pt) { rIter.next() }
                        else advance = false
                      } else advance = false
                    }
                  }
                  if (rIter.hasNext) {
                    val head = rIter.head
                    val rk = rKeyProj(head)
                    if (!rk.anyNull && keyOrd.compare(rk, lk) == 0) {
                      val ct = rtEval.eval(head).asInstanceOf[Long]
                      if (ct < AsofBounds.highBound(pt, h)) matched = head
                    }
                  }
                }
              }
            }
            if (matched != null) nextRow = outProj(joined(l, matched))
            else if (outer) nextRow = outProj(joined(l, nullRight))
          }
        }

        override def hasNext: Boolean = {
          if (!ready) { findNext(); ready = true }
          nextRow != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty asof iterator")
          ready = false
          nextRow
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** The broadcast as-of's per-task index: key → time-sorted right rows with
  * a parallel micros array. One lookup = hash probe + binary search; built
  * once per task from the broadcast rows (shared by the iterator path and
  * the generated whole-stage code, like TopKHeapBuffer).
  */
final class AsofBroadcastIndex(
    buckets: java.util.HashMap[UnsafeRow, (Array[InternalRow], Array[Long])],
    horizonMicros: Long,
    direction: String) {

  private val fwd = direction == AsofDirection.Forward
  private val nearest = direction == AsofDirection.Nearest

  /** The as-of row for (key, pt), or null: backward = rightmost time ≤ pt
    * (duplicates resolve to the LAST sorted entry = max tie-break, matching
    * the merge exec); forward = leftmost time ≥ pt (min tie-break);
    * nearest = whichever neighbor is closer, distance ties and exact
    * matches resolving backward (unsigned distance compare — each side's
    * distance fits [0, 2^64) even with a saturated horizon). */
  def lookup(key: UnsafeRow, pt: Long): InternalRow = {
    val bucket = buckets.get(key)
    if (bucket == null) return null
    val rows = bucket._1
    val cts = bucket._2
    if (!fwd) {
      var lo = 0
      var hi = cts.length // first index with ct > pt
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cts(mid) <= pt) lo = mid + 1 else hi = mid
      }
      val back =
        if (lo > 0 && cts(lo - 1) > AsofBounds.lowBound(pt, horizonMicros))
          rows(lo - 1)
        else null
      if (!nearest) back
      else {
        // the forward neighbor is cts(lo) — strictly above pt (equal
        // times sit below the upper bound and resolve backward)
        val forward =
          if (lo < cts.length &&
              cts(lo) < AsofBounds.highBound(pt, horizonMicros)) rows(lo)
          else null
        if (back == null) forward
        else if (forward == null) back
        else if (java.lang.Long.compareUnsigned(
          cts(lo) - pt, pt - cts(lo - 1)) < 0) forward
        else back
      }
    } else {
      var lo = 0
      var hi = cts.length // first index with ct >= pt
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cts(mid) < pt) lo = mid + 1 else hi = mid
      }
      if (lo < cts.length && cts(lo) < AsofBounds.highBound(pt, horizonMicros))
        rows(lo)
      else null
    }
  }
}

/** Broadcast as-of: the zero-fact-shuffle path for a SMALL right side
  * (reference/dimension data). The right side broadcasts whole; each left
  * partition builds a per-key time-sorted index of it ONCE, then every
  * left row resolves by hash lookup + binary search (rightmost time ≤ pt)
  * — the fact side never exchanges at all (vs two exchanges in the merge
  * exec). The rightmost-equal-time entry is the max-tie-break row, so tie
  * semantics match the merge exec exactly. At 100 TB this is the as-of
  * analog of a broadcast hash join: use when the reference side fits an
  * executor; the merge exec remains the both-sides-large path.
  *
  * Participates in whole-stage codegen on the FACT side (the
  * BroadcastHashJoin shape): the generated code probes the per-task
  * [[AsofBroadcastIndex]] inline, so scan → filter → as-of → project stays
  * one fused loop with no iterator boundary around the join. As-of attaches
  * at most ONE right row per fact row, so the generated shape is map-like —
  * no inner loop, no result copying.
  */
case class AsofJoinBroadcastExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    horizonMicros: Long,
    leftOuter: Boolean,
    direction: String,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution ::
      BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning = left.outputPartitioning

  /** Per-task index build over the broadcast rows: key → (tie-sorted rows,
    * parallel micros array). Build cost is |right| per task — the contract
    * of any broadcast join. Called from doExecute AND from the generated
    * class's init (the plan node rides the codegen references array). */
  def buildIndex(broadcastRows: Array[InternalRow]): AsofBroadcastIndex = {
    val rOut = right.output
    val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
    val rtEval = BindReferences.bindReference(rightTime, rOut)
    // (time, tie-break) ascending — within a key bucket the rightmost
    // entry with time ≤ pt is the match, ties included
    val rowOrd = new LazilyGeneratedOrdering(
      (SortOrder(rightTime, Ascending) +:
        rightTieBreak.map(SortOrder(_, Ascending))).map(so =>
          so.copy(child = BindReferences.bindReference(so.child, rOut))),
      Nil)
    val index = new java.util.HashMap[UnsafeRow, (Array[InternalRow], Array[Long])]()
    val buckets =
      new java.util.HashMap[UnsafeRow, java.util.ArrayList[InternalRow]]()
    broadcastRows.foreach { r =>
      val k = rKeyProj(r)
      if (!k.anyNull && rtEval.eval(r) != null) {
        var b = buckets.get(k)
        if (b == null) {
          b = new java.util.ArrayList[InternalRow]()
          buckets.put(k.copy(), b)
        }
        b.add(r) // broadcast rows are already materialized copies
      }
    }
    val it = buckets.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val rows = e.getValue.toArray(new Array[InternalRow](e.getValue.size))
      java.util.Arrays.sort(rows, rowOrd)
      val cts = rows.map(r => rtEval.eval(r).asInstanceOf[Long])
      index.put(e.getKey, (rows, cts))
    }
    new AsofBroadcastIndex(index, horizonMicros, direction)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val ltExpr = leftTime
    val outer = leftOuter
    val outAttrs = output
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    val buildFn = buildIndex _
    left.execute().mapPartitions { lIt =>
      val index = buildFn(bcast.value)
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val ltEval = BindReferences.bindReference(ltExpr, lOut)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rOut.size)

      lIt.flatMap { l =>
        var matched: InternalRow = null
        val lk = lKeyProj(l)
        if (!lk.anyNull) {
          val ptv = ltEval.eval(l)
          if (ptv != null)
            matched = index.lookup(lk, ptv.asInstanceOf[Long])
        }
        if (matched != null) Iterator.single(outProj(joined(l, matched)))
        else if (outer) Iterator.single(outProj(joined(l, nullRight)))
        else Iterator.empty
      }
    }
  }

  // ---- whole-stage codegen (fact-side pipeline, cf. BroadcastHashJoin) ----

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[CodegenSupport].inputRDDs()

  // at most ONE output row per fact row (map-like, no inner loop) — the
  // unique-key BroadcastHashJoin rule: copy only if the fact side must
  override def needCopyResult: Boolean =
    left.asInstanceOf[CodegenSupport].needCopyResult

  override protected def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(
      ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    // broadcast once (driver-side, at codegen time — the BHJ pattern);
    // index build once per task in the generated class's init
    val bcastRef = ctx.addReferenceObj("asofBroadcast",
      right.executeBroadcast[Array[InternalRow]]())
    val thisPlan = ctx.addReferenceObj("asofPlan", this)
    val indexVar = ctx.addMutableState(classOf[AsofBroadcastIndex].getName,
      "asofIndex",
      v => s"$v = $thisPlan.buildIndex((InternalRow[]) $bcastRef.value());",
      forceInline = true)

    // probe key + time evaluated from the exploded fact-side variables
    ctx.currentVars = input
    val keyEv = GenerateUnsafeProjection.createCode(ctx,
      BindReferences.bindReferences(leftKeys, left.output))
    val ltEv = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    val matched = ctx.freshName("asofMatched")

    // right-side columns read from the matched row; under left-outer the
    // reads are guarded so an unmatched row yields nulls
    ctx.currentVars = null
    ctx.INPUT_ROW = matched
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val ev = BoundReference(i, a.dataType, nullable = true).genCode(ctx)
      if (!leftOuter) ev
      else {
        val isNull = ctx.freshName("asofIsNull")
        val value = ctx.freshName("asofValue")
        val javaType = CodeGenerator.javaType(a.dataType)
        ExprCode(
          code"""
            |boolean $isNull = true;
            |$javaType $value = ${CodeGenerator.defaultValue(a.dataType)};
            |if ($matched != null) {
            |  ${ev.code}
            |  $isNull = ${ev.isNull};
            |  $value = ${ev.value};
            |}""".stripMargin,
          JavaCode.isNullVariable(isNull),
          JavaCode.variable(value, a.dataType))
      }
    }

    val probe =
      s"""
         |${keyEv.code}
         |${ltEv.code}
         |InternalRow $matched = null;
         |if (!${keyEv.value}.anyNull() && !${ltEv.isNull}) {
         |  $matched = $indexVar.lookup(${keyEv.value}, ${ltEv.value});
         |}
       """.stripMargin
    if (leftOuter)
      s"""
         |$probe
         |${consume(ctx, input ++ rightVars)}
       """.stripMargin
    else
      s"""
         |$probe
         |if ($matched != null) {
         |  ${consume(ctx, input ++ rightVars)}
         |}
       """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinBroadcastExec =
    copy(left = newLeft, right = newRight)
}

/** Plans the logical AsofJoin onto merge or broadcast exec. "auto" mirrors
  * Spark's own join strategy choice: broadcast when the right side's plan
  * statistics fall at or under spark.sql.autoBroadcastJoinThreshold
  * (disabled when the threshold is ≤ 0), sort-merge otherwise — so callers
  * get the zero-fact-shuffle path for reference-sized right sides without
  * passing a hint, and the both-sides-large path everywhere else.
  */
object AsofJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(lk, rk, lt, rt, tie, h, outer, strat, dir, l, r) =>
      val bcast = strat match {
        case "broadcast" => true
        case "merge" => false
        case _ => // auto: same signal BroadcastHashJoin planning uses
          val threshold = org.apache.spark.sql.internal.SQLConf.get
            .autoBroadcastJoinThreshold
          threshold > 0 && r.stats.sizeInBytes <= threshold
      }
      if (bcast)
        AsofJoinBroadcastExec(lk, rk, lt, rt, tie, h, outer, dir,
          planLater(l), planLater(r)) :: Nil
      else
        AsofJoinExec(lk, rk, lt, rt, tie, h, outer, dir,
          planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsofJoinOp {

  private val SaltL = "__asof_salt_l"
  private val SaltR = "__asof_salt_r"
  private val HotFlag = "__asof_hot"

  /** As-of join: for each `left` row, the latest `right` row with the
    * same key at rightTime ≤ leftTime within the horizon. Columns are
    * resolved by name against each side (honoring spark.sql.caseSensitive,
    * ambiguous names rejected); ties on rightTime resolve to the LAST row
    * in `rightTieBreak` ascending order — the tie-break is REQUIRED so the
    * attached payload is deterministic (pass a unique id; the time column
    * itself if (key, time) is unique). joinType "inner" drops unmatched
    * left rows; "left" keeps them with a null right side.
    *
    * Fails fast (IllegalArgumentException) on: mismatched key dataTypes
    * (each side hashes its own types for partitioning — Int 5 and Long 5
    * land on different partitions, silently dropping matches), non-
    * timestamp/long time columns (the merge compares micros longs), and
    * overlapping attribute ids between the sides (a self-derived right
    * side must alias its columns, or the output projection would bind
    * right columns to left positions).
    *
    * direction "backward" (default) attaches the LATEST right row with
    * rightTime ≤ leftTime (horizon below); "forward" attaches the
    * EARLIEST right row with rightTime ≥ leftTime (horizon above,
    * leftTime ≤ rightTime < leftTime + horizon; equal-time ties resolve
    * to the MIN tie-break — the mirror of backward's max). "nearest"
    * attaches whichever temporal neighbor is closer within the horizon on
    * either side; exact matches and equidistant ties resolve to the
    * backward side (then that side's own tie-break).
    *
    * Physical strategy: by default ("auto") the planner picks the
    * broadcast-index exec when the right side's plan statistics fall under
    * spark.sql.autoBroadcastJoinThreshold — the as-of analog of Spark's own
    * broadcast-hash-join choice — and the both-sides-large sort-merge exec
    * otherwise. strategy = "merge" / "broadcast" forces a side;
    * broadcastRight = true is the legacy spelling of "broadcast".
    */
  /** Sampled dominant-key detection for [[asofSkewSalted]]: the keys whose
    * share of a `fraction` sample of `df` is at least `minShare`. The
    * result is bounded by construction (at most 1/minShare keys), so it is
    * always broadcastable; running it is one tiny sampled aggregate job —
    * an explicit, caller-visible probe, because AQE's runtime skew-join
    * splitting only rewrites Spark's own SMJ/SHJ and can never re-plan a
    * custom exec's exchange. */
  def detectHotKeys(df: DataFrame, keys: Seq[String],
                    fraction: Double = 0.01,
                    minShare: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fraction > 0 && fraction <= 1, s"bad sample fraction $fraction")
    require(minShare > 0 && minShare <= 1, s"bad minShare $minShare")
    val sampled = df.select(keys.map(col): _*)
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .sample(fraction)
    val counted = sampled.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__asof_n"))
    // one driver-side scalar (the sample size) — bounded by design
    val total = counted.agg(sum(col("__asof_n"))).head().getLong(0)
    counted.filter(col("__asof_n") >= lit(math.max(1.0, total * minShare)))
      .select(keys.map(col): _*)
  }

  /** Skew-safe as-of: identical semantics to [[asof]], with the DOMINANT
    * keys' merge work spread over `saltBuckets` reducers. A custom exec's
    * ClusteredDistribution exchange sends every row of a key to ONE
    * reducer and AQE's skew-join splitting cannot rewrite it, so one
    * mega-key (a bot user in an event stream) serializes the merge. The
    * classic skew salt fixes it inside the SAME exec: left rows of a hot
    * key take a deterministic time-hash salt in [0, saltBuckets); right
    * rows of a hot key replicate into EVERY salt bucket; all other keys
    * ride salt 0 unreplicated. Joining on keys + salt then gives every
    * left row a complete copy of its key's right rows in its own bucket —
    * the per-(key, salt) merge sees exactly the rows the per-key merge
    * would, so the result set is identical by construction (AsofJoinSpec
    * proves it row-for-row on a 90%-one-key fact side), while the hot
    * key's O(n) probe work and sort spread across saltBuckets partitions.
    * Replication cost is saltBuckets × (hot keys' right rows) ONLY — the
    * non-skewed corpus is never copied, which is what makes this the
    * 100 TB path: `hotKeys` is a tiny relation (from [[detectHotKeys]] or
    * operator knowledge), broadcast into both sides as a membership flag.
    *
    * `hotKeys` must carry exactly `leftKeys`-named columns. Callers who
    * want detection + salting in one call use strategy = "skewsalt" on
    * [[asof]]. */
  def asofSkewSalted(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String],
      horizonMicros: Long,
      hotKeys: DataFrame,
      joinType: String = "inner",
      direction: String = "backward",
      saltBuckets: Int = 8): DataFrame = {
    // NOT functions._ — the wildcard would shadow the left/right params
    import org.apache.spark.sql.functions.{array, broadcast, col, explode,
      lit, pmod, sequence, when, xxhash64}
    require(saltBuckets >= 2, s"saltBuckets must be ≥ 2, got $saltBuckets")
    require(hotKeys.columns.toSeq.sorted == leftKeys.sorted,
      s"hotKeys columns [${hotKeys.columns.mkString(", ")}] must match " +
        s"leftKeys [${leftKeys.mkString(", ")}]")
    Seq(SaltL, SaltR, HotFlag).foreach { reserved =>
      require(!(left.columns ++ right.columns).exists(_.equalsIgnoreCase(reserved)),
        s"input already carries the reserved column $reserved — rename it")
    }
    val hkL = broadcast(
      hotKeys.select(leftKeys.map(col): _*).distinct()
        .withColumn(HotFlag, lit(1)))
    val hkR = broadcast(
      hotKeys.select(leftKeys.map(col): _*).distinct()
        .toDF(rightKeys: _*).withColumn(HotFlag, lit(1)))
    // deterministic left salt (time-hash): hot-key rows spread evenly and
    // reproducibly; everything else lands in bucket 0 with no replication
    val leftS = left.join(hkL, leftKeys, "left")
      .withColumn(SaltL, when(col(HotFlag).isNotNull,
        pmod(xxhash64(col(leftTime)), lit(saltBuckets.toLong)))
        .otherwise(lit(0L)))
      .drop(HotFlag)
    val rightS = right.join(hkR, rightKeys, "left")
      .withColumn(SaltR, explode(when(col(HotFlag).isNotNull,
        sequence(lit(0L), lit(saltBuckets.toLong - 1)))
        .otherwise(array(lit(0L)))))
      .drop(HotFlag)
    asof(leftS, rightS,
      leftKeys :+ SaltL, rightKeys :+ SaltR,
      leftTime, rightTime, rightTieBreak, horizonMicros,
      joinType, direction = direction, strategy = "merge")
      .drop(SaltL, SaltR)
  }

  def asof(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String],
      horizonMicros: Long,
      joinType: String = "inner",
      broadcastRight: Boolean = false,
      direction: String = "backward",
      strategy: String = "auto"): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      "as-of join needs matching non-empty key lists")
    require(rightTieBreak.nonEmpty,
      "as-of join needs a right tie-break column for deterministic " +
        "results on equal times (a unique id, or the time column itself " +
        "if (key, time) is unique)")
    require(joinType == "inner" || joinType == "left",
      s"asof joinType must be inner or left, got $joinType")
    require(AsofDirection.valid(direction),
      s"asof direction must be backward, forward or nearest, got $direction")
    require(Set("auto", "merge", "broadcast", "skewsalt").contains(strategy),
      s"asof strategy must be auto, merge, broadcast or skewsalt, got $strategy")
    val effStrategy = if (broadcastRight) "broadcast" else strategy
    if (effStrategy == "skewsalt") {
      // sampled dominant-key probe, then the salted rewrite over the SAME
      // merge exec; a skew-free sample falls back to auto (a small right
      // side should still broadcast — that path has no skew to begin with)
      val hot = detectHotKeys(left, leftKeys)
      return if (hot.isEmpty)
        asof(left, right, leftKeys, rightKeys, leftTime, rightTime,
          rightTieBreak, horizonMicros, joinType,
          direction = direction, strategy = "auto")
      else
        asofSkewSalted(left, right, leftKeys, rightKeys, leftTime, rightTime,
          rightTieBreak, horizonMicros, hot, joinType, direction)
    }
    val spark = left.sparkSession
    // a bare session needs the strategy to plan the node handed back
    graft.GraftSession.add(spark, strategies = Seq(AsofJoinStrategy))
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
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
    val lk = leftKeys.map(res(lp, _))
    val rk = rightKeys.map(res(rp, _))
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key type mismatch: ${a.name}: ${a.dataType} vs " +
          s"${b.name}: ${b.dataType} — cast before joining")
    }
    val lt = res(lp, leftTime)
    val rt = res(rp, rightTime)
    Seq(lt, rt).foreach { a =>
      require(a.dataType == TimestampType || a.dataType == LongType,
        s"as-of time column ${a.name} must be TIMESTAMP or BIGINT, " +
          s"got ${a.dataType}")
    }
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: ${lt.dataType} vs ${rt.dataType}")
    val overlap = lp.outputSet.intersect(rp.outputSet)
    require(overlap.isEmpty,
      s"left and right share attributes ${overlap.toSeq.map(_.name).mkString(", ")}" +
        " — alias the right side's columns (self-derived inputs must not" +
        " expose the same attribute ids on both sides)")
    PlanBridge.ofRows(spark, AsofJoin(
      lk, rk, lt, rt,
      rightTieBreak.map(res(rp, _)), horizonMicros,
      joinType == "left", effStrategy, direction, lp, rp))
  }
}
