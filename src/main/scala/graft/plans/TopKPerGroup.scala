package graft.plans

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Expression, GenericInternalRow, IntegerLiteral, JoinedRow, LessThan, LessThanOrEqual, NamedExpression, RowNumber, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Grouped top-k as a FIRST-CLASS operator — the full custom-operator
  * stack (logical node → optimizer rewrite → planner strategy → physical
  * exec) the builder guide reserves for semantics the built-in operators
  * express suboptimally.
  *
  * The declarative form users write,
  * {{{ row_number().over(partitionBy(g).orderBy(o)) <= k }}},
  * plans as Window: a full shuffle of EVERY row to its group partition,
  * a full per-partition SORT of every row, then the filter throws all but
  * k·|groups| rows away. This operator computes the same relation with a
  * bounded heap per group: a partial pass keeps ≤ k rows per (group,
  * input-partition) BEFORE the exchange — the shuffle then carries at
  * most k·|groups|·|partitions| rows instead of the corpus, and nothing
  * is ever globally sorted. Same two-phase shape as partial aggregation;
  * at 100 TB the map-side cut is the difference between shuffling
  * terabytes and shuffling megabytes.
  *
  * Spark 4's own InferWindowGroupLimit covers the same pattern with
  * sort-based Partial/Final WindowGroupLimitExec nodes — but those SORT
  * every input partition (O(n log n)) before bounding, twice. The heap
  * phases do O(n log k) with no sort at all; the rewrite strips the
  * native pre-bound when it has already been inserted. Measured on
  * sf0.1 lineitem, top-3 per l_suppkey (~40k groups), local[32]:
  * native 1.29 s vs heap 0.55 s median (2.3×).
  *
  * Correctness contract (RewriteTopKWindow only fires when all hold):
  *   - single row_number() window expression over the Filter's child;
  *   - filter condition is rn <= k or rn < k+1 with a literal k;
  *   - the Filter node is LEFT IN PLACE above the rewritten node (it
  *     re-checks rn ≤ k — a no-op — so any pattern the rewrite
  *     mis-judged would fail closed, not return wrong rows);
  *   - ties: row_number over a non-unique order is nondeterministic in
  *     the Window form too — the heap form is no worse; use a unique
  *     tiebreaker as everywhere else in this repo.
  *
  * MEMORY MODEL (the operator's cardinality assumption): each task holds
  * one k-row heap per distinct group key seen in its partition — O(groups
  * × k) rows, i.e. the same envelope as the operator's own OUTPUT per
  * partition. That is the right trade whenever k·|groups| is
  * result-set-sized — the top-k-per-group queries this rewrite targets.
  * For a pathological key (row_number over a near-unique partition key,
  * |groups| ≈ |rows|) the heap map would approach input size, so the
  * buffer carries the HashAggregateExec-style SORT FALLBACK: when the
  * number of retained rows (k · live groups) crosses
  * `spark.graft.topk.maxHeapRows` (default 2^20 per task), the heaps are
  * drained into a spillable [[UnsafeExternalRowSorter]] ordered by
  * (group keys, sort keys), every further input row goes straight to the
  * sorter, and the result is the streaming first-k-per-group walk of the
  * sorted (and possibly disk-spilled) run. Rows a heap already evicted
  * are safe to drop: k better same-group rows were retained, so the
  * evicted row can never re-enter the top k. The fallback makes the
  * degenerate key no worse than the native Window (one external sort,
  * spilling), while the common result-set-sized case keeps the heap's
  * O(n log k) no-sort path. Each fallback increments the `sortFallbacks`
  * SQLMetric, visible in the Spark UI. Because the fallback sorts by the
  * group expressions, the rewrite only fires when every partition key is
  * an orderable type (non-orderable keys keep the native Window plan).
  */
case class GroupedTopK(
    groupExprs: Seq[Expression],
    sortOrders: Seq[SortOrder],
    k: Int,
    rnAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def producedAttributes: AttributeSet = AttributeSet(rnAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopK =
    copy(child = newChild)
}

/** The per-partition bounded-heap state, shared by the exec's iterator path
  * (doExecute) and its whole-stage-codegen path (generated code calls
  * insert() per row, then drains result()). Per group: a max-heap (reversed
  * ordering) of the k first-in-order rows — the heap root is the WORST kept
  * row, evicted on a better one. Initial capacity is NOT k: a defensive
  * huge bound must not eagerly allocate a k-element array per group.
  */
final class TopKHeapBuffer(
    keyProj: UnsafeProjection,
    ord: Ordering[InternalRow],
    k: Int,
    partial: Boolean,
    outProj: UnsafeProjection,
    maxGroups: Int,
    childSchema: StructType,
    fullOrd: Ordering[InternalRow],
    toUnsafe: UnsafeProjection,
    fallbackMetric: SQLMetric) {

  private val heaps =
    new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()

  // Sort fallback: non-null once the live-group count crossed maxGroups.
  // From then on every row (and everything the heaps retained) lives in
  // this spillable sorter, ordered (group keys, sort keys).
  private var sorter: UnsafeExternalRowSorter = null

  def insert(row: InternalRow): Unit = {
    if (sorter != null) { sorter.insertRow(toUnsafe(row)); return }
    val key = keyProj(row)
    var heap = heaps.get(key)
    if (heap == null) {
      if (heaps.size() >= maxGroups) {
        switchToSort()
        sorter.insertRow(toUnsafe(row))
        return
      }
      heap = new java.util.PriorityQueue[InternalRow](
        math.min(k, 16) + 1, ord.reverse)
      heaps.put(key.copy(), heap)
    }
    if (heap.size() < k) heap.add(row.copy())
    else if (ord.compare(row, heap.peek()) < 0) {
      heap.poll(); heap.add(row.copy())
    }
  }

  /** Degrade to the external sort: drain every heap's retained rows into a
    * spillable sorter and clear the map. Rows the heaps already EVICTED
    * need no resurrection — k better same-group rows are in the sorter, so
    * an evicted row can never rank ≤ k. */
  private def switchToSort(): Unit = {
    if (fallbackMetric != null) fallbackMetric.add(1)
    sorter = UnsafeExternalRowSorter.create(
      childSchema, fullOrd, PrefixComparators.LONG,
      new UnsafeExternalRowSorter.PrefixComputer {
        // constant prefix: all comparisons go through fullOrd. Correct for
        // any type mix; radix is off below so the prefix is never trusted.
        private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(row: InternalRow)
            : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
          p.isNull = false; p.value = 0L; p
        }
      },
      SparkEnv.get.memoryManager.pageSizeBytes,
      /* canUseRadixSort = */ false)
    val it = heaps.values().iterator()
    while (it.hasNext) {
      val hi = it.next().iterator()
      while (hi.hasNext) sorter.insertRow(toUnsafe(hi.next()))
    }
    heaps.clear()
  }

  /** Drains every heap in rank order; the final phase attaches rn. Emitted
    * rows go through outProj (downstream operators require UnsafeRow). */
  def result(): Iterator[InternalRow] =
    if (sorter != null) sortedResult() else heapResult()

  private def heapResult(): Iterator[InternalRow] = {
    val it = heaps.values().iterator()
    new Iterator[InternalRow] {
      private var current: Iterator[InternalRow] = Iterator.empty
      override def hasNext: Boolean = {
        while (!current.hasNext && it.hasNext) {
          val heap = it.next()
          val rows = new Array[InternalRow](heap.size())
          var i = rows.length - 1
          while (i >= 0) { rows(i) = heap.poll(); i -= 1 } // drain → sorted
          current =
            if (partial) rows.iterator.map(outProj)
            else rows.iterator.zipWithIndex.map { case (r, idx) =>
              outProj(new JoinedRow(r,
                new GenericInternalRow(Array[Any](idx + 1))))
            }
        }
        current.hasNext
      }
      override def next(): InternalRow = { hasNext; current.next() }
    }
  }

  /** Streaming first-k-per-group over the (group, order)-sorted run —
    * O(1) state: the current group key and its emit count. */
  private def sortedResult(): Iterator[InternalRow] = {
    val sorted = sorter.sort()
    new Iterator[InternalRow] {
      private var curKey: UnsafeRow = null
      private var emitted = 0
      private var out: InternalRow = null
      private def advance(): Unit = {
        out = null
        while (out == null && sorted.hasNext) {
          val row = sorted.next()
          val key = keyProj(row)
          if (curKey == null || key != curKey) {
            curKey = key.copy(); emitted = 0
          }
          if (emitted < k) {
            emitted += 1
            out =
              if (partial) outProj(row)
              else outProj(new JoinedRow(row,
                new GenericInternalRow(Array[Any](emitted))))
          }
        }
      }
      override def hasNext: Boolean = { if (out == null) advance(); out != null }
      override def next(): InternalRow = {
        if (out == null) advance()
        val r = out; out = null; r
      }
    }
  }
}

/** Physical bounded-heap top-k. `partial = true` emits the per-partition
  * survivors without rank; the final node (after the exchange
  * EnsureRequirements inserts for its ClusteredDistribution) merges heaps
  * and attaches rn.
  *
  * Participates in whole-stage codegen as a BLOCKING operator (the
  * SortExec pattern): the child's generated pipeline feeds insert() row by
  * row with no iterator boundary, and once input is exhausted the drained
  * heaps stream into the parent's generated consume — so the partial phase
  * fuses with the scan/filter/project below it and the final phase fuses
  * with whatever sits above, instead of breaking both pipelines apart.
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    sortOrders: Seq[SortOrder],
    k: Int,
    rnAttr: Attribute,
    partial: Boolean,
    maxHeapGroups: Int,
    child: SparkPlan)
  extends UnaryExecNode
  with org.apache.spark.sql.execution.BlockingOperatorWithCodegen {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rnAttr

  override def producedAttributes: AttributeSet = AttributeSet(rnAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (groupExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupExprs))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "sortFallbacks" -> SQLMetrics.createMetric(sparkContext,
      "partitions degraded to external sort"))

  /** Sort keys for the fallback sorter: group keys first (any consistent
    * direction — only adjacency matters), then the window's own order. */
  private def fullSortOrders: Seq[SortOrder] =
    groupExprs.map(SortOrder(_, Ascending)) ++ sortOrders

  /** Fresh per-task state; called from doExecute AND from generated code
    * (the plan node rides the codegen references array, like SortExec's
    * createSorter). The metric is passed in rather than looked up so the
    * lazy `metrics` map is never materialized executor-side. */
  def createBuffer(metric: SQLMetric): TopKHeapBuffer = new TopKHeapBuffer(
    UnsafeProjection.create(groupExprs, child.output),
    new LazilyGeneratedOrdering(sortOrders, child.output),
    k, partial,
    UnsafeProjection.create(output, output),
    maxHeapGroups,
    StructType(child.output.map(a => StructField(a.name, a.dataType, a.nullable))),
    new LazilyGeneratedOrdering(fullSortOrders, child.output),
    UnsafeProjection.create(child.output, child.output),
    metric)

  override protected def doExecute(): RDD[InternalRow] = {
    val groups = groupExprs
    val orders = sortOrders
    val fullOrders = fullSortOrders
    val kk = k
    val isPartial = partial
    val maxG = maxHeapGroups
    val childOutput = child.output
    val childSchema =
      StructType(childOutput.map(a => StructField(a.name, a.dataType, a.nullable)))
    val outAttrs = output
    val metric = longMetric("sortFallbacks")
    child.execute().mapPartitions { iter =>
      val buf = new TopKHeapBuffer(
        UnsafeProjection.create(groups, childOutput),
        new LazilyGeneratedOrdering(orders, childOutput),
        kk, isPartial,
        UnsafeProjection.create(outAttrs, outAttrs),
        maxG,
        childSchema,
        new LazilyGeneratedOrdering(fullOrders, childOutput),
        UnsafeProjection.create(childOutput, childOutput),
        metric)
      while (iter.hasNext) buf.insert(iter.next())
      buf.result()
    }
  }

  // ---- whole-stage codegen (blocking-operator shape, cf. SortExec) ----

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  /** doConsume only touches the packed `row` (insert()), never the input
    * variables — declare that (the SortExec contract), or consume() both
    * pre-evaluates the child's output vars AND embeds the same evaluation
    * in the UnsafeRow it packs, and the duplicated locals fail Janino
    * ("Redefinition of local variable"), silently degrading every stage
    * that fuses this operator with a projection to interpreted execution. */
  override def usedInputs: AttributeSet = AttributeSet.empty

  private var bufferVar: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val needInput = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
      "topkNeedInput", v => s"$v = true;")
    val thisPlan = ctx.addReferenceObj("topkPlan", this)
    val metric = metricTerm(ctx, "sortFallbacks")
    bufferVar = ctx.addMutableState(classOf[TopKHeapBuffer].getName,
      "topkBuffer", v => s"$v = $thisPlan.createBuffer($metric);",
      forceInline = true)
    val outputIter = ctx.addMutableState(
      "scala.collection.Iterator<InternalRow>", "topkOutput",
      forceInline = true)
    val addToBuffer = ctx.freshName("addToTopKBuffer")
    val addFunc = ctx.addNewFunction(addToBuffer,
      s"""
         |private void $addToBuffer() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin.trim)
    val row = ctx.freshName("topkRow")
    s"""
       |if ($needInput) {
       |  $addFunc();
       |  $outputIter = $bufferVar.result();
       |  $needInput = false;
       |}
       |while ($limitNotReachedCond $outputIter.hasNext()) {
       |  UnsafeRow $row = (UnsafeRow) $outputIter.next();
       |  ${consume(ctx, null, row)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override def doConsume(
      ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    s"""
       |${row.code}
       |$bufferVar.insert((InternalRow) ${row.value});
     """.stripMargin

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Rewrites Filter(rn ≤ k, Window(row_number() AS rn)) → Filter(rn ≤ k,
  * GroupedTopK(...)). The filter stays as a safety re-check (see class
  * doc of [[GroupedTopK]]). */
object RewriteTopKWindow extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k)
    // guard the decrement: rn < Int.MinValue would wrap to Int.MaxValue
    // and turn an always-false filter into a rewrite that fires
    case LessThan(a: Attribute, IntegerLiteral(k))
        if a.semanticEquals(rn) && k > Int.MinValue => Some(k - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        Window(Seq(a @ Alias(
          WindowExpression(_: RowNumber,
            WindowSpecDefinition(part, order, _)), _)), _, _, child, _)) =>
      limitOf(cond, a.toAttribute) match {
        // orderable partition keys only: the heap exec's sort fallback
        // orders by (group keys, sort keys), so a non-orderable group type
        // (map) keeps the native Window plan.
        case Some(k) if k > 0 &&
            part.forall(p => RowOrdering.isOrderable(p.dataType)) =>
          // if Spark's InferWindowGroupLimit already wrapped the child in
          // its sort-based pre-bound, strip it: the heap phases subsume it
          // (same bound, no sort) and stacking both doubles the work.
          // Strip ONLY a pre-bound that provably belongs to THIS window —
          // same partition keys, same order, a row_number rank, limit ≥ k
          // — so a differently-specced WindowGroupLimit placed by any
          // other rule (or a future Spark) is left intact rather than
          // silently dropped (its rows would be wrong to un-bound).
          val base = child match {
            case wgl: WindowGroupLimit if wgl.limit >= k &&
                wgl.rankLikeFunction.isInstanceOf[RowNumber] &&
                wgl.partitionSpec.length == part.length &&
                wgl.partitionSpec.zip(part).forall { case (x, y) => x.semanticEquals(y) } &&
                wgl.orderSpec.length == order.length &&
                wgl.orderSpec.zip(order).forall { case (x, y) => x.semanticEquals(y) } =>
              wgl.child
            case c => c
          }
          f.copy(child = GroupedTopK(part, order, k, a.toAttribute, base))
        case _ => f
      }
  }
}

/** Plans the logical node as partial → (exchange) → final. The heap→sort
  * fallback threshold is expressed in RETAINED ROWS per task
  * (`spark.graft.topk.maxHeapRows`, default 2^20) and divided by k at
  * planning time, so a large k proportionally lowers the group budget. */
object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  val MaxHeapRowsKey = "spark.graft.topk.maxHeapRows"

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(g, o, k, rn, child) =>
      val maxRows =
        SQLConf.get.getConfString(MaxHeapRowsKey, (1 << 20).toString).toLong
      val maxGroups = math.max(1L, maxRows / math.max(1, k))
        .min(Int.MaxValue).toInt
      val partialExec = TopKPerGroupExec(g, o, k, rn, partial = true,
        maxGroups, planLater(child))
      TopKPerGroupExec(g, o, k, rn, partial = false, maxGroups,
        partialExec) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {
  /** The rewrite and its strategy alone, for a session not built through
    * graft.GraftSession.attach (which installs them with everything else). */
  def install(spark: SparkSession): Unit =
    graft.GraftSession.add(spark, Seq(RewriteTopKWindow), Seq(TopKStrategy))

  def uninstall(spark: SparkSession): Unit =
    graft.GraftSession.remove(spark, Seq(RewriteTopKWindow), Seq(TopKStrategy))
}
