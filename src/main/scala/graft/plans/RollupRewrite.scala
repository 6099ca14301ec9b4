package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, EqualTo, Expression, If, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import scala.jdk.CollectionConverters._

/** Materialized-rollup rewrite — the classic 100 TB accelerator: a fact
  * table's common aggregates are precomputed ONCE into a small rollup of
  * partial aggregates (per-group count / sum / non-null count / min /
  * max), and matching queries are rewritten by an optimizer rule to
  * RE-AGGREGATE the rollup instead of scanning the fact table. A petabyte
  * fact scan becomes a kilobyte rollup scan for every dashboard-shaped
  * query, because the partials are re-aggregable: any grouping that is a
  * SUBSET of the rollup's grouping folds exactly (sum of partial sums,
  * sum of partial counts, min of mins, max of maxes — and avg as
  * sum-of-sums over sum-of-non-null-counts).
  *
  * Scope (deliberately conservative — a miss means "scan the fact
  * table", never a wrong answer):
  *   - the Aggregate's child must be the registered fact plan (modulo
  *     attribute-only Projects; compared with canonicalized sameResult);
  *   - grouping keys: plain columns, a subset of the rollup's keys;
  *   - aggregates: non-distinct, unfiltered sum / min / max / avg over
  *     registered measure columns, and count(1)/count(*) — each rebuilt
  *     with `withNewChildren` so eval modes carry over, and only rewritten
  *     when the re-aggregated type is IDENTICAL to the original (this
  *     rejects decimal sums/avgs, whose re-aggregation widens the type);
  *   - sum/avg over float/double re-associate partial additions — register
  *     integral measures when bit-exact results are required (the specs
  *     do; the DuckDB-oracle queries never pass through this rule's
  *     registry, which is per-session and starts empty);
  *   - when several registered rollups match, the one with the FEWEST
  *     grouping columns (the coarsest, hence smallest, relation that can
  *     still answer) wins.
  * Output attribute exprIds are preserved via aliases, so parent plans
  * resolve untouched. Facts whose output carries duplicate column names
  * are rejected at registration: rollup measures bind by NAME after the
  * sameResult fact check, and a duplicate name could mis-bind.
  *
  * STALENESS CONTRACT: a registered rollup is a SNAPSHOT of the fact at
  * registration time. The rule matches on the fact's logical plan — if
  * the underlying files are overwritten afterwards, a re-read of the same
  * path still sameResult-matches and would be served the stale snapshot.
  * After rewriting fact data, either [[unregister]]+re-register (or
  * [[clear]]), or re-run [[registerPersisted]], which rebuilds the stored
  * rollup from the current fact. This mirrors every production
  * materialized-view system: the view is valid as of its refresh, and
  * refresh is the owner's job.
  *
  * Registration flavors:
  *   - [[register]]: rollup materialized in-session (localCheckpoint) —
  *     fast, lives and dies with the session;
  *   - [[registerPersisted]]: rollup WRITTEN as a parquet table and
  *     registered as its read-back plan — survives the session; any later
  *     session calls [[loadPersisted]] (the column contract is encoded in
  *     the rollup's own schema) and skips the fact scan entirely.
  * Either way the registered plan is never itself an Aggregate, so the
  * rule cannot recurse into the rollup's own definition.
  */
object RollupRewrite extends Rule[LogicalPlan] {

  /** One registered rollup: the fact plan it answers for, the
    * materialized rollup plan, and the column contract. */
  private final case class Entry(fact: LogicalPlan, rollup: LogicalPlan,
                                 groupCols: Seq[String], sumCols: Seq[String],
                                 minCols: Seq[String], maxCols: Seq[String]) {
    def rollupAttr(name: String): Attribute =
      rollupAttrOpt(name).getOrElse(
        throw new IllegalStateException(s"rollup misses column $name"))
    def rollupAttrOpt(name: String): Option[Attribute] =
      rollup.output.find(_.name == name)
    /** avg(c) is rewritable iff the rollup carries c's non-null count
      * (older persisted rollups may predate the __cntn columns). */
    def avgCapable(c: String): Boolean =
      sumCols.contains(c) && rollupAttrOpt(s"__cntn_$c").isDefined
  }

  private val entries =
    new java.util.concurrent.CopyOnWriteArrayList[Entry]()

  /** Registry capacity: registering past it evicts the OLDEST entry
    * (insertion order). An evicted rollup is only a lost acceleration —
    * queries fall through to the fact scan — so bounded-and-forgetful is
    * strictly safer than unbounded growth in a long-lived session
    * registering per-tenant rollups. Re-registering a fact re-inserts at
    * the tail (refreshes its eviction position). */
  @volatile private var maxEntries: Int = 64

  /** Set the registry capacity (evicts immediately if over). */
  def setCapacity(n: Int): Unit = {
    require(n > 0, "rollup registry capacity must be positive")
    maxEntries = n
    evictOver()
  }

  /** Registered-entry count (capacity diagnostics). */
  def size: Int = entries.size

  private def evictOver(): Unit =
    while (entries.size > maxEntries) entries.remove(0)

  private val rewrites = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Number of Aggregates rewritten so far this session — lets a spec
    * prove the rule actually FIRED for a query (a silent fall-through to
    * the fact scan is correct but defeats the point). */
  def rewriteCount: Long = rewrites.get()

  /** Partial-aggregate rollup of `fact`: per-group `__cnt` (row count),
    * and per measure `__sum_c` + `__cntn_c` (non-null count — the avg
    * denominator; `__cnt` would over-divide when c has NULLs), `__min_c`,
    * `__max_c`. The relation a deployment writes as a table; the schema
    * IS the contract ([[loadPersisted]] re-derives it from column names). */
  def build(fact: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
            minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil): DataFrame = {
    require(groupCols.nonEmpty, "rollup needs at least one group column")
    // the persisted-rollup schema IS the contract: loadPersisted decodes
    // group columns as "names not starting with __", so a fact column that
    // itself starts with __ would be misclassified as a measure on reload
    // and silently corrupt refreshAppended's merged grouping — reject it
    // here, at build time, where the caller can still rename
    val reserved = (groupCols ++ sumCols ++ minCols ++ maxCols)
      .filter(_.startsWith("__"))
    require(reserved.isEmpty,
      "rollup group/measure names must not start with '__' (reserved for " +
        s"the partial-aggregate schema contract): ${reserved.mkString(", ")}")
    val aggs = count(lit(1)).as("__cnt") +:
      (sumCols.flatMap(c => Seq(sum(col(c)).as(s"__sum_$c"),
        count(col(c)).as(s"__cntn_$c"))) ++
        minCols.map(c => min(col(c)).as(s"__min_$c")) ++
        maxCols.map(c => max(col(c)).as(s"__max_$c")))
    fact.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Build, materialize, and register a rollup for `fact`; returns the
    * materialized rollup. In-session only — see [[registerPersisted]]
    * for the durable flavor. Attaches the rule idempotently. */
  def register(fact: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
               minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil): DataFrame = {
    checkFact(fact)
    val rollup = graft.functions.Materialize(
      build(fact, groupCols, sumCols, minCols, maxCols))
    addEntry(fact, rollup, groupCols, sumCols, minCols, maxCols)
    rollup
  }

  /** Build the rollup, WRITE it as a parquet table at `path`, and
    * register the read-back plan — the production flavor: the rollup
    * survives the session, and later sessions re-attach with
    * [[loadPersisted]] without touching the fact. Re-running this after
    * a fact rewrite is the refresh operation of the staleness contract. */
  def registerPersisted(fact: DataFrame, path: String, groupCols: Seq[String],
                        sumCols: Seq[String], minCols: Seq[String] = Nil,
                        maxCols: Seq[String] = Nil): DataFrame = {
    checkFact(fact)
    build(fact, groupCols, sumCols, minCols, maxCols)
      .write.mode("overwrite").parquet(path)
    loadPersisted(fact, path)
  }

  /** INCREMENTAL refresh of a persisted rollup under the APPEND-ONLY
    * contract: `delta` holds only the rows added to the fact since the
    * rollup was last written (never updates or deletes — those need the
    * full registerPersisted rebuild). Every partial is mergeable, so the
    * refresh is rollup(old) ⊎ rollup(delta) re-aggregated — sum of
    * __cnt/__sum/__cntn, min of __min, max of __max — and costs
    * O(delta + rollup), NEVER a fact scan. The merged table is
    * materialized (localCheckpoint) BEFORE the overwrite so the lazy
    * read cannot race its own target, then registered for `factNow`
    * (the fact INCLUDING the delta — the plan later queries will carry).
    * Returns the refreshed read-back rollup. */
  def refreshAppended(factNow: DataFrame, path: String,
                      delta: DataFrame): DataFrame = {
    checkFact(factNow)
    val spark = factNow.sparkSession
    val old = spark.read.parquet(path)
    val cols = old.columns.toSeq
    require(cols.contains("__cnt"),
      s"$path is not a RollupRewrite table (missing __cnt)")
    def strip(p: String) = cols.filter(_.startsWith(p)).map(_.stripPrefix(p))
    val groupCols = cols.filterNot(_.startsWith("__"))
    val deltaRollup = build(delta, groupCols,
      strip("__sum_"), strip("__min_"), strip("__max_"))
      .select(cols.map(col): _*) // align column order for the union
    val mergeAggs = cols.filter(_.startsWith("__")).map { c =>
      if (c.startsWith("__min_")) min(col(c)).as(c)
      else if (c.startsWith("__max_")) max(col(c)).as(c)
      else sum(col(c)).as(c) // __cnt, __sum_*, __cntn_* all add
    }
    val merged = graft.functions.Materialize(
      old.unionByName(deltaRollup)
        .groupBy(groupCols.map(col): _*)
        .agg(mergeAggs.head, mergeAggs.tail: _*)
        .select(cols.map(col): _*))
    merged.write.mode("overwrite").parquet(path)
    loadPersisted(factNow, path)
  }

  /** Register a previously written rollup table for `fact`. The column
    * contract is decoded from the rollup's own schema (group columns =
    * the non-`__` names; measures from the `__sum_`/`__min_`/`__max_`
    * prefixes), so the parquet table is fully self-describing. */
  def loadPersisted(fact: DataFrame, path: String): DataFrame = {
    checkFact(fact)
    val rollup = fact.sparkSession.read.parquet(path)
    val cols = rollup.columns.toSeq
    require(cols.contains("__cnt"),
      s"$path is not a RollupRewrite table (missing __cnt)")
    def strip(p: String) = cols.filter(_.startsWith(p)).map(_.stripPrefix(p))
    addEntry(fact, rollup, cols.filterNot(_.startsWith("__")),
      strip("__sum_"), strip("__min_"), strip("__max_"))
    rollup
  }

  /** Reject facts whose output names are ambiguous BEFORE build() can
    * turn the ambiguity into an opaque AnalysisException: measure binding
    * is by name after the sameResult fact check, and a duplicate name
    * could mis-bind. */
  private def checkFact(fact: DataFrame): Unit = {
    val names = fact.columns
    require(names.distinct.length == names.length,
      "fact output carries duplicate column names — alias them apart " +
        s"first (duplicates: ${names.diff(names.distinct).distinct.mkString(", ")})")
  }

  private def addEntry(fact: DataFrame, rollup: DataFrame,
                       groupCols: Seq[String], sumCols: Seq[String],
                       minCols: Seq[String], maxCols: Seq[String]): Unit = {
    entries.add(Entry(fact.queryExecution.analyzed,
      rollup.queryExecution.analyzed, groupCols, sumCols, minCols, maxCols))
    evictOver()
    graft.GraftSession.add(fact.sparkSession, rules = Seq(RollupRewrite))
  }

  /** Drop every rollup registered for `fact` (by canonicalized plan
    * equality) — the invalidation half of the staleness contract.
    * Returns how many were dropped. */
  def unregister(fact: DataFrame): Int = {
    val target = stripProjects(fact.queryExecution.analyzed)
    val stale = entries.asScala
      .filter(e => stripProjects(e.fact).sameResult(target)).toSeq
    stale.foreach(entries.remove)
    stale.size
  }

  /** Drop every registered rollup (the rule stays attached but matches
    * nothing — test hygiene). */
  def clear(): Unit = entries.clear()

  /** Attribute-only Projects are column pruning, not semantics — strip
    * them before comparing against the registered fact plan. */
  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (entries.isEmpty) return plan
    plan.transform {
      case agg @ Aggregate(groupings, _, child, _)
          if groupings.forall(_.isInstanceOf[AttributeReference]) =>
        val base = stripProjects(child)
        val names = groupings.map(_.asInstanceOf[AttributeReference].name)
        // all rollups that can answer, smallest first: fewest grouping
        // columns = coarsest pre-aggregation = fewest rows to re-fold
        val matching = entries.asScala.toSeq
          .filter(e => names.forall(e.groupCols.contains) &&
            base.sameResult(stripProjects(e.fact)))
          .sortBy(e => (e.groupCols.size, e.rollup.output.size))
        matching.iterator.map(rewrite(agg, _)).collectFirst {
          case Some(r) => r
        }.getOrElse(agg)
    }
  }

  /** None = some aggregate isn't covered → leave the plan untouched. */
  private def rewrite(agg: Aggregate, e: Entry): Option[LogicalPlan] = {
    val newGroupings = agg.groupingExpressions.map {
      case a: AttributeReference => e.rollupAttr(a.name)
    }
    val newAggs: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      // group-key passthrough keeps its exprId via an alias
      case a: AttributeReference if e.groupCols.contains(a.name) =>
        Some(Alias(e.rollupAttr(a.name), a.name)(exprId = a.exprId))
      case al @ Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val rebuilt: Option[Expression] = ae.aggregateFunction match {
          case s @ Sum(a: AttributeReference, _) if e.sumCols.contains(a.name) =>
            Some(ae.copy(aggregateFunction =
              s.withNewChildren(Seq(e.rollupAttr(s"__sum_${a.name}")))
                .asInstanceOf[Sum]))
          case m @ Min(a: AttributeReference) if e.minCols.contains(a.name) =>
            Some(ae.copy(aggregateFunction =
              m.withNewChildren(Seq(e.rollupAttr(s"__min_${a.name}")))
                .asInstanceOf[Min]))
          case m @ Max(a: AttributeReference) if e.maxCols.contains(a.name) =>
            Some(ae.copy(aggregateFunction =
              m.withNewChildren(Seq(e.rollupAttr(s"__max_${a.name}")))
                .asInstanceOf[Max]))
          case Average(a: AttributeReference, _) if e.avgCapable(a.name) =>
            // avg folds as Σ partial sums / Σ partial NON-NULL counts
            // (a group whose measure is all-NULL has cntn 0 → NULL, the
            // same answer Average gives). The type filter below rejects
            // decimal averages, whose result type this double math would
            // change.
            val sums = Sum(e.rollupAttr(s"__sum_${a.name}"))
              .toAggregateExpression()
            val cnts = Sum(e.rollupAttr(s"__cntn_${a.name}"))
              .toAggregateExpression()
            Some(Divide(Cast(sums, DoubleType),
              Cast(If(EqualTo(cnts, Literal(0L)),
                Literal(null, LongType), cnts), DoubleType)))
          case Count(Seq(Literal(v, _))) if v != null =>
            // count(1)/count(*) → sum of partial counts; coalesce pins the
            // empty-relation global aggregate to 0 and non-nullability.
            // count(lit(null)) must stay un-rewritten: it counts NOTHING,
            // not the group size.
            Some(Coalesce(Seq(
              Sum(e.rollupAttr("__cnt")).toAggregateExpression(),
              Literal(0L))))
          case _ => None
        }
        rebuilt
          .filter(r => r.dataType == al.dataType && r.nullable == al.nullable)
          .map(r => Alias(r, al.name)(exprId = al.exprId))
      case _ => None
    }
    if (newAggs.exists(_.isEmpty)) None
    else {
      rewrites.incrementAndGet()
      Some(Aggregate(newGroupings, newAggs.map(_.get), e.rollup))
    }
  }
}
