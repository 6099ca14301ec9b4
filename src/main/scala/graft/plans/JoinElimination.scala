package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import java.util.concurrent.atomic.AtomicLong

/** Unique-key LEFT-JOIN ELIMINATION — the optimizer feature every
  * dimensional warehouse leans on: a left outer join against a dimension
  * whose join key is UNIQUE neither adds nor removes left rows, so when a
  * query uses no dimension columns, the join is dead code. Views and
  * generated queries produce this shape constantly ("select fact columns
  * from the 12-way star view"); at 100 TB each eliminated join is a
  * dimension scan, a broadcast (or worse, a shuffle), and a probe pass
  * that never needed to run.
  *
  * Spark's own optimizer cannot do this because parquet tables carry no
  * uniqueness metadata. The trust anchor here is an explicit declaration
  * — [[registerUniqueKey]] — the same contract a PRIMARY KEY gives a
  * warehouse optimizer (and exactly how engines without enforced
  * constraints, e.g. Snowflake/BigQuery RELY constraints, expose it).
  * Declaring a key that is not actually unique yields duplicate-joined
  * rows in the UNREWRITTEN plan too, so the rule never makes a wrong
  * answer the declaration didn't already make.
  *
  * Scope (conservative — a miss means "run the join", never wrongness):
  *   - join type LeftOuter, condition a conjunction of plain
  *     attribute-vs-attribute equalities spanning left and right;
  *   - the parent (Project or Aggregate) references ONLY left-side
  *     attributes;
  *   - the right side — modulo attribute-only Projects — sameResult-
  *     matches a registered plan, and the right attributes used by the
  *     condition are exactly a declared unique key (name-matched on the
  *     registered plan's output, which registration requires be
  *     duplicate-free).
  * The rewrite keeps the parent node and swaps the Join for its left
  * child; left attribute exprIds pass through untouched, so parent
  * resolution is unaffected. NULL join keys need no special case: a left
  * outer join keeps every left row whether or not its key matches, which
  * is precisely the eliminated plan's behavior.
  */
object JoinElimination extends Rule[LogicalPlan] {

  /** `key` holds OUTPUT POSITIONS in `plan` — positional, not by name,
    * because the stored (project-stripped) plan may legally carry
    * duplicate column names (e.g. a join of two tables that share one),
    * and a name-keyed match could bind the declared key to the OTHER,
    * non-unique same-named attribute and eliminate unsoundly. sameResult
    * guarantees positional output correspondence, so positions are the
    * exact currency. */
  private final case class Entry(plan: LogicalPlan, key: Set[Int])

  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[Entry]()

  private val eliminated = new AtomicLong(0L)

  /** Declare `cols` a unique key of `dim` (e.g. a dimension's primary
    * key). The declaration is the correctness anchor — only declare keys
    * that are genuinely unique. Attribute-only Projects are stripped
    * before storing (pure pruning neither adds nor removes rows, so
    * uniqueness transfers to the underlying plan); Filters are KEPT —
    * a filtered dimension may be unique where its base is not. */
  def registerUniqueKey(dim: DataFrame, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "unique key needs at least one column")
    val analyzed = dim.queryExecution.analyzed
    val names = analyzed.output.map(_.name)
    require(names.distinct.length == names.length,
      "dimension output carries duplicate column names — alias them " +
        "apart before registering a unique key")
    cols.foreach { c =>
      require(names.contains(c), s"unique-key column $c not in ${names}")
    }
    val stored = stripProjects(analyzed)
    // map each declared name (unambiguous in the PROJECTED output) to its
    // position in the stored plan's output via exprId — attribute-only
    // projects pass attributes through, so the id is stable
    val keyPos = cols.map { c =>
      val attr = analyzed.output.find(_.name == c).get
      val pos = stored.output.indexWhere(_.exprId == attr.exprId)
      require(pos >= 0,
        s"unique-key column $c did not resolve into the stored plan")
      pos
    }.toSet
    registry.add(Entry(stored, keyPos))
    // declaring a key implies wanting the rule
    graft.GraftSession.add(dim.sparkSession, rules = Seq(JoinElimination))
  }

  def clear(): Unit = registry.clear()

  /** Drop every key declared for `dim` (by canonicalized plan equality) —
    * the scoped alternative to [[clear]]: callers that register a key for
    * one computation (q_join_elim, a notebook cell) remove THEIR
    * declaration without wiping unrelated ones. Returns how many. */
  def unregisterKey(dim: DataFrame): Int = {
    val target = stripProjects(dim.queryExecution.analyzed)
    val stale = registry.toArray(Array.empty[Entry])
      .filter(_.plan.sameResult(target)).toSeq
    stale.foreach(registry.remove)
    stale.size
  }

  /** Joins eliminated since session start (spec proof hook). */
  def eliminatedCount: Long = eliminated.get()

  /** Strip attribute-only Projects (pure prune/reorder). */
  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[Attribute]) =>
      stripProjects(child)
    case other => other
  }

  /** Every plan reachable from the QUERY-side right child by peeling
    * layers matching may soundly ignore: attribute-only Projects, and
    * DETERMINISTIC Filters — a filter can only shrink the dimension, and
    * a subset of a unique-keyed relation is still unique-keyed, so each
    * left row still joins ≤ 1 right row (0 matches ⇒ the left-outer row
    * survives with nulls the query never reads). This also absorbs the
    * isnotnull(joinkey) filter the optimizer itself infers under outer
    * joins. ALL peel depths are candidates, so a registered FILTERED
    * dimension still matches under further query-side filters. */
  private def matchCandidates(p: LogicalPlan): Seq[LogicalPlan] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[Attribute]) =>
      p +: matchCandidates(child)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child)
      if cond.deterministic => p +: matchCandidates(child)
    case other => Seq(other)
  }

  /** Integral widenings are injective, so equality THROUGH the cast still
    * matches at most the one right row the declared key admits. Anything
    * lossy (string→int, double→int, …) could collide two key values and
    * duplicate left rows — rejected. */
  private def injectiveWidening(from: org.apache.spark.sql.types.DataType,
                                to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val rank: Map[DataType, Int] =
      Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (rank.get(from), rank.get(to)) match {
      case (Some(f), Some(t)) => f <= t
      case _ => false
    }
  }

  /** The right key attribute a conjunct side pins, if that side is a
    * right attribute or an injective-widening cast of one. */
  private def rightKeyOf(e: Expression,
                         rightOut: AttributeSet): Option[Attribute] = e match {
    case a: Attribute if rightOut.contains(a) => Some(a)
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      c.child match {
        case a: Attribute if rightOut.contains(a) &&
          injectiveWidening(a.dataType, c.dataType) => Some(a)
        case _ => None
      }
    case _ => None
  }

  /** The right-side key attributes, iff every conjunct pins one right key
    * attribute (directly or through an injective cast) to a DETERMINISTIC
    * left-only expression — for any left row that pins each declared key
    * column to one value, and tuple uniqueness then admits ≤ 1 match. */
  private def rightKeyAttrs(cond: Expression, left: LogicalPlan,
                            right: LogicalPlan): Option[Seq[Attribute]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
        split(a) ++ split(b)
      case other => Seq(other)
    }
    val leftOut = left.outputSet
    val rightOut = right.outputSet
    def leftOnly(e: Expression): Boolean =
      e.deterministic && e.references.subsetOf(leftOut) &&
        e.references.nonEmpty
    val keys = split(cond).map {
      case EqualTo(l, r) if leftOnly(l) => rightKeyOf(r, rightOut)
      case EqualTo(l, r) if leftOnly(r) => rightKeyOf(l, rightOut)
      case _ => None
    }
    if (keys.forall(_.isDefined)) Some(keys.flatten) else None
  }

  /** Is this join a declared-unique-key left outer join whose right side
    * the parent never reads? */
  private def removable(parentRefs: AttributeSet, j: Join): Boolean =
    j match {
      case Join(left, right, LeftOuter, Some(cond), _) =>
        parentRefs.subsetOf(left.outputSet) &&
          rightKeyAttrs(cond, left, right).exists { attrs =>
            val cands = matchCandidates(right)
            registry.toArray(Array.empty[Entry]).exists { e =>
              cands.exists { cand =>
                // positions of the condition's right attrs in THIS
                // candidate's output (exprIds flow through the peeled
                // attribute-projects); sameResult makes candidate and
                // stored outputs correspond positionally
                val pos = attrs
                  .map(a => cand.output.indexWhere(_.exprId == a.exprId))
                  .toSet
                !pos.contains(-1) && pos == e.key &&
                  e.plan.sameResult(cand)
              }
            }
          }
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transformUp {
      case p @ Project(_, j: Join) if removable(p.references, j) =>
        eliminated.incrementAndGet()
        p.copy(child = j.left)
      case a @ Aggregate(_, _, j: Join, _) if removable(a.references, j) =>
        eliminated.incrementAndGet()
        a.copy(child = j.left)
    }
}
