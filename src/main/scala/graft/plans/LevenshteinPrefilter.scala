package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Abs, And, Cast, Expression, GreaterThan, GreaterThanOrEqual, Length,
  LessThan, LessThanOrEqual, Levenshtein, Literal, PredicateHelper, Subtract}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: a thresholded edit-distance predicate IMPLIES a
  * length-difference bound — `levenshtein(a, b) <= k` can only hold
  * when `abs(length(a) - length(b)) <= k` (each unit of length gap
  * costs at least one insert/delete) — so the rule conjoins that
  * implied prefilter onto the Filter. The point is evaluation ORDER
  * cost: the edit-distance DP is O(|a|·|b|) per pair, the length
  * probe is O(1), and on a blocked fuzzy-join (k11's shape) the
  * cheap conjunct discards length-distant candidates before the DP
  * runs — the same semantically-implied-predicate move as Spark's
  * own InferFiltersFromConstraints, for an identity Catalyst doesn't
  * know. Matches the bare int form and the `CAST(... AS BIGINT)`
  * form the DataFrame API produces; only deterministic operands
  * qualify (a nondeterministic operand would be evaluated twice with
  * different draws, changing which rows survive). Idempotent: a
  * conjunct already present (semantically) is never re-added, so the
  * fixed-point optimizer converges. Active in sessions built with
  * [[graft.GraftExtensions]]. Bit-parity and plan shape are
  * LevenshteinPrefilterSpec's contract. */
object LevenshteinPrefilter extends Rule[LogicalPlan] with PredicateHelper {

  /** Unwraps levenshtein(a, b), with or without the bigint cast. */
  private def unLev(e: Expression): Option[(Expression, Expression)] = e match {
    case Levenshtein(a, b, None) => Some((a, b))
    case c: Cast if c.dataType == LongType => unLev(c.child)
    case _ => None
  }

  private object IntBound {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType)   => Some(v)
      case _ => None
    }
  }

  /** (a, b, k) such that the conjunct implies levenshtein(a, b) <= k. */
  private def boundOf(e: Expression): Option[(Expression, Expression, Long)] =
    e match {
      case LessThanOrEqual(l, IntBound(k)) => unLev(l).map { case (a, b) => (a, b, k) }
      case LessThan(l, IntBound(k))        => unLev(l).map { case (a, b) => (a, b, k - 1) }
      case GreaterThanOrEqual(IntBound(k), l) => unLev(l).map { case (a, b) => (a, b, k) }
      case GreaterThan(IntBound(k), l)        => unLev(l).map { case (a, b) => (a, b, k - 1) }
      case _ => None
    }

  /** cond with the implied bounds conjoined AHEAD of it (conjunct
    * evaluation is left-to-right, so the O(1) length probe
    * short-circuits the O(n·m) DP), or None if nothing new applies. */
  private def strengthen(cond: Expression): Option[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val implied = conjuncts.flatMap(boundOf).collect {
      case (a, b, k) if k <= Int.MaxValue.toLong &&
          a.deterministic && b.deterministic =>
        LessThanOrEqual(Abs(Subtract(Length(a), Length(b))),
          Literal(k.toInt))
    }.filterNot(p => conjuncts.exists(_.semanticEquals(p)))
    if (implied.isEmpty) None else Some(And(implied.reduce(And), cond))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case f @ Filter(cond, child) =>
        strengthen(cond).map(Filter(_, child)).getOrElse(f)
      // injected rules run AFTER the main optimizer batches, so by the
      // time this rule sees the plan PushPredicateThroughJoin has
      // usually folded the filter into the join condition — an implied
      // conjunct is safe in ANY join type's condition (it only
      // restricts matches the DP conjunct already rejects)
      case j @ Join(_, _, _, Some(cond), _) =>
        strengthen(cond).map(c => j.copy(condition = Some(c))).getOrElse(j)
    }
}
