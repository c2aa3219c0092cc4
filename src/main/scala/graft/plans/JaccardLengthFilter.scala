package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Cast, Expression, GreaterThanOrEqual, Literal, Multiply, PredicateHelper, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.expressions.JaccardSorted

/** Optimizer rule: `jaccard_sorted(a, b) >= t` implies the length filter
  * `t·|a| ≤ |b| ∧ t·|b| ≤ |a|` (J ≥ t forces |a∩b| ≥ t·max(|a|,|b|), and
  * the intersection can't exceed either set). The rule conjoins those
  * cheap `size()` comparisons so candidate pairs that cannot possibly
  * reach the threshold never run the merge-intersect kernel — the
  * standard length-filter companion to prefix filtering (AllPairs,
  * Bayardo et al., WWW'07), expressed as a Catalyst rewrite so EVERY
  * jaccard-threshold filter in any query benefits, not just the Dedup
  * operators.
  *
  * Result-preserving on nulls/empties: the added conjunct evaluates null
  * exactly when `jaccard_sorted` does (null inputs), and AND(null, x)
  * filters the row just like the original predicate.
  *
  * Runs in the operator-optimization fixed point, so it must be
  * idempotent: conjuncts already present (semantically) are not re-added.
  * Activate with `spark.experimental.extraOptimizations` (done by the
  * session profile, [[graft.Bench.session]]) or
  * `SparkSessionExtensions.injectOptimizerRule`
  * ([[graft.functions.GraftExtensions]]).
  */
object JaccardLengthFilter extends Rule[LogicalPlan] with PredicateHelper {

  private def lengthFilters(j: JaccardSorted, t: Double): Seq[Expression] = {
    def sz(e: Expression) = Cast(Size(e, legacySizeOfNull = false), DoubleType)
    // slack by the kernel's rounding epsilon: jaccardSorted rounds half-up
    // to 1e-6, so `rounded >= t` only implies `true J >= t - 5e-7`; the
    // unslackened bound would drop boundary rows the original keeps
    val ts = math.max(t - 1e-6, 0d)
    Seq(
      GreaterThanOrEqual(sz(j.right), Multiply(sz(j.left), Literal(ts))),
      GreaterThanOrEqual(sz(j.left), Multiply(sz(j.right), Literal(ts))))
  }

  /** Extra length conjuncts implied by `cond` and not already present. */
  private def newExtras(cond: Expression): Seq[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    conjuncts
      .collect {
        case GreaterThanOrEqual(j: JaccardSorted, Literal(t: Double, DoubleType)) if t > 0 =>
          lengthFilters(j, t)
      }
      .flatten
      .filterNot(e => conjuncts.exists(_.semanticEquals(e)))
  }

  // predicate pushdown may have moved the threshold into a Filter OR a
  // Join condition by the time this rule runs — handle both
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val extras = newExtras(cond)
      if (extras.isEmpty) f
      // PREPEND: And evaluates left-to-right with short-circuit, so the
      // cheap size() conjuncts must come before the kernel predicate —
      // appended they'd never save the merge-intersect
      else f.copy(condition = extras.foldRight(cond)(And(_, _)))
    case j @ Join(_, _, _, Some(cond), _) =>
      val extras = newExtras(cond)
      if (extras.isEmpty) j
      else j.copy(condition = Some(extras.foldRight(cond)(And(_, _))))
  }
}
