package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/**
 * Catalyst optimizer rule: thresholded-edit-distance rewrite (the Ed-Join /
 * Gravano et al. VLDB'01 length-filter family, re-expressed as a logical
 * rewrite instead of a hand-written operator).
 *
 * A predicate `levenshtein(a, b) <= k` with a literal non-negative `k` is
 * rewritten, wherever it appears in a `Filter` or `Join` condition, to
 *
 *   abs(length(a) - length(b)) <= k  AND  levenshtein(a, b, k) >= 0
 *
 * which is semantically identical (edit distance is bounded below by the
 * length difference; Spark's 3-arg levenshtein returns -1 iff the distance
 * exceeds the threshold, the distance otherwise) but asymptotically cheaper:
 *
 *  - the length band costs O(1) per pair and short-circuits the conjunction,
 *    so in a fuzzy join the O(len^2) DP never runs for the vast majority of
 *    candidate pairs (length is a constant-time UTF8String field read);
 *  - the surviving pairs run the BANDED DP — Spark's threshold variant is
 *    O((2k+1) * min(m, n)) instead of O(m * n) — a large win for small k
 *    against long documents.
 *
 * `levenshtein(a, b) < k`, and the mirrored `k >= levenshtein(a, b)` /
 * `k > levenshtein(a, b)` forms, are normalized into the same shape. The
 * rewritten predicate no longer matches the pattern (its Levenshtein carries
 * a threshold), so the rule is fixed-point safe; an already-present band
 * conjunct is detected via `semanticEquals` and never duplicated.
 *
 * Injected by [[graft.functions.GraftExtensions]] (`injectOptimizerRule`) or
 * at runtime on any session via [[GraftPlans.ensureInjected]].
 */
object EditDistanceBandRule extends Rule[LogicalPlan] with PredicateHelper {

  /** lev(a,b) OP k  ⟶  Some((a, b, band-k)) when the rewrite applies. */
  private def matchThreshold(e: Expression): Option[(Expression, Expression, Int)] =
    e match {
      case LessThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, IntegerType))
          if k >= 0 => Some((a, b, k))
      case LessThan(Levenshtein(a, b, None), Literal(k: Int, IntegerType))
          if k >= 1 => Some((a, b, k - 1))
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(a, b, None))
          if k >= 0 => Some((a, b, k))
      case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(a, b, None))
          if k >= 1 => Some((a, b, k - 1))
      case _ => None
    }

  private def lengthBand(a: Expression, b: Expression, k: Int): Expression =
    LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), Literal(k))

  private def bandedProbe(a: Expression, b: Expression, k: Int): Expression =
    GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(k))), Literal(0))

  /** Rewrite every matching conjunct; leave everything else untouched. */
  private def rewrite(cond: Expression): Expression = {
    val conjuncts = splitConjunctivePredicates(cond)
    if (!conjuncts.exists(c => matchThreshold(c).isDefined)) return cond
    val out = conjuncts.flatMap { c =>
      matchThreshold(c) match {
        case Some((a, b, k)) =>
          val band = lengthBand(a, b, k)
          val probe = bandedProbe(a, b, k)
          // don't double-add a band the user (or a prior pass) already wrote
          if (conjuncts.exists(x => (x ne c) && x.semanticEquals(band)))
            Seq(probe)
          else Seq(band, probe)
        case None => Seq(c)
      }
    }
    out.reduce(And)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val r = rewrite(cond)
      if (r fastEquals cond) f else f.copy(condition = r)
    case j @ Join(_, _, _, Some(cond), _) =>
      val r = rewrite(cond)
      if (r fastEquals cond) j else j.copy(condition = Some(r))
  }
}

/** Runtime injection for sessions the engine does not build: a no-op on a
  * session built with [[graft.functions.GraftExtensions]] (it already plans
  * with both), so that session never runs [[EditDistanceBandRule]] twice. */
object GraftPlans {
  def ensureInjected(spark: SparkSession): Unit = synchronized {
    if (spark.sessionState.planner.strategies.contains(AsofJoinStrategy)) return
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(EditDistanceBandRule))
      spark.experimental.extraOptimizations = cur :+ EditDistanceBandRule
    val strat = spark.experimental.extraStrategies
    if (!strat.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies = strat :+ AsofJoinStrategy
  }
}
