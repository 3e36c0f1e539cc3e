package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, And, Cast, Expression, ExpressionInfo, GreaterThan, GreaterThanOrEqual, Least, Length, LessThanOrEqual, Literal, Lower, Multiply}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Engine extension point (SparkSessionExtensions): registers the
  * native [[GraftSimilarity]] expression as SQL `graft_similarity` and
  * injects [[SimilarityBandRule]] and the native similarity-join
  * rules. Installed once per session by `graft.GraftSession`
  * (`spark.sql.extensions=graft.plans.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.similarityFunction)
    ext.injectFunction(GraftExtensions.rollingHashFunction)
    ext.injectFunction(GraftExtensions.shinglesFunction)
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.l2sqFunction)
    ext.injectOptimizerRule(_ => SimilarityJoinRule)
    ext.injectOptimizerRule(_ => BestSimilarityMatchRule)
    ext.injectOptimizerRule(_ => SimilarityBandRule)
    ext.injectPlannerStrategy(_ => SimilarityJoinStrategy)
  }
}

object GraftExtensions {
  private[plans] val similarityFunction =
    (FunctionIdentifier("graft_similarity"),
      new ExpressionInfo(classOf[GraftSimilarity].getCanonicalName, "graft_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_similarity(a, b) takes exactly 2 arguments")
        GraftSimilarity(children.head, children(1))
      })

  private[plans] val rollingHashFunction =
    (FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[GraftRollingHash].getCanonicalName, "graft_rolling_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_rolling_hash(text) takes exactly 1 argument")
        GraftRollingHash(children.head)
      })

  private[plans] val shinglesFunction =
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[GraftShingles].getCanonicalName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_shingles(words) takes exactly 1 argument")
        GraftShingles(children.head)
      })

  private[plans] val dotFunction =
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[GraftDot].getCanonicalName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot(a, b) takes exactly 2 arguments")
        GraftDot(children.head, children(1))
      })

  private[plans] val l2sqFunction =
    (FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[GraftL2Sq].getCanonicalName, "graft_l2sq"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_l2sq(a, b) takes exactly 2 arguments")
        GraftL2Sq(children.head, children(1))
      })
}

/** Optimizer rule: a filter `graft_similarity(a, b) >= t` (or `>`) with a
  * positive literal threshold implies the LOSSLESS length-band bound
  * ratio ≤ 2·min(|a|,|b|)/(|a|+|b|) (difflib's real_quick_ratio), so the
  * rule conjoins the cheap band predicate — plain length arithmetic that
  * whole-stage codegen evaluates before the quadratic similarity ever
  * runs, and that can prune a nested-loop join's pairs early. Lengths are
  * taken over lower(x) because the similarity itself compares lowercased
  * strings (case folding can change length for a handful of Unicode
  * points). The `banded` marker keeps the rewrite idempotent across
  * fixpoint iterations.
  */
object SimilarityBandRule extends Rule[LogicalPlan] {

  private def band(a: Expression, b: Expression, t: Literal): Expression = {
    val la = Length(Lower(a))
    val lb = Length(Lower(b))
    LessThanOrEqual(
      Multiply(t, Cast(Add(la, lb), DoubleType)),
      Multiply(Literal(2.0d), Cast(Least(Seq(la, lb)), DoubleType)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if cond.exists {
          case GreaterThanOrEqual(GraftSimilarity(_, _, false), Literal(_, DoubleType)) => true
          case GreaterThan(GraftSimilarity(_, _, false), Literal(_, DoubleType)) => true
          case _ => false
        } =>
      val rewritten = cond.transform {
        case ge @ GreaterThanOrEqual(s @ GraftSimilarity(a, b, false), lt @ Literal(t: Double, DoubleType)) if t > 0 =>
          And(band(a, b, lt), GreaterThanOrEqual(s.copy(banded = true), lt))
        case gt @ GreaterThan(s @ GraftSimilarity(a, b, false), lt @ Literal(t: Double, DoubleType)) if t > 0 =>
          And(band(a, b, lt), GreaterThan(s.copy(banded = true), lt))
      }
      Filter(rewritten, child)
  }
}
