package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (SparkSessionExtensions): registers the
  * native expressions as SQL functions (`graft_similarity`,
  * `graft_rolling_hash`, `graft_shingles`, `graft_dot`, `graft_l2sq`)
  * and plans [[PartialBestSimilarityJoin]], the node
  * [[graft.operators.FuzzyJoin]] builds. Installed once per session by
  * `graft.GraftSession` (`spark.sql.extensions=graft.plans.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.similarityFunction)
    ext.injectFunction(GraftExtensions.rollingHashFunction)
    ext.injectFunction(GraftExtensions.shinglesFunction)
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.l2sqFunction)
    ext.injectPlannerStrategy(_ => BestSimilarityStrategy)
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
