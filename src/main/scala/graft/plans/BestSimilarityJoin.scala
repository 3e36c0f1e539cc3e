package graft.plans

import graft.functions.Similarity
import java.util.Locale
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Descending, Expression, InterpretedOrdering, JoinedRow, NullsLast, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.unsafe.types.UTF8String

/** Partial best-similarity join, the fuzzy stage's native operator,
  * built directly by [[graft.operators.FuzzyJoin]]. The LEFT child is
  * the candidate pool, the RIGHT the base. Each base partition emits, per
  * candidate, its BEST pair with ratio(leftName, rightName) ≥ threshold:
  * highest ratio, then smallest `baseKey`, then largest `baseName` —
  * the order of FuzzyJoin's `max(struct(sim, -key, key, name))`, so the
  * aggregate above merges one row per (candidate × partition) instead of
  * consuming every pair.
  *
  * The decisive win is not the row reduction but the ADAPTIVE threshold
  * it enables: once a candidate holds a best with similarity s, later
  * pairs run difflib's upper-bound cascade against max(t, s) instead of
  * t — and with a corpus where ~70% of pairs clear t = 0.33 (so a plain
  * threshold prunes nothing), raising the bar to the incumbent's s
  * skips the quadratic match search for almost every remaining pair.
  * Exactness is preserved: the cascade only returns early with a bound
  * strictly below the requested floor, so any pair at or above the
  * incumbent gets an exact ratio, and ties on it fall through to the
  * key and name. Pairs first pass the length band of FuzzyJoin's
  * nested-loop path, over the same code-point lengths: the ratio counts
  * UTF-16 units, so for names with astral characters the band is not
  * implied by the ratio, and both paths must drop the same pairs.
  */
case class PartialBestSimilarityJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftName: Expression, rightName: Expression, threshold: Double,
    baseKey: Expression, baseName: Expression) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): PartialBestSimilarityJoin =
    copy(left = newLeft, right = newRight)
}

/** Physical [[PartialBestSimilarityJoin]]: driver-collected, broadcast
  * candidate side (FuzzyJoin builds the node only when the pool fits
  * `autoBroadcastJoinThreshold`), streamed base side, per-partition
  * incumbent arrays indexed by candidate row. */
case class PartialBestSimilarityJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftName: Expression, rightName: Expression, threshold: Double,
    baseKey: Expression, baseName: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): PartialBestSimilarityJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftBound = BindReferences.bindReference(leftName, left.output)
    val leftRows = left.executeCollect().map { r =>
      val n = leftBound.eval(r).asInstanceOf[UTF8String]
      if (n == null) (r.copy(), null, 0)
      else (r.copy(), n.toString.toLowerCase(Locale.ROOT), n.numChars)
    }
    val bLeft = sparkContext.broadcast(leftRows)
    val rightBound = BindReferences.bindReference(rightName, right.output)
    // Ties on similarity: smaller key, then larger name, a null losing
    // to any value — how max() orders the struct's -key and name fields.
    val tieOrder = Seq(
      SortOrder(baseKey, Ascending, NullsLast, Seq.empty),
      SortOrder(baseName, Descending, NullsLast, Seq.empty))
    val attrs = output
    val thr = threshold
    right.execute().mapPartitions { iter =>
      val lhs = bLeft.value
      val n = lhs.length
      val bestSims = new Array[Double](n)
      val bestRows = new Array[InternalRow](n)
      val joiner = new JoinedRow
      val proj = UnsafeProjection.create(attrs, attrs)
      val ties = new InterpretedOrdering(tieOrder, attrs)
      while (iter.hasNext) {
        val rRow = iter.next()
        val rn = rightBound.eval(rRow).asInstanceOf[UTF8String]
        if (rn != null) {
          val rLower = rn.toString.toLowerCase(Locale.ROOT)
          val rLen = rn.numChars
          var i = 0
          while (i < n) {
            val (lRow, lLower, lLen) = lhs(i)
            if (lLower != null && 2.0 * math.min(lLen, rLen) / (lLen + rLen) >= thr) {
              val best = bestRows(i)
              // An incumbent already clears thr, so its similarity is the bar.
              val needed = if (best == null) thr else bestSims(i)
              val r = Similarity.lowercasedRatioAtLeast(lLower, rLower, needed)
              if (r >= needed) {
                val j = joiner(lRow, rRow)
                if (best == null || r > bestSims(i) || ties.compare(j, best) < 0) {
                  bestSims(i) = r
                  // copy: the stream side reuses its row buffer
                  bestRows(i) = proj(j).copy()
                }
              }
            }
            i += 1
          }
        }
      }
      bestRows.iterator.filter(_ != null)
    }
  }
}

/** Plans the logical [[PartialBestSimilarityJoin]] into its exec. */
object BestSimilarityStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartialBestSimilarityJoin(l, r, a, b, t, key, name) =>
      PartialBestSimilarityJoinExec(planLater(l), planLater(r), a, b, t, key, name) :: Nil
    case _ => Nil
  }
}
