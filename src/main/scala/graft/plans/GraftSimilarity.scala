package graft.plans

import graft.functions.Similarity
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** F9 (difflib-parity Ratcliff–Obershelp similarity) as a native Catalyst
  * expression: `graft_similarity(a, b)` in SQL once
  * [[GraftExtensions]] is installed.
  *
  * Compared to a Scala UDF this participates in whole-stage codegen
  * (doGenCode emits a direct static call — no row-level closure dispatch,
  * no ScalaUDF serialization), reports null-safety to the optimizer, and
  * is usable from pure SQL.
  */
case class GraftSimilarity(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t == StringType || t == org.apache.spark.sql.types.NullType
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_similarity requires (string, string), got (${left.dataType}, ${right.dataType})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    Similarity.referenceRatio(
      a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Similarity.referenceRatio($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftSimilarity =
    copy(left = newLeft, right = newRight)
}
