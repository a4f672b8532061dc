package graft.functions

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Static two-sided Student-t tail probability via the standard identity
  * P(|T_df| >= t) = I_{df/(df+t²)}(df/2, 1/2) (regularized incomplete
  * beta) — a pure static call, so codegen can invoke it directly.
  */
object StudentT {
  def twoSidedP(t: Double, df: Double): Double = {
    if (t.isNaN || df.isNaN) return Double.NaN
    val d = math.min(df, 1e6) // d0=∞ complete-shrinkage case → huge but finite dof
    if (t.isInfinite) return 0.0
    Beta.regularizedBeta(d / (d + t * t), d / 2.0, 0.5)
  }
}

/** K3's only non-built-in scalar as a native Catalyst Expression
  * (preference order from the build brief: built-ins > custom Expression >
  * UDF). Unlike a Scala UDF this stays inside whole-stage codegen — no
  * row boxing, no codegen barrier in the moderated-statistics projection,
  * which matters when the DMP kernel runs over millions of probes.
  *
  * Installed as the SQL function `graft_t_pvalue(t, df)` by
  * [[graft.GraftExtensions]].
  */
case class StudentTPValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double, double), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_t_pvalue"

  override protected def nullSafeEval(t: Any, df: Any): Any =
    StudentT.twoSidedP(t.asInstanceOf[Double], df.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, df) => s"graft.functions.StudentT.twoSidedP($t, $df)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StudentTPValue =
    copy(left = newLeft, right = newRight)
}
