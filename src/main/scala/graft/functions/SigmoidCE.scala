package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the numerically-stable sigmoid
  * cross-entropy with logits (reference `model.py:159`,
  * `tf.nn.sigmoid_cross_entropy_with_logits`):
  *
  *   sigmoid_ce(z, y) = max(z,0) − z·y + log1p(exp(−|z|))
  *
  * Why a custom Expression rather than the composed Column form in
  * [[Kernels.sigmoidCrossEntropy]]: the composed form builds a 7-node
  * expression tree that re-evaluates `z` five times per row; this
  * single node evaluates each child once and emits one fused Java
  * statement inside whole-stage codegen (`doGenCode`), which is the
  * preferred extension order for hot scalar paths (custom Expression >
  * UDF). Registered under the name `sigmoid_ce` in the session function
  * registry by [[SigmoidCE.register]].
  */
case class SigmoidCE(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sigmoid_ce"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sigmoid_ce requires (double, double), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(z: Any, y: Any): Any =
    Retain.sigmoidCe(z.asInstanceOf[Double], y.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (z, y) =>
      s"${ev.value} = Math.max($z, 0.0) - $z * $y + Math.log1p(Math.exp(-Math.abs($z)));")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SigmoidCE =
    copy(left = newLeft, right = newRight)
}

object SigmoidCE {
  /** Register `sigmoid_ce` in the session's function registry
    * (idempotent), making it usable from SQL text and `expr(...)` —
    * the engine-local equivalent of shipping it through
    * `SparkSessionExtensions.injectFunction`.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier("sigmoid_ce")
    if (!registry.functionExists(ident)) {
      registry.registerFunction(
        ident,
        new ExpressionInfo(classOf[SigmoidCE].getName, "sigmoid_ce"),
        (children: Seq[Expression]) => {
          require(children.length == 2, "sigmoid_ce(z, y) takes exactly 2 arguments")
          SigmoidCE(children.head, children(1))
        })
    }
  }
}
