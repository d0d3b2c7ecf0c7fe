package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Native Catalyst dot product over two double arrays, with codegen.
  *
  * The engine's first custom `Expression` (SURVEY §7.5 policy: custom
  * Catalyst only where it pays). The higher-order-function form —
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — materializes the products
  * array per row and walks two lambda interpreters; this expression is a
  * single fused loop inside whole-stage codegen. Same IEEE-754 operation
  * order (in-order left fold from +0.0), so for EQUAL-LENGTH inputs the
  * result is bit-identical to the HOF form and to the DuckDB oracle's
  * list_transform/list_reduce. Mismatched lengths yield NULL — a
  * dimension mismatch is a data bug that must surface as a visible null
  * (as the HOF form's zip_with null-tail does), never as a silently
  * truncated score.
  *
  * Precondition: array elements are non-null (embedding vectors). Null
  * ARRAYS null-propagate normally via BinaryExpression.
  */
case class DotProduct(left: Expression, right: Expression)
    extends Kernel2("graft_dot", DoubleType, Own, Arg.doubles, Arg.doubles) {

  // Length mismatch produces null even from non-nullable children.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}
