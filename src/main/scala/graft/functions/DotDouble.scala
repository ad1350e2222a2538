package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Dot product over two `array<double>` columns — the inner loop of JL
  * random projection ([[graft.llm.Similarity.randomProject]]) and of the
  * residual search's exact `q·c` centroid term; [[PqEncode]] and
  * [[PqAdcTable]] reproduce its loop bit for bit.
  *
  * Same rationale as [[CosineSimilarity]]/[[DotInt8]]: the composable form
  * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) allocates an intermediate
  * array per row and interprets two lambdas per element; this is one fused
  * loop that stays inside whole-stage codegen. Mismatched dimensions yield
  * NULL (filterable), never a silent shorter-prefix product.
  */
case class DotDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_double expects array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotDouble {
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotDouble(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
