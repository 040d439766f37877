package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftColumnBridge

/** Native Catalyst expression for cosine similarity over two
  * ARRAY<FLOAT|DOUBLE> columns.
  *
  * Spark's higher-order functions (zip_with + aggregate) evaluate a
  * lambda per element with boxing and are excluded from whole-stage
  * codegen — ~50x slower on 64-dim vectors. This expression reads the
  * underlying ArrayData once into primitive doubles and emits a tight
  * loop via doGenCode, so vector scoring stays inside
  * WholeStageCodegen (the preference order of SURVEY.md §7.3: built-in
  * < custom Expression < UDF).
  *
  * Semantics: index-ordered double accumulation, 0.0 for zero-norm
  * inputs; null if either side is null or lengths differ.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    val fx = isFloat(left)
    val fy = isFloat(right)
    var i = 0
    while (i < n) {
      val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getX = if (isFloat(left)) "getFloat" else "getDouble"
    val getY = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xv = (double) $x.$getX($i);
         |    final double $yv = (double) $y.$getY($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  final double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |  ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object VectorExpr {
  /** Column API: cosine_sim(a, b). */
  def cosineSim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
