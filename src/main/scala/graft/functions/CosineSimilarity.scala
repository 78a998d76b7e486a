package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression (SURVEY.md §2.6 UDF/expression row):
  * single-pass cosine similarity over two numeric vectors, with full
  * whole-stage-codegen support — the hot-path upgrade over composing
  * zip_with + aggregate (which evaluates through interpreted higher-order
  * lambdas and walks each array three times for dot/norm/norm).
  *
  * Accumulation is sequential in index order, in double precision — the
  * same order as the zip_with formulation and DuckDB's
  * list_inner_product, so results are bit-compatible with the oracle.
  * A zero denominator sqrt(|a|²)·sqrt(|b|²) yields NULL, as the
  * zip_with form's division does: that is a zero-norm input, unless the
  * other norm is NaN or infinite (0 * NaN and 0 * Inf are NaN, and so is
  * the result). A NULL element yields NULL, and so do inputs of unequal
  * length, as in the zip_with form, which pads the shorter input with
  * NULLs (DuckDB's list_inner_product raises on either).
  */
final case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  /** Nullable regardless of input nullability: zero-norm vectors and
    * vectors of unequal length yield NULL even when both inputs are
    * non-null. */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity requires array<float|double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def containsNull(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left)
    val rf = isFloat(right)
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else dot / den
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nullResult = ctx.freshName("nullResult")
      val den = ctx.freshName("den")
      def get(arr: String, idx: String, float: Boolean): String =
        if (float) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      val nullChecks = Seq(a -> left, b -> right).collect {
        case (arr, e) if containsNull(e) => s"$arr.isNullAt($i)"
      }
      val nullCheck =
        if (nullChecks.isEmpty) ""
        else s"if (${nullChecks.mkString(" || ")}) { $nullResult = true; break; }"
      s"""
         |boolean $nullResult = $a.numElements() != $b.numElements();
         |int $n = $nullResult ? 0 : $a.numElements();
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $xv = ${get(a, i, isFloat(left))};
         |  double $yv = ${get(b, i, isFloat(right))};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($nullResult || $den == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / $den;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column form: `cosineSimilarity($"a", $"b")`. */
  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(CosineSimilarity(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))
}
