package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expression: the random-hyperplane LSH bucket signature
  * of a numeric vector (q38/q43/q44/q92/q163), with whole-stage-codegen
  * support. It replaces a composition of one `sequence` + `zip_with` +
  * `aggregate` per plane, which evaluates through interpreted lambdas and
  * allocates two arrays per plane per row.
  *
  * Semantics, bit for bit those of that composition (and of the DuckDB
  * oracle's `bucketSql` on non-NULL inputs). For plane p in 0 until
  * nPlanes, with the ±1 hyperplane coefficient
  *
  *   s(p, d) = (((d*2654435761L + (p+1)*40503L + d*(p*97L)) >> 7) & 1) * 2 - 1
  *
  * fold `acc = 0.0; acc += v_d * s(p, d)` in double precision in index
  * order d = 0 until n, and set bit p when `acc >= 0` under Spark's
  * ordering: NaN counts as >= 0, and so does -0.0. A NULL array, an empty
  * array, or an array with any NULL element has signature 0 (the
  * composition's per-plane sum is NULL there, and a NULL sum sets no bit).
  *
  * One divergence the data never reaches: DuckDB's `list_sum` skips NULL
  * elements (`[1, NULL]` sums to 1.0, so bits can be set), while this
  * expression, like the composition it replaces, gives 0.
  *
  * `nPlanes` is limited to 1..30: from plane 31 on, the composition's Int
  * sum of `bit * (1 << p)` overflows. Hyperplane p depends only on p, so a
  * signature is a bit prefix of any wider one.
  */
final case class LshBucket(child: Expression, nPlanes: Int)
    extends UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 30,
    s"lsh bucket plane count must be in 1..30, got $nPlanes")

  override def dataType: DataType = LongType

  /** A NULL input has signature 0, not NULL. */
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires an array<float|double> input, got ${other.catalogString}")
  }

  private def arrayType: ArrayType = child.dataType.asInstanceOf[ArrayType]

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) 0L
    else LshBucket.signature(a.asInstanceOf[ArrayData],
      arrayType.elementType == FloatType, nPlanes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arr = ctx.freshName("arr")
    val n = ctx.freshName("n")
    val ok = ctx.freshName("ok")
    val p = ctx.freshName("p")
    val d = ctx.freshName("d")
    val acc = ctx.freshName("acc")
    val elem =
      if (arrayType.elementType == FloatType) s"(double) $arr.getFloat($d)"
      else s"$arr.getDouble($d)"
    val nullScan =
      if (!arrayType.containsNull) ""
      else
        s"""for (int $d = 0; $ok && $d < $n; $d++) {
           |  if ($arr.isNullAt($d)) $ok = false;
           |}""".stripMargin
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |long ${ev.value} = 0L;
      |if (!${c.isNull}) {
      |  ArrayData $arr = ${c.value};
      |  int $n = $arr.numElements();
      |  boolean $ok = $n > 0;
      |  $nullScan
      |  for (int $p = 0; $ok && $p < $nPlanes; $p++) {
      |    double $acc = 0.0;
      |    for (int $d = 0; $d < $n; $d++) {
      |      $acc += $elem * (double) (((($d * 2654435761L + ($p + 1) * 40503L
      |        + $d * ($p * 97L)) >> 7) & 1L) * 2L - 1L);
      |    }
      |    if (!($acc < 0.0)) ${ev.value} |= 1L << $p;
      |  }
      |}
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

object LshBucket {
  /** Column form: `LshBucket($"embedding", 8)`. */
  def apply(emb: Column, nPlanes: Int): Column =
    ColumnBridge.column(LshBucket(ColumnBridge.expression(emb), nPlanes))

  /** The interpreted path of [[LshBucket]] over a non-NULL array. */
  private def signature(arr: ArrayData, float: Boolean, nPlanes: Int): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    var d = 0
    while (d < n) {
      if (arr.isNullAt(d)) return 0L
      d += 1
    }
    var bits = 0L
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      d = 0
      while (d < n) {
        val v = if (float) arr.getFloat(d).toDouble else arr.getDouble(d)
        acc += v * ((((d * 2654435761L + (p + 1) * 40503L + d * (p * 97L)) >> 7)
          & 1L) * 2L - 1L).toDouble
        d += 1
      }
      if (!(acc < 0.0)) bits |= 1L << p
      p += 1
    }
    bits
  }
}
