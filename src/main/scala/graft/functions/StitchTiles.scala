package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native mosaic paste: one plane's tiles, given as
  * `array<struct<m, y0, x0, h, w, pixels>>` in any order, become ONE dense
  * row-major `h × w` plane — the per-plane kernel behind
  * [[graft.core.Plane.stitch]].
  *
  * Contract (the same as the pixel view's overlap policy):
  *   - tiles paste in ascending `m` and a written pixel is never
  *     overwritten, so on overlap the LOWEST tile index wins (the
  *     `min_by(v, m)` rule of `BioImage.pixels`);
  *   - a tile's pixels outside the `h × w` plane are dropped;
  *   - a plane pixel that no tile covers fails the query: a dense sink
  *     has no representation for a gap.
  *
  * CodegenFallback: per-row work is one loop per tile over primitive
  * arrays; there is nothing for codegen to fuse. */
final case class StitchTiles(child: Expression, h: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.fieldNames.toSeq == StitchTiles.Fields &&
          st.fields.init.forall(_.dataType == IntegerType) &&
          (st.fields.last.dataType match {
            case ArrayType(DoubleType, _) => true
            case _                        => false
          }) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "stitch_tiles requires array<struct<m:int, y0:int, x0:int, h:int, " +
        s"w:int, pixels:array<double>>>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val tiles = input.asInstanceOf[ArrayData]
    val n = tiles.numElements()
    val rows = Array.tabulate(n)(i =>
      tiles.getStruct(i, StitchTiles.Fields.length)).sortBy(_.getInt(0))
    val out = new Array[Double](h * w)
    val seen = new Array[Boolean](h * w)
    var covered = 0
    rows.foreach { r =>
      val (ty0, tx0, th, tw) = (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4))
      val px = r.getArray(5)
      // clip the tile rectangle to the plane
      val ya = math.max(0, -ty0)
      val yb = math.min(th, h - ty0)
      val xa = math.max(0, -tx0)
      val xb = math.min(tw, w - tx0)
      var y = ya
      while (y < yb) {
        var x = xa
        var o = (ty0 + y) * w + tx0 + xa
        while (x < xb) {
          if (!seen(o)) {
            seen(o) = true
            out(o) = px.getDouble(y * tw + x)
            covered += 1
          }
          x += 1
          o += 1
        }
        y += 1
      }
    }
    if (covered != h * w)
      throw new IllegalStateException(
        s"mosaic tiles do not cover the stitched ${h}x$w plane (expected " +
          s"${h * w} pixels, got $covered); gapped mosaics cannot be " +
          "written to dense sinks")
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : StitchTiles = copy(child = newChild)
}

object StitchTiles {
  /** The tile struct's fields, in this order: five ints, then the
    * tile's row-major `h × w` pixel array. */
  val Fields: Seq[String] = Seq("m", "y0", "x0", "h", "w", "pixels")

  def apply(tiles: Column, h: Int, w: Int): Column =
    ColumnBridge.column(StitchTiles(ColumnBridge.expression(tiles), h, w))
}
