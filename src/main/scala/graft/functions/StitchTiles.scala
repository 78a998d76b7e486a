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
  * Contract (the same as the eager read's and the pixel view's overlap
  * policy; the kernel is [[StitchTiles.paste]]):
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
    val out = new Array[Double](h * w)
    val covered = StitchTiles.paste(
      Seq.tabulate(tiles.numElements()) { i =>
        val r = tiles.getStruct(i, StitchTiles.Fields.length)
        StitchTiles.Tile(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getArray(5).toDoubleArray())
      }, 0, 0, h, w, out)
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

  /** One tile for [[paste]]: its index, its top-left in plane space, its
    * extent, and its row-major `h × w` pixels. */
  final case class Tile(m: Int, y0: Int, x0: Int, h: Int, w: Int,
      pixels: Array[Double])

  /** The paste kernel of this expression and of the facade's eager read
    * (`BioImage.getImageData`): pastes `tiles` in ascending `m` into
    * `out`, a row-major `h × w` window whose top-left lies at (`oy`,
    * `ox`) in plane space. A written pixel is never overwritten, so on
    * overlap the lowest tile index wins; tile pixels outside the window
    * are dropped. Returns how many window pixels some tile covered; an
    * uncovered pixel keeps its value in `out`. */
  def paste(tiles: Seq[Tile], oy: Int, ox: Int, h: Int, w: Int,
      out: Array[Double]): Int = {
    val seen = new Array[Boolean](h * w)
    var covered = 0
    tiles.sortBy(_.m).foreach { t =>
      // the tile rectangle, clipped to the window, in tile-local rows/cols
      val (ty0, tx0) = (t.y0 - oy, t.x0 - ox)
      val ya = math.max(0, -ty0)
      val yb = math.min(t.h, h - ty0)
      val xa = math.max(0, -tx0)
      val xb = math.min(t.w, w - tx0)
      var y = ya
      while (y < yb) {
        var x = xa
        var o = (ty0 + y) * w + tx0 + xa
        while (x < xb) {
          if (!seen(o)) {
            seen(o) = true
            out(o) = t.pixels(y * t.w + x)
            covered += 1
          }
          x += 1
          o += 1
        }
        y += 1
      }
    }
    covered
  }

  def apply(tiles: Column, h: Int, w: Int): Column =
    ColumnBridge.column(StitchTiles(ColumnBridge.expression(tiles), h, w))
}
