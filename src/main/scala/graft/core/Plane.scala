package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.StitchTiles
import graft.writers.OmeTiffWriter

/** One row per 2D Y×X plane — the engine's canonical distributed image
  * representation (SURVEY.md §1.5). A 5D–7D TCZYX[+M][+S] scene becomes a
  * long-form table keyed by (scene_idx, level, m, t, c, z, s); the plane
  * payload is a row-major Array[Double].
  *
  * Scale design: planes parquet is partitioned by (scene_idx, level) and
  * sorted by (t, c, z) so scene/level selection is partition pruning and
  * T/C/Z selection is row-group pruning; Y/X slicing operates on the array
  * payload inside codegen without touching other planes.
  */
final case class PlaneRow(
    scene_idx: Int,
    scene_id: String,
    level: Int,
    m: Int, // mosaic tile index (0 when non-mosaic)
    t: Int,
    c: Int,
    z: Int,
    s: Int, // sample index (0 when no S dim)
    y0: Int, // mosaic tile top offset in stitched space
    x0: Int, // mosaic tile left offset in stitched space
    h: Int,
    w: Int,
    pixels: Array[Double])

object Plane {
  /** Long-form pixel view of a plane table: one row per pixel with LOCAL
    * (per-tile) y/x coordinates. `keep` passes extra input columns (e.g.
    * the store's px_min/px_max stats) through the explode. */
  def pixels(planes: DataFrame, keep: Seq[String] = Seq.empty): DataFrame =
    planes.select(Seq(col("scene_idx"), col("level"), col("m"), col("t"),
        col("c"), col("z"), col("s"), col("w"), col("y0"), col("x0")) ++
        keep.map(col) :+
        posexplode(col("pixels")).as(Seq("pos", "v")): _*)
      .withColumn("y", (col("pos") / col("w")).cast("int"))
      .withColumn("x", pmod(col("pos"), col("w")).cast("int"))
      .drop("pos", "w")

  /** Pixel view in STITCHED mosaic space (y/x shifted by tile offsets). */
  def stitchedPixels(planes: DataFrame, keep: Seq[String] = Seq.empty): DataFrame =
    pixels(planes, keep)
      .withColumn("y", col("y") + col("y0"))
      .withColumn("x", col("x") + col("x0"))
      .drop("y0", "x0")

  /** Stitched plane table: each (scene_idx, level, t, c, z, s) plane's
    * tile ROWS are grouped (one shuffle of tile arrays, never of pixel
    * rows) and pasted into one dense `h × w` row by [[StitchTiles]]:
    * lowest tile index wins on overlap, and a pixel no tile covers fails
    * the query. Disjoint and overlapping mosaics take the same path. The
    * output has the plane-table columns, with m/y0/x0 = 0. */
  def stitch(planes: DataFrame, sceneId: String, h: Int, w: Int): DataFrame =
    planes
      .groupBy(col("scene_idx"), col("level"), col("t"), col("c"),
        col("z"), col("s"))
      .agg(collect_list(struct(StitchTiles.Fields.map(col): _*)).as("tiles"))
      .select(col("scene_idx"), lit(sceneId).as("scene_id"), col("level"),
        lit(0).as("m"), col("t"), col("c"), col("z"), col("s"),
        lit(0).as("y0"), lit(0).as("x0"), lit(h).as("h"), lit(w).as("w"),
        StitchTiles(col("tiles"), h, w).as("pixels"))

  /** 2× mean-pool of a plane table (the pyramid step shared by the
    * parquet plane store and the zarr writer): each (t,c,z,s,m) row pools
    * on its own through [[OmeTiffWriter.downsample2x]], the OME-TIFF
    * pyramid's kernel, so the sinks cannot drift apart. Edge blocks
    * average the pixels that exist (ceil semantics); tile offsets halve
    * with the geometry; the level increments. A per-row map: no shuffle. */
  def poolHalf(planes: DataFrame): DataFrame = {
    val spark = planes.sparkSession
    import spark.implicits._
    planes.as[PlaneRow].map { r =>
      val (px, h2, w2) = OmeTiffWriter.downsample2x(r.pixels, r.h, r.w, 1)
      r.copy(level = r.level + 1, y0 = r.y0 / 2, x0 = r.x0 / 2, h = h2,
        w = w2, pixels = px)
    }.toDF()
  }
}
