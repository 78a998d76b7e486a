package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BioSpark
import graft.core.{Dims, NDArray, PixelType}
import graft.image.Sel
import graft.meta.OmeUtils
import graft.plugins.{PluginEntry, Registry}
import graft.readers.ArrayLikeReader
import graft.writers.ParquetPlaneStore

/** The bioio semantic surface (SURVEY.md §2.1–2.5) exercised as oracle-
  * checked queries. Image fixtures are formulaic (value = f(indices)), so
  * the DuckDB oracle regenerates the expected pixels from range() cross
  * joins — a genuine end-to-end check of dim guessing, normalization,
  * slicing, mosaic stitching, scene stacking and the parquet plane store.
  */
object BioQueries {
  // ---------------------------------------------------------------- b01
  /** M1/M2 OME id generation as Column expressions. */
  val b01OmeIds: Q = (spark, dir) =>
    graft.Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        OmeUtils.omeImageIdCol(col("n_nationkey")).as("image_id"),
        OmeUtils.omeChannelIdCol(col("n_nationkey"), col("n_regionkey"))
          .as("channel_id"))
      .orderBy(col("n_nationkey"))

  val b01Oracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      | 'Image:' || CAST(n_nationkey AS VARCHAR) AS image_id,
      | 'Channel:' || CAST(n_nationkey AS VARCHAR) || ':'
      |   || CAST(n_regionkey AS VARCHAR) AS channel_id
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------- b02
  /** P4 dim-order guessing (rank → trailing TCZYXS suffix), golden-pinned
    * exactly as the reference test table. */
  val b02DimGuess: Q = (spark, _) => {
    import spark.implicits._
    (1 to 6).map(r => (r.toLong, Dims.guess(r))).toDF("rank", "dims_order")
      .orderBy(col("rank"))
  }

  val b02Oracle: String =
    """SELECT * FROM (VALUES (1, 'X'), (2, 'YX'), (3, 'ZYX'), (4, 'CZYX'),
      | (5, 'TCZYX'), (6, 'TCZYXS'))
      | AS t(rank, dims_order) ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- b03
  /** S10+P2: ArrayLike ingest of a rank-3 array (guessed ZYX) normalized
    * to canonical TCZYX pixel rows. */
  val b03ArraylikeNormalize: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(4, 3, 2)) { idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2)
    }
    BioSpark.fromArray(spark, arr).getImagePixels()
      .select(col("t").cast("long").as("t"), col("c").cast("long").as("c"),
        col("z").cast("long").as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("z"), col("y"), col("x"))
  }

  val b03Oracle: String =
    """SELECT 0 AS t, 0 AS c, z, y, x,
      | CAST(z*100 + y*10 + x AS DOUBLE) AS v
      |FROM range(4) t1(z), range(3) t2(y), range(2) t3(x)
      |ORDER BY z, y, x""".stripMargin

  // ---------------------------------------------------------------- b04
  /** P1/P3 reshape semantics: Index selection drops dims, Subset keeps a
    * re-indexable subset — lazy slice on the pixel view. */
  val b04ReshapeSelect: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(2, 2, 4, 3, 3)) { idx =>
      idx(0) * 10000.0 + idx(1) * 1000.0 + idx(2) * 100.0 + idx(3) * 10.0 + idx(4)
    }
    BioSpark.fromArray(spark, arr) // rank 5 → guessed TCZYX
      .getImagePixels(Map(
        'T' -> Sel.Index(1), 'C' -> Sel.Index(0), 'Z' -> Sel.Subset(Seq(1, 3))))
      .select(col("z").cast("long").as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("z"), col("y"), col("x"))
  }

  val b04Oracle: String =
    """SELECT z, y, x,
      | CAST(10000 + z*100 + y*10 + x AS DOUBLE) AS v
      |FROM range(4) t1(z), range(3) t2(y), range(3) t3(x)
      |WHERE z IN (1, 3) ORDER BY z, y, x""".stripMargin

  // ---------------------------------------------------------------- b05
  /** U2 mosaic stitching: 2×2 grid of 4×4 tiles reassembled into one 8×8
    * plane at canonical positions (first-tile-wins overlap policy). */
  val b05MosaicStitch: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(4, 4, 4)) { idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2)
    }
    val reader = new ArrayLikeReader(Seq(arr), Seq(Some("MYX")), Seq(None),
      tilePositions = Seq(Seq((0, 0), (0, 4), (4, 0), (4, 4))))
    new graft.image.BioImage(spark, reader).pixels
      .select(col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        col("v"))
      .orderBy(col("y"), col("x"))
  }

  val b05Oracle: String =
    """SELECT y, x,
      | CAST(((y//4)*2 + (x//4))*100 + (y%4)*10 + (x%4) AS DOUBLE) AS v
      |FROM range(8) a(y), range(8) b(x) ORDER BY y, x""".stripMargin

  // ---------------------------------------------------------------- b06
  /** U1 scene stacking: multi-scene source unioned with the scene index as
    * the leading dimension. */
  val b06SceneStack: Q = (spark, _) => {
    val arrs = (0 until 2).map(i =>
      NDArray.tabulate(Seq(2, 2))(idx => i * 100.0 + idx(0) * 10.0 + idx(1)))
    val img = new graft.image.BioImage(spark,
      ArrayLikeReader.multi(arrs))
    graft.core.Plane.pixels(img.stackPlanes)
      .select(col("scene_idx").cast("long").as("scene_idx"),
        col("y").cast("long").as("y"), col("x").cast("long").as("x"), col("v"))
      .orderBy(col("scene_idx"), col("y"), col("x"))
  }

  val b06Oracle: String =
    """SELECT i AS scene_idx, y, x, CAST(i*100 + y*10 + x AS DOUBLE) AS v
      |FROM range(2) s(i), range(2) a(y), range(2) b(x)
      |ORDER BY scene_idx, y, x""".stripMargin

  // ---------------------------------------------------------------- b07
  /** M3/M4 pixel-type bridge, golden-pinned. */
  val b07PixelTypeMap: Q = (spark, _) => {
    import spark.implicits._
    PixelType.toSpark.toSeq
      .map { case (pt, dt) => (pt.toString, dt.simpleString) }
      .toDF("pixel_type", "spark_type").orderBy(col("pixel_type"))
  }

  val b07Oracle: String =
    """SELECT * FROM (VALUES
      | ('Complex128', 'struct<re:double,im:double>'),
      | ('Complex64', 'struct<re:float,im:float>'),
      | ('Float32', 'float'), ('Float64', 'double'),
      | ('Int16', 'smallint'), ('Int32', 'int'), ('Int8', 'tinyint'),
      | ('UInt16', 'int'), ('UInt32', 'bigint'), ('UInt8', 'smallint'))
      | AS t(pixel_type, spark_type) ORDER BY pixel_type""".stripMargin

  // ---------------------------------------------------------------- b08
  /** S1–S4 registry ordering policy on a fixed plugin set: keys by
    * descending extension length, plugins by (families, ext count, name) —
    * the exact scenarios of the reference's test_plugins.py. */
  val b08PluginOrder: Q = (spark, _) => {
    import spark.implicits._
    val dummy = (_: SparkSession, _: String, _: Map[String, String]) =>
      throw new UnsupportedOperationException("probe-only")
    val reg = new Registry(Seq(
      PluginEntry("multi-format", Seq(".tiff", ".png", ".jpg"), dummy),
      PluginEntry("ome-tiff-only", Seq(".ome.tiff", ".tiff"), dummy),
      PluginEntry("tiff-only", Seq(".TIF", "tiff"), dummy),
    ))
    reg.dump.zipWithIndex
      .map { case ((ext, name, _), i) => (i.toLong, ext, name) }
      .toDF("pos", "ext", "plugin")
      .orderBy(col("pos"))
  }

  val b08Oracle: String =
    """SELECT * FROM (VALUES
      | (0, '.ome.tiff', 'ome-tiff-only'),
      | (1, '.tiff', 'ome-tiff-only'),
      | (2, '.tiff', 'tiff-only'),
      | (3, '.tiff', 'multi-format'),
      | (4, '.jpg', 'multi-format'),
      | (5, '.png', 'multi-format'),
      | (6, '.tif', 'tiff-only'))
      | AS t(pos, ext, plugin) ORDER BY pos""".stripMargin

  // ---------------------------------------------------------------- b09
  /** S15/S16 + S5: save a two-scene image to the parquet plane store,
    * re-open it through plugin resolution, read scene Image:1 back. */
  val b09StoreRoundtrip: Q = (spark, _) => {
    val arrs = (0 until 2).map(i =>
      NDArray.tabulate(Seq(2, 3, 4))(idx =>
        i * 1000.0 + idx(0) * 100.0 + idx(1) * 10.0 + idx(2)))
    val img = new graft.image.BioImage(spark, ArrayLikeReader.multi(arrs))
    // unique per run — concurrent harness invocations must not collide
    val uri = Scratch(spark, "b09").path("b09.graft")
    ParquetPlaneStore.save(img, uri)
    val back = BioSpark.open(spark, uri)
    back.setScene("Image:1")
    back.getImagePixels()
      .select(col("z").cast("long").as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("z"), col("y"), col("x"))
  }

  val b09Oracle: String =
    """SELECT z, y, x, CAST(1000 + z*100 + y*10 + x AS DOUBLE) AS v
      |FROM range(2) a(z), range(3) b(y), range(4) c(x)
      |ORDER BY z, y, x""".stripMargin

  // ---------------------------------------------------------------- b10
  /** M2/M5 guaranteed channel coordinate: generated per-scene OME channel
    * IDs for a C-bearing multi-scene source. */
  val b10ChannelNames: Q = (spark, _) => {
    import spark.implicits._
    val arrs = Seq(
      NDArray.zeros(Seq(2, 2, 2)), // ZYX (guessed) → synthesized C of size 1
      NDArray.zeros(Seq(3, 2, 2))) // explicit CYX → 3 channels
    val img = new graft.image.BioImage(spark,
      ArrayLikeReader.multi(arrs, Seq(None, Some("CYX")).map(identity)))
    img.scenes.zipWithIndex.flatMap { case (sid, i) =>
      img.setScene(i)
      img.channelNames.zipWithIndex.map { case (cn, c) => (sid, c.toLong, cn) }
    }.toDF("scene_id", "c", "channel_name")
      .orderBy(col("scene_id"), col("c"))
  }

  val b10Oracle: String =
    """SELECT * FROM (VALUES
      | ('Image:0', 0, 'Channel:0:0'),
      | ('Image:1', 0, 'Channel:1:0'),
      | ('Image:1', 1, 'Channel:1:1'),
      | ('Image:1', 2, 'Channel:1:2'))
      | AS t(scene_id, c, channel_name) ORDER BY scene_id, c""".stripMargin

  // ---------------------------------------------------------------- b11
  /** S12: OME-TIFF read through plugin resolution. A two-scene formulaic
    * image is written by the OME-TIFF writer (S13–S15), re-opened via the
    * registry (most-specific-suffix resolution picks OmeTiffReader), and
    * scene Image:1's pixels — decoded from raw TIFF strips by executors —
    * are checked against the regenerating oracle. */
  val b11OmetiffRead: Q = (spark, _) => {
    val arrs = (0 until 2).map(i =>
      NDArray.tabulate(Seq(2, 3, 4))(idx =>
        i * 1000.0 + idx(0) * 100.0 + idx(1) * 10.0 + idx(2)))
    val img = new graft.image.BioImage(spark, ArrayLikeReader.multi(arrs))
    val uri = Scratch(spark, "b11").path("b11.ome.tiff")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    back.setScene("Image:1")
    back.getImagePixels()
      .select(col("z").cast("long").as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("z"), col("y"), col("x"))
  }

  val b11Oracle: String =
    """SELECT z, y, x, CAST(1000 + z*100 + y*10 + x AS DOUBLE) AS v
      |FROM range(2) a(z), range(3) b(y), range(4) c(x)
      |ORDER BY z, y, x""".stripMargin

  // ---------------------------------------------------------------- b12
  /** S13/S14/S15 + M8/M9: OME-TIFF metadata roundtrip. Channel names,
    * physical pixel sizes and dims written into the OME-XML block come
    * back through the reader's OME parse; scene ids are regenerated with
    * order preserved (selection written scene 1 first). */
  val b12OmetiffRoundtrip: Q = (spark, _) => {
    import spark.implicits._
    val arrs = Seq(
      NDArray.zeros(Seq(2, 2, 2)), // CYX with names
      NDArray.zeros(Seq(3, 3)))
    val img = new graft.image.BioImage(spark, ArrayLikeReader.multi(arrs,
      Seq(Some("CYX"), Some("YX")),
      Seq(Some(Seq("DAPI", "GFP")), None)))
    val uri = Scratch(spark, "b12").path("b12.ome.tiff")
    img.save(uri, selectScenes = Some(Seq("Image:1", "Image:0")))
    val back = BioSpark.open(spark, uri)
    back.scenes.zipWithIndex.flatMap { case (sid, i) =>
      back.setScene(i)
      val d = back.dims
      back.channelNames.zipWithIndex.map { case (cn, c) =>
        (sid, c.toLong, cn, d('C'), d('Y'), d('X'),
          back.meta.pixelType.toString)
      }
    }.toDF("scene_id", "c", "channel_name", "size_c", "size_y", "size_x",
      "pixel_type")
      .orderBy(col("scene_id"), col("c"))
  }

  // First written scene is original Image:1 (YX, no explicit names): the
  // writer records the ORIGINAL generated channel id "Channel:1:0" in the
  // OME-XML (the reference's save gathers per-scene channel_names before
  // renumbering, bio_image.py:1282-1291), and the reader trusts the XML.
  val b12Oracle: String =
    """SELECT * FROM (VALUES
      | ('Image:0', 0, 'Channel:1:0', 1, 3, 3, 'Float64'),
      | ('Image:1', 0, 'DAPI',        2, 2, 2, 'Float64'),
      | ('Image:1', 1, 'GFP',         2, 2, 2, 'Float64'))
      | AS t(scene_id, c, channel_name, size_c, size_y, size_x, pixel_type)
      |ORDER BY scene_id, c""".stripMargin

  // ---------------------------------------------------------------- b13
  /** P6 resolution pyramid end-to-end: an 8×8 formulaic plane saved with
    * levels=2 (level 1 = distributed 2× mean-pool), re-opened, level 1
    * selected, pixels checked against the oracle's own pooling. */
  val b13PyramidLevel: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(8, 8))(idx => idx(0) * 10.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = Scratch(spark, "b13").path("b13.graft")
    ParquetPlaneStore.save(img, uri, levels = 2)
    val back = BioSpark.open(spark, uri)
    back.setResolutionLevel(1)
    back.getImagePixels()
      .select(col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        col("v"))
      .orderBy(col("y"), col("x"))
  }

  val b13Oracle: String =
    """SELECT y//2 AS y, x//2 AS x, avg(CAST(y*10 + x AS DOUBLE)) AS v
      |FROM range(8) a(y), range(8) b(x)
      |GROUP BY y//2, x//2 ORDER BY y, x""".stripMargin

  // ---------------------------------------------------------------- b14
  /** P7 coordinate slicing: a ZYX scene with physical pixel sizes
    * (z=2.0 µm, y=0.5, x=0.5) sliced BY UNITS — Z in [1.9, 6.1] µm, Y in
    * [1.0, 2.0] µm — resolved driver-side to index ranges; the oracle
    * applies the same physical predicate to the regenerated grid. */
  val b14CoordSlice: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(4, 6, 6)) { idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2)
    }
    val reader = new ArrayLikeReader(Seq(arr), Seq(None), Seq(None),
      physicalPixelSizes = Some((2.0, 0.5, 0.5)))
    new graft.image.BioImage(spark, reader)
      .getImagePixels(Map(
        'Z' -> graft.image.Sel.Coord(1.9, 6.1),
        'Y' -> graft.image.Sel.Coord(1.0, 2.0)))
      .select(col("z").cast("long").as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("z"), col("y"), col("x"))
  }

  val b14Oracle: String =
    """SELECT z, y, x, CAST(z*100 + y*10 + x AS DOUBLE) AS v
      |FROM range(4) a(z), range(6) b(y), range(6) c(x)
      |WHERE z*2.0 >= 1.9 AND z*2.0 <= 6.1
      |  AND y*0.5 >= 1.0 AND y*0.5 <= 2.0
      |ORDER BY z, y, x""".stripMargin

  // ---------------------------------------------------------------- b15
  /** E14 typed Aggregator: per-channel pixel stats (min/max/mean/exact
    * interpolated median) over plane payload arrays via PlaneStatsAgg,
    * checked against DuckDB's min/max/avg/median on the regenerated grid. */
  val b15PlaneStats: Q = (spark, _) => {
    import spark.implicits._
    val arr = NDArray.tabulate(Seq(2, 4, 4)) { idx =>
      idx(0) * 1000.0 + idx(1) * 10.0 + idx(2)
    }
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    img.planes.select(col("c"), col("pixels"))
      .as[(Int, Array[Double])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.PlaneStatsAgg().toColumn.name("stats"))
      .map { case (c, s) => (c.toLong, s.min, s.max, s.mean, s.p50) }
      .toDF("c", "min_v", "max_v", "mean_v", "p50_v")
      .orderBy(col("c"))
  }

  val b15Oracle: String =
    """WITH px AS (SELECT c, CAST(c*1000 + y*10 + x AS DOUBLE) AS v
      |  FROM range(2) a(c), range(4) b(y), range(4) d(x))
      |SELECT c, min(v) AS min_v, max(v) AS max_v, avg(v) AS mean_v,
      | median(v) AS p50_v
      |FROM px GROUP BY c ORDER BY c""".stripMargin

  // ---------------------------------------------------------------- b16
  /** S12 imageio family: a formulaic 8-bit grayscale plane written by the
    * PNG writer (TwoDWriter analog), re-opened through plugin resolution
    * (magic-byte probe picks ImageIoReader), pixels oracle-checked. */
  val b16PngRoundtrip: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(6, 8))(idx => idx(0) * 10.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = Scratch(spark, "b16").path("b16.png")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    back.getImagePixels()
      .select(col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        col("v"))
      .orderBy(col("y"), col("x"))
  }

  val b16Oracle: String =
    """SELECT y, x, CAST(y*10 + x AS DOUBLE) AS v
      |FROM range(6) a(y), range(8) b(x) ORDER BY y, x""".stripMargin

  // ---------------------------------------------------------------- b17
  /** S12 OME-ZARR: two-scene formulaic image written by the DISTRIBUTED
    * zarr writer (executors write chunk objects directly), re-opened via
    * the registry (.zgroup probe picks ZarrReader), scene Image:1 pixels
    * decoded by executors from raw chunks and oracle-checked. */
  val b17ZarrRoundtrip: Q = (spark, _) => {
    val arrs = (0 until 2).map(i =>
      NDArray.tabulate(Seq(2, 3, 4))(idx =>
        i * 1000.0 + idx(0) * 100.0 + idx(1) * 10.0 + idx(2)))
    val img = new graft.image.BioImage(spark, ArrayLikeReader.multi(arrs))
    val uri = Scratch(spark, "b17").path("b17.ome.zarr")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    back.setScene("Image:1")
    back.getImagePixels()
      .select(col("z").cast("long").as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("z"), col("y"), col("x"))
  }

  val b17Oracle: String =
    """SELECT z, y, x, CAST(1000 + z*100 + y*10 + x AS DOUBLE) AS v
      |FROM range(2) a(z), range(3) b(y), range(4) c(x)
      |ORDER BY z, y, x""".stripMargin

  // ---------------------------------------------------------------- b18
  /** S12 compressed + tiled TIFF: the same formulaic ZYX image written
    * twice — Deflate-compressed strips, and LZW-compressed 16×16 tiles
    * over a ragged 20×24 plane (edge tiles stored padded, cropped on
    * read; tiles surface as mosaic rows and stitch back losslessly). Both
    * re-opened through plugin resolution and checked against the
    * regenerating oracle. */
  val b18CompressedTiff: Q = (spark, _) => {
    import graft.formats.TiffFormat
    import graft.writers.{OmeTiffWriter, TiffOptions}
    val arr = NDArray.tabulate(Seq(2, 20, 24))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = BioSpark.fromArray(spark, arr) // ZYX
    val scratch = Scratch(spark, "b18")
    val uriD = scratch.path("deflate.ome.tiff")
    OmeTiffWriter.save(img, uriD, None,
      TiffOptions(compression = TiffFormat.CompressionDeflate))
    val uriT = scratch.path("lzw_tiled.ome.tiff")
    OmeTiffWriter.save(img, uriT, None,
      TiffOptions(compression = TiffFormat.CompressionLZW,
        tile = Some((16, 16))))
    Seq(("deflate", uriD), ("lzw_tiled", uriT)).map { case (variant, uri) =>
      BioSpark.open(spark, uri).getImagePixels()
        .select(lit(variant).as("variant"),
          col("z").cast("long").as("z"), col("y").cast("long").as("y"),
          col("x").cast("long").as("x"), col("v"))
    }.reduce(_ unionByName _)
      .orderBy(col("variant"), col("z"), col("y"), col("x"))
  }

  val b18Oracle: String =
    """SELECT variant, z, y, x, CAST(z*100 + y*10 + x AS DOUBLE) AS v
      |FROM (VALUES ('deflate'), ('lzw_tiled')) t(variant),
      |     range(2) a(z), range(20) b(y), range(24) c(x)
      |ORDER BY variant, z, y, x""".stripMargin

  // ---------------------------------------------------------------- b19
  /** S12 zarr format coverage: (a) blosc-compressed (lz4 + byte-shuffle)
    * chunks written by the distributed writer and re-read through the
    * registry; (b) a hand-built ragged NGFF store — 5×7 plane over 4×4
    * chunks, edge chunks stored zero-padded per zarr v2 and cropped on
    * read, stitched dims reporting the true array shape. */
  val b19ZarrBloscRagged: Q = (spark, _) => {
    import java.nio.file.{Files, Paths}
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    import graft.writers.ZarrWriter
    val scratch = Scratch(spark, "b19")

    val arr = NDArray.tabulate(Seq(2, 5, 7))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val uriB = scratch.path("blosc.ome.zarr")
    ZarrWriter.save(BioSpark.fromArray(spark, arr), uriB, None,
      levels = 1, compressor = Some("blosc"))

    val uriR = scratch.path("ragged.zarr")
    Files.createDirectories(Paths.get(uriR, "0"))
    def put(rel: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(uriR, rel), bytes)
    put(".zgroup", ZarrFormat.zgroup.getBytes)
    put(".zattrs", ZarrFormat.imageAttrs("Image:0", 1,
      Seq.fill(5)(1.0), Seq.empty).getBytes)
    put("0/.zarray", ZarrFormat.zarray(
      Seq(2, 5, 7), Seq(1, 4, 4), "<f8").getBytes) // 3D ZYX, ragged grid
    for (zi <- 0 until 2; yi <- 0 until 2; xi <- 0 until 2) {
      val px = Array.tabulate(16) { k =>
        val (y, x) = (yi * 4 + k / 4, xi * 4 + k % 4)
        if (y < 5 && x < 7) zi * 100.0 + y * 10.0 + x else 0.0
      }
      put(s"0/$zi.$yi.$xi", ZarrFormat.encodeChunk(px, PixelType.Float64))
    }

    Seq(("blosc", uriB), ("ragged", uriR)).map { case (variant, uri) =>
      BioSpark.open(spark, uri).getImagePixels()
        .select(lit(variant).as("variant"),
          col("z").cast("long").as("z"), col("y").cast("long").as("y"),
          col("x").cast("long").as("x"), col("v"))
    }.reduce(_ unionByName _)
      .orderBy(col("variant"), col("z"), col("y"), col("x"))
  }

  val b19Oracle: String =
    """SELECT variant, z, y, x, CAST(z*100 + y*10 + x AS DOUBLE) AS v
      |FROM (VALUES ('blosc'), ('ragged')) t(variant),
      |     range(2) a(z), range(5) b(y), range(7) c(x)
      |ORDER BY variant, z, y, x""".stripMargin

  // ---------------------------------------------------------------- b20
  /** RGB (S=3) write path end-to-end: a formulaic YXS array → RGB PNG
    * (TwoDWriter analog) → reopened via magic-byte probe (YXS bands) →
    * saved as a chunky RGB OME-TIFF (SamplesPerPixel=3, interleaved
    * strips) and as a trailing-S zarr store → both reopened; every band
    * pixel checked against the regenerating oracle. */
  val b20RgbRoundtrip: Q = (spark, _) => {
    val scratch = Scratch(spark, "b20")
    val arr = NDArray.tabulate(Seq(6, 8, 3))(idx =>
      (idx(0) * 25 + idx(1) * 3 + idx(2) * 7) % 256)
    val png = scratch.path("b20.png")
    new graft.image.BioImage(spark,
      new ArrayLikeReader(Seq(arr), Seq(Some("YXS")), Seq(None))).save(png)
    val img8 = BioSpark.open(spark, png) // ImageIoReader, YXS uint8
    val tiff = scratch.path("b20.ome.tiff")
    img8.save(tiff)
    val zarr = scratch.path("b20.ome.zarr")
    img8.save(zarr)
    Seq(("tiff", tiff), ("zarr", zarr)).map { case (variant, uri) =>
      BioSpark.open(spark, uri).getImagePixels()
        .select(lit(variant).as("variant"),
          col("y").cast("long").as("y"), col("x").cast("long").as("x"),
          col("s").cast("long").as("s"), col("v"))
    }.reduce(_ unionByName _)
      .orderBy(col("variant"), col("y"), col("x"), col("s"))
  }

  val b20Oracle: String =
    """SELECT variant, y, x, s, CAST((y*25 + x*3 + s*7) % 256 AS DOUBLE) AS v
      |FROM (VALUES ('tiff'), ('zarr')) t(variant),
      |     range(6) a(y), range(8) b(x), range(3) c(s)
      |ORDER BY variant, y, x, s""".stripMargin

  // ---------------------------------------------------------------- b21
  /** Multimodal frame pipeline (the training-data shape for video-like
    * payloads): frame-sample every 2nd T plane → 2× mean-pool resize
    * (distributed poolHalf) → per-frame feature extraction (count / mean /
    * min / max over the resized pixels). Each stage is plane-table
    * composition — filter, groupBy pooling, explode + aggregate — so the
    * whole pipeline shuffles only for the pooling and the final per-frame
    * aggregate. The oracle replays sampling, pooling and features on the
    * regenerated grid (all arithmetic exact in doubles). */
  val b21FramePipeline: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(8, 6, 6))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = BioSpark.fromArray(spark, arr, Some("TYX"))
    val sampled = img.planes.filter(col("t") % 2 === 0) // frame-sample
    val resized = graft.core.Plane.poolHalf(sampled) // 2x mean-pool
    graft.core.Plane.pixels(resized)
      .groupBy(col("t").cast("long").as("t"))
      .agg(count(lit(1)).as("n_px"), avg(col("v")).as("mean_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .orderBy(col("t"))
  }

  val b21Oracle: String =
    """WITH px AS (SELECT t, y, x, CAST(t*100 + y*10 + x AS DOUBLE) AS v
      |  FROM range(8) a(t), range(6) b(y), range(6) c(x) WHERE t % 2 = 0),
      |p AS (SELECT t, y//2 AS py, x//2 AS qx, avg(v) AS pv
      |      FROM px GROUP BY 1, 2, 3)
      |SELECT t, count(*) AS n_px, avg(pv) AS mean_v,
      | min(pv) AS min_v, max(pv) AS max_v
      |FROM p GROUP BY t ORDER BY t""".stripMargin

  // ---------------------------------------------------------------- b22
  /** S16 + E14 rule end-to-end: a pixel-VALUE range scan over the plane
    * store. The query is written naturally (explode, then filter v); the
    * PushPixelValueFilter Catalyst rule rewrites the bounds against the
    * store's per-plane px_min/px_max so the parquet scan's row-group
    * statistics skip planes that cannot match. The oracle regenerates the
    * grid and applies the same value predicate. */
  val b22StoreValueScan: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(6, 5, 5))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = BioSpark.fromArray(spark, arr) // ZYX
    val uri = Scratch(spark, "b22").path("b22.graft")
    ParquetPlaneStore.save(img, uri)
    ParquetPlaneStore.pixelsInRange(spark, uri, 0, 0, 220.0, 410.0)
      .select(col("z").cast("long").as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("z"), col("y"), col("x"))
  }

  val b22Oracle: String =
    """SELECT z, y, x, CAST(z*100 + y*10 + x AS DOUBLE) AS v
      |FROM range(6) a(z), range(5) b(y), range(5) c(x)
      |WHERE z*100 + y*10 + x BETWEEN 220 AND 410
      |ORDER BY z, y, x""".stripMargin

  // ---------------------------------------------------------------- b23
  /** Multimodal audio-shape pipeline: a 1-D waveform plane framed into
    * non-overlapping 256-sample windows with per-frame RMS / peak /
    * loud-sample features, computed as HOF folds INSIDE the plane row —
    * no explode of individual samples, so a row shuffles at most once as
    * frames. A real audio source swaps the synthetic wave for a byte-
    * payload decode in the same position; the framing and feature
    * plumbing is unchanged. Arithmetic is exact end-to-end: samples are
    * small integers in doubles, the mean divides by a power of two, and
    * sqrt is correctly-rounded IEEE — so no rounding is needed. */
  val b23AudioFrames: Q = (spark, _) => {
    val n = 4096
    val frame = 256
    val arr = NDArray.tabulate(Seq(n))(idx =>
      ((idx(0) * idx(0)) % 97).toDouble)
    val img = BioSpark.fromArray(spark, arr) // 1-D → X
    img.planes
      .select(posexplode(transform(
        sequence(lit(0), lit(n / frame - 1)),
        f => slice(col("pixels"), f * frame + 1, lit(frame)))))
      .select(col("pos").cast("long").as("frame"), col("col").as("w"))
      .select(col("frame"),
        sqrt(aggregate(col("w"), lit(0.0), (a, x) => a + x * x)
          / frame).as("rms"),
        array_max(col("w")).as("peak"),
        size(filter(col("w"), x => x > 50)).cast("long").as("n_loud"))
      .orderBy(col("frame"))
  }

  val b23Oracle: String =
    """WITH s AS (SELECT i // 256 AS frame,
      |    CAST((i*i) % 97 AS DOUBLE) AS v
      |  FROM range(4096) t(i))
      |SELECT frame, sqrt(sum(v*v) / 256) AS rms, max(v) AS peak,
      | CAST(count(*) FILTER (WHERE v > 50) AS BIGINT) AS n_loud
      |FROM s GROUP BY frame ORDER BY frame""".stripMargin

  // ---------------------------------------------------------------- b24
  /** S12/S15 + P6: OME-TIFF SubIFD pyramid end-to-end — a formulaic 8×8
    * plane saved with pyramidLevels=2 (level 1 written as a SubIFD, tag
    * 330), re-opened through plugin resolution, level 1 selected, pixels
    * checked against the oracle's own 2×2 mean pooling. The TIFF analog
    * of b13 (parquet store) and the zarr multiscale path — the flagship
    * format's resolution-level API (bio_image.py:548-604). */
  val b24TiffPyramid: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(8, 8))(idx => idx(0) * 10.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = Scratch(spark, "b24").path("b24.ome.tiff")
    graft.writers.OmeTiffWriter.save(img, uri, None,
      graft.writers.TiffOptions(pyramidLevels = 2))
    val back = BioSpark.open(spark, uri)
    back.setResolutionLevel(1)
    back.getImagePixels()
      .select(col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        col("v"))
      .orderBy(col("y"), col("x"))
  }

  val b24Oracle: String =
    """SELECT y//2 AS y, x//2 AS x, avg(CAST(y*10 + x AS DOUBLE)) AS v
      |FROM range(8) a(y), range(8) b(x)
      |GROUP BY y//2, x//2 ORDER BY y, x""".stripMargin

  // ---------------------------------------------------------------- b25
  /** S13/S15 TimeSeriesWriter: a formulaic 4-frame T series saved as
    * animated GIF (per-frame 256-gray palette → exact for 8-bit values),
    * re-opened through plugin resolution (ImageIoReader stacks GIF
    * frames on T), frame count/order/pixels oracle-checked. */
  val b25GifTimeseries: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(4, 5, 6))(idx =>
      (idx(0) * 50 + idx(1) * 7 + idx(2)) % 256)
    val img = BioSpark.fromArray(spark, arr, Some("TYX"))
    val uri = Scratch(spark, "b25").path("b25.gif")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    back.getImagePixels()
      .select(col("t").cast("long").as("t"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("t"), col("y"), col("x"))
  }

  val b25Oracle: String =
    """SELECT t, y, x, CAST((t*50 + y*7 + x) % 256 AS DOUBLE) AS v
      |FROM range(4) a(t), range(5) b(y), range(6) c(x)
      |ORDER BY t, y, x""".stripMargin

  // ---------------------------------------------------------------- b26
  /** S12/S15 zarr v3 WRITE end-to-end: the same formulaic CYX image saved
    * (a) as a plain v3 store (zarr.json nodes, NGFF 0.5, gzip codec,
    * default "c"-prefix chunk keys) and (b) as a v3 `sharding_indexed`
    * store (whole-plane shards of 4x4 inner chunks, crc32c end index,
    * ragged 5x7 plane → padded 8x8 shard) and (c) with an explicit 4x4
    * stored-chunk grid (`chunk`, the large-plane geometry) — all
    * re-opened through plugin resolution and checked against the
    * regenerating oracle. The writer analog of the hand-built v3 read
    * fixtures behind the b19 family. */
  val b26ZarrV3Write: Q = (spark, _) => {
    import graft.writers.ZarrWriter
    val scratch = Scratch(spark, "b26")
    val arr = NDArray.tabulate(Seq(2, 5, 7))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    val uriP = scratch.path("v3.ome.zarr")
    ZarrWriter.save(img, uriP, None, levels = 1,
      compressor = Some("gzip"), format = 3)
    val uriS = scratch.path("v3shard.ome.zarr")
    ZarrWriter.save(img, uriS, None, levels = 1, compressor = None,
      format = 3, shardInner = Some((4, 4)))
    val uriC = scratch.path("v3chunk.ome.zarr")
    ZarrWriter.save(img, uriC, None, levels = 1, compressor = None,
      format = 3, shardInner = None, chunk = Some((4, 4)))
    Seq(("v3", uriP), ("v3_sharded", uriS), ("v3_chunked", uriC))
      .map { case (variant, uri) =>
      BioSpark.open(spark, uri).getImagePixels()
        .select(lit(variant).as("variant"),
          col("c").cast("long").as("c"), col("y").cast("long").as("y"),
          col("x").cast("long").as("x"), col("v"))
    }.reduce(_ unionByName _)
      .orderBy(col("variant"), col("c"), col("y"), col("x"))
  }

  val b26Oracle: String =
    """SELECT variant, c, y, x, CAST(c*100 + y*10 + x AS DOUBLE) AS v
      |FROM (VALUES ('v3'), ('v3_sharded'), ('v3_chunked')) t(variant),
      |     range(2) a(c), range(5) b(y), range(7) d(x)
      |ORDER BY variant, c, y, x""".stripMargin

  // ---------------------------------------------------------------- b27
  /** S13/S15 TwoDWriter breadth (the reference registry's `.png, .bmp,
    * .jpg` row): gray and RGB planes written as BMP — lossless for 8-bit
    * payloads, so fully hash-checkable — re-opened through plugin
    * resolution (magic-byte probe → ImageIoReader) and checked against
    * the regenerating oracle. JPEG (DCT-lossy) ships under the
    * decode-equality spec contract instead. */
  val b27BmpRoundtrip: Q = (spark, _) => {
    val scratch = Scratch(spark, "b27")
    val gray = NDArray.tabulate(Seq(5, 6))(idx =>
      (idx(0) * 40 + idx(1) * 7) % 256)
    val uriG = scratch.path("gray.bmp")
    BioSpark.fromArray(spark, gray).save(uriG)
    val rgb = NDArray.tabulate(Seq(4, 5, 3))(idx =>
      (idx(0) * 50 + idx(1) * 11 + idx(2) * 3) % 256)
    val uriR = scratch.path("rgb.bmp")
    new graft.image.BioImage(spark,
      new ArrayLikeReader(Seq(rgb), Seq(Some("YXS")), Seq(None))).save(uriR)
    val g = BioSpark.open(spark, uriG).getImagePixels()
      .select(lit("gray").as("variant"),
        col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        lit(0L).as("s"), col("v"))
    val r = BioSpark.open(spark, uriR).getImagePixels()
      .select(lit("rgb").as("variant"),
        col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        col("s").cast("long").as("s"), col("v"))
    g.unionByName(r).orderBy(col("variant"), col("y"), col("x"), col("s"))
  }

  val b27Oracle: String =
    """SELECT variant, y, x, s, v FROM (
      |  SELECT 'gray' AS variant, y, x, 0 AS s,
      |    CAST((y*40 + x*7) % 256 AS DOUBLE) AS v
      |  FROM range(5) a(y), range(6) b(x)
      |  UNION ALL
      |  SELECT 'rgb', y, x, s, CAST((y*50 + x*11 + s*3) % 256 AS DOUBLE)
      |  FROM range(4) a(y), range(5) b(x), range(3) c(s))
      |ORDER BY variant, y, x, s""".stripMargin

  // ---------------------------------------------------------------- b28
  /** S15 options facade under the oracle gate: the same `save()` entry a
    * reference user calls, carrying writer-specific knobs through the
    * options map — a sharded zstd multiscale zarr v3 store and a tiled
    * deflate pyramid OME-TIFF — re-opened through plugin resolution and
    * hash-checked against the regenerating oracle. */
  val b28SaveOptions: Q = (spark, _) => {
    val scratch = Scratch(spark, "b28")
    val arr = NDArray.tabulate(Seq(2, 6, 8))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    val uriZ = scratch.path("b28.ome.zarr")
    img.save(uriZ, None, Map(
      "levels" -> "2", "compressor" -> "zstd", "shardInner" -> "4x4"))
    val uriT = scratch.path("b28.ome.tiff")
    img.save(uriT, None, Map(
      "compression" -> "deflate", "tile" -> "16x16",
      "pyramidLevels" -> "2"))
    Seq(("zarr_sharded", uriZ), ("tiff_tiled", uriT))
      .map { case (variant, uri) =>
        BioSpark.open(spark, uri).getImagePixels()
          .select(lit(variant).as("variant"),
            col("c").cast("long").as("c"), col("y").cast("long").as("y"),
            col("x").cast("long").as("x"), col("v"))
      }.reduce(_ unionByName _)
      .orderBy(col("variant"), col("c"), col("y"), col("x"))
  }

  val b28Oracle: String =
    """SELECT variant, c, y, x, CAST(c*100 + y*10 + x AS DOUBLE) AS v
      |FROM (VALUES ('zarr_sharded'), ('tiff_tiled')) t(variant),
      |     range(2) a(c), range(6) b(y), range(8) d(x)
      |ORDER BY variant, c, y, x""".stripMargin

  // ---------------------------------------------------------------- b29
  /** E12 preprocessing: per-plane standardization (the vision-training
    * normalize step) as a distributed two-pass transform over the pixel
    * table — per-plane moment sums, then a map-only z-score joined back
    * by plane key. Pixels are small integers, so the double moment sums
    * are EXACT regardless of accumulation order (every partial sum is
    * exactly representable), and the per-row z arithmetic is the same
    * IEEE expression on both engines — no rounding needed anywhere. */
  val b29PlaneNormalize: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(2, 6, 8))(idx =>
      ((idx(0) * 7 + idx(1) * 5 + idx(2) * 3) % 17).toDouble)
    val px = BioSpark.fromArray(spark, arr, Some("CYX")).getImagePixels()
    val m = px.groupBy(col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sm"),
        sum(col("v") * col("v")).as("sm2"))
    val mean = col("sm") / col("cnt")
    px.join(broadcast(m), "c")
      .select(col("c").cast("long").as("c"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"),
        ((col("v") - mean) /
          sqrt(col("sm2") / col("cnt") - mean * mean)).as("z"))
      .orderBy(col("c"), col("y"), col("x"))
  }

  val b29Oracle: String =
    """WITH p AS (SELECT c, y, x,
      |  CAST((c*7 + y*5 + x*3) % 17 AS DOUBLE) AS v
      |  FROM range(2) a(c), range(6) b(y), range(8) d(x)),
      |m AS (SELECT c, count(*) AS n, sum(v) AS s, sum(v*v) AS s2
      |  FROM p GROUP BY c)
      |SELECT p.c, p.y, p.x,
      | (v - s/n) / sqrt(s2/n - (s/n)*(s/n)) AS z
      |FROM p JOIN m USING (c) ORDER BY c, y, x""".stripMargin

  // ---------------------------------------------------------------- b30
  /** E12 QC: per-plane fixed-bin pixel histogram (the exposure /
    * saturation check run before an imaging batch enters training). The
    * 8-bin counts are folded INSIDE the plane row — one `aggregate` over
    * the pixel array building a bin-count vector, O(bins) per pixel with
    * no per-pixel explode — so the pass is map-only per plane and only
    * |planes|·bins tiny rows ever move. The oracle regenerates the grid,
    * buckets in SQL, and LEFT-joins a dense bin spine so empty bins
    * compare as explicit zeros. */
  val b30PlaneHistogram: Q = (spark, _) => {
    val nb = 8
    val arr = NDArray.tabulate(Seq(2, 6, 8))(idx =>
      ((idx(0) * 11 + idx(1) * 13 + idx(2) * 7) % 32).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    val hist = aggregate(col("pixels"),
      array_repeat(lit(0L), nb),
      (acc, v) => zip_with(acc, sequence(lit(0L), lit(nb - 1L)),
        (a, b) => a + when(floor(v / 4).cast("long") === b, 1L)
          .otherwise(0L)))
    img.planes
      .select(col("c").cast("long").as("c"), posexplode(hist))
      .select(col("c"), col("pos").cast("long").as("bin"),
        col("col").as("n_px"))
      .orderBy(col("c"), col("bin"))
  }

  val b30Oracle: String =
    """WITH p AS (SELECT c, CAST((c*11 + y*13 + x*7) % 32 AS DOUBLE) AS v
      |  FROM range(2) a(c), range(6) b(y), range(8) d(x)),
      |h AS (SELECT c, CAST(floor(v/4) AS BIGINT) AS bin, count(*) AS n
      |  FROM p GROUP BY 1, 2),
      |bins AS (SELECT c, bin FROM range(2) a(c), range(8) t(bin))
      |SELECT bins.c, bins.bin, CAST(coalesce(h.n, 0) AS BIGINT) AS n_px
      |FROM bins LEFT JOIN h ON bins.c = h.c AND bins.bin = h.bin
      |ORDER BY bins.c, bins.bin""".stripMargin

  // ---------------------------------------------------------------- b31
  /** E12 feature extraction: 3×3 Sobel edge energy per plane — the
    * canonical convolution preprocessing step (edge/blur/sharpness
    * screens before an imaging batch enters training). The whole kernel
    * runs IN-ROW: one index HOF over interior positions reads the 3×3
    * neighborhood from the flat pixel array and folds |gx|+|gy| —
    * map-only per plane, no per-pixel explode, same scale shape as
    * b23/b29/b30. Pixel values are small integers carried in doubles,
    * so every kernel sum is exact and the outputs cast to int64
    * losslessly. */
  val b31SobelEdges: Q = (spark, _) => {
    val h = 6
    val w = 8
    val arr = NDArray.tabulate(Seq(2, h, w))(idx =>
      ((idx(0) * 7 + idx(1) * 5 + idx(2) * 3) % 23).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    def px(y: Column, x: Column): Column =
      element_at(col("pixels"), (y * w + x + 1).cast("int"))
    val mags = transform(sequence(lit(0), lit((h - 2) * (w - 2) - 1)), k => {
      // Column `/` is double division; floor+cast keeps the index exact
      val y = (floor(k.cast("double") / (w - 2)) + 1).cast("int")
      val x = (pmod(k, lit(w - 2)) + 1).cast("int")
      val gx = px(y - 1, x + 1) + px(y, x + 1) * 2 + px(y + 1, x + 1) -
        px(y - 1, x - 1) - px(y, x - 1) * 2 - px(y + 1, x - 1)
      val gy = px(y + 1, x - 1) + px(y + 1, x) * 2 + px(y + 1, x + 1) -
        px(y - 1, x - 1) - px(y - 1, x) * 2 - px(y - 1, x + 1)
      abs(gx) + abs(gy)
    })
    img.planes
      .select(col("c").cast("long").as("c"), mags.as("mags"))
      .select(col("c"), size(col("mags")).cast("long").as("n_px"),
        aggregate(col("mags"), lit(0.0), (a, m) => a + m)
          .cast("long").as("mag_sum"),
        array_max(col("mags")).cast("long").as("mag_max"))
      .orderBy(col("c"))
  }

  val b31Oracle: String =
    """WITH i AS (SELECT c, y, x
      |  FROM range(2) a(c), range(1, 5) b(y), range(1, 7) d(x)),
      |m AS (SELECT c, y, x,
      |  abs( (c*7+(y-1)*5+(x+1)*3)%23 + 2*((c*7+y*5+(x+1)*3)%23)
      |     + (c*7+(y+1)*5+(x+1)*3)%23 - (c*7+(y-1)*5+(x-1)*3)%23
      |     - 2*((c*7+y*5+(x-1)*3)%23) - (c*7+(y+1)*5+(x-1)*3)%23 )
      |  + abs( (c*7+(y+1)*5+(x-1)*3)%23 + 2*((c*7+(y+1)*5+x*3)%23)
      |     + (c*7+(y+1)*5+(x+1)*3)%23 - (c*7+(y-1)*5+(x-1)*3)%23
      |     - 2*((c*7+(y-1)*5+x*3)%23) - (c*7+(y-1)*5+(x+1)*3)%23 ) AS mag
      |  FROM i)
      |SELECT c, count(*) AS n_px, CAST(sum(mag) AS BIGINT) AS mag_sum,
      | CAST(max(mag) AS BIGINT) AS mag_max
      |FROM m GROUP BY c ORDER BY c""".stripMargin

  // ---------------------------------------------------------------- b32
  /** S12/S13 `.npy` interchange end-to-end: a formulaic ZYX stack and a
    * trailing-S RGB plane saved as numpy array files through the
    * extension-dispatch facade, re-opened through plugin resolution
    * (magic-probe → NpyReader, rank → dim-order guess: 5D→TCZYX,
    * 6D→TCZYXS), pixels hash-checked against the regenerating oracle.
    * The npy pair is the file form of the ArrayLike domain
    * (array_like_reader.py:29-66) and the tensor interchange a
    * training-data pipeline actually passes around (embedding matrices,
    * feature stacks); cross-engine byte compatibility with numpy itself
    * is pinned in NpySpec. */
  val b32NpyRoundtrip: Q = (spark, _) => {
    val scratch = Scratch(spark, "b32")
    val zyx = NDArray.tabulate(Seq(2, 4, 5))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val uriZ = scratch.path("zyx.npy")
    BioSpark.fromArray(spark, zyx, Some("ZYX")).save(uriZ)
    val rgb = NDArray.tabulate(Seq(3, 4, 3))(idx =>
      idx(0) * 20.0 + idx(1) * 5.0 + idx(2))
    val uriR = scratch.path("yxs.npy")
    new graft.image.BioImage(spark,
      new ArrayLikeReader(Seq(rgb), Seq(Some("YXS")), Seq(None))).save(uriR)
    val z = BioSpark.open(spark, uriZ).getImagePixels()
      .select(lit("zyx").as("variant"), col("z").cast("long").as("z"),
        col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        lit(0L).as("s"), col("v"))
    val r = BioSpark.open(spark, uriR).getImagePixels()
      .select(lit("yxs").as("variant"), lit(0L).as("z"),
        col("y").cast("long").as("y"), col("x").cast("long").as("x"),
        col("s").cast("long").as("s"), col("v"))
    z.unionByName(r)
      .orderBy(col("variant"), col("z"), col("y"), col("x"), col("s"))
  }

  val b32Oracle: String =
    """SELECT variant, z, y, x, s, v FROM (
      |  SELECT 'zyx' AS variant, z, y, x, 0 AS s,
      |    CAST(z*100 + y*10 + x AS DOUBLE) AS v
      |  FROM range(2) a(z), range(4) b(y), range(5) c(x)
      |  UNION ALL
      |  SELECT 'yxs', 0, y, x, s, CAST(y*20 + x*5 + s AS DOUBLE)
      |  FROM range(3) a(y), range(4) b(x), range(3) c(s))
      |ORDER BY variant, z, y, x, s""".stripMargin

  // ---------------------------------------------------------------- b37
  /** E12 augmentation path: the three geometric transforms a vision
    * training pipeline applies per sample — horizontal flip, 90°
    * clockwise rotation, center crop — each as ONE in-row index-HOF
    * `transform` over the flat row-major pixel array (pure index
    * remapping, no per-pixel explode until the final presentation
    * posexplode; map-only per plane, the b23/b29–b31/b33/b34 scale
    * shape). Emitted per-pixel so the oracle hash-checks the actual
    * remapped geometry — flip reverses x, rot90 transposes into a
    * (w×h) plane, crop offsets into the interior — not just counts. */
  val b37Augment: Q = (spark, _) => {
    val h = 6
    val w = 8
    val (ch, cw) = (4, 4) // center crop size
    val arr = NDArray.tabulate(Seq(2, h, w))(idx =>
      ((idx(0) * 7 + idx(1) * 5 + idx(2) * 3) % 23).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    def px(y: Column, x: Column): Column =
      element_at(col("pixels"), (y * w + x + 1).cast("int"))
    def idx(k: Column, rowW: Int): (Column, Column) =
      ((floor(k.cast("double") / rowW)).cast("int"),
        pmod(k, lit(rowW)).cast("int"))
    val hflip = transform(sequence(lit(0), lit(h * w - 1)), k => {
      val (y, x) = idx(k, w); px(y, lit(w - 1) - x)
    })
    val rot90 = transform(sequence(lit(0), lit(h * w - 1)), k => {
      // out is w rows × h cols; out(y, x) = in(h-1-x, y)
      val (y, x) = idx(k, h); px(lit(h - 1) - x, y)
    })
    val crop = transform(sequence(lit(0), lit(ch * cw - 1)), k => {
      val (y, x) = idx(k, cw)
      px(y + (h - ch) / 2, x + (w - cw) / 2)
    })
    def emit(variant: String, a: Column, rowW: Int) = img.planes
      .select(lit(variant).as("variant"), col("c").cast("long").as("c"),
        posexplode(a).as(Seq("pos", "v")))
      .select(col("variant"), col("c"),
        (col("pos") / rowW).cast("long").as("y"),
        pmod(col("pos"), lit(rowW)).cast("long").as("x"), col("v"))
    emit("crop", crop, cw)
      .unionByName(emit("hflip", hflip, w))
      .unionByName(emit("rot90", rot90, h))
      .orderBy(col("variant"), col("c"), col("y"), col("x"))
  }

  val b37Oracle: String =
    """SELECT variant, c, y, x, v FROM (
      |  SELECT 'hflip' AS variant, c, y, x,
      |    CAST((c*7 + y*5 + (7-x)*3) % 23 AS DOUBLE) AS v
      |  FROM range(2) a(c), range(6) b(y), range(8) d(x)
      |  UNION ALL
      |  SELECT 'rot90', c, y, x,
      |    CAST((c*7 + (5-x)*5 + y*3) % 23 AS DOUBLE)
      |  FROM range(2) a(c), range(8) b(y), range(6) d(x)
      |  UNION ALL
      |  SELECT 'crop', c, y, x,
      |    CAST((c*7 + (y+1)*5 + (x+2)*3) % 23 AS DOUBLE)
      |  FROM range(2) a(c), range(4) b(y), range(4) d(x))
      |ORDER BY variant, c, y, x""".stripMargin

  // ---------------------------------------------------------------- b38
  /** E12 Z-projection — the microscopy composite every viewer renders:
    * per channel, the MAX-intensity projection (MIP) and the exact SUM
    * projection over the Z stack. Scale shape: ONE shuffle on the
    * projection key (c) collects the stack's plane rows —
    * `collect_list(struct(z, pixels))` is bounded by Z depth, a
    * structural constant, not data volume — then the elementwise
    * combine is an in-row `aggregate` fold of `zip_with`
    * (greatest/plus) over the z-sorted arrays: no per-pixel explode,
    * no per-pixel shuffle keys, ever. Both projections are exact
    * integer math; the per-pixel oracle regenerates them from the
    * formula with SQL max/sum over the z range. */
  val b38ZProjection: Q = (spark, _) => {
    val (nz, h, w) = (3, 4, 5)
    val arr = NDArray.tabulate(Seq(2, nz, h, w))(idx =>
      ((idx(0) * 7 + idx(1) * 11 + idx(2) * 5 + idx(3) * 3) % 23).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CZYX"))
    val stack = img.planes
      .groupBy(col("c"))
      .agg(collect_list(struct(col("z"), col("pixels"))).as("zs"))
      .withColumn("ps", transform(array_sort(col("zs")), s => s("pixels")))
    val seed = element_at(col("ps"), 1)
    val rest = slice(col("ps"), 2, nz - 1)
    val proj = stack
      .withColumn("mip", aggregate(rest, seed,
        (acc, p) => zip_with(acc, p, (a, b) => greatest(a, b))))
      .withColumn("sump", aggregate(rest, seed,
        (acc, p) => zip_with(acc, p, (a, b) => a + b)))
    def emit(variant: String, a: Column) = proj
      .select(lit(variant).as("variant"), col("c").cast("long").as("c"),
        posexplode(a).as(Seq("pos", "v")))
      .select(col("variant"), col("c"),
        (col("pos") / w).cast("long").as("y"),
        pmod(col("pos"), lit(w)).cast("long").as("x"), col("v"))
    emit("max", col("mip")).unionByName(emit("sum", col("sump")))
      .orderBy(col("variant"), col("c"), col("y"), col("x"))
  }

  val b38Oracle: String =
    """WITH px AS (SELECT c, z, y, x,
      |    CAST((c*7 + z*11 + y*5 + x*3) % 23 AS DOUBLE) AS v
      |  FROM range(2) a(c), range(3) b(z), range(4) d(y), range(5) e(x)),
      |p AS (SELECT c, y, x, max(v) AS mx, sum(v) AS sm
      |  FROM px GROUP BY c, y, x)
      |SELECT variant, c, y, x, v FROM (
      |  SELECT 'max' AS variant, c, y, x, mx AS v FROM p
      |  UNION ALL
      |  SELECT 'sum', c, y, x, sm FROM p)
      |ORDER BY variant, c, y, x""".stripMargin

  // ---------------------------------------------------------------- b39
  /** E12→E10 bridge — patch embeddings into the ANN stack: each plane
    * tiles into non-overlapping 4×4 patches (b34's ViT patchify), every
    * patch becomes a 16-dim raw-pixel vector IN-ROW (transform over the
    * patch grid with index reads into the flat pixel array — no
    * per-pixel explode), and patches rank by cosine similarity against
    * a probe patch exactly as q37 ranks embedding rows. This is the
    * patch-retrieval / near-duplicate-tile shape of a multimodal
    * curation pipeline: once a patch is a vector column the ENTIRE
    * similarity surface (LSH q38, IVF q48, PQ q54, SemDeDup q111)
    * applies to imagery unchanged — only this projection is new. The
    * probe rides as one broadcast row; ranking is map-only + one
    * top-k window. */
  val b39PatchEmbed: Q = (spark, _) => {
    import org.apache.spark.sql.expressions.Window
    val (ny, nx, p) = (8, 16, 4)
    val (gpy, gpx) = (ny / p, nx / p) // 2 × 4 patch grid
    val arr = NDArray.tabulate(Seq(2, ny, nx))(idx =>
      ((idx(0) * 7 + idx(1) * 5 + idx(2) * 3) % 11 + 1).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    def vecOf(pid: Column): Column =
      transform(sequence(lit(0), lit(p * p - 1)), k => {
        // integer grid coordinates (Column./ is double division)
        val py = (pid / gpx).cast("int")
        val px = pmod(pid, lit(gpx))
        val dy = (k / p).cast("int")
        val dx = pmod(k, lit(p))
        element_at(col("pixels"),
          ((py * p + dy) * nx + (px * p + dx) + 1).cast("int"))
      })
    val patches = img.planes
      .select(col("c").cast("long").as("c"),
        posexplode(transform(sequence(lit(0), lit(gpy * gpx - 1)),
          pid => vecOf(pid))).as(Seq("patch_id", "vec")))
      .select(col("c"), col("patch_id").cast("long").as("patch_id"),
        col("vec"))
    val probe = patches
      .filter(col("c") === 0 && col("patch_id") === 0)
      .select(col("vec").as("pv"))
    val w = Window.orderBy(col("cos").desc, col("c"), col("patch_id"))
    patches.crossJoin(broadcast(probe))
      .filter(!(col("c") === 0 && col("patch_id") === 0))
      .select(col("c"), col("patch_id"),
        graft.functions.CosineSimilarity(col("vec"), col("pv")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("rank"), col("c"), col("patch_id"), col("cos").as("cos_sim"))
      .orderBy(col("rank"))
  }

  val b39Oracle: String =
    """WITH px AS (SELECT c, y, x,
      |    CAST((c*7 + y*5 + x*3) % 11 + 1 AS DOUBLE) AS v
      |  FROM range(2) a(c), range(8) b(y), range(16) d(x)),
      |pp AS (SELECT c, (y // 4) * 4 + (x // 4) AS patch_id,
      |    (y % 4) * 4 + (x % 4) AS k, v FROM px),
      |vecs AS (SELECT c, patch_id, list(v ORDER BY k) AS vec
      |  FROM pp GROUP BY c, patch_id),
      |probe AS (SELECT vec AS pv FROM vecs WHERE c = 0 AND patch_id = 0),
      |s AS (SELECT c, patch_id,
      |    list_inner_product(vec, pv) /
      |      (sqrt(list_inner_product(vec, vec)) *
      |       sqrt(list_inner_product(pv, pv))) AS cos
      |  FROM vecs, probe WHERE NOT (c = 0 AND patch_id = 0)),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY cos DESC, c,
      |    patch_id) AS BIGINT) AS rank FROM s)
      |SELECT rank, CAST(c AS BIGINT) AS c,
      | CAST(patch_id AS BIGINT) AS patch_id, cos AS cos_sim
      |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- b40
  /** Temporal frame differencing — the motion-energy / scene-cut screen
    * of a video-frame curation pipeline (frame-sampling b21 picks
    * frames; this decides WHICH frames changed enough to keep): per
    * channel, consecutive T frames pair via one `lag(pixels)` window
    * over the (c)-partitioned plane rows, |Δ| folds in-row with
    * zip_with + aggregate (no per-pixel explode), and a frame flags as
    * a cut when its mean |Δ| clears a threshold. One c-key exchange
    * total — at video scale each clip's frames co-locate by clip key
    * and the window never crosses clips; the pixel math is all in-row
    * HOFs inside whole-stage codegen. The channel term in the
    * synthetic pixels separates the two channels' motion energy
    * (means ~8.5–10.6 vs ~11.1–13.2), so both flag values appear. */
  val b40MotionEnergy: Q = (spark, _) => {
    import org.apache.spark.sql.expressions.Window
    val (nt, h, w) = (4, 4, 5)
    val arr = NDArray.tabulate(Seq(2, nt, h, w))(idx =>
      ((idx(0) * 13 + idx(1) * idx(1) * 7 + idx(2) * 5 + idx(3) * 3) % 29)
        .toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CTYX"))
    val win = Window.partitionBy(col("c")).orderBy(col("t"))
    img.planes
      .withColumn("prev", lag(col("pixels"), 1).over(win))
      .filter(col("prev").isNotNull)
      .withColumn("d", zip_with(col("pixels"), col("prev"),
        (a, b) => abs(a - b)))
      .select(col("c").cast("long").as("c"), col("t").cast("long").as("t"),
        aggregate(col("d"), lit(0.0d), (acc, v) => acc + v).as("sum_abs"),
        array_max(col("d")).as("max_abs"))
      .withColumn("mean_abs", col("sum_abs") / (h * w))
      .withColumn("cut", col("mean_abs") > lit(11.0d))
      .orderBy(col("c"), col("t"))
  }

  val b40Oracle: String =
    """WITH px AS (SELECT c, t, y, x,
      |    CAST((c*13 + t*t*7 + y*5 + x*3) % 29 AS DOUBLE) AS v
      |  FROM range(2) a(c), range(4) b(t), range(4) d(y), range(5) e(x)),
      |d AS (SELECT p.c, p.t, abs(p.v - q.v) AS dv FROM px p JOIN px q
      |  ON p.c = q.c AND p.y = q.y AND p.x = q.x AND q.t = p.t - 1)
      |SELECT c, t, sum(dv) AS sum_abs, max(dv) AS max_abs,
      | sum(dv) / 20 AS mean_abs, sum(dv) / 20 > 11.0 AS cut
      |FROM d GROUP BY c, t ORDER BY c, t""".stripMargin

  // ---------------------------------------------------------------- b41
  /** Percentile contrast stretch — the vision-preprocessing normalize
    * that b29's z-score doesn't cover: per plane, the 2nd/98th
    * percentile bounds come from the plane's OWN sorted pixel array
    * (exact rank pick — `sort_array` + element_at, no sketch, no
    * cross-plane state), then every pixel rescales to ⌊(v−lo)·255 /
    * (hi−lo)⌋ clamped to [0,255]. Entirely in-row: one sort of a
    * plane-sized array + two index reads + one transform fold, all
    * inside codegen — at fleet scale the normalize is free map work
    * exactly like b29/b30. The emitted checksum (sum/min/max of the
    * stretched plane) pins every output pixel. */
  val b41PercentileStretch: Q = (spark, _) => {
    val (h, w) = (8, 8)
    val n = h * w
    val kLo = math.ceil(0.02 * n).toInt // 2nd percentile rank
    val kHi = math.ceil(0.98 * n).toInt // 98th
    val arr = NDArray.tabulate(Seq(2, h, w))(idx =>
      ((idx(0) * 31 + idx(1) * 7 + idx(2) * 13) % 97).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    img.planes
      .withColumn("sorted", sort_array(col("pixels")))
      .withColumn("lo", element_at(col("sorted"), kLo))
      .withColumn("hi", element_at(col("sorted"), kHi))
      .withColumn("sv", transform(col("pixels"), v =>
        greatest(lit(0.0d), least(lit(255.0d),
          floor((v - col("lo")) * 255.0d / (col("hi") - col("lo")))))))
      .select(col("c").cast("long").as("c"), col("lo"), col("hi"),
        aggregate(col("sv"), lit(0.0d), (acc, v) => acc + v).as("sum_sv"),
        array_min(col("sv")).as("min_sv"),
        array_max(col("sv")).as("max_sv"))
      .orderBy(col("c"))
  }

  val b41Oracle: String =
    """WITH px AS (SELECT c, y, x,
      |    CAST((c*31 + y*7 + x*13) % 97 AS DOUBLE) AS v
      |  FROM range(2) a(c), range(8) b(y), range(8) d(x)),
      |k AS (SELECT c, v, row_number() OVER (PARTITION BY c ORDER BY v)
      |    AS rn FROM px),
      |b AS (SELECT c, max(CASE WHEN rn = 2 THEN v END) AS lo,
      |    max(CASE WHEN rn = 63 THEN v END) AS hi FROM k GROUP BY c),
      |s AS (SELECT px.c, lo, hi,
      |    greatest(0, least(255,
      |      floor((v - lo) * 255 / (hi - lo)))) AS sv
      |  FROM px JOIN b USING (c))
      |SELECT c, lo, hi, sum(sv) AS sum_sv, min(sv) AS min_sv,
      | max(sv) AS max_sv
      |FROM s GROUP BY c, lo, hi ORDER BY c""".stripMargin

  // ---------------------------------------------------------------- b36
  /** S12/S13 `.mrc` (MRC2014) interchange end-to-end: a formulaic ZYX
    * volume (ISPG 1) and a TYX image stack (ISPG 0) saved through the
    * extension-dispatch facade, re-opened through plugin resolution
    * (MAP-tag + machine-stamp probe → MrcReader, sections → Z for the
    * volume, T for the stack per the MRC2014 ISPG split), pixels
    * hash-checked against the regenerating oracle. MRC is the cryo-EM
    * member of the reference's microscopy format family; byte-level
    * conformance to the published spec (both byte orders, all four
    * modes, extended-header skip) is pinned in MrcSpec. */
  val b36MrcRoundtrip: Q = (spark, _) => {
    val scratch = Scratch(spark, "b36")
    val vol = NDArray.tabulate(Seq(2, 4, 5))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val uriV = scratch.path("vol.mrc")
    BioSpark.fromArray(spark, vol, Some("ZYX")).save(uriV)
    val stack = NDArray.tabulate(Seq(3, 2, 4))(idx =>
      idx(0) * 50.0 + idx(1) * 8.0 + idx(2))
    val uriS = scratch.path("stack.mrc")
    BioSpark.fromArray(spark, stack, Some("TYX")).save(uriS)
    val v = BioSpark.open(spark, uriV).getImagePixels()
      .select(lit("vol").as("variant"), lit(0L).as("t"),
        col("z").cast("long").as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
    val s = BioSpark.open(spark, uriS).getImagePixels()
      .select(lit("stack").as("variant"), col("t").cast("long").as("t"),
        lit(0L).as("z"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
    v.unionByName(s)
      .orderBy(col("variant"), col("t"), col("z"), col("y"), col("x"))
  }

  val b36Oracle: String =
    """SELECT variant, t, z, y, x, v FROM (
      |  SELECT 'vol' AS variant, 0 AS t, z, y, x,
      |    CAST(z*100 + y*10 + x AS DOUBLE) AS v
      |  FROM range(2) a(z), range(4) b(y), range(5) c(x)
      |  UNION ALL
      |  SELECT 'stack', t, 0, y, x, CAST(t*50 + y*8 + x AS DOUBLE)
      |  FROM range(3) a(t), range(2) b(y), range(4) c(x))
      |ORDER BY variant, t, z, y, x""".stripMargin

  // ---------------------------------------------------------------- b33
  /** E12 segmentation-mask path: per-plane THRESHOLD MASK summarized as
    * flat run-length encoding stats — foreground pixel count, number of
    * maximal foreground runs, and the longest run, over the row-major
    * flat pixel array (the layout COCO-style RLE mask storage encodes).
    * The whole RLE scan is ONE in-row `aggregate` fold with a 4-field
    * struct accumulator (prev bit, current run, run count, max run) —
    * map-only per plane, no per-pixel explode, the b23/b29–b31 scale
    * shape. All quantities are small exact integers. */
  val b33MaskRle: Q = (spark, _) => {
    val thr = 5.0
    val arr = NDArray.tabulate(Seq(2, 6, 8))(idx =>
      ((idx(0) * 7 + idx(1) * 5 + idx(2) * 3) % 11).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    val zero = struct(lit(0L).as("prev"), lit(0L).as("run"),
      lit(0L).as("nruns"), lit(0L).as("maxrun"))
    val folded = aggregate(col("pixels"), zero, (acc, v) => {
      val bit = when(v > thr, 1L).otherwise(0L)
      val run = when(bit === 1L, acc.getField("run") + 1L).otherwise(0L)
      struct(bit.as("prev"),
        run.as("run"),
        (acc.getField("nruns") +
          when(bit === 1L && acc.getField("prev") === 0L, 1L)
            .otherwise(0L)).as("nruns"),
        greatest(acc.getField("maxrun"), run).as("maxrun"))
    })
    img.planes
      .select(col("c").cast("long").as("c"),
        size(filter(col("pixels"), v => v > thr)).cast("long").as("n_fg"),
        folded.getField("nruns").as("n_runs"),
        folded.getField("maxrun").as("max_run"))
      .orderBy(col("c"))
  }

  val b33Oracle: String =
    """WITH px AS (SELECT c, y*8 + x AS pos,
      |    CAST((c*7 + y*5 + x*3) % 11 AS DOUBLE) AS v
      |  FROM range(2) a(c), range(6) b(y), range(8) d(x)),
      |fg AS (SELECT c, pos,
      |    pos - row_number() OVER (PARTITION BY c ORDER BY pos) AS grp
      |  FROM px WHERE v > 5),
      |runs AS (SELECT c, grp, count(*) AS len FROM fg GROUP BY c, grp)
      |SELECT c, CAST(coalesce(sum(len), 0) AS BIGINT) AS n_fg,
      | CAST(count(*) AS BIGINT) AS n_runs,
      | CAST(coalesce(max(len), 0) AS BIGINT) AS max_run
      |FROM runs GROUP BY c ORDER BY c""".stripMargin

  // ---------------------------------------------------------------- b34
  /** E12 ViT-style patchify: each plane tiled into non-overlapping 4×4
    * patches with per-patch mean and max — the patch-embedding
    * preprocessing every vision-transformer ingest runs (and the patch
    * grid a quality screen scores). One in-row `transform` over the
    * patch grid computes each patch's fold by INDEX reads into the flat
    * pixel array (the b31 Sobel access pattern), then a single
    * posexplode turns the per-plane patch array into rows — fan-out =
    * patches/plane, map-only before it. Patch mean is sum/16: a
    * power-of-two division of an exact integer sum, bit-exact on both
    * engines. */
  val b34Patchify: Q = (spark, _) => {
    val h = 8
    val w = 12
    val p = 4
    val nPx = w / p
    val arr = NDArray.tabulate(Seq(2, h, w))(idx =>
      ((idx(0) * 3 + idx(1) * 7 + idx(2) * 5) % 17).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    val nPatches = (h / p) * nPx
    val patches = transform(sequence(lit(0), lit(nPatches - 1)), pi => {
      val py = (pi / nPx).cast("int")
      val px = pmod(pi, lit(nPx)).cast("int")
      val stats = aggregate(sequence(lit(0), lit(p * p - 1)),
        struct(lit(0.0).as("s"), lit(Double.MinValue).as("mx")),
        (acc, k) => {
          val y = py * p + (k / p).cast("int")
          val x = px * p + pmod(k, lit(p)).cast("int")
          val v = element_at(col("pixels"), (y * w + x + 1).cast("int"))
          struct((acc.getField("s") + v).as("s"),
            greatest(acc.getField("mx"), v).as("mx"))
        })
      struct(py.as("py"), px.as("px"),
        (stats.getField("s") / (p * p)).as("mean"),
        stats.getField("mx").as("mx"))
    })
    img.planes
      .select(col("c").cast("long").as("c"),
        posexplode(patches).as(Seq("pos", "pt")))
      .select(col("c"),
        col("pt.py").cast("long").as("py"),
        col("pt.px").cast("long").as("px"),
        col("pt.mean").as("patch_mean"),
        col("pt.mx").as("patch_max"))
      .orderBy(col("c"), col("py"), col("px"))
  }

  val b34Oracle: String =
    """SELECT c, y//4 AS py, x//4 AS px,
      | avg(CAST((c*3 + y*7 + x*5) % 17 AS DOUBLE)) AS patch_mean,
      | max(CAST((c*3 + y*7 + x*5) % 17 AS DOUBLE)) AS patch_max
      |FROM range(2) a(c), range(8) b(y), range(12) d(x)
      |GROUP BY c, y//4, x//4 ORDER BY c, py, px""".stripMargin

  // ---------------------------------------------------------------- b35
  /** S12/S15 `.npz` MULTI-SCENE interchange: a two-scene image (a 2D
    * plane and a 3D stack — different ranks, so the per-member dim
    * guess is exercised too) saved as one numpy zip archive through the
    * facade, re-opened through plugin resolution (PK magic → NpzReader,
    * each member one scene in archive order), both scenes selected BY ID
    * and pixel-checked. The np.savez shape of the reference's
    * list-of-arrays multi-scene constructor
    * (array_like_reader.py:165-230). */
  val b35NpzRoundtrip: Q = (spark, _) => {
    val a = NDArray.tabulate(Seq(3, 5))(idx => idx(0) * 10.0 + idx(1))
    val b = NDArray.tabulate(Seq(2, 3, 4))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = new graft.image.BioImage(spark,
      new ArrayLikeReader(Seq(a, b), Seq(Some("YX"), Some("ZYX")),
        Seq(None, None)))
    val uri = Scratch(spark, "b35").path("b35.npz")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    Seq(("Image:0", 0L), ("Image:1", 1L)).map { case (id, tag) =>
      back.setScene(id)
      back.getImagePixels()
        .select(lit(tag).as("scene"), col("z").cast("long").as("z"),
          col("y").cast("long").as("y"), col("x").cast("long").as("x"),
          col("v"))
    }.reduce(_ unionByName _)
      .orderBy(col("scene"), col("z"), col("y"), col("x"))
  }

  val b35Oracle: String =
    """SELECT scene, z, y, x, v FROM (
      |  SELECT 0 AS scene, 0 AS z, y, x, CAST(y*10 + x AS DOUBLE) AS v
      |  FROM range(3) a(y), range(5) b(x)
      |  UNION ALL
      |  SELECT 1, z, y, x, CAST(z*100 + y*10 + x AS DOUBLE)
      |  FROM range(2) a(z), range(3) b(y), range(4) c(x))
      |ORDER BY scene, z, y, x""".stripMargin

  // ---------------------------------------------------------------- b42
  /** E12→E9 bridge — PERCEPTUAL near-duplicate detection for imagery:
    * each plane reduces IN-ROW to a 64-bit dHash (2×2 block-mean
    * downsample of the 16×18 plane to an 8×9 grid, then each bit =
    * "left block brighter than its right neighbor" — the
    * difference-hash every image-dedup pipeline runs before training),
    * and near-dups surface by HAMMING distance, never pixel compare.
    * The scale shape is the LSH discipline of q38/q40 applied to
    * images: the hash is kept as 8×8-bit BANDS, candidates are pairs
    * sharing ANY band value (map-side band-key join — by pigeonhole a
    * pair within Hamming ≤ 7 shares at least one intact band, so the
    * ≤ 6 verify threshold is LOSSLESS), and only candidates pay the
    * 8-term Hamming fold. At 100 TB the band join shuffles 2-byte
    * buckets, not planes. The fixture plants an exact duplicate
    * (c5 ≡ c1, Hamming 0) and a perturbed near-dup (c3 = c0 + a
    * diagonal +1 stripe, Hamming 5); unrelated planes sit far beyond
    * the threshold. The oracle regenerates pixels → block sums → bits →
    * all-pairs Hamming relationally. */
  val b42PerceptualHash: Q = (spark, _) => {
    val (nc, h, w) = (6, 16, 18)
    val arr = NDArray.tabulate(Seq(nc, h, w)) { idx =>
      val (c, y, x) = (idx(0), idx(1), idx(2))
      val cc = if (c == 3) 0 else if (c == 5) 1 else c
      val base = (cc * 37 + y * 13 + x * 7) % 29
      (base + (if (c == 3 && (x + y) % 9 == 0) 1 else 0)).toDouble
    }
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    val hashed = img.planes.selectExpr("CAST(c AS BIGINT) AS c",
      // 2x2 block sums (8 rows x 9 cols); comparisons on sums == on means
      """transform(sequence(0, 71), b ->
        |  element_at(pixels, CAST((b DIV 9) * 36 + (b % 9) * 2 + 1 AS INT)) +
        |  element_at(pixels, CAST((b DIV 9) * 36 + (b % 9) * 2 + 2 AS INT)) +
        |  element_at(pixels, CAST((b DIV 9) * 36 + (b % 9) * 2 + 19 AS INT)) +
        |  element_at(pixels, CAST((b DIV 9) * 36 + (b % 9) * 2 + 20 AS INT))) AS bs
        |""".stripMargin)
      .selectExpr("c",
        """transform(sequence(0, 7), k ->
          |  aggregate(sequence(0, 7), 0, (acc, j) -> acc * 2 +
          |    IF(element_at(bs,
          |        CAST((k * 8 + j) DIV 8 * 9 + (k * 8 + j) % 8 + 1 AS INT))
          |     > element_at(bs,
          |        CAST((k * 8 + j) DIV 8 * 9 + (k * 8 + j) % 8 + 2 AS INT)),
          |      1, 0))) AS bands
          |""".stripMargin)
    val bandRows = hashed.select(col("c"),
      posexplode(col("bands")).as(Seq("k", "b")))
    val cand = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.k") === col("y.k") && col("x.b") === col("y.b") &&
          col("x.c") < col("y.c"))
      .select(col("x.c").as("c_a"), col("y.c").as("c_b"))
      .distinct()
    cand
      .join(broadcast(hashed.select(col("c").as("c_a"),
        col("bands").as("ba"))), "c_a")
      .join(broadcast(hashed.select(col("c").as("c_b"),
        col("bands").as("bb"))), "c_b")
      .selectExpr("c_a", "c_b",
        "CAST(aggregate(zip_with(ba, bb, (x, v) -> bit_count(x ^ v)), " +
          "0, (a, v) -> a + v) AS BIGINT) AS hamming")
      .filter(col("hamming") <= 6)
      .orderBy(col("c_a"), col("c_b"))
  }

  val b42Oracle: String =
    """WITH px AS (SELECT c, y, x, CASE
      |    WHEN c = 3 THEN (y*13 + x*7) % 29 +
      |      CASE WHEN (x + y) % 9 = 0 THEN 1 ELSE 0 END
      |    WHEN c = 5 THEN (37 + y*13 + x*7) % 29
      |    ELSE (c*37 + y*13 + x*7) % 29 END AS v
      |  FROM range(6) a(c), range(16) b(y), range(18) d(x)),
      |bs AS (SELECT c, y // 2 AS by, x // 2 AS bx, sum(v) AS s
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (SELECT l.c, l.by * 8 + l.bx AS i,
      |    CASE WHEN l.s > r.s THEN 1 ELSE 0 END AS bit
      |  FROM bs l JOIN bs r ON l.c = r.c AND l.by = r.by
      |    AND r.bx = l.bx + 1
      |  WHERE l.bx < 8),
      |ham AS (SELECT a.c AS c_a, b.c AS c_b,
      |    CAST(sum(abs(a.bit - b.bit)) AS BIGINT) AS hamming
      |  FROM bits a JOIN bits b ON a.i = b.i AND a.c < b.c
      |  GROUP BY 1, 2)
      |SELECT CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
      | hamming
      |FROM ham WHERE hamming <= 6 ORDER BY c_a, c_b""".stripMargin

  // ---------------------------------------------------------------- b43
  /** 1-level 2-D Haar wavelet subband energies — the texture /
    * compressibility screen of an image-curation pipeline (flat tiles
    * compress to nothing and train nothing; high-detail tiles carry
    * the signal): per plane, each 2×2 block folds to its four Haar
    * coefficients (LL average mass, LH horizontal, HL vertical, HH
    * diagonal detail — pure adds/subtracts, EXACT in integer-valued
    * doubles, no libm anywhere), and the per-subband absolute sums
    * plus the detail-to-DC ratio come from one in-row fold over the
    * 4×4 block grid. Map-only per plane — at 100 TB this is a free
    * rider on any scan, and the ratio is the one-number keep/drop
    * signal. The oracle regenerates pixels → per-block coefficients →
    * subband sums relationally. */
  val b43HaarEnergy: Q = (spark, _) => {
    val (nc, h, w) = (3, 8, 8)
    val arr = NDArray.tabulate(Seq(nc, h, w))(idx =>
      ((idx(0) * 31 + idx(1) * idx(1) * 3 + idx(2) * idx(2) * 5 +
        idx(1) * idx(2)) % 23).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    img.planes.selectExpr("CAST(c AS BIGINT) AS c",
      // per block (4x4 grid): [a b / c d] -> (ll, lh, hl, hh)
      """transform(sequence(0, 15), bk -> named_struct(
        |  'a', element_at(pixels, CAST((bk DIV 4) * 16 + (bk % 4) * 2 + 1 AS INT)),
        |  'b', element_at(pixels, CAST((bk DIV 4) * 16 + (bk % 4) * 2 + 2 AS INT)),
        |  'cc', element_at(pixels, CAST((bk DIV 4) * 16 + (bk % 4) * 2 + 9 AS INT)),
        |  'd', element_at(pixels, CAST((bk DIV 4) * 16 + (bk % 4) * 2 + 10 AS INT)))) AS blk
        |""".stripMargin)
      .selectExpr("c",
        "CAST(aggregate(blk, CAST(0.0 AS DOUBLE), (s, p) -> " +
          "s + p.a + p.b + p.cc + p.d) AS BIGINT) AS e_ll",
        "CAST(aggregate(blk, CAST(0.0 AS DOUBLE), (s, p) -> " +
          "s + abs(p.a + p.cc - p.b - p.d)) AS BIGINT) AS e_lh",
        "CAST(aggregate(blk, CAST(0.0 AS DOUBLE), (s, p) -> " +
          "s + abs(p.a + p.b - p.cc - p.d)) AS BIGINT) AS e_hl",
        "CAST(aggregate(blk, CAST(0.0 AS DOUBLE), (s, p) -> " +
          "s + abs(p.a - p.b - p.cc + p.d)) AS BIGINT) AS e_hh")
      .selectExpr("c", "e_ll", "e_lh", "e_hl", "e_hh",
        "(100 * (e_lh + e_hl + e_hh)) DIV e_ll AS texture_x100")
      .orderBy(col("c"))
  }

  val b43Oracle: String =
    """WITH px AS (SELECT c, y, x,
      |    CAST((c*31 + y*y*3 + x*x*5 + y*x) % 23 AS DOUBLE) AS v
      |  FROM range(3) a(c), range(8) b(y), range(8) d(x)),
      |blk AS (SELECT c, y // 2 AS by, x // 2 AS bx,
      |    sum(v) AS ll,
      |    sum(CASE WHEN x % 2 = 0 THEN v ELSE -v END) AS lh,
      |    sum(CASE WHEN y % 2 = 0 THEN v ELSE -v END) AS hl,
      |    sum(CASE WHEN (x + y) % 2 = 0 THEN v ELSE -v END) AS hh
      |  FROM px GROUP BY 1, 2, 3),
      |e AS (SELECT c, CAST(sum(ll) AS BIGINT) AS e_ll,
      |    CAST(sum(abs(lh)) AS BIGINT) AS e_lh,
      |    CAST(sum(abs(hl)) AS BIGINT) AS e_hl,
      |    CAST(sum(abs(hh)) AS BIGINT) AS e_hh
      |  FROM blk GROUP BY c)
      |SELECT CAST(c AS BIGINT) AS c, e_ll, e_lh, e_hl, e_hh,
      | (100 * (e_lh + e_hl + e_hh)) // e_ll AS texture_x100
      |FROM e ORDER BY c""".stripMargin

  // ---------------------------------------------------------------- b44
  /** WebDataset-style `.tar` training-shard roundtrip — the container
    * multimodal corpora actually ship in: a two-scene image (gray YX +
    * RGB YXS) saves as one shard of PNG members with `.txt` sidecar
    * members keyed per sample (the WebDataset grouping convention),
    * reopens through plugin resolution (ustar magic probe picks
    * TarReader), and each sample's pixels AND its sidecar metadata are
    * verified — the sidecar rides back as the scene's raw metadata.
    * Shards are the unit of scale for multimodal training I/O: each
    * one is interchange-sized and the fleet of shards fans out across
    * executors; this pins the single-shard encode/decode contract both
    * directions. */
  val b44TarShard: Q = (spark, _) => {
    val gray = NDArray.tabulate(Seq(5, 7))(idx =>
      ((idx(0) * 11 + idx(1) * 3) % 251).toDouble)
    val rgb = NDArray.tabulate(Seq(4, 6, 3))(idx =>
      ((idx(0) * 7 + idx(1) * 5 + idx(2) * 13) % 251).toDouble)
    val img = new graft.image.BioImage(spark, ArrayLikeReader.multi(
      Seq(gray, rgb), dimOrders = Seq(Some("YX"), Some("YXS"))))
    val uri = Scratch(spark, "b44").path("b44.tar")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    val metaRows = back.scenes.zipWithIndex.map { case (key, i) =>
      back.setScene(key)
      val sidecar = back.meta.rawMetadata.getOrElse("")
      Seq((key, sidecar))
    }
    val pixelRows = Seq("000000", "000001").zipWithIndex.map {
      case (key, tag) =>
        back.setScene(key)
        back.getImagePixels()
          .select(lit(tag.toLong).as("scene"),
            col("s").cast("long").as("s"), col("y").cast("long").as("y"),
            col("x").cast("long").as("x"), col("v"))
    }.reduce(_ unionByName _)
    // sidecars carry the ORIGINAL scene ids — pin them as columns
    val sc = metaRows.flatten
    pixelRows
      .withColumn("sidecar",
        when(col("scene") === 0, sc.head._2).otherwise(sc(1)._2))
      .orderBy(col("scene"), col("s"), col("y"), col("x"))
  }

  val b44Oracle: String =
    """SELECT CAST(scene AS BIGINT) AS scene, CAST(s AS BIGINT) AS s,
      | CAST(y AS BIGINT) AS y, CAST(x AS BIGINT) AS x, v, sidecar FROM (
      |  SELECT 0 AS scene, 0 AS s, y, x,
      |    CAST((y*11 + x*3) % 251 AS DOUBLE) AS v,
      |    'Image:0' AS sidecar
      |  FROM range(5) a(y), range(7) b(x)
      |  UNION ALL
      |  SELECT 1, s, y, x, CAST((y*7 + x*5 + s*13) % 251 AS DOUBLE),
      |    'Image:1'
      |  FROM range(3) c(s), range(4) d(y), range(6) e(x))
      |ORDER BY scene, s, y, x""".stripMargin

  // ---------------------------------------------------------------- b45
  /** Sharded tar EXPORT at the executor tier — the write-side scale
    * story b44's single-shard roundtrip points at: a CZYX stack's 8
    * planes range-partition by sample key into 2 shards, every shard
    * is encoded and written BY ITS EXECUTOR PARTITION (no pixel visits
    * the driver — the shape that lands a 100 TB corpus as a shard
    * fleet), and the verification re-opens every produced shard
    * through the ordinary TarReader plugin path, unions all samples,
    * and checks pixels + sidecar keys against the generating formula.
    * Shard membership is partitioner-dependent; the SAMPLE SET is not
    * — the oracle pins the partition-invariant union. */
  val b45ShardedExport: Q = (spark, _) => {
    val (nc, nz, h, w) = (2, 2, 6, 5)
    val arr = NDArray.tabulate(Seq(nc, nz, h, w))(idx =>
      ((idx(0) * 31 + idx(1) * 17 + idx(2) * 5 + idx(3) * 3) % 251)
        .toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CZYX"))
    val dir = Scratch(spark, "b45").path("data")
    graft.writers.ShardedTarSink.write(img.planes, dir, 2)
    val shards = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar")).map(_.getAbsolutePath).sorted
    require(shards.length == 2, s"expected 2 shards, got ${shards.length}")
    shards.map { p =>
      val back = BioSpark.open(spark, p)
      back.scenes.map { key =>
        back.setScene(key)
        val sidecar = back.rawMetadata.getOrElse("")
        back.getImagePixels()
          .select(lit(key).as("sample_key"), lit(sidecar).as("sidecar"),
            col("y").cast("long").as("y"), col("x").cast("long").as("x"),
            col("v"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
      .orderBy(col("sample_key"), col("y"), col("x"))
  }

  val b45Oracle: String =
    """SELECT 's0_t0_c' || c || '_z' || z AS sample_key,
      | 's0_t0_c' || c || '_z' || z AS sidecar,
      | CAST(y AS BIGINT) AS y, CAST(x AS BIGINT) AS x,
      | CAST((c*31 + z*17 + y*5 + x*3) % 251 AS DOUBLE) AS v
      |FROM range(2) a(c), range(2) b(z), range(6) d(y), range(5) e(x)
      |ORDER BY sample_key, y, x""".stripMargin

  // ---------------------------------------------------------------- b46
  /** Uncompressed-AVI video-container time series — the TimeSeriesWriter
    * family member the reference lists as .mp4/.mkv (codec-bound, out
    * of a zero-dependency build) realized through the one video
    * container that is pure published layout: RIFF/AVI with raw BI_RGB
    * DIB frames (`formats/AviFormat`). A TYX stack saves as an .avi,
    * reopens through plugin resolution (RIFF magic probe picks
    * AviReader; frames stack on T, gray content collapses to one
    * band), and every pixel roundtrips EXACTLY — unlike GIF there is
    * no palette quantization anywhere. The per-frame layout
    * (bottom-up rows, BGR order, 4-byte row padding, even-chunk
    * RIFF padding) is pinned byte-level in AviSpec. */
  val b46AviTimeseries: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(4, 5, 6))(idx =>
      ((idx(0) * 47 + idx(1) * 9 + idx(2) * 2) % 256).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("TYX"))
    val uri = Scratch(spark, "b46").path("b46.avi")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    back.getImagePixels()
      .select(col("t").cast("long").as("t"), col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
      .orderBy(col("t"), col("y"), col("x"))
  }

  val b46Oracle: String =
    """SELECT t, y, x, CAST((t*47 + y*9 + x*2) % 256 AS DOUBLE) AS v
      |FROM range(4) a(t), range(5) b(y), range(6) c(x)
      |ORDER BY t, y, x""".stripMargin

  // ---------------------------------------------------------------- b47
  /** Video-container → analysis composition: frames DECODED FROM AN
    * AVI drive b40's motion-energy screen unchanged — the point of
    * making .avi a first-class source is that the whole E12 analysis
    * surface applies to video container content with zero new code.
    * A TYX stack with quadratic motion (frame t shifts by t²) writes
    * as raw-DIB AVI, reopens through the RIFF probe, and per-frame
    * |Δ| energy (one lag window + in-row zip_with/aggregate folds, no
    * per-pixel explode) plus a cut flag are verified against the
    * generating formula. */
  val b47AviMotion: Q = (spark, _) => {
    import org.apache.spark.sql.expressions.Window
    val (nt, h, w) = (4, 4, 5)
    val arr = NDArray.tabulate(Seq(nt, h, w))(idx =>
      ((idx(0) * idx(0) * 7 + idx(1) * 5 + idx(2) * 3) % 29).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("TYX"))
    val uri = Scratch(spark, "b47").path("b47.avi")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    val win = Window.orderBy(col("t"))
    back.planes
      .withColumn("prev", lag(col("pixels"), 1).over(win))
      .filter(col("prev").isNotNull)
      .withColumn("d", zip_with(col("pixels"), col("prev"),
        (a, b) => abs(a - b)))
      .select(col("t").cast("long").as("t"),
        aggregate(col("d"), lit(0.0d), (acc, v) => acc + v).as("sum_abs"),
        array_max(col("d")).as("max_abs"))
      .withColumn("is_cut", col("sum_abs") > lit(h * w * 8.0d))
      .orderBy(col("t"))
  }

  val b47Oracle: String =
    """WITH px AS (SELECT t, y, x,
      |    CAST((t*t*7 + y*5 + x*3) % 29 AS DOUBLE) AS v
      |  FROM range(4) a(t), range(4) b(y), range(5) c(x)),
      |d AS (SELECT cur.t, sum(abs(cur.v - prev.v)) AS sum_abs,
      |    max(abs(cur.v - prev.v)) AS max_abs
      |  FROM px cur JOIN px prev ON prev.t = cur.t - 1
      |    AND prev.y = cur.y AND prev.x = cur.x
      |  GROUP BY cur.t)
      |SELECT t, sum_abs, max_abs, sum_abs > 160.0 AS is_cut
      |FROM d ORDER BY t""".stripMargin

  // ---------------------------------------------------------------- b48
  /** E12 preprocessing: BILINEAR plane resize to an arbitrary target
    * grid — the general form of the 2× mean-pool the pyramid path uses
    * (reference: bioio's plugins hand planes to ML pipelines that
    * resize to model input shapes; the 6×8 → 4×5 factors 1.5/1.6 here
    * exercise true fractional weights). Half-pixel sampling
    * (align_corners=false, the OpenCV/PIL convention):
    * src = (dst + 0.5)·S/S' − 0.5, held EXACTLY as the rational
    * ((2·dst+1)·S − S') / (2·S'), so y0/x0 are integer DIVs, the
    * fractional weights are integer remainders over denominators
    * 2H'/2W', and the output is the exact ×(2H'·2W') fixed-point
    * numerator — bit-identical on any engine, no float interpolation
    * to diverge. Downsampling keeps all four taps in-bounds, so there
    * is no clamp branch to mismatch. Per dst pixel the four taps read
    * straight from the in-row flat pixel array (element_at after one
    * posexplode of the dst index space) — map-only per plane, the b30
    * scale shape: only |planes|·H'·W' rows ever move. */
  val b48BilinearResize: Q = (spark, _) => {
    val (h, w, dh, dw) = (6, 8, 4, 5)
    val arr = NDArray.tabulate(Seq(2, h, w))(idx =>
      ((idx(0) * 7 + idx(1) * 5 + idx(2) * 3) % 23).toDouble)
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    img.planes
      .select(col("c").cast("long").as("c"), col("pixels"),
        posexplode(sequence(lit(0), lit(dh * dw - 1))))
      .withColumn("y", expr(s"CAST(pos DIV $dw AS BIGINT)"))
      .withColumn("x", expr(s"CAST(pos % $dw AS BIGINT)"))
      .withColumn("sy", expr(s"(2*y + 1)*$h - $dh")) // / (2*dh)
      .withColumn("sx", expr(s"(2*x + 1)*$w - $dw")) // / (2*dw)
      .withColumn("y0", expr(s"sy DIV ${2 * dh}"))
      .withColumn("fy", expr(s"sy % ${2 * dh}"))
      .withColumn("x0", expr(s"sx DIV ${2 * dw}"))
      .withColumn("fx", expr(s"sx % ${2 * dw}"))
      .withColumn("p00", expr(s"element_at(pixels, CAST(y0*$w + x0 + 1 AS INT))"))
      .withColumn("p01", expr(s"element_at(pixels, CAST(y0*$w + x0 + 2 AS INT))"))
      .withColumn("p10", expr(s"element_at(pixels, CAST((y0+1)*$w + x0 + 1 AS INT))"))
      .withColumn("p11", expr(s"element_at(pixels, CAST((y0+1)*$w + x0 + 2 AS INT))"))
      .select(col("c"), col("y"), col("x"),
        expr(s"CAST((${2 * dh} - fy)*((${2 * dw} - fx)*p00 + fx*p01)" +
          s" + fy*((${2 * dw} - fx)*p10 + fx*p11) AS BIGINT)").as("v80"))
      .orderBy(col("c"), col("y"), col("x"))
  }

  val b48Oracle: String =
    """WITH d AS (SELECT c, y, x,
      |    ((2*y+1)*6 - 4) // 8 AS y0, ((2*y+1)*6 - 4) % 8 AS fy,
      |    ((2*x+1)*8 - 5) // 10 AS x0, ((2*x+1)*8 - 5) % 10 AS fx
      |  FROM range(2) a(c), range(4) b(y), range(5) e(x))
      |SELECT c, y, x, CAST(
      |  (8-fy)*((10-fx)*((c*7 + y0*5 + x0*3) % 23)
      |        + fx*((c*7 + y0*5 + (x0+1)*3) % 23))
      | + fy*((10-fx)*((c*7 + (y0+1)*5 + x0*3) % 23)
      |        + fx*((c*7 + (y0+1)*5 + (x0+1)*3) % 23))
      | AS BIGINT) AS v80
      |FROM d ORDER BY c, y, x""".stripMargin

  // ---------------------------------------------------------------- b49
  /** DataSource V2 entry (S5/S11 mechanism tier,
    * `sources/BioioDataSource.scala`): a 4×2×8×8 TCYX scene saves as a
    * chunked (4×4 stored-chunk grid) OME-ZARR v3 store, then is read
    * back through `spark.read.format("bioio")` — NO facade import —
    * with t/c predicates that PUSH DOWN into the scan
    * (`pushedFilters`) and prune the chunk-object catalog before any
    * chunk is fetched (8 of 64 objects read; pinned in BioioV2Spec).
    * Each surviving tile row folds its pixels in-row; the oracle
    * regenerates the per-tile sums from the generating formula. */
  val b49V2Source: Q = (spark, _) => {
    val arr = NDArray.tabulate(Seq(4, 2, 8, 8))(idx =>
      idx(0) * 1000.0 + idx(1) * 100.0 + idx(2) * 10.0 + idx(3))
    val img = BioSpark.fromArray(spark, arr, Some("TCYX"))
    val uri = Scratch(spark, "b49").path("b49.ome.zarr")
    img.save(uri, None, Map("chunk" -> "4x4"))
    spark.read.format("bioio").load(uri)
      .filter(col("t").isin(1, 2) && col("c") === 1)
      .select(col("t").cast("long").as("t"), col("c").cast("long").as("c"),
        col("m").cast("long").as("m"), col("y0").cast("long").as("y0"),
        col("x0").cast("long").as("x0"),
        aggregate(col("pixels"), lit(0.0d), (a, x) => a + x).as("px_sum"))
      .orderBy(col("t"), col("m"))
  }

  val b49Oracle: String =
    """SELECT CAST(tt AS BIGINT) AS t, CAST(1 AS BIGINT) AS c,
      | CAST(my*2 + mx AS BIGINT) AS m, CAST(my*4 AS BIGINT) AS y0,
      | CAST(mx*4 AS BIGINT) AS x0,
      | CAST(sum(tt*1000 + 100 + (my*4 + dy)*10 + mx*4 + dx) AS DOUBLE)
      |   AS px_sum
      |FROM (VALUES (1), (2)) s(tt), range(2) a(my), range(2) b(mx),
      |     range(4) c2(dy), range(4) d(dx)
      |GROUP BY tt, my, mx ORDER BY t, m""".stripMargin

  // ---------------------------------------------------------------- b50
  /** VERSIONED IMAGING DATASET — the bio tier composed with the lake
    * tier ([[graft.sources.VersionedTable]]): an image's long-form
    * plane pixels commit as snapshot v0, a calibration pass
    * (brightness +10) publishes v1 as an atomic overwrite, and BOTH
    * datasets stay addressable — the head read serves the calibrated
    * pixels while `VERSION AS OF 0` reproduces the original
    * bit-for-bit. This is the "the snapshot we trained on stays
    * reproducible" contract applied to imaging data: a 100 TB plane
    * store re-calibrated in place keeps every prior training run's
    * input addressable by version (and taggable, vacuumable, and
    * streamable like any lake table). The oracle restates both
    * versions arithmetically from the tabulated pixel function. */
  val b50VersionedPlanes: Q = (spark, _) => {
    import graft.sources.VersionedTable
    val arr = NDArray.tabulate(Seq(2, 3, 4))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = new graft.image.BioImage(spark,
      ArrayLikeReader.multi(Seq(arr)))
    val px = img.getImagePixels()
      .select(col("z").cast("long").as("z"),
        col("y").cast("long").as("y"),
        col("x").cast("long").as("x"), col("v"))
    val dir = Scratch(spark, "b50").path("data")
    VersionedTable.commit(spark, px, dir, carryForward = false) // v0
    VersionedTable.commit(spark,                                 // v1
      px.withColumn("v", col("v") + 10.0d), dir, carryForward = false,
      op = Some("calibrate"))
    def branch(name: String, version: Option[Int]) =
      VersionedTable.read(spark, dir, version)
        .select(lit(name).as("snapshot"), col("z"), col("y"),
          col("x"), col("v"))
    branch("calibrated", None)        // head = v1
      .unionAll(branch("original", Some(0)))
      .orderBy(col("snapshot"), col("z"), col("y"), col("x"))
  }

  val b50Oracle: String =
    """SELECT * FROM (
      |  SELECT 'calibrated' AS snapshot, z, y, x,
      |    CAST(z*100 + y*10 + x + 10 AS DOUBLE) AS v
      |  FROM range(2) a(z), range(3) b(y), range(4) c(x)
      |  UNION ALL
      |  SELECT 'original', z, y, x, CAST(z*100 + y*10 + x AS DOUBLE)
      |  FROM range(2) a(z), range(3) b(y), range(4) c(x)
      |) ORDER BY snapshot, z, y, x""".stripMargin

  val keys: ListMap[String, Key] = ListMap(
    "b01_ome_ids" -> Key(b01OmeIds, b01Oracle),
    "b02_dim_guess" -> Key(b02DimGuess, b02Oracle),
    "b03_arraylike_normalize" -> Key(b03ArraylikeNormalize, b03Oracle),
    "b04_reshape_select" -> Key(b04ReshapeSelect, b04Oracle),
    "b05_mosaic_stitch" -> Key(b05MosaicStitch, b05Oracle),
    "b06_scene_stack" -> Key(b06SceneStack, b06Oracle),
    "b07_pixeltype_map" -> Key(b07PixelTypeMap, b07Oracle),
    "b08_plugin_order" -> Key(b08PluginOrder, b08Oracle),
    "b09_store_roundtrip" -> Key(b09StoreRoundtrip, b09Oracle),
    "b10_channel_names" -> Key(b10ChannelNames, b10Oracle),
    "b11_ometiff_read" -> Key(b11OmetiffRead, b11Oracle),
    "b12_ometiff_roundtrip" -> Key(b12OmetiffRoundtrip, b12Oracle),
    "b13_pyramid_level" -> Key(b13PyramidLevel, b13Oracle),
    "b14_coord_slice" -> Key(b14CoordSlice, b14Oracle),
    "b15_plane_stats" -> Key(b15PlaneStats, b15Oracle),
    "b16_png_roundtrip" -> Key(b16PngRoundtrip, b16Oracle),
    "b17_zarr_roundtrip" -> Key(b17ZarrRoundtrip, b17Oracle),
    "b18_compressed_tiff" -> Key(b18CompressedTiff, b18Oracle),
    "b19_zarr_blosc_ragged" -> Key(b19ZarrBloscRagged, b19Oracle),
    "b20_rgb_roundtrip" -> Key(b20RgbRoundtrip, b20Oracle),
    "b21_frame_pipeline" -> Key(b21FramePipeline, b21Oracle),
    "b22_store_value_scan" -> Key(b22StoreValueScan, b22Oracle),
    "b23_audio_frames" -> Key(b23AudioFrames, b23Oracle),
    "b24_tiff_pyramid" -> Key(b24TiffPyramid, b24Oracle),
    "b25_gif_timeseries" -> Key(b25GifTimeseries, b25Oracle),
    "b26_zarr_v3_write" -> Key(b26ZarrV3Write, b26Oracle),
    "b27_bmp_roundtrip" -> Key(b27BmpRoundtrip, b27Oracle),
    "b28_save_options" -> Key(b28SaveOptions, b28Oracle),
    "b29_plane_normalize" -> Key(b29PlaneNormalize, b29Oracle),
    "b30_plane_histogram" -> Key(b30PlaneHistogram, b30Oracle),
    "b31_sobel_edges" -> Key(b31SobelEdges, b31Oracle),
    "b32_npy_roundtrip" -> Key(b32NpyRoundtrip, b32Oracle),
    "b33_mask_rle" -> Key(b33MaskRle, b33Oracle),
    "b34_patchify" -> Key(b34Patchify, b34Oracle),
    "b35_npz_roundtrip" -> Key(b35NpzRoundtrip, b35Oracle),
    "b36_mrc_roundtrip" -> Key(b36MrcRoundtrip, b36Oracle),
    "b37_augment" -> Key(b37Augment, b37Oracle),
    "b38_zprojection" -> Key(b38ZProjection, b38Oracle),
    "b39_patch_embed" -> Key(b39PatchEmbed, b39Oracle),
    "b40_motion_energy" -> Key(b40MotionEnergy, b40Oracle),
    "b41_percentile_stretch" -> Key(b41PercentileStretch, b41Oracle),
    "b42_perceptual_hash" -> Key(b42PerceptualHash, b42Oracle),
    "b43_haar_energy" -> Key(b43HaarEnergy, b43Oracle),
    "b44_tar_shard" -> Key(b44TarShard, b44Oracle),
    "b45_sharded_export" -> Key(b45ShardedExport, b45Oracle),
    "b46_avi_timeseries" -> Key(b46AviTimeseries, b46Oracle),
    "b47_avi_motion" -> Key(b47AviMotion, b47Oracle),
    "b48_bilinear_resize" -> Key(b48BilinearResize, b48Oracle),
    "b49_v2_source" -> Key(b49V2Source, b49Oracle),
    "b50_versioned_planes" -> Key(b50VersionedPlanes, b50Oracle),
  )
}
