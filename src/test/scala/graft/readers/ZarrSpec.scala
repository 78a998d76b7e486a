package graft.readers

import java.nio.file.Files

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray
import graft.image.BioImage
import graft.writers.ZarrWriter

class ZarrSpec extends SparkSpec {

  private def formulaic(shape: Seq[Int]): NDArray =
    NDArray.tabulate(shape)(idx =>
      idx.zipWithIndex.map { case (v, i) =>
        v * math.pow(10, shape.length - 1 - i)
      }.sum)

  test("write → plugin-resolve → read roundtrip, distributed chunks") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 3, 4, 5))) // CZYX
    val uri = freshDir("img.ome.zarr")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.reader.name == "ZarrReader")
    assert(back.dims.order == "TCZYX")
    assert(back.dims.shape == Seq(1, 2, 3, 4, 5))
    val nd = back.getImageData("CZYX")
    assert(nd.array(1, 2, 3, 4) == 1234.0)
    assert(nd.array(0, 1, 0, 2) == 102.0)
  }

  test("multi-scene bioformats2raw layout with channel names and pps") {
    val arrs = Seq(NDArray.zeros(Seq(2, 2, 2)), NDArray.zeros(Seq(3, 3)))
    val reader = new ArrayLikeReader(arrs,
      Seq(Some("CYX"), Some("YX")),
      Seq(Some(Seq("DAPI", "GFP")), None),
      physicalPixelSizes = Some((2.0, 0.5, 0.5)))
    val img = new BioImage(spark, reader)
    val uri = freshDir("multi.ome.zarr")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.scenes == Seq("Image:0", "Image:1"))
    assert(back.channelNames == Seq("DAPI", "GFP"))
    assert(back.physicalPixelSizes.contains((2.0, 0.5, 0.5)))
    back.setScene("Image:1")
    assert(back.dims.shape == Seq(1, 1, 1, 3, 3))
    assert(back.rawMetadata.exists(_.contains("multiscales")))
  }

  test("NGFF multiscale pyramid: levels readable with per-level dims") {
    val arr = NDArray.tabulate(Seq(8, 8))(idx => idx(0) * 10.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = freshDir("pyr.ome.zarr")
    ZarrWriter.save(img, uri, None, levels = 2)
    val back = BioSpark.open(spark, uri)
    assert(back.resolutionLevels == Seq(0, 1))
    back.setResolutionLevel(1)
    assert(back.dims.shape == Seq(1, 1, 1, 4, 4))
    val nd = back.getImageData("YX")
    assert(nd.array(0, 0) == 5.5) // mean of {0,1,10,11}
  }

  test("multi-plane TCZ chunk grid roundtrips") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 3, 2, 2, 2))) // TCZYX
    val uri = freshDir("tcz.zarr")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.dims.shape == Seq(2, 3, 2, 2, 2))
    val nd = back.getImageData("TCZYX")
    assert(nd.array(1, 2, 1, 0, 1) == 12101.0)
  }

  test("tiled chunks (2x2 grid) surface as mosaic tiles and stitch back") {
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    // hand-built NGFF store: 4x4 plane stored as four 2x2 chunks
    val root = freshDir("tiled.zarr")
    Files.createDirectories(Paths.get(root, "0"))
    def put(rel: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(root, rel), bytes)
    put(".zgroup", ZarrFormat.zgroup.getBytes)
    put(".zattrs", ZarrFormat.imageAttrs("Image:0", 1,
      Seq(1, 1, 1, 1, 1).map(_.toDouble), Seq("C0")).getBytes)
    put("0/.zarray", ZarrFormat.zarray(
      Seq(1, 1, 1, 4, 4), Seq(1, 1, 1, 2, 2), "<f8").getBytes)
    for (yi <- 0 until 2; xi <- 0 until 2) {
      val px = Array.tabulate(4) { k =>
        val (y, x) = (yi * 2 + k / 2, xi * 2 + k % 2)
        y * 10.0 + x
      }
      put(s"0/0.0.0.$yi.$xi", ZarrFormat.encodeChunk(px, PixelType.Float64))
    }
    val back = BioSpark.open(spark, root)
    assert(back.meta.dims.order == "MTCZYX")
    assert(back.meta.dims('M') == 4)
    assert(back.dims.order == "TCZYX") // stitched view folds M
    assert(back.dims('Y') == 4 && back.dims('X') == 4)
    val nd = back.getImageData("YX")
    for (y <- 0 until 4; x <- 0 until 4)
      assert(nd.array(y, x) == y * 10.0 + x, s"($y,$x)")
    // the disjoint-tile stitch is a projection — no overlap-resolving
    // aggregate in the plan (the only Exchange is the reader's chunk
    // catalog repartition, unrelated to stitching)
    val plan = back.pixels.queryExecution.executedPlan.toString
    assert(!plan.contains("min_by") && !plan.contains("HashAggregate"), plan)
  }

  test("zlib-compressed chunks decode") {
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    val root = freshDir("zlib.zarr")
    Files.createDirectories(Paths.get(root, "0"))
    def put(rel: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(root, rel), bytes)
    put(".zgroup", ZarrFormat.zgroup.getBytes)
    put(".zattrs", ZarrFormat.imageAttrs("Image:0", 1,
      Seq.fill(5)(1.0), Seq("C0")).getBytes)
    // .zarray with a zlib compressor object
    put("0/.zarray",
      ("""{"zarr_format":2,"shape":[1,1,1,2,3],"chunks":[1,1,1,2,3],""" +
        """"dtype":"<f8","compressor":{"id":"zlib","level":6},""" +
        """"fill_value":0,"order":"C","filters":null}""").getBytes)
    val raw = ZarrFormat.encodeChunk(
      Array(0.0, 1.0, 2.0, 10.0, 11.0, 12.0), PixelType.Float64)
    val d = new java.util.zip.Deflater(6)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    put("0/0.0.0.0.0", out.toByteArray)
    val back = BioSpark.open(spark, root)
    val nd = back.getImageData("YX")
    assert(nd.array(1, 2) == 12.0)
    assert(nd.array(0, 1) == 1.0)
  }

  test("blosc frame: hand-built per the c-blosc 1.x format doc decodes " +
      "(memcpy, and lz4 + byte-shuffle + split)") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.formats.ZarrFormat
    // memcpy frame: flags bit 1, raw bytes after the 16-byte header
    val raw8 = Array.tabulate[Byte](32)(i => (i * 3).toByte)
    val mem = ByteBuffer.allocate(16 + 32).order(ByteOrder.LITTLE_ENDIAN)
    mem.put(2.toByte).put(1.toByte).put(0x2.toByte).put(1.toByte)
    mem.putInt(32).putInt(32).putInt(48).put(raw8)
    assert(ZarrFormat.bloscDecode(mem.array()).toSeq == raw8.toSeq)

    // lz4 + shuffle + split: 256 int16 LE values → typesize 2, one block,
    // nsplits = 2 (lz4, blocksize/typesize = 256 ≥ 128): stream of low
    // bytes then stream of high bytes, each `int32 csize | data`
    val vals = Array.tabulate(256)(i => i)
    val raw = ByteBuffer.allocate(512).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(v => raw.putShort(v.toShort))
    val lows = Array.tabulate[Byte](256)(i => vals(i).toByte)
    val highs = Array.tabulate[Byte](256)(i => (vals(i) >> 8).toByte)
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val streams = Seq(lows, highs).map { s =>
      val c = lz4.compress(s)
      if (c.length < 256) (c.length, c) else (256, s)
    }
    val total = 16 + 4 + streams.map(4 + _._2.length).sum
    val fr = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    fr.put(2.toByte).put(1.toByte)
    fr.put((0x1 | (1 << 5)).toByte) // shuffle | lz4 format code
    fr.put(2.toByte) // typesize
    fr.putInt(512).putInt(512).putInt(total)
    fr.putInt(20) // bstarts: single block after header + one int32
    streams.foreach { case (csize, data) =>
      fr.putInt(csize); fr.put(data, 0, data.length)
    }
    assert(ZarrFormat.bloscDecode(fr.array()).toSeq == raw.array().toSeq)

    // encode/decode roundtrip for f8 (typesize 8) and u1 (typesize 1)
    val f8 = graft.formats.TiffFormat.encodePlane(
      Array.tabulate(100)(_ * 1.5), graft.core.PixelType.Float64)
    assert(ZarrFormat.bloscDecode(ZarrFormat.bloscEncode(f8, 8)).toSeq
      == f8.toSeq)
    val noise = Array.fill[Byte](257)((math.random() * 255).toByte)
    assert(ZarrFormat.bloscDecode(ZarrFormat.bloscEncode(noise, 1)).toSeq
      == noise.toSeq)
  }

  test("compressed writer roundtrips through the registry: v3 " +
      "gzip/zstd/blosc, v2 zlib/zstd/blosc") {
    val variants = Seq((3, "gzip"), (3, "zstd"), (3, "blosc"),
      (2, "zlib"), (2, "zstd"), (2, "blosc"))
    for ((fmt, comp) <- variants) {
      val img = BioSpark.fromArray(spark, formulaic(Seq(2, 6, 9)), Some("CYX"))
      val uri = freshDir(s"v$fmt$comp.ome.zarr")
      ZarrWriter.save(img, uri, None, levels = 1, compressor = Some(comp),
        format = fmt)
      val back = BioSpark.open(spark, uri)
      assert(back.rawMetadata.exists(_.contains("multiscales")))
      val nd = back.getImageData("CYX")
      assert(nd.array(1, 5, 8) == 158.0, s"v$fmt $comp")
      assert(nd.array(0, 2, 3) == 23.0, s"v$fmt $comp")
    }
    // format/codec mismatches fail loudly, not silently
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2)))
    intercept[IllegalArgumentException](ZarrWriter.save(img,
      freshDir("bad1.zarr"), None, 1, Some("zlib"), format = 3))
    intercept[IllegalArgumentException](ZarrWriter.save(img,
      freshDir("bad2.zarr"), None, 1, Some("gzip"), format = 2))
  }

  test("ragged chunk grid: 5x7 plane over 4x4 chunks (padded edge chunks " +
      "cropped, true stitched dims)") {
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    val root = freshDir("ragged.zarr")
    Files.createDirectories(Paths.get(root, "0"))
    def put(rel: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(root, rel), bytes)
    put(".zgroup", ZarrFormat.zgroup.getBytes)
    put(".zattrs", ZarrFormat.imageAttrs("Image:0", 1,
      Seq.fill(5)(1.0), Seq("C0")).getBytes)
    put("0/.zarray", ZarrFormat.zarray(
      Seq(1, 1, 1, 5, 7), Seq(1, 1, 1, 4, 4), "<f8").getBytes)
    // zarr v2: every stored chunk is full 4x4, zero-padded past the edge
    for (yi <- 0 until 2; xi <- 0 until 2) {
      val px = Array.tabulate(16) { k =>
        val (y, x) = (yi * 4 + k / 4, xi * 4 + k % 4)
        if (y < 5 && x < 7) y * 10.0 + x else 0.0
      }
      put(s"0/0.0.0.$yi.$xi", ZarrFormat.encodeChunk(px, PixelType.Float64))
    }
    val back = BioSpark.open(spark, root)
    assert(back.meta.dims('M') == 4)
    assert(back.dims('Y') == 5 && back.dims('X') == 7) // NOT 8x8
    val nd = back.getImageData("YX")
    assert(nd.array.shape == Seq(5, 7))
    for (y <- 0 until 5; x <- 0 until 7)
      assert(nd.array(y, x) == y * 10.0 + x, s"($y,$x)")
  }

  test("2D and 3D zarr arrays normalize to canonical 5D (trailing-axes " +
      "guess, rank-sized chunk keys)") {
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    // 2D: 3x4 YX, single chunk, key "0.0"
    val r2 = freshDir("rank2.zarr")
    Files.createDirectories(Paths.get(r2, "0"))
    Files.write(Paths.get(r2, ".zgroup"), ZarrFormat.zgroup.getBytes)
    Files.write(Paths.get(r2, ".zattrs"), ZarrFormat.imageAttrs("Image:0", 1,
      Seq.fill(5)(1.0), Seq.empty).getBytes)
    Files.write(Paths.get(r2, "0/.zarray"), ZarrFormat.zarray(
      Seq(3, 4), Seq(3, 4), "<f8").getBytes)
    Files.write(Paths.get(r2, "0/0.0"), ZarrFormat.encodeChunk(
      Array.tabulate(12)(k => (k / 4) * 10.0 + k % 4), PixelType.Float64))
    val b2 = BioSpark.open(spark, r2)
    assert(b2.dims.shape == Seq(1, 1, 1, 3, 4))
    assert(b2.getImageData("YX").array(2, 3) == 23.0)

    // 3D: 2x2x3 ZYX, one chunk per z plane, keys "z.y.x"
    val r3 = freshDir("rank3.zarr")
    Files.createDirectories(Paths.get(r3, "0"))
    Files.write(Paths.get(r3, ".zgroup"), ZarrFormat.zgroup.getBytes)
    Files.write(Paths.get(r3, ".zattrs"), ZarrFormat.imageAttrs("Image:0", 1,
      Seq.fill(5)(1.0), Seq.empty).getBytes)
    Files.write(Paths.get(r3, "0/.zarray"), ZarrFormat.zarray(
      Seq(2, 2, 3), Seq(1, 2, 3), "<f8").getBytes)
    for (z <- 0 until 2)
      Files.write(Paths.get(r3, s"0/$z.0.0"), ZarrFormat.encodeChunk(
        Array.tabulate(6)(k => z * 100.0 + (k / 3) * 10.0 + k % 3),
        PixelType.Float64))
    val b3 = BioSpark.open(spark, r3)
    assert(b3.dims.shape == Seq(1, 1, 2, 2, 3))
    assert(b3.getImageData("ZYX").array(1, 1, 2) == 112.0)
  }

  test("tiled + multiscale: each level's positions come from its own " +
      "chunk grid (not halved level-0 positions)") {
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    // level 0: 8x8 over 4x4 chunks (2x2 grid); level 1: 4x4 as ONE chunk
    // — halving level-0 positions would predict a phantom 2x2 grid of
    // 2x2-positioned tiles and break dims/stitching
    val root = freshDir("tiledms.zarr")
    Files.createDirectories(Paths.get(root, "0"))
    Files.createDirectories(Paths.get(root, "1"))
    def put(rel: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(root, rel), bytes)
    put(".zgroup", ZarrFormat.zgroup.getBytes)
    put(".zattrs", ZarrFormat.imageAttrs("Image:0", 2,
      Seq.fill(5)(1.0), Seq("C0")).getBytes)
    put("0/.zarray", ZarrFormat.zarray(
      Seq(1, 1, 1, 8, 8), Seq(1, 1, 1, 4, 4), "<f8").getBytes)
    put("1/.zarray", ZarrFormat.zarray(
      Seq(1, 1, 1, 4, 4), Seq(1, 1, 1, 4, 4), "<f8").getBytes)
    for (yi <- 0 until 2; xi <- 0 until 2) {
      val px = Array.tabulate(16) { k =>
        val (y, x) = (yi * 4 + k / 4, xi * 4 + k % 4)
        y * 10.0 + x
      }
      put(s"0/0.0.0.$yi.$xi", ZarrFormat.encodeChunk(px, PixelType.Float64))
    }
    put("1/0.0.0.0.0", ZarrFormat.encodeChunk(
      Array.tabulate(16)(k => 1000.0 + k), PixelType.Float64))
    val back = BioSpark.open(spark, root)
    assert(back.dims('Y') == 8 && back.dims('X') == 8)
    assert(back.getImageData("YX").array(6, 7) == 67.0)
    back.setResolutionLevel(1)
    // level 1 is single-chunk: its own grid (1x1), true dims 4x4
    assert(back.dims('Y') == 4 && back.dims('X') == 4)
    val nd = back.getImageData("YX")
    for (k <- 0 until 16)
      assert(nd.array(k / 4, k % 4) == 1000.0 + k)
  }

  test("RGB (S=3) trailing-sample-axis store roundtrips") {
    val arr = NDArray.tabulate(Seq(5, 6, 3))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = new BioImage(spark, new ArrayLikeReader(Seq(arr),
      Seq(Some("YXS")), Seq(None)))
    val uri = freshDir("rgb.ome.zarr")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.dims.order == "TCZYXS")
    assert(back.dims('S') == 3)
    val nd = back.getImageData("YXS")
    for (y <- 0 until 5; x <- 0 until 6; s <- 0 until 3)
      assert(nd.array(y, x, s) == y * 100.0 + x * 10.0 + s, s"($y,$x,$s)")
  }

  test("aligned mosaic saves write chunks straight from tile rows — no " +
      "stitched-plane aggregation in the plan, same bytes on disk") {
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    // 2x2 grid of 3x4 tiles → 6x8 stitched plane, exactly chunk-aligned
    val arr = NDArray.tabulate(Seq(4, 3, 4))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val img = new BioImage(spark,
      new ArrayLikeReader(Seq(arr), Seq(Some("MYX")), Seq(None),
        tilePositions = Seq(Seq((0, 0), (0, 4), (3, 0), (3, 4)))))
    // the fast path engages and its plan has NO aggregation
    val (rows, tileGrid) = ZarrWriter.sceneChunkRows(img, levels = 1, nS = 1)
    assert(tileGrid.contains((3, 4)))
    val plan = rows.queryExecution.executedPlan.toString
    assert(!plan.contains("Aggregate") && !plan.contains("collect_list"),
      plan)
    val uri = freshDir("aligned.ome.zarr")
    img.save(uri) // v3 default
    // the array node declares the TILE grid as the chunk grid
    val za = new String(Files.readAllBytes(
      java.nio.file.Paths.get(uri, "0", "0", "zarr.json")))
    assert(za.contains(""""shape":[1,1,1,6,8]"""), za)
    assert(za.contains(""""chunk_shape":[1,1,1,3,4]"""), za)
    // chunk (1,0) bytes are exactly the encoded tile-2 payload
    val chunk = Files.readAllBytes(
      java.nio.file.Paths.get(uri, "0", "0", "c", "0", "0", "0", "1", "0"))
    val tile2 = Array.tabulate(12)(k => 200.0 + (k / 4) * 10.0 + k % 4)
    assert(chunk.toSeq ==
      ZarrFormat.encodeChunk(tile2, PixelType.Float64).toSeq)
    // and the store reads back losslessly
    val back = BioSpark.open(spark, uri)
    assert(back.dims('Y') == 6 && back.dims('X') == 8)
    val nd = back.getImageData("YX")
    for (y <- 0 until 6; x <- 0 until 8) {
      val m = (y / 3) * 2 + (x / 4)
      assert(nd.array(y, x) == m * 100.0 + (y % 3) * 10.0 + x % 4, s"($y,$x)")
    }
  }

  test("axis units from NGFF metadata surface in dimensionProperties; a " +
      "genuine 1.0 time interval / pixel size survives the roundtrip") {
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    // foreign store with NON-default units (ms / nm)
    val root = freshDir("units.zarr")
    Files.createDirectories(Paths.get(root, "0"))
    def put(rel: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(root, rel), bytes)
    put(".zgroup", ZarrFormat.zgroup.getBytes)
    put(".zattrs", ZarrFormat.imageAttrs("Image:0", 1,
      Seq(50.0, 1.0, 1.0, 250.0, 250.0), Seq("C0"),
      timeUnit = Some("millisecond"), spaceUnit = Some("nanometer")).getBytes)
    put("0/.zarray", ZarrFormat.zarray(
      Seq(1, 1, 1, 2, 2), Seq(1, 1, 1, 2, 2), "<f8").getBytes)
    put("0/0.0.0.0.0", ZarrFormat.encodeChunk(
      Array(1.0, 2.0, 3.0, 4.0), PixelType.Float64))
    val back = BioSpark.open(spark, root)
    val props = back.dimensionProperties
    assert(props('T') == ((1L, Some(50.0), Some("millisecond"))))
    assert(props('X') == ((2L, Some(250.0), Some("nanometer"))))
    assert(props('Z')._3.contains("nanometer"))

    // engine roundtrip: timeInterval EXACTLY 1.0 s and 1.0 µm pixel sizes
    // used to vanish behind the default-scale sentinel
    val img = new BioImage(spark, new ArrayLikeReader(
      Seq(NDArray.tabulate(Seq(2, 2, 2))(_.sum.toDouble)), Seq(None),
      Seq(None), physicalPixelSizes = Some((1.0, 1.0, 1.0)),
      timeInterval = Some(1.0)))
    val uri = freshDir("interval1.ome.zarr")
    img.save(uri)
    val rt = BioSpark.open(spark, uri)
    assert(rt.timeInterval.contains(1.0))
    assert(rt.physicalPixelSizes.contains((1.0, 1.0, 1.0)))
    assert(rt.dimensionProperties('T')._3.contains("second"))
    // and a unit-less store still reads "no interval" from scale 1.0
    val bare = new BioImage(spark, new ArrayLikeReader(
      Seq(NDArray.tabulate(Seq(2, 2, 2))(_.sum.toDouble)), Seq(None), Seq(None)))
    val uri2 = freshDir("nointerval.ome.zarr")
    bare.save(uri2)
    val rt2 = BioSpark.open(spark, uri2)
    assert(rt2.timeInterval.isEmpty)
    assert(rt2.physicalPixelSizes.isEmpty)
  }

  // ---- zarr v3 / NGFF 0.5 ------------------------------------------

  private def ngff05Group(name: String): String =
    s"""{"zarr_format":3,"node_type":"group","attributes":{"ome":{""" +
      s""""version":"0.5","multiscales":[{"name":"$name","axes":[""" +
      """{"name":"t","type":"time"},{"name":"c","type":"channel"},""" +
      """{"name":"z","type":"space"},{"name":"y","type":"space"},""" +
      """{"name":"x","type":"space"}],"datasets":[{"path":"0",""" +
      """"coordinateTransformations":[{"type":"scale",""" +
      """"scale":[1,1,1,1,1]}]}]}],""" +
      """"omero":{"channels":[{"label":"C0"}]}}}}"""

  private def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  test("zarr v3 / NGFF 0.5: default chunk-key encoding ('c' prefix, '/' " +
      "separator), gzip codec, ragged grid") {
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    val root = freshDir("v3.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("zarr.json", ngff05Group("Image:0").getBytes)
    // 3x5 plane over 2x3 chunks → ragged 2x2 grid, padded edge chunks
    put("0/zarr.json",
      ("""{"zarr_format":3,"node_type":"array","shape":[1,1,1,3,5],""" +
        """"data_type":"float64","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[1,1,1,2,3]}},""" +
        """"chunk_key_encoding":{"name":"default",""" +
        """"configuration":{"separator":"/"}},"fill_value":0,""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"little"}},""" +
        """{"name":"gzip","configuration":{"level":5}}],""" +
        """"dimension_names":["t","c","z","y","x"]}""").getBytes)
    for (yi <- 0 until 2; xi <- 0 until 2) {
      val px = Array.tabulate(6) { k =>
        val (y, x) = (yi * 2 + k / 3, xi * 3 + k % 3)
        if (y < 3 && x < 5) y * 10.0 + x else 0.0
      }
      put(s"0/c/0/0/0/$yi/$xi",
        gzipBytes(ZarrFormat.encodeChunk(px, PixelType.Float64)))
    }
    val back = BioSpark.open(spark, root)
    assert(back.reader.name == "ZarrReader")
    assert(back.scenes == Seq("Image:0"))
    assert(back.channelNames == Seq("C0"))
    assert(back.dims('Y') == 3 && back.dims('X') == 5)
    val nd = back.getImageData("YX")
    for (y <- 0 until 3; x <- 0 until 5)
      assert(nd.array(y, x) == y * 10.0 + x, s"($y,$x)")
  }

  test("zarr v3 sharding_indexed: inner chunks via the end-of-shard " +
      "index (crc32c), unwritten chunk reads as fill_value") {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    val root = freshDir("v3shard.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("zarr.json", ngff05Group("Image:0").getBytes)
    put("0/zarr.json",
      ("""{"zarr_format":3,"node_type":"array","shape":[1,1,1,4,4],""" +
        """"data_type":"float64","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[1,1,1,4,4]}},""" +
        """"chunk_key_encoding":{"name":"default"},"fill_value":9,""" +
        """"codecs":[{"name":"sharding_indexed","configuration":{""" +
        """"chunk_shape":[1,1,1,2,2],""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],""" +
        """"index_codecs":[{"name":"bytes",""" +
        """"configuration":{"endian":"little"}},{"name":"crc32c"}],""" +
        """"index_location":"end"}}],""" +
        """"dimension_names":["t","c","z","y","x"]}""").getBytes)
    // one 4x4 shard = 2x2 grid of 2x2 inner chunks; (1,1) left unwritten
    def innerChunk(yi: Int, xi: Int): Array[Byte] =
      ZarrFormat.encodeChunk(Array.tabulate(4) { k =>
        (yi * 2 + k / 2) * 10.0 + (xi * 2 + k % 2)
      }, PixelType.Float64)
    val chunks = Seq((0, 0), (0, 1), (1, 0)).map { case (y, x) =>
      innerChunk(y, x)
    }
    val payload = chunks.flatten.toArray
    val index = ByteBuffer.allocate(4 * 16).order(ByteOrder.LITTLE_ENDIAN)
    var off = 0L
    chunks.foreach { c =>
      index.putLong(off).putLong(c.length.toLong); off += c.length
    }
    index.putLong(-1L).putLong(-1L) // inner chunk (1,1): unwritten
    val crc = new java.util.zip.CRC32C
    crc.update(index.array())
    val tail = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt)
    put("0/c/0/0/0/0/0", payload ++ index.array() ++ tail.array())
    val back = BioSpark.open(spark, root)
    assert(back.dims('Y') == 4 && back.dims('X') == 4)
    val nd = back.getImageData("YX")
    for (y <- 0 until 4; x <- 0 until 4) {
      val expect = if (y >= 2 && x >= 2) 9.0 else y * 10.0 + x
      assert(nd.array(y, x) == expect, s"($y,$x)")
    }

    // a flipped byte in the index block must fail the crc32c check
    // loudly — never dereference garbage offsets
    val idx0 = payload.length // first index byte
    val corrupted = (payload ++ index.array() ++ tail.array()).clone()
    corrupted(idx0) = (corrupted(idx0) ^ 0x5a).toByte
    put("0/c/0/0/0/0/0", corrupted)
    val err = intercept[Throwable] {
      BioSpark.open(spark, root).getImageData("YX")
    }
    val msgs = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("crc32c mismatch"), msgs)
  }

  test("writer options through the BioImage.save facade: a sharded, " +
      "compressed, multiscale v3 store and a v2 store via extension " +
      "dispatch; unknown keys raise") {
    import java.nio.file.Paths
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 8, 8)), Some("CYX"))
    val uri = freshDir("opt.ome.zarr")
    img.save(uri, None, Map(
      "levels" -> "2", "compressor" -> "zstd", "shardInner" -> "4x4"))
    // sharded layout on disk: one whole-plane shard object per (c, level)
    val grp = new String(Files.readAllBytes(Paths.get(uri, "0", "0", "zarr.json")))
    assert(grp.contains(""""sharding_indexed""""), grp)
    assert(grp.contains(""""zstd""""), grp)
    val back = BioSpark.open(spark, uri)
    assert(back.resolutionLevels == Seq(0, 1))
    val nd = back.getImageData("CYX")
    for (c <- 0 until 2; y <- 0 until 8; x <- 0 until 8)
      assert(nd.array(c, y, x) == c * 100.0 + y * 10.0 + x, s"($c,$y,$x)")

    // v2 behind the same facade
    val uri2 = freshDir("opt2.ome.zarr")
    img.save(uri2, None, Map("format" -> "2", "compressor" -> "zlib"))
    assert(Files.exists(Paths.get(uri2, ".zgroup")))
    assert(BioSpark.open(spark, uri2).getImageData("CYX").array(1, 7, 6)
      == 176.0)

    // unknown keys and malformed dims raise instead of being dropped
    intercept[IllegalArgumentException](
      img.save(freshDir("bad.ome.zarr"), None, Map("chunks" -> "4x4")))
    intercept[IllegalArgumentException](
      img.save(freshDir("bad2.ome.zarr"), None, Map("chunk" -> "4x4x4")))
  }

  test("zarr v3 sharding_indexed with index_location=start reads (no " +
      "crc32c declared: index is plain entry bytes before the payload)") {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    val root = freshDir("v3shardstart.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("zarr.json", ngff05Group("Image:0").getBytes)
    put("0/zarr.json",
      ("""{"zarr_format":3,"node_type":"array","shape":[1,1,1,4,4],""" +
        """"data_type":"float64","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[1,1,1,4,4]}},""" +
        """"chunk_key_encoding":{"name":"default"},"fill_value":0,""" +
        """"codecs":[{"name":"sharding_indexed","configuration":{""" +
        """"chunk_shape":[1,1,1,2,2],""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],""" +
        """"index_codecs":[{"name":"bytes",""" +
        """"configuration":{"endian":"little"}}],""" +
        """"index_location":"start"}}],""" +
        """"dimension_names":["t","c","z","y","x"]}""").getBytes)
    def innerChunk(yi: Int, xi: Int): Array[Byte] =
      ZarrFormat.encodeChunk(Array.tabulate(4) { k =>
        (yi * 2 + k / 2) * 10.0 + (xi * 2 + k % 2)
      }, PixelType.Float64)
    val chunks = Seq((0, 0), (0, 1), (1, 0), (1, 1)).map((innerChunk _).tupled)
    val idxLen = 4 * 16
    val index = ByteBuffer.allocate(idxLen).order(ByteOrder.LITTLE_ENDIAN)
    var off = idxLen.toLong // payload begins after the leading index
    chunks.foreach { c =>
      index.putLong(off).putLong(c.length.toLong); off += c.length
    }
    put("0/c/0/0/0/0/0", index.array() ++ chunks.flatten.toArray)
    val nd = BioSpark.open(spark, root).getImageData("YX")
    for (y <- 0 until 4; x <- 0 until 4)
      assert(nd.array(y, x) == y * 10.0 + x, s"($y,$x)")
  }

  test("v2 numcodecs gzip compressor id reads; a v3 chain with two " +
      "compression codecs is rejected loudly") {
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    // zarr-python's GZip codec writes {"id":"gzip"} v2 stores — distinct
    // from "zlib" (raw deflate) but the same RFC-1952 wire format the v3
    // gzip codec uses
    val root = freshDir("v2gzip.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put(".zgroup", ZarrFormat.zgroup.getBytes)
    put(".zattrs", ZarrFormat.imageAttrs("Image:0", 1,
      Seq.fill(5)(1.0), Seq("C0")).getBytes)
    put("0/.zarray",
      ("""{"zarr_format":2,"shape":[1,1,1,2,3],"chunks":[1,1,1,2,3],""" +
        """"dtype":"<f8","compressor":{"id":"gzip","level":5},""" +
        """"fill_value":0,"order":"C","filters":null}""").getBytes)
    val px = Array.tabulate(6)(k => (k / 3) * 10.0 + k % 3)
    put("0/0.0.0.0.0", gzipBytes(ZarrFormat.encodeChunk(px, PixelType.Float64)))
    val back = BioSpark.open(spark, root)
    val nd = back.getImageData("YX")
    for (y <- 0 until 2; x <- 0 until 3)
      assert(nd.array(y, x) == y * 10.0 + x, s"($y,$x)")

    // doubly-compressed v3 chain: a single-layer decode would yield
    // garbage, so the parse must refuse it instead
    val root2 = freshDir("v3double.zarr")
    def put2(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(root2, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put2("zarr.json", ngff05Group("Image:0").getBytes)
    put2("0/zarr.json",
      ("""{"zarr_format":3,"node_type":"array","shape":[1,1,1,2,3],""" +
        """"data_type":"float64","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[1,1,1,2,3]}},""" +
        """"chunk_key_encoding":{"name":"default"},"fill_value":0,""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"little"}},""" +
        """{"name":"gzip","configuration":{"level":5}},""" +
        """{"name":"zstd","configuration":{"level":3}}],""" +
        """"dimension_names":["t","c","z","y","x"]}""").getBytes)
    val err = intercept[graft.core.UnsupportedFileFormatError] {
      BioSpark.open(spark, root2).dims
    }
    assert(err.getMessage.contains("multiple compression codecs"))
  }

  test("v3 WRITE: ragged grid + multiscale roundtrip through the v3 " +
      "reader; NGFF 0.5 attrs under attributes.ome; v2 behind format=2") {
    import java.nio.file.Paths
    // ragged: 2x5x7 CYX — aligned-grid fast path can't engage (no mosaic),
    // whole-plane chunks; multiscale levels=2 over an 8x8 plane
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 5, 7)), Some("CYX"))
    val uri = freshDir("v3write.ome.zarr")
    img.save(uri) // v3 is the default
    // on-disk layout: zarr.json nodes, no v2 documents
    assert(Files.exists(Paths.get(uri, "zarr.json")))
    assert(Files.exists(Paths.get(uri, "0", "zarr.json")))
    assert(Files.exists(Paths.get(uri, "0", "0", "zarr.json")))
    assert(!Files.exists(Paths.get(uri, ".zgroup")))
    assert(!Files.exists(Paths.get(uri, "0", "0", ".zarray")))
    // group node: NGFF 0.5, namespaced under attributes.ome
    val grp = new String(Files.readAllBytes(Paths.get(uri, "0", "zarr.json")))
    assert(grp.contains(""""node_type":"group""""), grp)
    // 0.5 declares the version at the top of the ome namespace (the 0.4
    // per-multiscale field was removed) — validators key off this spot
    assert(grp.contains(""""ome":{"version":"0.5","""), grp)
    assert(!grp.contains("""multiscales":[{"version""""), grp)
    // chunk objects under the default "c"-prefix encoding
    assert(Files.exists(Paths.get(uri, "0", "0", "c", "0", "0", "0", "0", "0")))
    val back = BioSpark.open(spark, uri)
    assert(back.reader.name == "ZarrReader")
    assert(back.dims.shape == Seq(1, 2, 1, 5, 7))
    val nd = back.getImageData("CYX")
    for (c <- 0 until 2; y <- 0 until 5; x <- 0 until 7)
      assert(nd.array(c, y, x) == c * 100.0 + y * 10.0 + x, s"($c,$y,$x)")

    // multiscale v3 write: level 1 readable with its own dims
    val pimg = BioSpark.fromArray(spark,
      NDArray.tabulate(Seq(8, 8))(idx => idx(0) * 10.0 + idx(1)))
    val puri = freshDir("v3pyr.ome.zarr")
    ZarrWriter.save(pimg, puri, None, levels = 2)
    val pback = BioSpark.open(spark, puri)
    assert(pback.resolutionLevels == Seq(0, 1))
    pback.setResolutionLevel(1)
    assert(pback.dims.shape == Seq(1, 1, 1, 4, 4))
    assert(pback.getImageData("YX").array(0, 0) == 5.5)

    // v2 behind the option: historical layout intact
    val uri2 = freshDir("v2write.ome.zarr")
    ZarrWriter.save(img, uri2, None, levels = 1, compressor = None,
      format = 2)
    assert(Files.exists(Paths.get(uri2, ".zgroup")))
    assert(Files.exists(Paths.get(uri2, "0", "0", ".zarray")))
    assert(Files.exists(Paths.get(uri2, "0", "0", "0.0.0.0.0")))
    val back2 = BioSpark.open(spark, uri2)
    assert(back2.getImageData("CYX").array(1, 4, 6) == 146.0)
  }

  test("v3 sharded WRITE: whole-plane shards of inner chunks, crc32c " +
      "end index, all-fill inner chunks left unwritten and read as fill") {
    import java.nio.file.Paths
    // 6x6 plane, 3x3 inner chunks → 2x2 inner grid in ONE shard object;
    // the (1,1) block is all zeros and must stay unwritten
    val arr = NDArray.tabulate(Seq(6, 6)) { idx =>
      val (y, x) = (idx(0), idx(1))
      if (y >= 3 && x >= 3) 0.0 else (y + 1) * 10.0 + x
    }
    val img = BioSpark.fromArray(spark, arr)
    val uri = freshDir("v3shardw.ome.zarr")
    ZarrWriter.save(img, uri, None, levels = 1, compressor = Some("gzip"),
      format = 3, shardInner = Some((3, 3)))
    val doc = new String(Files.readAllBytes(
      Paths.get(uri, "0", "0", "zarr.json")))
    assert(doc.contains("sharding_indexed"), doc)
    assert(doc.contains(""""chunk_shape":[1,1,1,6,6]"""), doc) // shard
    assert(doc.contains(""""chunk_shape":[1,1,1,3,3]"""), doc) // inner
    assert(doc.contains("crc32c"), doc)
    // the single shard object's end index marks inner (1,1) unwritten
    val shard = Files.readAllBytes(
      Paths.get(uri, "0", "0", "c", "0", "0", "0", "0", "0"))
    val idx = java.nio.ByteBuffer.wrap(shard, shard.length - 4 * 16 - 4, 64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val e = (0 until 8).map(_ => idx.getLong)
    assert(e(6) == -1L && e(7) == -1L, e)
    assert(e.grouped(2).take(3).forall(p => p.head >= 0 && p(1) > 0), e)
    val crc = new java.util.zip.CRC32C
    crc.update(shard, shard.length - 4 * 16 - 4, 64)
    val stored = java.nio.ByteBuffer.wrap(shard, shard.length - 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(stored == crc.getValue.toInt)
    // unwritten block reads back as fill_value planes
    val nd = BioSpark.open(spark, uri).getImageData("YX")
    for (y <- 0 until 6; x <- 0 until 6) {
      val expect = if (y >= 3 && x >= 3) 0.0 else (y + 1) * 10.0 + x
      assert(nd.array(y, x) == expect, s"($y,$x)")
    }
    // ragged grid: 5x7 plane, 4x4 inner → shard padded to 8x8, lossless
    val rimg = BioSpark.fromArray(spark, formulaic(Seq(2, 5, 7)), Some("CYX"))
    val ruri = freshDir("v3shardragged.ome.zarr")
    ZarrWriter.save(rimg, ruri, None, levels = 1, compressor = None,
      format = 3, shardInner = Some((4, 4)))
    val rnd = BioSpark.open(spark, ruri).getImageData("CYX")
    for (c <- 0 until 2; y <- 0 until 5; x <- 0 until 7)
      assert(rnd.array(c, y, x) == c * 100.0 + y * 10.0 + x, s"($c,$y,$x)")
    // sharding is a v3-only construct
    intercept[IllegalArgumentException](ZarrWriter.save(img,
      freshDir("shardv2.zarr"), None, 1, None, 2, Some((2, 2))))
  }

  test("v3 sharding_indexed with index_location=start reads through the " +
      "leading index") {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.file.Paths
    import graft.core.PixelType
    import graft.formats.ZarrFormat
    val root = freshDir("v3shardstart.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("zarr.json", ngff05Group("Image:0").getBytes)
    put("0/zarr.json",
      ("""{"zarr_format":3,"node_type":"array","shape":[1,1,1,4,4],""" +
        """"data_type":"float64","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[1,1,1,4,4]}},""" +
        """"chunk_key_encoding":{"name":"default"},"fill_value":0,""" +
        """"codecs":[{"name":"sharding_indexed","configuration":{""" +
        """"chunk_shape":[1,1,1,2,2],""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],""" +
        """"index_codecs":[{"name":"bytes",""" +
        """"configuration":{"endian":"little"}},{"name":"crc32c"}],""" +
        """"index_location":"start"}}],""" +
        """"dimension_names":["t","c","z","y","x"]}""").getBytes)
    // index FIRST (4 entries + crc32c), then the chunk payloads —
    // offsets are absolute within the shard object
    def innerChunk(yi: Int, xi: Int): Array[Byte] =
      ZarrFormat.encodeChunk(Array.tabulate(4) { k =>
        (yi * 2 + k / 2) * 10.0 + (xi * 2 + k % 2)
      }, PixelType.Float64)
    val chunks = Seq((0, 0), (0, 1), (1, 0), (1, 1)).map {
      case (y, x) => innerChunk(y, x)
    }
    val idxLen = 4 * 16 + 4
    val index = ByteBuffer.allocate(4 * 16).order(ByteOrder.LITTLE_ENDIAN)
    var off = idxLen.toLong
    chunks.foreach { c =>
      index.putLong(off).putLong(c.length.toLong); off += c.length
    }
    val crc = new java.util.zip.CRC32C
    crc.update(index.array())
    val tail = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt)
    put("0/c/0/0/0/0/0",
      index.array() ++ tail.array() ++ chunks.flatten.toArray)
    val nd = BioSpark.open(spark, root).getImageData("YX")
    for (y <- 0 until 4; x <- 0 until 4)
      assert(nd.array(y, x) == y * 10.0 + x, s"($y,$x)")
  }

  test("v3 sharded WRITE composes with multiscale levels and RGB " +
      "trailing-S payloads") {
    // multiscale: 8x8 → 4x4, sharded 3x3 inner chunks at every level
    val arr = NDArray.tabulate(Seq(8, 8))(idx => idx(0) * 10.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = freshDir("v3shardms.ome.zarr")
    ZarrWriter.save(img, uri, None, levels = 2, compressor = Some("zstd"),
      format = 3, shardInner = Some((3, 3)))
    val back = BioSpark.open(spark, uri)
    assert(back.resolutionLevels == Seq(0, 1))
    val nd0 = back.getImageData("YX")
    for (y <- 0 until 8; x <- 0 until 8)
      assert(nd0.array(y, x) == y * 10.0 + x, s"L0 ($y,$x)")
    back.setResolutionLevel(1)
    assert(back.dims.shape == Seq(1, 1, 1, 4, 4))
    assert(back.getImageData("YX").array(0, 0) == 5.5)

    // RGB: interleaved YXS blocks inside inner chunks
    val rgb = NDArray.tabulate(Seq(5, 6, 3))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2) + 1)
    val rimg = new BioImage(spark, new ArrayLikeReader(Seq(rgb),
      Seq(Some("YXS")), Seq(None)))
    val ruri = freshDir("v3shardrgb.ome.zarr")
    ZarrWriter.save(rimg, ruri, None, levels = 1, compressor = None,
      format = 3, shardInner = Some((2, 4)))
    val rback = BioSpark.open(spark, ruri)
    assert(rback.dims.order == "TCZYXS" && rback.dims('S') == 3)
    val rnd = rback.getImageData("YXS")
    for (y <- 0 until 5; x <- 0 until 6; s <- 0 until 3)
      assert(rnd.array(y, x, s) == y * 100.0 + x * 10.0 + s + 1,
        s"($y,$x,$s)")
  }

  test("chunked WRITE: chunk=(th,tw) re-tiles planes into a stored chunk " +
      "grid in-plan (ragged edges padded); works in v2 and v3 and " +
      "composes with sharding and multiscale") {
    import java.nio.file.Paths
    // 7x10 plane, 4x4 chunks → ragged 2x3 grid (all values nonzero)
    val arr = NDArray.tabulate(Seq(7, 10))(idx => idx(0) * 10.0 + idx(1) + 1)
    val img = BioSpark.fromArray(spark, arr)
    def checkAll(uri: String, tag: String): Unit = {
      val nd = BioSpark.open(spark, uri).getImageData("YX")
      for (y <- 0 until 7; x <- 0 until 10)
        assert(nd.array(y, x) == y * 10.0 + x + 1, s"$tag ($y,$x)")
    }

    val v3uri = freshDir("v3chunked.ome.zarr")
    ZarrWriter.save(img, v3uri, None, levels = 1, compressor = None,
      format = 3, shardInner = None, chunk = Some((4, 4)))
    val doc = new String(Files.readAllBytes(
      Paths.get(v3uri, "0", "0", "zarr.json")))
    assert(doc.contains(""""shape":[1,1,1,7,10]"""), doc)
    assert(doc.contains(""""chunk_shape":[1,1,1,4,4]"""), doc)
    for (yi <- 0 until 2; xi <- 0 until 3)
      assert(Files.exists(Paths.get(v3uri, "0", "0", "c", "0", "0", "0",
        s"$yi", s"$xi")), s"chunk ($yi,$xi)")
    // chunk grid surfaces tile-granular reads (M = 6 mosaic rows)
    assert(BioSpark.open(spark, v3uri).meta.dims('M') == 6)
    checkAll(v3uri, "v3")

    val v2uri = freshDir("v2chunked.zarr")
    ZarrWriter.save(img, v2uri, None, levels = 1, compressor = Some("zlib"),
      format = 2, shardInner = None, chunk = Some((4, 4)))
    val za = new String(Files.readAllBytes(
      Paths.get(v2uri, "0", "0", ".zarray")))
    assert(za.contains(""""chunks":[1,1,1,4,4]"""), za)
    assert(Files.exists(Paths.get(v2uri, "0", "0", "0.0.0.1.2")))
    checkAll(v2uri, "v2")

    // chunk + shard: each 4x4 chunk object is a shard of 2x2 inner chunks
    val shuri = freshDir("v3chunkshard.ome.zarr")
    ZarrWriter.save(img, shuri, None, levels = 1, compressor = None,
      format = 3, shardInner = Some((2, 2)), chunk = Some((4, 4)))
    val sdoc = new String(Files.readAllBytes(
      Paths.get(shuri, "0", "0", "zarr.json")))
    assert(sdoc.contains("sharding_indexed"), sdoc)
    assert(sdoc.contains(""""chunk_shape":[1,1,1,4,4]"""), sdoc)
    assert(sdoc.contains(""""chunk_shape":[1,1,1,2,2]"""), sdoc)
    checkAll(shuri, "chunk+shard")
    // mismatched chunk/inner geometry is rejected
    intercept[IllegalArgumentException](ZarrWriter.save(img,
      freshDir("badgeom.zarr"), None, 1, None, 3, Some((3, 3)), Some((4, 4))))

    // multiscale chunked: level 1 (4x5) gets its own ragged grid
    val msuri = freshDir("v3chunkms.ome.zarr")
    ZarrWriter.save(img, msuri, None, levels = 2, compressor = None,
      format = 3, shardInner = None, chunk = Some((4, 4)))
    val back = BioSpark.open(spark, msuri)
    checkAll(msuri, "ms L0")
    back.setResolutionLevel(1)
    assert(back.dims('Y') == 4 && back.dims('X') == 5)
    // level-1 (0,0) = mean of {1,2,11,12}
    assert(back.getImageData("YX").array(0, 0) == 6.5)
  }

  test("zarr v3 v2-style chunk-key encoding with big-endian uint16") {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.file.Paths
    val root = freshDir("v3be.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("zarr.json", ngff05Group("Image:0").getBytes)
    put("0/zarr.json",
      ("""{"zarr_format":3,"node_type":"array","shape":[1,1,1,2,3],""" +
        """"data_type":"uint16","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[1,1,1,2,3]}},""" +
        """"chunk_key_encoding":{"name":"v2",""" +
        """"configuration":{"separator":"."}},"fill_value":0,""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"big"}}],""" +
        """"dimension_names":["t","c","z","y","x"]}""").getBytes)
    val bb = ByteBuffer.allocate(12).order(ByteOrder.BIG_ENDIAN)
    Seq(0, 1, 2, 1000, 1001, 40002).foreach(v => bb.putShort(v.toShort))
    put("0/0.0.0.0.0", bb.array())
    val back = BioSpark.open(spark, root)
    assert(back.meta.pixelType == graft.core.PixelType.UInt16)
    val nd = back.getImageData("YX")
    assert(nd.array(1, 2) == 40002.0) // unsigned past Short.MaxValue
    assert(nd.array(1, 0) == 1000.0)
    assert(nd.array(0, 1) == 1.0)
  }

  test("writer raises on unknown selections; mosaic scenes stitch on save") {
    val img = BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2)))
    intercept[IllegalArgumentException](
      img.save(freshDir("x.zarr"), Some(Seq("Image:9"))))
    val arr = NDArray.tabulate(Seq(2, 2, 2))(idx =>
      idx(0) * 100.0 + idx(1) * 10 + idx(2))
    val mosaic = new BioImage(spark,
      new ArrayLikeReader(Seq(arr), Seq(Some("MYX")),
        Seq(None), tilePositions = Seq(Seq((0, 0), (0, 2)))))
    val uri = freshDir("m.zarr")
    mosaic.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.dims.shape == Seq(1, 1, 1, 2, 4))
    assert(back.getImageData("YX").array(1, 3) == 111.0)
  }
}
