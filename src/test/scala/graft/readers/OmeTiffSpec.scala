package graft.readers

import java.nio.file.Files

import graft.{BioSpark, SparkSpec}
import graft.core.{NDArray, PixelType}
import graft.formats.TiffFormat
import graft.image.BioImage
import graft.meta.OmeXml
import graft.writers.{OmeTiffWriter, ParquetPlaneStoreWriter, TiffOptions, Writers}

class TiffFormatSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("plane encode/decode roundtrip for every storable pixel type") {
    import java.nio.ByteOrder.LITTLE_ENDIAN
    val vals = Array(0.0, 1.0, 7.0, 100.0, 63.0) // fits every storable type
    for (pt <- Seq(PixelType.Int8, PixelType.UInt8, PixelType.Int16,
        PixelType.UInt16, PixelType.Int32, PixelType.UInt32,
        PixelType.Float32, PixelType.Float64)) {
      val bytes = TiffFormat.encodePlane(vals, pt)
      val back = TiffFormat.decodePlane(bytes,
        TiffFormat.bytesPerSample(pt) * 8, TiffFormat.sampleFormat(pt),
        LITTLE_ENDIAN)
      assert(back.toSeq == vals.toSeq, s"roundtrip failed for $pt")
    }
  }

  test("complex types are rejected") {
    intercept[IllegalArgumentException](
      TiffFormat.bytesPerSample(PixelType.Complex64))
  }

  test("LZW matches a hand-traced TIFF 6.0 spec encoding (MSB-first, " +
      "Clear/EOI, table growth)") {
    val data = Array[Byte](7, 7, 7, 8, 8, 7, 7, 6, 6)
    // spec-algorithm trace: Clear,7,258,8,8,258,6,6,EOI — all 9-bit codes
    val codes = Seq(256, 7, 258, 8, 8, 258, 6, 6, 257)
    val bits = codes.map(c =>
      String.format("%9s", Integer.toBinaryString(c)).replace(' ', '0'))
      .mkString
    val expected = bits.padTo((bits.length + 7) / 8 * 8, '0')
      .grouped(8).map(b => Integer.parseInt(b, 2).toByte).toArray
    assert(TiffFormat.Lzw.encode(data).toSeq == expected.toSeq)
    assert(TiffFormat.Lzw.decode(expected).toSeq == data.toSeq)
  }

  test("LZW roundtrip crosses 9→10→11-bit width boundaries and table reset") {
    val rng = new scala.util.Random(42)
    // low-entropy data grows the table fast; 200k bytes forces resets
    val data = Array.fill(200000)((rng.nextInt(8) * 3).toByte)
    val enc = TiffFormat.Lzw.encode(data)
    assert(enc.length < data.length) // actually compresses
    assert(TiffFormat.Lzw.decode(enc).toSeq == data.toSeq)
    // incompressible data (worst case) roundtrips too
    val noise = Array.fill(4096)(rng.nextInt().toByte)
    assert(TiffFormat.Lzw.decode(TiffFormat.Lzw.encode(noise)).toSeq
      == noise.toSeq)
  }

  test("deflate roundtrip") {
    val data = Array.tabulate[Byte](10000)(i => (i % 97).toByte)
    val enc = TiffFormat.deflate(data)
    assert(enc.length < data.length)
    assert(TiffFormat.inflate(enc).toSeq == data.toSeq)
  }

  test("PackBits roundtrip: runs, literals, 128-boundaries, noise") {
    val cases = Seq(
      Array.fill[Byte](300)(7), // long run crossing the 128 cap
      Array.tabulate[Byte](259)(_.toByte), // long literal stretch
      (Array.fill[Byte](5)(1) ++ Array[Byte](2, 3) ++
        Array.fill[Byte](2)(4) ++ Array[Byte](5)), // mixed
      Array[Byte](9), // single byte
      Array.fill[Byte](1000)((math.random() * 255).toByte)) // noise
    for (data <- cases)
      assert(TiffFormat.PackBits.decode(
        TiffFormat.PackBits.encode(data)).toSeq == data.toSeq)
  }

  test("predictor 2 on IEEE-float samples is rejected, never mis-decoded") {
    import java.nio.ByteOrder
    val raw = Array.fill[Byte](16)(0)
    val e = intercept[IllegalArgumentException] {
      TiffFormat.decodeSegment(raw, TiffFormat.CompressionNone, predictor = 2,
        rowSamples = 4, bits = 32, samplesPerPixel = 1,
        order = ByteOrder.LITTLE_ENDIAN, sampleFormat = 3)
    }
    assert(e.getMessage.contains("float"))
    // per-row PackBits segments (libtiff shape) decode to the same bytes
    val rows = Array.tabulate[Byte](48)(i => (i % 5).toByte)
    val perRow = TiffFormat.compress(rows, TiffFormat.CompressionPackBits,
      rowBytes = 12)
    assert(TiffFormat.PackBits.decode(perRow).toSeq == rows.toSeq)
    // runs must not span the 12-byte row boundary: each row starts a fresh
    // control byte, so the stream splits into 4 independently-decodable rows
    var off = 0
    for (_ <- 0 until 4) {
      var end = off
      var produced = 0
      while (produced < 12) {
        val n = perRow(end)
        if (n >= 0) { produced += n + 1; end += n + 2 }
        else if (n != -128) { produced += 1 - n; end += 2 }
        else end += 1
      }
      assert(produced == 12, "row boundary crossed by a PackBits run")
      off = end
    }
  }

  test("predictor 2 undo: 8-bit and 16-bit horizontal differencing") {
    import java.nio.ByteOrder
    // 8-bit, 2 rows of 3: each row differenced independently
    val d8 = Array[Byte](5, 5, -3, 10, 1, 1)
    TiffFormat.undoPredictor(d8, rowSamples = 3, bits = 8,
      samplesPerPixel = 1, order = ByteOrder.LITTLE_ENDIAN)
    assert(d8.toSeq == Seq[Byte](5, 10, 7, 10, 11, 12))
    // 16-bit little-endian, one row: 1000, +500, -200 → 1000, 1500, 1300
    val b = java.nio.ByteBuffer.allocate(6).order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(1000).putShort(500).putShort(-200)
    val d16 = b.array()
    TiffFormat.undoPredictor(d16, rowSamples = 3, bits = 16,
      samplesPerPixel = 1, order = ByteOrder.LITTLE_ENDIAN)
    val rb = java.nio.ByteBuffer.wrap(d16).order(ByteOrder.LITTLE_ENDIAN)
    assert(Seq(rb.getShort, rb.getShort, rb.getShort) == Seq(1000, 1500, 1300))
  }

  test("IFD chain cycle and absurd entry counts raise instead of hanging") {
    import java.nio.{ByteBuffer, ByteOrder}
    // IFD at 8 whose next-IFD pointer points back at itself
    val b = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    b.putShort(0) // zero entries
    b.putInt(8) // next IFD = itself
    val cyclic = java.util.Arrays.copyOf(b.array(), 18)
    val readCyclic = (off: Long, len: Int) =>
      java.util.Arrays.copyOfRange(cyclic, off.toInt, off.toInt + len)
    val e1 = intercept[IllegalArgumentException](TiffFormat.parseIfds(readCyclic))
    assert(e1.getMessage.contains("cycle"))

    val b2 = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
    b2.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    b2.putShort(1)
    b2.putShort(273).putShort(4).putInt(Int.MaxValue).putInt(0) // 2^31 values
    b2.putInt(0)
    val huge = java.util.Arrays.copyOf(b2.array(), 26)
    val readHuge = (off: Long, len: Int) =>
      java.util.Arrays.copyOfRange(huge, off.toInt, off.toInt + len)
    val e2 = intercept[IllegalArgumentException](TiffFormat.parseIfds(readHuge))
    assert(e2.getMessage.contains("values"))
  }

  test("BigTIFF header + IFD8 emit/parse with offsets beyond 4 GiB " +
      "(synthetic, no giant fixture)") {
    import java.nio.ByteOrder
    val farOffset = 5L * 1024 * 1024 * 1024 // 5 GiB, > classic u32 range
    val entries = Seq(
      TiffFormat.Entry(TiffFormat.TagImageWidth, TiffFormat.TypeLong, 1, 4),
      TiffFormat.Entry(TiffFormat.TagImageLength, TiffFormat.TypeLong, 1, 2),
      TiffFormat.Entry(TiffFormat.TagBitsPerSample, TiffFormat.TypeShort, 1, 8),
      TiffFormat.Entry(TiffFormat.TagStripOffsets, TiffFormat.TypeLong8, 1,
        farOffset),
      TiffFormat.Entry(TiffFormat.TagRowsPerStrip, TiffFormat.TypeLong, 1, 2),
      TiffFormat.Entry(TiffFormat.TagStripByteCounts, TiffFormat.TypeLong8, 1, 8))
    val header = TiffFormat.headerBytes(16L, big = true)
    assert(header.length == 16)
    assert(header(2) == 43 && header(4) == 8)
    val ifd = TiffFormat.ifdBytes(entries, 0L, big = true)
    assert(ifd.length == TiffFormat.ifdSize(entries.length, big = true))
    val file = header ++ ifd
    val read = (off: Long, len: Int) =>
      java.util.Arrays.copyOfRange(file, off.toInt, off.toInt + len)
    val (order, ifds) = TiffFormat.parseIfds(read)
    assert(order == ByteOrder.LITTLE_ENDIAN)
    assert(ifds.length == 1)
    assert(ifds.head.width == 4 && ifds.head.height == 2)
    assert(ifds.head.stripOffsets == Seq(farOffset)) // survives > u32
    assert(ifds.head.stripByteCounts == Seq(8L))
  }

  test("OME-XML emit/parse roundtrip") {
    val ome = graft.meta.OME(Seq(graft.meta.OmeImage("Image:0", "scene \"A\" <1>",
      graft.meta.OmePixels("Pixels:0", "XYZCT", "double", 4, 3, 2, 2, 1,
        Some(0.5), Some(0.5), Some(2.0), Some(1.5),
        Seq(graft.meta.OmeChannel("Channel:0:0", Some("DAPI")),
          graft.meta.OmeChannel("Channel:0:1", Some("GFP")))))))
    val back = OmeXml.fromXml(OmeXml.toXml(ome))
    assert(back == ome)
  }
}

class OmeTiffSpec extends SparkSpec {

  private def formulaic(shape: Seq[Int]): NDArray =
    NDArray.tabulate(shape)(idx =>
      idx.zipWithIndex.map { case (v, i) =>
        v * math.pow(10, shape.length - 1 - i)
      }.sum)

  test("write → plugin-resolve → read roundtrip preserves pixels and dims") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 3, 4, 5))) // CZYX
    val uri = freshDir("img.ome.tiff")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.reader.name == "OmeTiffReader")
    assert(back.scenes == Seq("Image:0"))
    assert(back.dims.order == "TCZYX")
    assert(back.dims.shape == Seq(1, 2, 3, 4, 5))
    val nd = back.getImageData("CZYX")
    assert(nd.array.shape == Seq(2, 3, 4, 5))
    assert(nd.array(1, 2, 3, 4) == 1234.0)
    assert(nd.array(0, 0, 0, 0) == 0.0)
    // raw OME-XML preserved (M9), parses as OME (M8)
    assert(back.rawMetadata.exists(_.contains("<OME")))
    assert(back.omeMetadata.images.head.pixels.sizeX == 5)
  }

  test("TiffOptions through the BioImage.save facade: compression, tiling " +
      "and pyramid levels via the options map") {
    val img = BioSpark.fromArray(spark,
      formulaic(Seq(2, 40, 48)), Some("CYX"))
    val uri = freshDir("opts.ome.tiff")
    // tile syntax is HxW (height-first, like the zarr chunk options):
    // 32-tall x 16-wide — the non-square shape pins the orientation
    img.save(uri, None, Map(
      "compression" -> "deflate", "tile" -> "32x16", "pyramidLevels" -> "2"))
    val back = BioSpark.open(spark, uri)
    assert(back.resolutionLevels == Seq(0, 1))
    // 40x48 plane over 32-tall x 16-wide tiles → 2x3 tile grid; the
    // transposed write would yield a 3x2 grid at different offsets
    assert(back.meta.tilePositions.toSet ==
      (for (y <- Seq(0, 32); x <- Seq(0, 16, 32)) yield (y, x)).toSet,
      s"tile grid ${back.meta.tilePositions}")
    val nd = back.getImageData("CYX")
    for (c <- 0 until 2; y <- 0 until 40 by 7; x <- 0 until 48 by 11)
      assert(nd.array(c, y, x) == c * 100.0 + y * 10.0 + x, s"($c,$y,$x)")
    intercept[IllegalArgumentException](img.save(freshDir("bad.ome.tiff"), None,
      Map("compression" -> "jpeg2000")))
  }

  test("multi-scene save renumbers ids and preserves order; selection works") {
    val arrs = (0 until 3).map(i =>
      NDArray.tabulate(Seq(2, 2))(idx => i * 100.0 + idx(0) * 10 + idx(1)))
    val img = new BioImage(spark, ArrayLikeReader.multi(arrs))
    val uri = freshDir("multi.ome.tiff")
    img.save(uri, selectScenes = Some(Seq("Image:2", "Image:0")))
    val back = BioSpark.open(spark, uri)
    assert(back.scenes == Seq("Image:0", "Image:1")) // renumbered, order kept
    assert(back.getImageData("YX").array(1, 1) == 211.0) // was Image:2
    back.setScene("Image:1")
    assert(back.getImageData("YX").array(1, 1) == 11.0) // was Image:0
  }

  test("channel names, pps and timeInterval survive the roundtrip") {
    val img = BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2, 2)),
      Some("CYX"), Some(Seq("DAPI", "GFP")))
    val uri = freshDir("meta.ome.tiff")
    img.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.channelNames == Seq("DAPI", "GFP"))
    val ome = back.omeMetadata
    assert(ome.images.head.pixels.channels.flatMap(_.name) == Seq("DAPI", "GFP"))
  }

  test("big-endian multi-strip TIFF parses (foreign-writer layout)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-crafted MM (big-endian) TIFF: one 2x2 uint8 plane stored as
    // TWO strips of one row each — the layout a foreign writer produces
    val b = ByteBuffer.allocate(256).order(ByteOrder.BIG_ENDIAN)
    b.put('M'.toByte).put('M'.toByte).putShort(42)
    b.putInt(12) // first IFD offset
    b.position(8)
    b.put(Array[Byte](1, 2)) // strip 0 at offset 8: row y=0
    b.put(Array[Byte](3, 4)) // strip 1 at offset 10: row y=1
    b.position(12)
    // IFD: 8 entries (width, length, bits, compression, strip offsets,
    // rows/strip, strip counts, sample format)
    b.putShort(8)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) b.putShort(value.toShort).putShort(0)
      else b.putInt(value)
    }
    val stripOffsetsAt = 12 + 2 + 8 * 12 + 4 // after the IFD
    entry(256, 4, 1, 2) // width
    entry(257, 4, 1, 2) // length
    entry(258, 3, 1, 8) // bits
    entry(259, 3, 1, 1) // no compression
    entry(273, 4, 2, stripOffsetsAt) // strip offsets (out-of-line, 2 longs)
    entry(278, 4, 1, 1) // rows per strip = 1
    entry(279, 4, 2, stripOffsetsAt + 8) // strip byte counts
    entry(339, 3, 1, 1) // unsigned int
    b.putInt(0) // no next IFD
    b.putInt(8).putInt(10) // strip offsets
    b.putInt(2).putInt(2) // strip byte counts
    val p = freshDir("bigendian.tif")
    Files.write(java.nio.file.Paths.get(p),
      java.util.Arrays.copyOf(b.array(), b.position()))
    val back = BioSpark.open(spark, p)
    val nd = back.getImageData("YX")
    assert(nd.array(0, 0) == 1.0 && nd.array(0, 1) == 2.0)
    assert(nd.array(1, 0) == 3.0 && nd.array(1, 1) == 4.0)
  }

  test("plain TIFF (no OME-XML) reads as Z-stacked single scene") {
    // craft a 2-IFD plain TIFF via the writer then strip... simpler: the
    // writer always embeds OME-XML, so build a tiny plain TIFF by hand
    val vals = Array(1.0, 2.0, 3.0, 4.0)
    val strip = TiffFormat.encodePlane(vals, PixelType.UInt8)
    val ifd0 = TiffFormat.ifdBytes(TiffFormat.planeEntries(
      2, 2, PixelType.UInt8, 8, None), 8L + strip.length + 2 + 10 * 12 + 4)
    val ifd1 = TiffFormat.ifdBytes(TiffFormat.planeEntries(
      2, 2, PixelType.UInt8, 8, None), 0)
    val bytes = TiffFormat.headerBytes(8L + strip.length) ++ strip ++ ifd0 ++ ifd1
    val p = freshDir("plain.tif")
    Files.write(java.nio.file.Paths.get(p), bytes)
    val back = BioSpark.open(spark, p)
    assert(back.dims.shape == Seq(1, 1, 2, 2, 2)) // 2 IFDs on Z
    val nd = back.getImageData("ZYX")
    assert(nd.array(0, 1, 1) == 4.0)
    assert(nd.array(1, 0, 1) == 2.0)
  }

  test("tall planes split into ~256 KiB strips (streaming-reader-friendly) " +
      "and roundtrip") {
    // 600x64 float64: rowBytes=512 → rps=512 → 2 strips per plane
    val img = BioSpark.fromArray(spark, NDArray.tabulate(Seq(600, 64))(idx =>
      idx(0) * 1000.0 + idx(1)))
    val uri = freshDir("strips.ome.tiff")
    img.save(uri)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(uri))
    val read = (off: Long, len: Int) =>
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    val (_, ifds) = TiffFormat.parseIfds(read)
    assert(ifds.head.stripOffsets.length == 2, ifds.head.stripOffsets)
    assert(ifds.head.rowsPerStrip == 512)
    val back = BioSpark.open(spark, uri)
    val nd = back.getImageData("YX")
    assert(nd.array(599, 63) == 599063.0)
    assert(nd.array(511, 0) == 511000.0) // last row of strip 0
    assert(nd.array(512, 0) == 512000.0) // first row of strip 1
  }

  test("deflate-compressed roundtrip (strips)") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 5, 7))) // ZYX
    val uri = freshDir("deflate.ome.tiff")
    OmeTiffWriter.save(img, uri, None,
      TiffOptions(compression = TiffFormat.CompressionDeflate))
    val back = BioSpark.open(spark, uri)
    val nd = back.getImageData("ZYX")
    assert(nd.array.shape == Seq(2, 5, 7))
    assert(nd.array(1, 4, 6) == 146.0)
    assert(nd.array(0, 2, 3) == 23.0)
  }

  test("LZW-compressed roundtrip (strips)") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(3, 6, 5)))
    val uri = freshDir("lzw.ome.tiff")
    OmeTiffWriter.save(img, uri, None,
      TiffOptions(compression = TiffFormat.CompressionLZW))
    val back = BioSpark.open(spark, uri)
    val nd = back.getImageData("ZYX")
    assert(nd.array(2, 5, 4) == 254.0)
    assert(nd.array(0, 0, 1) == 1.0)
  }

  test("tiled roundtrip: ragged 20x24 image over 16x16 tiles reads as a " +
      "cropped 2x2 mosaic grid") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(20, 24))) // YX
    val uri = freshDir("tiled.ome.tiff")
    OmeTiffWriter.save(img, uri, None, TiffOptions(tile = Some((16, 16))))
    val back = BioSpark.open(spark, uri)
    // tiled scenes surface as mosaics; reconstruction reports TRUE dims
    assert(back.meta.dims.order == "MTCZYX")
    assert(back.meta.dims('M') == 4) // ceil(20/16) x ceil(24/16)
    assert(back.dims.order == "TCZYX")
    assert(back.dims('Y') == 20 && back.dims('X') == 24)
    val nd = back.getImageData("YX")
    assert(nd.array.shape == Seq(20, 24))
    // corners of all four tiles incl. cropped edge tiles (v = y*10 + x)
    assert(nd.array(0, 0) == 0.0)
    assert(nd.array(15, 15) == 165.0)
    assert(nd.array(16, 16) == 176.0) // bottom-right (cropped) tile
    assert(nd.array(19, 23) == 213.0)
    assert(nd.array(3, 20) == 50.0) // right edge tile
  }

  test("tiled + deflate-compressed multi-plane roundtrip") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 18, 17)), Some("CYX"))
    val uri = freshDir("tiled-z.ome.tiff")
    OmeTiffWriter.save(img, uri, None,
      TiffOptions(compression = TiffFormat.CompressionDeflate,
        tile = Some((16, 16))))
    val back = BioSpark.open(spark, uri)
    assert(back.dims('Y') == 18 && back.dims('X') == 17)
    val nd = back.getImageData("CYX")
    assert(nd.array(1, 17, 16) == 286.0) // 1*100 + 17*10 + 16
    assert(nd.array(0, 0, 16) == 16.0)
    assert(nd.array(1, 3, 4) == 134.0)
  }

  test("predictor 3: byte-split float differencing decodes, both sample " +
      "widths and byte orders") {
    import java.nio.{ByteBuffer, ByteOrder}
    // encode = MSB-first byte planes per row, then row-wise byte diff —
    // the libtiff fpDiff shape
    def encodeP3(vals: Array[Double], rowSamples: Int, bits: Int): Array[Byte] = {
      val bp = bits / 8
      val rowBytes = rowSamples * bp
      val out = new Array[Byte](vals.length * bp)
      for (r <- 0 until vals.length / rowSamples) {
        val base = r * rowBytes
        for (i <- 0 until rowSamples) {
          val bitsOf =
            if (bp == 4) java.lang.Float.floatToIntBits(
              vals(r * rowSamples + i).toFloat).toLong & 0xffffffffL
            else java.lang.Double.doubleToLongBits(vals(r * rowSamples + i))
          for (j <- 0 until bp) // plane j = j-th most significant byte
            out(base + j * rowSamples + i) =
              ((bitsOf >> (8 * (bp - 1 - j))) & 0xff).toByte
        }
        for (x <- (rowBytes - 1) to 1 by -1)
          out(base + x) = (out(base + x) - out(base + x - 1)).toByte
      }
      out
    }
    val vals = Array.tabulate(12)(i => i * 1.5 - 3.25)
    for ((bits, order) <- Seq((32, ByteOrder.LITTLE_ENDIAN),
        (32, ByteOrder.BIG_ENDIAN), (64, ByteOrder.LITTLE_ENDIAN),
        (64, ByteOrder.BIG_ENDIAN))) {
      val enc = encodeP3(vals, rowSamples = 4, bits = bits)
      val dec = TiffFormat.decodeSegment(enc, TiffFormat.CompressionNone,
        predictor = 3, rowSamples = 4, bits = bits, samplesPerPixel = 1,
        order = order, sampleFormat = 3)
      val got = TiffFormat.decodePlane(dec, bits, 3, order)
      assert(got.toSeq == vals.toSeq, s"bits=$bits order=$order")
    }
    // predictor 3 on integer samples is rejected
    intercept[IllegalArgumentException] {
      TiffFormat.decodeSegment(new Array[Byte](8), TiffFormat.CompressionNone,
        predictor = 3, rowSamples = 4, bits = 16, samplesPerPixel = 1,
        order = ByteOrder.LITTLE_ENDIAN, sampleFormat = 1)
    }
  }

  test("foreign float32 deflate + predictor-3 strip fixture decodes " +
      "end-to-end") {
    import java.nio.{ByteBuffer, ByteOrder}
    val w = 5; val h = 3
    val vals = Array.tabulate(h * w)(i => i * 0.25f - 1.5f)
    val bp = 4
    val raw = new Array[Byte](h * w * bp)
    for (y <- 0 until h) {
      val base = y * w * bp
      for (x <- 0 until w) {
        val bits = java.lang.Float.floatToIntBits(vals(y * w + x))
        for (j <- 0 until bp)
          raw(base + j * w + x) = ((bits >> (8 * (bp - 1 - j))) & 0xff).toByte
      }
      for (k <- (w * bp - 1) to 1 by -1)
        raw(base + k) = (raw(base + k) - raw(base + k - 1)).toByte
    }
    val enc = TiffFormat.deflate(raw)
    val b = ByteBuffer.allocate(1024).order(ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42)
    val ifdOff = 8 + enc.length + (enc.length & 1)
    b.putInt(ifdOff)
    b.put(enc)
    b.position(ifdOff)
    b.putShort(10)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) b.putShort(value.toShort).putShort(0)
      else b.putInt(value)
    }
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, 32)
    entry(259, 3, 1, 8) // deflate
    entry(262, 3, 1, 1)
    entry(273, 4, 1, 8) // strip offset
    entry(278, 4, 1, h)
    entry(279, 4, 1, enc.length)
    entry(317, 3, 1, 3) // floating-point predictor
    entry(339, 3, 1, 3) // IEEE float
    b.putInt(0)
    val p = freshDir("foreign-p3.tif")
    Files.write(java.nio.file.Paths.get(p),
      java.util.Arrays.copyOf(b.array(), b.position()))
    val back = BioSpark.open(spark, p)
    assert(back.meta.pixelType == graft.core.PixelType.Float32)
    val nd = back.getImageData("YX")
    for (y <- 0 until h; x <- 0 until w)
      assert(nd.array(y, x) == vals(y * w + x).toDouble, s"($y,$x)")
  }

  test("foreign big-endian LZW + predictor-2 tiled fixture decodes") {
    import java.nio.{ByteBuffer, ByteOrder}
    // 4x4 uint8 plane as ONE 16x16... keep it minimal: 4x4 image, 16x16
    // tile is invalid (tile > image is fine per spec: single padded tile)
    val w = 4; val h = 4; val tw = 16; val tl = 16
    val px = Array.tabulate(h, w)((y, x) => (y * 10 + x).toByte)
    // stored tile: 16x16, zero-padded, horizontally differenced per row
    val tile = new Array[Byte](tl * tw)
    for (y <- 0 until h; x <- 0 until w) tile(y * tw + x) = px(y)(x)
    for (y <- 0 until tl; x <- (tw - 1) to 1 by -1)
      tile(y * tw + x) = (tile(y * tw + x) - tile(y * tw + x - 1)).toByte
    val enc = TiffFormat.Lzw.encode(tile)
    val b = ByteBuffer.allocate(1024).order(ByteOrder.BIG_ENDIAN)
    b.put('M'.toByte).put('M'.toByte).putShort(42)
    val ifdOff = 8 + enc.length + (enc.length & 1)
    b.putInt(ifdOff)
    b.put(enc)
    b.position(ifdOff)
    b.putShort(9)
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) b.putShort(value.toShort).putShort(0)
      else b.putInt(value)
    }
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, 8)
    entry(259, 3, 1, 5) // LZW
    entry(317, 3, 1, 2) // horizontal predictor
    entry(322, 4, 1, tw)
    entry(323, 4, 1, tl)
    entry(324, 4, 1, 8) // tile offset
    entry(325, 4, 1, enc.length)
    b.putInt(0)
    val p = freshDir("foreign-lzw.tif")
    Files.write(java.nio.file.Paths.get(p),
      java.util.Arrays.copyOf(b.array(), b.position()))
    val back = BioSpark.open(spark, p)
    assert(back.dims('Y') == 4 && back.dims('X') == 4)
    val nd = back.getImageData("YX")
    for (y <- 0 until h; x <- 0 until w)
      assert(nd.array(y, x) == (y * 10 + x).toDouble)
  }

  test("foreign JDK-ImageIO TIFFs (LZW and Deflate, gray8) decode " +
      "identically — true cross-writer validation") {
    import javax.imageio.{ImageIO, ImageWriteParam, IIOImage}
    import java.awt.image.BufferedImage
    for (compression <- Seq("LZW", "Deflate", "PackBits")) {
      val it = ImageIO.getImageWritersByFormatName("tiff")
      assert(it.hasNext, "JDK TIFF plugin missing")
      val w = it.next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionType(compression)
      // 256x256 drives the LZW table through the 9→10→11→12-bit width
      // boundaries — pins early-change agreement with a foreign codec
      val img = new BufferedImage(256, 256, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 256; x <- 0 until 256)
        img.getRaster.setSample(x, y, 0, (y * 7 + x * 3) % 251)
      val f = new java.io.File(freshDir(s"imageio-$compression.tif"))
      val os = ImageIO.createImageOutputStream(f)
      w.setOutput(os)
      w.write(null, new IIOImage(img, null, null), p)
      os.close(); w.dispose()
      val back = BioSpark.open(spark, f.getPath)
      assert(back.dims('Y') == 256 && back.dims('X') == 256)
      val nd = back.getImageData("YX")
      for (y <- 0 until 256; x <- 0 until 256)
        assert(nd.array(y, x) == ((y * 7 + x * 3) % 251).toDouble,
          s"$compression pixel ($y,$x)")
    }
  }

  test("JDK ImageIO reads back our LZW-, Deflate- and PackBits-compressed " +
      "output") {
    import javax.imageio.ImageIO
    for (comp <- Seq(TiffFormat.CompressionLZW, TiffFormat.CompressionDeflate,
        TiffFormat.CompressionPackBits)) {
      // route through PNG so the image carries a UInt8 pixel type ImageIO
      // can consume on the TIFF side
      val arr = NDArray.tabulate(Seq(30, 20))(idx => (idx(0) * 3 + idx(1)) % 251)
      val png = freshDir(s"src-$comp.png")
      BioSpark.fromArray(spark, arr).save(png)
      val img8 = BioSpark.open(spark, png)
      assert(img8.meta.pixelType == PixelType.UInt8)
      val uri = freshDir(s"ours-$comp.ome.tiff")
      OmeTiffWriter.save(img8, uri, None, TiffOptions(compression = comp))
      val read = ImageIO.read(new java.io.File(uri))
      assert(read != null, s"ImageIO failed to read compression $comp")
      for (y <- 0 until 30; x <- 0 until 20)
        assert(read.getRaster.getSampleDouble(x, y, 0)
          == ((y * 3 + x) % 251).toDouble, s"comp $comp pixel ($y,$x)")
    }
  }

  test("RGB (S=3) chunky strips roundtrip; JDK ImageIO agrees both ways") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    // engine → ImageIO: write an RGB scene via an RGB PNG source
    val arr = NDArray.tabulate(Seq(5, 7, 3))(idx =>
      (idx(0) * 20 + idx(1) * 5 + idx(2) * 3) % 256)
    val png = freshDir("rgb-src.png")
    new BioImage(spark, new ArrayLikeReader(Seq(arr), Seq(Some("YXS")),
      Seq(None))).save(png)
    val img8 = BioSpark.open(spark, png)
    assert(img8.dims.order == "TCZYXS")
    val uri = freshDir("rgb.ome.tiff")
    img8.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.dims.order == "TCZYXS")
    assert(back.dims('S') == 3)
    val nd = back.getImageData("YXS")
    for (y <- 0 until 5; x <- 0 until 7; s <- 0 until 3)
      assert(nd.array(y, x, s) == ((y * 20 + x * 5 + s * 3) % 256).toDouble)
    val io = ImageIO.read(new java.io.File(uri))
    assert(io != null)
    for (y <- 0 until 5; x <- 0 until 7; s <- 0 until 3)
      assert(io.getRaster.getSampleDouble(x, y, s)
        == ((y * 20 + x * 5 + s * 3) % 256).toDouble, s"io ($y,$x,$s)")

    // ImageIO → engine: a foreign RGB TIFF (LZW) reads as YXS bands
    val w = ImageIO.getImageWritersByFormatName("tiff").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType("LZW")
    val bi = new BufferedImage(9, 4, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 9; s <- 0 until 3)
      bi.getRaster.setSample(x, y, s, (y * 31 + x * 11 + s * 5) % 256)
    val f = new java.io.File(freshDir("foreign-rgb.tif"))
    val os = ImageIO.createImageOutputStream(f)
    w.setOutput(os)
    w.write(null, new javax.imageio.IIOImage(bi, null, null), p)
    os.close(); w.dispose()
    val fr = BioSpark.open(spark, f.getPath)
    assert(fr.dims('S') == 3)
    val fnd = fr.getImageData("YXS")
    for (y <- 0 until 4; x <- 0 until 9; s <- 0 until 3)
      assert(fnd.array(y, x, s) == ((y * 31 + x * 11 + s * 5) % 256).toDouble,
        s"foreign ($y,$x,$s)")
  }

  test("BigTIFF write → read roundtrip (tiled + compressed, multi-plane)") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 18, 20)), Some("CYX"))
    val uri = freshDir("big.ome.tiff")
    OmeTiffWriter.save(img, uri, None, TiffOptions(
      compression = TiffFormat.CompressionDeflate,
      tile = Some((16, 16)), bigTiff = true))
    // version-43 magic on disk
    val head = Files.readAllBytes(java.nio.file.Paths.get(uri)).take(4)
    assert(head(0) == 'I' && head(2) == 43)
    val back = BioSpark.open(spark, uri)
    assert(back.dims('Y') == 18 && back.dims('X') == 20)
    val nd = back.getImageData("CYX")
    assert(nd.array(1, 17, 19) == 1 * 100.0 + 17 * 10.0 + 19)
    assert(nd.array(0, 3, 16) == 46.0)
    // raw OME-XML still reachable through the 8-byte-offset chain
    assert(back.rawMetadata.exists(_.contains("<OME")))
  }

  test("RGB + tiled + compressed TIFF roundtrip (interleaved tile crop)") {
    val arr = NDArray.tabulate(Seq(20, 18, 3))(idx =>
      (idx(0) * 12 + idx(1) * 5 + idx(2) * 41) % 256)
    val png = freshDir("rgbt-src.png")
    new BioImage(spark, new ArrayLikeReader(Seq(arr), Seq(Some("YXS")),
      Seq(None))).save(png)
    val img8 = BioSpark.open(spark, png)
    val uri = freshDir("rgb-tiled.ome.tiff")
    OmeTiffWriter.save(img8, uri, None, TiffOptions(
      compression = TiffFormat.CompressionDeflate, tile = Some((16, 16))))
    val back = BioSpark.open(spark, uri)
    assert(back.dims('Y') == 20 && back.dims('X') == 18 && back.dims('S') == 3)
    val nd = back.getImageData("YXS")
    for (y <- 0 until 20; x <- 0 until 18; s <- 0 until 3)
      assert(nd.array(y, x, s) == ((y * 12 + x * 5 + s * 41) % 256).toDouble,
        s"($y,$x,$s)")
  }

  test("16-bit RGB PNG: foreign fixture reads as UInt16 YXS and our " +
      "writer reproduces it at full depth") {
    import javax.imageio.ImageIO
    import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, Raster}
    import java.awt.color.ColorSpace
    // foreign 16-bit RGB PNG with values far beyond 8-bit range
    val (h, w) = (5, 7)
    val cm = new ComponentColorModel(
      ColorSpace.getInstance(ColorSpace.CS_sRGB),
      Array(16, 16, 16), false, false, java.awt.Transparency.OPAQUE,
      DataBuffer.TYPE_USHORT)
    val r = Raster.createInterleavedRaster(DataBuffer.TYPE_USHORT, w, h, 3, null)
    val src = new BufferedImage(cm, r, false, null)
    def v(y: Int, x: Int, s: Int): Int = 1000 * (y + 1) + 100 * x + 17 * s
    for (y <- 0 until h; x <- 0 until w; s <- 0 until 3)
      src.getRaster.setSample(x, y, s, v(y, x, s))
    val f = new java.io.File(freshDir("deep-rgb.png"))
    assert(ImageIO.write(src, "png", f))
    val img = BioSpark.open(spark, f.getPath)
    assert(img.meta.pixelType == PixelType.UInt16)
    assert(img.dims('S') == 3)
    val nd = img.getImageData("YXS")
    for (y <- 0 until h; x <- 0 until w; s <- 0 until 3)
      assert(nd.array(y, x, s) == v(y, x, s).toDouble, s"($y,$x,$s)")
    // engine writes it back at 16 bits per channel
    val out = freshDir("deep-rgb-out.png")
    img.save(out)
    val back = BioSpark.open(spark, out)
    assert(back.meta.pixelType == PixelType.UInt16)
    val nd2 = back.getImageData("YXS")
    for (y <- 0 until h; x <- 0 until w; s <- 0 until 3)
      assert(nd2.array(y, x, s) == v(y, x, s).toDouble, s"rt ($y,$x,$s)")
  }

  test("BigTIFF + RGB: sample arrays pack into the 8-byte inline slot") {
    val arr = NDArray.tabulate(Seq(6, 9, 3))(idx =>
      (idx(0) * 30 + idx(1) * 7 + idx(2) * 11) % 256)
    val png = freshDir("bigrgb-src.png")
    new BioImage(spark, new ArrayLikeReader(Seq(arr), Seq(Some("YXS")),
      Seq(None))).save(png)
    val img8 = BioSpark.open(spark, png)
    val uri = freshDir("big-rgb.ome.tiff")
    OmeTiffWriter.save(img8, uri, None, TiffOptions(bigTiff = true))
    val back = BioSpark.open(spark, uri)
    assert(back.dims('S') == 3)
    assert(back.meta.pixelType == PixelType.UInt8)
    val nd = back.getImageData("YXS")
    for (y <- 0 until 6; x <- 0 until 9; s <- 0 until 3)
      assert(nd.array(y, x, s) == ((y * 30 + x * 7 + s * 11) % 256).toDouble,
        s"($y,$x,$s)")
  }

  test("RGB PNG write path (TwoDWriter analog)") {
    val arr = NDArray.tabulate(Seq(4, 6, 3))(idx =>
      (idx(0) * 40 + idx(1) * 9 + idx(2) * 2) % 256)
    val png = freshDir("rgb-out.png")
    new BioImage(spark, new ArrayLikeReader(Seq(arr), Seq(Some("YXS")),
      Seq(None))).save(png)
    val back = BioSpark.open(spark, png)
    assert(back.dims('S') == 3)
    val nd = back.getImageData("YXS")
    for (y <- 0 until 4; x <- 0 until 6; s <- 0 until 3)
      assert(nd.array(y, x, s) == ((y * 40 + x * 9 + s * 2) % 256).toDouble)
  }

  test("unsupported compression, RGB strips, and stripless IFDs are " +
      "rejected with UnsupportedFileFormatError") {
    import java.nio.{ByteBuffer, ByteOrder}
    def fixture(entries: ((Int, Int, Int, Int))*): String = {
      val b = ByteBuffer.allocate(512).order(ByteOrder.LITTLE_ENDIAN)
      b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
      b.position(8)
      b.putShort(entries.length.toShort)
      entries.sortBy(_._1).foreach { case (tag, typ, count, value) =>
        b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
        if (typ == 3 && count == 1) b.putShort(value.toShort).putShort(0)
        else b.putInt(value)
      }
      b.putInt(0)
      val p = freshDir("bad.tif")
      Files.write(java.nio.file.Paths.get(p),
        java.util.Arrays.copyOf(b.array(), b.position()))
      p
    }
    val base = Seq((256, 4, 1, 2), (257, 4, 1, 2), (258, 3, 1, 8),
      (273, 4, 1, 100), (279, 4, 1, 4))
    // old-style JPEG (6) — only new-style (7) is read-supported
    val jpeg = fixture(base :+ ((259, 3, 1, 6)): _*)
    val e1 = intercept[graft.core.UnsupportedFileFormatError](
      new OmeTiffReader(spark, jpeg).scenes)
    assert(e1.getMessage.contains("compression 6"))
    // 4-sample strips (only 1 and 3 supported)
    val rgba = fixture(base :+ ((277, 3, 1, 4)): _*)
    val e2 = intercept[graft.core.UnsupportedFileFormatError](
      new OmeTiffReader(spark, rgba).scenes)
    assert(e2.getMessage.contains("SamplesPerPixel=4"))
    // planar (non-chunky) RGB
    val planar = fixture((base :+ ((277, 3, 1, 3))) :+ ((284, 3, 1, 2)): _*)
    val e2b = intercept[graft.core.UnsupportedFileFormatError](
      new OmeTiffReader(spark, planar).scenes)
    assert(e2b.getMessage.contains("PlanarConfiguration=2"))
    // neither strips nor tiles
    val none = fixture((256, 4, 1, 2), (257, 4, 1, 2), (258, 3, 1, 8))
    val e3 = intercept[graft.core.UnsupportedFileFormatError](
      new OmeTiffReader(spark, none).scenes)
    assert(e3.getMessage.contains("neither strip nor tile"))
  }

  test("writer raises on unknown scene and empty selection") {
    val img = BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2)))
    intercept[IllegalArgumentException](
      img.save(freshDir("x.ome.tiff"), Some(Seq("Image:9"))))
    intercept[IllegalArgumentException](
      img.save(freshDir("x.ome.tiff"), Some(Seq.empty)))
  }

  test("mosaic scenes stitch on save (tiles reassembled into full planes)") {
    val arr = NDArray.tabulate(Seq(2, 2, 2))(idx =>
      idx(0) * 100.0 + idx(1) * 10 + idx(2))
    val mosaic = new BioImage(spark,
      new ArrayLikeReader(Seq(arr), Seq(Some("MYX")),
        Seq(None), tilePositions = Seq(Seq((0, 0), (0, 2)))))
    val uri = freshDir("m.ome.tiff")
    mosaic.save(uri)
    val back = BioSpark.open(spark, uri)
    assert(back.dims.shape == Seq(1, 1, 1, 2, 4)) // 2x(2x2) side by side
    val nd = back.getImageData("YX")
    assert(nd.array(1, 1) == 11.0) // tile 0 (1,1)
    assert(nd.array(1, 3) == 111.0) // tile 1 (1,1)
  }

  test("writer registry dispatches by most specific extension") {
    assert(Writers.forPath("/a/b.ome.tiff") == OmeTiffWriter)
    assert(Writers.forPath("/a/b.graft") == ParquetPlaneStoreWriter)
    assert(Writers.forPath("/a/b.ome.zarr") == graft.writers.ZarrWriter)
    assert(Writers.forPath("/a/b.gif") == graft.writers.TimeSeriesWriter)
    intercept[graft.core.UnsupportedFileFormatError](
      Writers.forPath("/a/b.nd2"))
  }

  test("fsspec-style URIs: explicit file:// scheme resolves through Hadoop FS") {
    // S9: the readers go through Hadoop FileSystem, so any configured
    // scheme (file:, hdfs:, s3a:, gs: …) works; exercised with file://
    val img = BioSpark.fromArray(spark, formulaic(Seq(3, 4)))
    val plain = freshDir("uri.ome.tiff")
    img.save(plain)
    val back = BioSpark.open(spark, "file://" + plain)
    assert(back.reader.name == "OmeTiffReader")
    assert(back.getImageData("YX").array(2, 3) == 23.0)
  }

  test("feasibility report covers the tiff plugin") {
    val uri = freshDir("probe.ome.tiff")
    BioSpark.fromArray(spark, NDArray.zeros(Seq(2, 2))).save(uri)
    val rep = BioSpark.defaultRegistry.feasibilityReport(spark, uri)
    assert(rep("OmeTiffReader").supported)
  }

  test("SubIFD pyramid roundtrip (strips): levels surface, pooled values " +
      "match downsample2x, multi-plane") {
    // 2 channels so every main IFD carries its own SubIFD chain
    val arr = NDArray.tabulate(Seq(2, 8, 8))(idx =>
      idx(0) * 1000.0 + idx(1) * 10.0 + idx(2))
    val img = BioSpark.fromArray(spark, arr, Some("CYX"))
    val uri = freshDir("pyr.ome.tiff")
    OmeTiffWriter.save(img, uri, None, TiffOptions(pyramidLevels = 3))
    val back = BioSpark.open(spark, uri)
    assert(back.resolutionLevels == Seq(0, 1, 2))
    // level 0 untouched
    assert(back.getImageData("CYX").array(1, 7, 6) == 1076.0)
    // level 1: 4x4, each pixel the mean of a 2x2 block
    back.setResolutionLevel(1)
    val l1 = back.getImageData("CYX")
    assert(l1.array.shape == Seq(2, 4, 4))
    for (c <- 0 until 2; y <- 0 until 4; x <- 0 until 4) {
      val expect = (for (dy <- 0 to 1; dx <- 0 to 1)
        yield c * 1000.0 + (y * 2 + dy) * 10.0 + (x * 2 + dx)).sum / 4
      assert(l1.array(c, y, x) == expect, s"l1 ($c,$y,$x)")
    }
    // level 2: 2x2, mean of 4x4 blocks (pool of pool)
    back.setResolutionLevel(2)
    assert(back.getImageData("CYX").array.shape == Seq(2, 2, 2))
    // a foreign reader ignoring tag 330 still sees the full-res planes
    val io = javax.imageio.ImageIO.read(new java.io.File(uri))
    assert(io != null && io.getWidth == 8 && io.getHeight == 8)
  }

  test("SubIFD pyramid + tiles + deflate: ragged level-1 grid reads " +
      "cropped and pooled") {
    val arr = NDArray.tabulate(Seq(20, 24))(idx => idx(0) * 30.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = freshDir("pyrt.ome.tiff")
    OmeTiffWriter.save(img, uri, None, TiffOptions(
      compression = TiffFormat.CompressionDeflate,
      tile = Some((16, 16)), pyramidLevels = 2))
    val back = BioSpark.open(spark, uri)
    assert(back.resolutionLevels == Seq(0, 1))
    back.setResolutionLevel(1)
    val (expected, h1, w1) =
      OmeTiffWriter.downsample2x(arr.data, 20, 24, 1)
    assert((h1, w1) == (10, 12))
    val nd = back.getImageData("YX")
    assert(nd.array.shape == Seq(10, 12))
    for (y <- 0 until 10; x <- 0 until 12)
      assert(nd.array(y, x) == expected(y * 12 + x), s"($y,$x)")
  }

  test("pyramidLevels stops at 1x1 instead of over-halving") {
    val img = BioSpark.fromArray(spark, formulaic(Seq(2, 2)))
    val uri = freshDir("tiny-pyr.ome.tiff")
    OmeTiffWriter.save(img, uri, None, TiffOptions(pyramidLevels = 8))
    val back = BioSpark.open(spark, uri)
    assert(back.resolutionLevels == Seq(0, 1)) // 2x2 → 1x1, then stop
    back.setResolutionLevel(1)
    assert(back.getImageData("YX").array(0, 0) == (0.0 + 1 + 10 + 11) / 4)
  }

  test("foreign JPEG-compressed TIFF (gray8, Compression=7) decodes " +
      "identically to the JDK's own decode") {
    import javax.imageio.{ImageIO, ImageWriteParam, IIOImage}
    import java.awt.image.BufferedImage
    val (h, w) = (48, 64)
    val wr = ImageIO.getImageWritersByFormatName("tiff").next()
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType("JPEG")
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, (y * 5 + x * 3) % 251)
    val f = new java.io.File(freshDir("jpeg-gray.tif"))
    val os = ImageIO.createImageOutputStream(f)
    wr.setOutput(os)
    wr.write(null, new IIOImage(bi, null, null), p)
    os.close(); wr.dispose()
    // JPEG is lossy: the correctness contract is decode-equality with the
    // JDK's own TIFF+JPEG path on the same file, not with the source
    val jdk = ImageIO.read(f)
    assert(jdk != null)
    val back = BioSpark.open(spark, f.getPath)
    assert(back.dims('Y') == h && back.dims('X') == w)
    val nd = back.getImageData("YX")
    for (y <- 0 until h; x <- 0 until w)
      assert(nd.array(y, x) == jdk.getRaster.getSampleDouble(x, y, 0),
        s"($y,$x)")
  }

  test("foreign JPEG-compressed RGB TIFF decodes identically to the JDK " +
      "(YCbCr handled by the codec)") {
    import javax.imageio.{ImageIO, ImageWriteParam, IIOImage}
    import java.awt.image.BufferedImage
    val (h, w) = (16, 24)
    val wr = ImageIO.getImageWritersByFormatName("tiff").next()
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType("JPEG")
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w; s <- 0 until 3)
      bi.getRaster.setSample(x, y, s, (y * 16 + x * 7 + s * 40) % 256)
    val f = new java.io.File(freshDir("jpeg-rgb.tif"))
    val os = ImageIO.createImageOutputStream(f)
    wr.setOutput(os)
    wr.write(null, new IIOImage(bi, null, null), p)
    os.close(); wr.dispose()
    val jdk = ImageIO.read(f)
    assert(jdk != null)
    val back = BioSpark.open(spark, f.getPath)
    assert(back.dims('S') == 3)
    val nd = back.getImageData("YXS")
    for (y <- 0 until h; x <- 0 until w; s <- 0 until 3)
      assert(nd.array(y, x, s) == jdk.getRaster.getSampleDouble(x, y, s),
        s"($y,$x,$s)")
  }
}
