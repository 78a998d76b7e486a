package graft.readers

import java.awt.image.BufferedImage
import java.nio.file.Files

import javax.imageio.ImageIO

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray
import graft.writers.TwoDWriter

class ImageIoSpec extends SparkSpec {

  test("grayscale PNG roundtrip via writer registry + plugin resolution") {
    val arr = NDArray.tabulate(Seq(4, 5))(idx => idx(0) * 10.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = freshDir("gray.png")
    img.save(uri) // Writers dispatch → PngWriter
    val back = BioSpark.open(spark, uri)
    assert(back.reader.name == "ImageIoReader")
    assert(back.dims.order == "TCZYX")
    assert(back.dims.shape == Seq(1, 1, 1, 4, 5))
    val nd = back.getImageData("YX")
    assert(nd.array(3, 4) == 34.0)
    assert(nd.array(0, 0) == 0.0)
  }

  test("RGB PNG reads as YXS with per-band values") {
    val buf = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) {
      val r = y * 10 + x; val g = 100 + r; val b = 200 + r
      buf.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val p = freshDir("rgb.png")
    ImageIO.write(buf, "png", new java.io.File(p))
    val back = BioSpark.open(spark, p)
    assert(back.dims.order == "TCZYXS")
    assert(back.dims.shape == Seq(1, 1, 1, 2, 3, 3))
    val nd = back.getImageData("YXS")
    assert(nd.array(1, 2, 0) == 12.0) // R band
    assert(nd.array(1, 2, 1) == 112.0) // G
    assert(nd.array(1, 2, 2) == 212.0) // B
  }

  test("PNG writer clamps out-of-range values") {
    val arr = NDArray.tabulate(Seq(1, 3))(idx => idx(1) * 300.0 - 100)
    val uri = freshDir("clamp.png")
    TwoDWriter.save(BioSpark.fromArray(spark, arr), uri, None)
    val back = BioSpark.open(spark, uri)
    val nd = back.getImageData("YX")
    assert(nd.array(0, 0) == 0.0) // -100 clamped
    assert(nd.array(0, 1) == 200.0)
    assert(nd.array(0, 2) == 255.0) // 500 clamped
  }

  test("BMP write: gray and RGB roundtrip losslessly via registry " +
      "dispatch; 16-bit sources are rejected, not truncated") {
    import graft.writers.Writers
    val arr = NDArray.tabulate(Seq(4, 5))(idx => idx(0) * 10.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = freshDir("gray.bmp")
    img.save(uri) // Writers dispatch → TwoDWriter
    assert(Writers.forPath(uri) == TwoDWriter)
    val back = BioSpark.open(spark, uri)
    assert(back.reader.name == "ImageIoReader")
    val nd = back.getImageData("YX")
    for (y <- 0 until 4; x <- 0 until 5)
      assert(nd.array(y, x) == y * 10.0 + x, s"($y,$x)")

    val rgb = NDArray.tabulate(Seq(3, 4, 3))(idx =>
      (idx(0) * 60 + idx(1) * 13 + idx(2) * 7) % 256)
    val rimg = new graft.image.BioImage(spark,
      new ArrayLikeReader(Seq(rgb), Seq(Some("YXS")), Seq(None)))
    val ruri = freshDir("rgb.bmp")
    rimg.save(ruri)
    val rback = BioSpark.open(spark, ruri)
    assert(rback.dims('S') == 3)
    val rnd = rback.getImageData("YXS")
    for (y <- 0 until 3; x <- 0 until 4; s <- 0 until 3)
      assert(rnd.array(y, x, s) == ((y * 60 + x * 13 + s * 7) % 256).toDouble,
        s"($y,$x,$s)")

    // a real 16-bit source (USHORT_GRAY PNG → UInt16 on read)
    val buf16 = new BufferedImage(2, 2, BufferedImage.TYPE_USHORT_GRAY)
    buf16.getRaster.setSample(0, 0, 0, 1000)
    val p16 = freshDir("deep.png")
    ImageIO.write(buf16, "png", new java.io.File(p16))
    val u16 = BioSpark.open(spark, p16)
    assert(u16.meta.pixelType == graft.core.PixelType.UInt16)
    intercept[IllegalArgumentException](u16.save(freshDir("bad.bmp")))
    intercept[IllegalArgumentException](u16.save(freshDir("bad.jpg")))
  }

  test("JPEG write: registry dispatch for .jpg/.jpeg; read-back is " +
      "decode-equal to the JDK's own JPEG path (DCT loss is the codec's)") {
    import graft.writers.Writers
    // smooth gradient → JPEG-friendly content (loss still nonzero)
    val arr = NDArray.tabulate(Seq(8, 8))(idx =>
      100.0 + idx(0) * 2 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    for (ext <- Seq("jpg", "jpeg")) {
      val uri = freshDir(s"grad.$ext")
      img.save(uri)
      assert(Writers.forPath(uri) == TwoDWriter)
      val back = BioSpark.open(spark, uri)
      assert(back.dims('Y') == 8 && back.dims('X') == 8)
      val nd = back.getImageData("YX")
      // decode-equality: our reader sees exactly what ImageIO decodes
      val jdk = ImageIO.read(new java.io.File(uri))
      for (y <- 0 until 8; x <- 0 until 8)
        assert(nd.array(y, x) == jdk.getRaster.getSample(x, y, 0).toDouble,
          s"($y,$x)")
      // and the codec loss is bounded for smooth content
      for (y <- 0 until 8; x <- 0 until 8)
        assert(math.abs(nd.array(y, x) - (100.0 + y * 2 + x)) <= 8.0,
          s"($y,$x) drifted: ${nd.array(y, x)}")
    }
  }

  test("JPEG quality option: explicit encoder quality through the save " +
      "facade, decode-equality at both settings, bigger file at q=1.0") {
    import graft.writers.TwoDWriter
    // busy content so quality actually moves the encoded size
    val arr = NDArray.tabulate(Seq(16, 16))(idx =>
      ((idx(0) * 31 + idx(1) * 17) % 7) * 30.0)
    val img = BioSpark.fromArray(spark, arr)
    val sizes = Seq("0.3", "1.0").map { q =>
      val uri = freshDir(s"q$q.jpg")
      img.save(uri, None, Map("quality" -> q))
      // decode-equality contract holds at every quality setting
      val nd = BioSpark.open(spark, uri).getImageData("YX")
      val jdk = ImageIO.read(new java.io.File(uri))
      for (y <- 0 until 16; x <- 0 until 16)
        assert(nd.array(y, x) == jdk.getRaster.getSample(x, y, 0).toDouble,
          s"q=$q ($y,$x)")
      Files.size(java.nio.file.Paths.get(uri))
    }
    assert(sizes(1) > sizes(0),
      s"q=1.0 (${sizes(1)}B) should out-size q=0.3 (${sizes(0)}B)")
    // quality is a JPEG-only knob; lossless formats reject it
    intercept[IllegalArgumentException](
      img.save(freshDir("q.png"), None, Map("quality" -> "0.5")))
    // out-of-range and non-numeric values fail loudly
    intercept[IllegalArgumentException](
      img.save(freshDir("q2.jpg"), None, Map("quality" -> "1.5")))
    intercept[IllegalArgumentException](
      img.save(freshDir("q3.jpg"), None, Map("quality" -> "hi")))
    // direct writer calls with an unregistered extension raise instead of
    // silently writing JPEG bytes under a foreign name
    intercept[IllegalArgumentException](
      TwoDWriter.save(img, freshDir("img.tif"), None))
    // unknown option keys raise on every writer
    intercept[IllegalArgumentException](
      img.save(freshDir("q4.jpg"), None, Map("speed" -> "11")))
  }

  test("non-image file is rejected by plugin resolution") {
    val p = freshDir("not.png")
    Files.write(java.nio.file.Paths.get(p), "hello".getBytes)
    intercept[graft.core.UnsupportedFileFormatError](BioSpark.open(spark, p))
  }

  test("TimeSeriesWriter: animated gray GIF roundtrips frame count, order " +
      "and exact pixel values") {
    import graft.writers.{TimeSeriesWriter, Writers}
    // 5 frames, 6x8, formulaic — every frame distinct so order is pinned
    val arr = NDArray.tabulate(Seq(5, 6, 8))(idx =>
      (idx(0) * 40 + idx(1) * 9 + idx(2)) % 256)
    val img = BioSpark.fromArray(spark, arr, Some("TYX"))
    val uri = freshDir("movie.gif")
    img.save(uri) // registry dispatch by extension
    assert(Writers.forPath(uri) == TimeSeriesWriter)
    val back = BioSpark.open(spark, uri)
    assert(back.reader.name == "ImageIoReader")
    assert(back.dims('T') == 5)
    assert(back.dims('Y') == 6 && back.dims('X') == 8)
    val nd = back.getImageData("TYX")
    for (t <- 0 until 5; y <- 0 until 6; x <- 0 until 8)
      assert(nd.array(t, y, x) == ((t * 40 + y * 9 + x) % 256).toDouble,
        s"($t,$y,$x)")
  }

  test("TimeSeriesWriter: RGB frames decode-equal to the JDK's own GIF " +
      "read (palette quantization is the codec's)") {
    import graft.readers.ArrayLikeReader
    import graft.image.BioImage
    // few distinct colors → fits a 256-entry palette losslessly
    val arr = NDArray.tabulate(Seq(3, 4, 5, 3))(idx =>
      Seq(40.0 * idx(0), 200.0 - 50 * (idx(1) % 2), 30.0 * idx(3))(idx(3) % 3))
    val img = new BioImage(spark, new ArrayLikeReader(Seq(arr),
      Seq(Some("TYXS")), Seq(None)))
    val uri = freshDir("rgb-movie.gif")
    img.save(uri)
    val f = new java.io.File(uri)
    val iis = javax.imageio.ImageIO.createImageInputStream(f)
    val rd = javax.imageio.ImageIO.getImageReaders(iis).next()
    rd.setInput(iis)
    assert(rd.getNumImages(true) == 3)
    val back = BioSpark.open(spark, uri)
    assert(back.dims('T') == 3 && back.dims('S') == 3)
    val nd = back.getImageData("TYXS")
    for (t <- 0 until 3) {
      val jdk = rd.read(t)
      val cm = jdk.getColorModel
      for (y <- 0 until 4; x <- 0 until 5) {
        val rgb = jdk.getRGB(x, y)
        assert(nd.array(t, y, x, 0) == ((rgb >> 16) & 0xff).toDouble, s"r($t,$y,$x)")
        assert(nd.array(t, y, x, 1) == ((rgb >> 8) & 0xff).toDouble, s"g($t,$y,$x)")
        assert(nd.array(t, y, x, 2) == (rgb & 0xff).toDouble, s"b($t,$y,$x)")
      }
    }
    rd.dispose(); iis.close()
  }

  test("GIF frame delay comes from time_interval metadata") {
    import graft.readers.ArrayLikeReader
    import graft.image.BioImage
    val arr = NDArray.tabulate(Seq(2, 3, 3))(idx => idx(0) * 100.0)
    val img = new BioImage(spark, new ArrayLikeReader(Seq(arr),
      Seq(Some("TYX")), Seq(None), timeInterval = Some(0.25)))
    val uri = freshDir("timed.gif")
    img.save(uri)
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.File(uri))
    val rd = javax.imageio.ImageIO.getImageReaders(iis).next()
    rd.setInput(iis)
    val meta = rd.getImageMetadata(0)
    val root = meta.getAsTree(meta.getNativeMetadataFormatName)
    def find(n: org.w3c.dom.Node, name: String): Option[org.w3c.dom.Node] = {
      var c = n.getFirstChild
      while (c != null) {
        if (c.getNodeName == name) return Some(c)
        c = c.getNextSibling
      }
      None
    }
    val gce = find(root, "GraphicControlExtension").get
    assert(gce.getAttributes.getNamedItem("delayTime").getNodeValue == "25")
    rd.dispose(); iis.close()
  }
}
