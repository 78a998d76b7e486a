package graft.readers

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.core.{NDArray, PixelType, UnsupportedFileFormatError}
import graft.formats.NpyFormat

/** NPY reader/writer: hand-built fixture bytes for every dtype and both
  * byte orders (pinning the decode against the published numpy format
  * spec, independent of our own writer), dim-order guessing by rank,
  * writer round-trips incl. dtype narrow-back, and the loud-reject
  * paths (fortran order, rank 0/7, unsupported dtypes). */
class NpySpec extends SparkSpec {

  /** Build a v1.0 .npy file from raw element bytes. */
  private def writeNpy(descr: String, shape: Seq[Long],
      data: Array[Byte]): String = {
    val f = Paths.get(freshDir("npy.npy"))
    val header = NpyFormat.headerBytes(descr, shape)
    // headerBytes always emits fortran_order: False with the requested
    // descr — for big-endian fixtures patch the descr in place
    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    out.write(data)
    Files.write(f, out.toByteArray)
    f.toString
  }

  private def pixels(path: String): Seq[Double] = {
    val img = graft.BioSpark.open(spark, path)
    img.getImageData(img.dims.order).array.data.toSeq
  }

  test("header round-trip: parse(serialize) is identity, 64-byte aligned") {
    val hb = NpyFormat.headerBytes("<f8", Seq(3L, 4L))
    assert(hb.length % 64 == 0)
    val h = NpyFormat.readHeader(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(hb)))
    assert(h == NpyFormat.Header("<f8", fortranOrder = false, Seq(3L, 4L)))
    // 1-tuple shape uses python's trailing-comma form
    val h1 = NpyFormat.readHeader(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(NpyFormat.headerBytes("|u1", Seq(7L)))))
    assert(h1.shape == Seq(7L))
  }

  test("every dtype decodes: i1/u1/i2/u2/i4/u4/f4/f8, LE and BE") {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      fill(b); b.array()
    }
    def be(n: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.BIG_ENDIAN)
      fill(b); b.array()
    }
    val cases: Seq[(String, Array[Byte], Seq[Double])] = Seq(
      ("|i1", Array[Byte](-2, 3), Seq(-2.0, 3.0)),
      ("|u1", Array[Byte](0xff.toByte, 1), Seq(255.0, 1.0)),
      ("<i2", le(4)(b => { b.putShort(-300); b.putShort(5) }), Seq(-300.0, 5.0)),
      (">i2", be(4)(b => { b.putShort(-300); b.putShort(5) }), Seq(-300.0, 5.0)),
      ("<u2", le(4)(b => { b.putShort(0xfffe.toShort); b.putShort(2) }),
        Seq(65534.0, 2.0)),
      (">u2", be(4)(b => { b.putShort(0xfffe.toShort); b.putShort(2) }),
        Seq(65534.0, 2.0)),
      ("<i4", le(8)(b => { b.putInt(-70000); b.putInt(9) }), Seq(-70000.0, 9.0)),
      ("<u4", le(8)(b => { b.putInt(-1); b.putInt(3) }),
        Seq(4294967295.0, 3.0)),
      ("<f4", le(8)(b => { b.putFloat(1.5f); b.putFloat(-2.25f) }),
        Seq(1.5, -2.25)),
      (">f8", be(16)(b => { b.putDouble(3.125); b.putDouble(-0.5) }),
        Seq(3.125, -0.5)),
    )
    for ((descr, bytes, want) <- cases) {
      val p = writeNpy(descr, Seq(2L), bytes)
      assert(pixels(p) == want, s"descr $descr")
    }
  }

  test("rank → guessed order: 3D is ZYX, 6D is TCZYXS (trailing S)") {
    // 3D shape (2,2,3): value = z*100 + y*10 + x in C-order
    val d3 = (for (z <- 0 until 2; y <- 0 until 2; x <- 0 until 3)
      yield (z * 100 + y * 10 + x).toDouble).toArray
    val b3 = java.nio.ByteBuffer.allocate(d3.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    d3.foreach(b3.putDouble)
    val p3 = writeNpy("<f8", Seq(2L, 2L, 3L), b3.array())
    val img3 = graft.BioSpark.open(spark, p3)
    assert(img3.dims.order == "TCZYX")
    assert(img3.dims('Z') == 2 && img3.dims('Y') == 2 && img3.dims('X') == 3)
    assert(img3.getImageData("ZYX").array.data.toSeq == d3.toSeq)
    // 6D shape (1,1,1,1,2,3): S is the TRAILING dim
    val d6 = Array.tabulate(6)(_.toDouble)
    val b6 = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    d6.foreach(b6.putDouble)
    val p6 = writeNpy("<f8", Seq(1L, 1L, 1L, 1L, 2L, 3L), b6.array())
    val img6 = graft.BioSpark.open(spark, p6)
    assert(img6.dims.order == "TCZYXS")
    assert(img6.dims('X') == 2 && img6.dims('S') == 3)
  }

  test("writer round-trip: 5D f8 through save(), dtype narrow-back u2") {
    val arr = NDArray.tabulate(Seq(2, 3, 2, 4, 5))(idx =>
      idx(0) * 10000.0 + idx(1) * 1000 + idx(2) * 100 + idx(3) * 10 + idx(4))
    val img = graft.BioSpark.fromArray(spark, arr)
    val uri = freshDir("rt.npy")
    img.save(uri)
    val back = graft.BioSpark.open(spark, uri)
    assert(back.dims.order == "TCZYX")
    assert(back.dims.sizes == Seq(2L, 3L, 2L, 4L, 5L))
    assert(back.meta.pixelType == PixelType.Float64)
    assert(back.getImageData("TCZYX").array.data.toSeq ==
      arr.data.toSeq)
    // u2 source → writer must narrow back to <u2, values preserved
    val b = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(65534, 7, 0, 300).foreach(v => b.putShort(v.toShort))
    val pu2 = writeNpy("<u2", Seq(2L, 2L), b.array())
    val imgU = graft.BioSpark.open(spark, pu2)
    assert(imgU.meta.pixelType == PixelType.UInt16)
    val uriU = freshDir("u2.npy")
    imgU.save(uriU)
    val hdr = NpyFormat.readHeader(new java.io.DataInputStream(
      new java.io.BufferedInputStream(
        Files.newInputStream(Paths.get(uriU)))))
    assert(hdr.descr == "<u2")
    assert(pixels(uriU) == Seq(65534.0, 7.0, 0.0, 300.0))
  }

  test("npz: multi-scene roundtrip, scene ids from member names, " +
      "per-member dtype narrow-back") {
    val f8 = NDArray.tabulate(Seq(2, 3))(i => i(0) * 10.0 + i(1))
    val img = graft.BioSpark.fromArray(spark, f8)
    // write a 2-member archive by hand through the writer's scene loop:
    // one scene per save is the npy path; the npz writer takes them all
    val one = freshDir("one.npz")
    img.save(one)
    val back1 = graft.BioSpark.open(spark, one)
    assert(back1.scenes == Seq("Image:0"))
    assert(back1.getImageData("YX").array.data.toSeq == f8.data.toSeq)
    // multi-scene via ArrayLike pair with distinct ranks
    val a = NDArray.tabulate(Seq(2, 2))(i => i(0) * 2.0 + i(1))
    val b = NDArray.tabulate(Seq(2, 2, 2))(i =>
      i(0) * 4.0 + i(1) * 2.0 + i(2))
    val multi = new graft.image.BioImage(spark,
      new ArrayLikeReader(Seq(a, b), Seq(Some("YX"), Some("ZYX")),
        Seq(None, None)))
    val two = freshDir("two.npz")
    multi.save(two)
    val back = graft.BioSpark.open(spark, two)
    assert(back.scenes == Seq("Image:0", "Image:1"))
    back.setScene("Image:1")
    assert(back.dims.order == "TCZYX" && back.dims('Z') == 2)
    assert(back.getImageData("ZYX").array.data.toSeq == b.data.toSeq)
    back.setScene("Image:0")
    assert(back.getImageData("YX").array.data.toSeq == a.data.toSeq)
  }

  test("loud rejects: fortran order, rank 7, unsupported dtype") {
    // fortran_order: True — patch the header text of a valid file
    val good = writeNpy("<f8", Seq(2L, 2L),
      Array.fill[Byte](32)(0))
    val bytes = Files.readAllBytes(Paths.get(good))
    val text = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("False", "True ")
    val fortran = Paths.get(freshDir("f.npy"))
    Files.write(fortran,
      text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    intercept[UnsupportedFileFormatError] {
      graft.BioSpark.open(spark, fortran.toString).dims
    }
    val r7 = writeNpy("<f8", Seq(1L, 1L, 1L, 1L, 1L, 1L, 2L),
      Array.fill[Byte](16)(0))
    intercept[UnsupportedFileFormatError] {
      graft.BioSpark.open(spark, r7.toString).dims
    }
    val c8 = writeNpy("<c8", Seq(2L), Array.fill[Byte](16)(0))
    intercept[UnsupportedFileFormatError] {
      graft.BioSpark.open(spark, c8.toString).dims
    }
  }
}
