package graft.readers

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.core.{NDArray, PixelType, UnsupportedFileFormatError}
import graft.formats.MrcFormat

/** MRC2014 reader/writer: header codec identity, hand-built fixture
  * bytes for every mode and BOTH byte orders (pinning the decode against
  * the published spec independent of our own writer), the stack-vs-
  * volume ISPG split, voxel-size passthrough, facade round-trips, and
  * the loud-reject paths (complex modes, missing tag, multi-channel,
  * non-float32-representable doubles). */
class MrcSpec extends SparkSpec {

  /** Hand-build an MRC file: header words written explicitly in the
    * requested byte order (independent of MrcFormat.headerBytes). */
  private def writeMrc(nx: Int, ny: Int, nz: Int, mode: Int,
      data: Array[Byte], big: Boolean, ispg: Int = 1,
      nsymbt: Int = 0, ext: Array[Byte] = Array.empty,
      cell: Option[(Float, Float, Float)] = None): String = {
    val block = new Array[Byte](1024)
    val bb = ByteBuffer.wrap(block)
      .order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0, nx); bb.putInt(4, ny); bb.putInt(8, nz)
    bb.putInt(12, mode)
    bb.putInt(28, nx); bb.putInt(32, ny); bb.putInt(36, nz)
    cell.foreach { case (cx, cy, cz) =>
      bb.putFloat(40, cx); bb.putFloat(44, cy); bb.putFloat(48, cz)
    }
    bb.putInt(64, 1); bb.putInt(68, 2); bb.putInt(72, 3)
    bb.putInt(88, ispg); bb.putInt(92, nsymbt)
    block(208) = 'M'; block(209) = 'A'; block(210) = 'P'; block(211) = ' '
    block(212) = if (big) 0x11 else 0x44
    block(213) = if (big) 0x11 else 0x44
    val f = Paths.get(freshDir("mrc.mrc"))
    val out = new java.io.ByteArrayOutputStream()
    out.write(block); out.write(ext); out.write(data)
    Files.write(f, out.toByteArray)
    f.toString
  }

  private def pixels(path: String): Seq[Double] = {
    val img = graft.BioSpark.open(spark, path)
    img.getImageData(img.dims.order).array.data.toSeq
  }

  test("header codec: parse(serialize) identity on every carried field") {
    val h = MrcFormat.Header(5, 4, 3, 2, 5, 4, 3, 10f, 8f, 6f, 1, 2, 3,
      -1f, 9f, 4.5f, 1, 0, 2.25f, 1, Seq("graft MRC2014 writer"),
      bigEndian = false)
    val parsed = MrcFormat.parseHeader(MrcFormat.headerBytes(h))
    assert(parsed == h)
  }

  test("fixture decode: every mode, both byte orders") {
    val vals = Seq(-2, -1, 0, 1, 3, 7) // 3x2 plane, nz=1
    for (big <- Seq(false, true)) {
      val order = if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
      // mode 0: int8
      val b0 = vals.map(_.toByte).toArray
      assert(pixels(writeMrc(3, 2, 1, 0, b0, big)) == vals.map(_.toDouble))
      // mode 1: int16
      val b1 = ByteBuffer.allocate(12).order(order)
      vals.foreach(v => b1.putShort(v.toShort))
      assert(pixels(writeMrc(3, 2, 1, 1, b1.array(), big)) ==
        vals.map(_.toDouble))
      // mode 6: uint16 (values widen exactly)
      val u = Seq(0, 1, 255, 256, 65535, 40000)
      val b6 = ByteBuffer.allocate(12).order(order)
      u.foreach(v => b6.putShort(v.toShort))
      assert(pixels(writeMrc(3, 2, 1, 6, b6.array(), big)) ==
        u.map(_.toDouble))
      // mode 2: float32
      val b2 = ByteBuffer.allocate(24).order(order)
      vals.foreach(v => b2.putFloat(v.toFloat + 0.5f))
      assert(pixels(writeMrc(3, 2, 1, 2, b2.array(), big)) ==
        vals.map(_.toDouble + 0.5))
    }
  }

  test("ISPG split: stack reads TYX, volume reads ZYX; pixel types map") {
    val data = (0 until 24).map(_.toByte).toArray
    val stack = graft.BioSpark.open(spark,
      writeMrc(4, 3, 2, 0, data, big = false, ispg = 0))
    assert(stack.dims.order == "TCZYX")
    assert(stack.dims.shape == Seq(2L, 1L, 1L, 3L, 4L))
    assert(stack.meta.pixelType == PixelType.Int8)
    val vol = graft.BioSpark.open(spark,
      writeMrc(4, 3, 2, 0, data, big = false, ispg = 1))
    assert(vol.dims.shape == Seq(1L, 1L, 2L, 3L, 4L))
  }

  test("extended header is skipped; voxel size = cell / grid") {
    val data = Array[Byte](1, 2, 3, 4, 5, 6)
    val p = writeMrc(3, 2, 1, 0, data, big = false,
      nsymbt = 80, ext = new Array[Byte](80),
      cell = Some((6f, 5f, 4f)))
    val img = graft.BioSpark.open(spark, p)
    assert(pixels(p) == data.map(_.toDouble).toSeq)
    assert(img.physicalPixelSizes.contains((4.0, 2.5, 2.0))) // z, y, x Å
  }

  test("facade round-trip: ZYX volume and TYX stack via .mrc dispatch") {
    val zyx = NDArray.tabulate(Seq(2, 4, 5))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2))
    val uriV = freshDir("mrc_rt.mrc")
    graft.BioSpark.fromArray(spark, zyx, Some("ZYX")).save(uriV)
    val vol = graft.BioSpark.open(spark, uriV)
    assert(vol.dims.shape == Seq(1L, 1L, 2L, 4L, 5L))
    assert(vol.meta.pixelType == PixelType.Float32) // f8 → verified mode 2
    assert(vol.getImageData("ZYX").array.data.toSeq == zyx.data.toSeq)
    val tyx = NDArray.tabulate(Seq(3, 2, 4))(idx =>
      idx(0) * 50.0 + idx(1) * 8.0 + idx(2))
    val uriS = freshDir("mrc_rt.mrc")
    graft.BioSpark.fromArray(spark, tyx, Some("TYX")).save(uriS)
    val stk = graft.BioSpark.open(spark, uriS)
    assert(stk.dims.shape == Seq(3L, 1L, 1L, 2L, 4L))
    assert(stk.getImageData("TYX").array.data.toSeq == tyx.data.toSeq)
    // written header stats are real data stats
    val h = MrcFormat.parseHeader(
      Files.readAllBytes(java.nio.file.Paths.get(uriV)).take(1024))
    assert(h.dmin == 0f && h.dmax == 134f && h.ispg == 1)
  }

  test("loud rejects: complex mode, bad tag, C>1, non-f4 double, T+Z") {
    val data = Array[Byte](1, 2, 3, 4, 5, 6)
    intercept[UnsupportedFileFormatError] {
      pixels(writeMrc(3, 2, 1, 3, data, big = false))
    }
    // no MAP tag → not this format
    val junk = Paths.get(freshDir("mrc_junk.mrc"))
    Files.write(junk, new Array[Byte](1100))
    intercept[Exception] { graft.BioSpark.open(spark, junk.toString) }
    val cyx = NDArray.tabulate(Seq(2, 2, 2))(_ => 1.0)
    intercept[IllegalArgumentException] {
      graft.BioSpark.fromArray(spark, cyx, Some("CYX"))
        .save(freshDir("mrc_c.mrc"))
    }
    val frac = NDArray.tabulate(Seq(1, 1, 1))(_ => 0.1) // not f4-exact
    intercept[IllegalArgumentException] {
      graft.BioSpark.fromArray(spark, frac, Some("ZYX"))
        .save(freshDir("mrc_f.mrc"))
    }
    val tzyx = NDArray.tabulate(Seq(2, 2, 1, 1))(_ => 1.0)
    intercept[IllegalArgumentException] {
      graft.BioSpark.fromArray(spark, tzyx, Some("TZYX"))
        .save(freshDir("mrc_tz.mrc"))
    }
  }
}
