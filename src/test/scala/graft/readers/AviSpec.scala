package graft.readers

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{NDArray, UnsupportedFileFormatError}
import graft.formats.AviFormat

/** RIFF/AVI codec invariants + the reader/writer roundtrip contract
  * b46 exercises end-to-end. */
class AviSpec extends SparkSpec {

  private def frame(w: Int, h: Int)(f: (Int, Int, Int) => Int): Array[Int] =
    Array.tabulate(w * h * 3) { i =>
      val s = i % 3; val p = i / 3
      f(p / w, p % w, s)
    }

  test("codec roundtrips RGB frames bit-exactly through bottom-up BGR " +
      "padded rows") {
    // w=5: 15-byte rows pad to 16 — the padding path is exercised
    val v = AviFormat.Video(5, 3, 10, Seq(
      frame(5, 3)((y, x, s) => (y * 50 + x * 10 + s * 3) % 256),
      frame(5, 3)((y, x, s) => (y * 7 + x * 31 + s * 90) % 256)))
    val back = AviFormat.parse(AviFormat.build(v))
    assert(back.width == 5 && back.height == 3 && back.fps == 10)
    assert(back.frames.length == 2)
    back.frames.zip(v.frames).foreach { case (g, e) =>
      assert(g.toSeq == e.toSeq)
    }
  }

  test("codec rejects non-AVI bytes and truncated frames") {
    intercept[UnsupportedFileFormatError] {
      AviFormat.parse("RIFFxxxxWAVE".getBytes("US-ASCII") ++
        new Array[Byte](64))
    }
    val good = AviFormat.build(AviFormat.Video(4, 2, 25,
      Seq(frame(4, 2)((y, x, s) => y + x + s))))
    intercept[UnsupportedFileFormatError] {
      AviFormat.parse(good.take(good.length - 30) ++
        new Array[Byte](0)) // idx1/frame cut short
    }
  }

  test("writer/reader: gray TYX roundtrips exactly, RIFF magic probe " +
      "resolves the plugin, fps rides back as time_interval") {
    val arr = NDArray.tabulate(Seq(3, 4, 5))(idx =>
      ((idx(0) * 31 + idx(1) * 7 + idx(2)) % 256).toDouble)
    val img = graft.BioSpark.fromArray(spark, arr, Some("TYX"))
    val uri = freshDir("avispec.avi")
    img.save(uri)
    val back = graft.BioSpark.open(spark, uri)
    assert(back.reader.name == "AviReader",
      s"RIFF probe must pick AviReader, got ${back.reader.name}")
    assert(back.dims.order == "TCZYX", "gray AVI must collapse to 1 band")
    assert(back.meta.timeInterval.contains(1.0 / 25),
      s"default 25 fps must ride back: ${back.meta.timeInterval}")
    val got = back.getImagePixels()
      .orderBy(col("t"), col("y"), col("x"))
      .select(col("v")).collect().map(_.getDouble(0)).toSeq
    val want = for (t <- 0 until 3; y <- 0 until 4; x <- 0 until 5)
      yield ((t * 31 + y * 7 + x) % 256).toDouble
    assert(got == want)
  }

  test("RGB S=3 frames roundtrip exactly (no palette quantization)") {
    val arr = NDArray.tabulate(Seq(2, 3, 4, 3))(idx =>
      ((idx(0) * 80 + idx(1) * 20 + idx(2) * 5 + idx(3) * 100) % 256)
        .toDouble)
    val img = graft.BioSpark.fromArray(spark, arr, Some("TYXS"))
    val uri = freshDir("avispec.avi")
    img.save(uri)
    val back = graft.BioSpark.open(spark, uri)
    assert(back.dims.order == "TCZYXS")
    val got = back.getImagePixels()
      .orderBy(col("t"), col("s"), col("y"), col("x"))
      .select(col("v")).collect().map(_.getDouble(0)).toSeq
    val want = for (t <- 0 until 2; s <- 0 until 3; y <- 0 until 3;
        x <- 0 until 4)
      yield ((t * 80 + y * 20 + x * 5 + s * 100) % 256).toDouble
    assert(got == want)
  }
}
