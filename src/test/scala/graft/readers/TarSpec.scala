package graft.readers

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{NDArray, UnsupportedFileFormatError}
import graft.formats.TarFormat

/** WebDataset-style tar shard: ustar codec invariants + the reader/
  * writer roundtrip contract b44 exercises end-to-end. */
class TarSpec extends SparkSpec {

  test("ustar codec roundtrips members with 512-byte blocking and " +
      "checksum intact") {
    val ms = Seq(
      TarFormat.Member("a.txt", "hello".getBytes("UTF-8")),
      TarFormat.Member("dir/b.bin", Array.tabulate(513)(_.toByte)),
      TarFormat.Member("empty.txt", Array.emptyByteArray))
    val bytes = TarFormat.build(ms)
    assert(bytes.length % 512 == 0, "tar must be block-aligned")
    val back = TarFormat.parse(bytes)
    assert(back.map(_.name) == ms.map(_.name))
    back.zip(ms).foreach { case (g, e) =>
      assert(java.util.Arrays.equals(g.data, e.data), s"member ${e.name}")
    }
  }

  test("ustar codec rejects over-long names and truncated archives") {
    intercept[IllegalArgumentException] {
      TarFormat.build(Seq(TarFormat.Member("x" * 101, Array[Byte](1))))
    }
    val ok = TarFormat.build(Seq(TarFormat.Member("a", new Array[Byte](600))))
    intercept[UnsupportedFileFormatError] {
      TarFormat.parse(ok.take(700)) // header promises 600 bytes, cut short
    }
  }

  test("tar shard save/open: plugin probe resolves by ustar magic, " +
      "sidecar metadata pairs by basename key, scenes decode") {
    val gray = NDArray.tabulate(Seq(3, 4))(idx => (idx(0) * 4 + idx(1)).toDouble)
    val img = graft.BioSpark.fromArray(spark, gray, Some("YX"))
    val uri = freshDir("tarspec.tar")
    img.save(uri)
    val back = graft.BioSpark.open(spark, uri)
    assert(back.reader.name == "TarReader",
      s"magic probe must pick TarReader, got ${back.reader.name}")
    assert(back.scenes == Seq("000000"))
    assert(back.rawMetadata.contains("Image:0"),
      s"sidecar must ride back as raw metadata: ${back.rawMetadata}")
    val v = back.getImagePixels()
      .orderBy(col("y"), col("x")).select(col("v"))
      .collect().map(_.getDouble(0)).toSeq
    assert(v == (0 until 12).map(_.toDouble))
  }

  test("a tar with no image members is rejected as unsupported") {
    val uri = freshDir("tarspec.tar")
    val bytes = TarFormat.build(
      Seq(TarFormat.Member("readme.txt", "no images".getBytes("UTF-8"))))
    java.nio.file.Files.write(java.nio.file.Paths.get(uri), bytes)
    val ex = intercept[Exception] {
      val r = new TarReader(spark, uri)
      r.scenes
    }
    assert(ex.getMessage.contains("no image members"), ex.getMessage)
  }
}
