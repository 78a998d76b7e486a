package graft.readers

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray
import graft.plugins.{BioReader, PlanePredicate, ScanWorkReader}

/** The built-in format readers build their lazy planes from their scan
  * work, so an unknown resolution level fails the same way through
  * either entry point. */
class ScanWorkReaderSpec extends SparkSpec with BeforeAndAfterAll {

  /** 4x5 integer pixels: exact in every format written here. */
  private val Arr = NDArray.tabulate(Seq(4, 5))(ix => ix(0) * 5.0 + ix(1))

  /** The suite's files: they outlive each test's scratch release, so the
    * suite deletes them after its last test. */
  private val dir = Files.createTempDirectory("graft-scanwork").toFile

  override protected def afterAll(): Unit =
    try super.afterAll() finally FileUtils.deleteQuietly(dir)

  /** One reader per built-in format reader, each over [[Arr]]. */
  private lazy val readers: Seq[BioReader] = {
    val src = BioSpark.fromArray(spark, Arr, Some("YX"))
    val opened = Seq("a.npy", "a.npz", "a.mrc", "a.png", "a.tar", "a.avi",
      "a.ome.tiff", "a.ome.zarr").map { name =>
      val uri = s"$dir/$name"
      src.save(uri)
      BioSpark.open(spark, uri).reader
    }
    src.reader +: opened
  }

  test("an unknown level raises IndexOutOfBoundsException from both the " +
      "scan work and the lazy read of every built-in format reader") {
    assert(readers.map(_.name).toSet == Set("ArrayLikeReader", "NpyReader",
      "NpzReader", "MrcReader", "ImageIoReader", "TarReader", "AviReader",
      "OmeTiffReader", "ZarrReader"))
    for (r <- readers) withClue(s"${r.name}: ") {
      assert(r.isInstanceOf[ScanWorkReader])
      val missing = r.resolutionLevels(0).max + 1
      intercept[IndexOutOfBoundsException](
        r.v2ScanWork(0, missing, PlanePredicate.All))
      intercept[IndexOutOfBoundsException](
        r.readDelayedAtLevel(spark, 0, missing))
    }
  }
}
