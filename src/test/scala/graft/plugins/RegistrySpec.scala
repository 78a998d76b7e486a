package graft.plugins

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.core.{Dimensions, NDArray, PixelType, UnsupportedFileFormatError}
import graft.readers.ArrayLikeReader

/** Ports the reference's plugin selection/ordering spec
  * (tests/test_plugins.py:35-186, tests/test_bio_image.py:73-259) with a
  * mock-reader harness like tests/helpers/mock_reader.py. */
class DiscoverySpec extends org.scalatest.funsuite.AnyFunSuite {
  test("ServiceLoader discovers the built-in plugins, version-gated") {
    val names = Registry.discovered().map(_.name)
    assert(names == names.sorted)
    assert(names.toSet == Set("OmeTiffReader", "ZarrReader",
      "ImageIoReader", "ParquetPlaneReader", "NpyReader", "NpzReader",
      "MrcReader", "TarReader", "AviReader"))
  }

  test("version gate excludes providers outside the spec range") {
    val ok = new BioReaderProvider {
      override def plugin: PluginEntry = graft.readers.OmeTiffReader.plugin
    }
    val tooNew = new BioReaderProvider {
      override def plugin: PluginEntry = graft.readers.ZarrReader.plugin
      override def minSpecVersion: Int = Registry.SpecVersion + 1
      override def maxSpecVersion: Int = Registry.SpecVersion + 5
    }
    val tooOld = new BioReaderProvider {
      override def plugin: PluginEntry = graft.readers.ZarrReader.plugin
      override def maxSpecVersion: Int = Registry.SpecVersion - 1
    }
    assert(Registry.gate(Seq(ok, tooNew, tooOld)) == Seq(ok))
  }
}

class RegistrySpec extends SparkSpec {

  /** Mock reader: configurable support result / constructor failure /
    * anon-kwarg requirement (mirrors MockReader specs). */
  private def mockPlugin(name: String, exts: Seq[String],
      supported: Boolean = true,
      failConstruct: Option[String] = None,
      needAnon: Boolean = false): PluginEntry =
    PluginEntry(name, exts, (spark, path, kwargs) => {
      failConstruct.foreach(msg => throw new RuntimeException(msg))
      if (needAnon && !kwargs.get("anon").contains("true"))
        throw new RuntimeException("AccessDenied: anonymous access required")
      val pluginName = name
      new BioReader {
        def name: String = pluginName
        def supportedExtensions: Seq[String] = exts
        def isSupportedImage(s: SparkSession, p: String): Boolean = supported
        def scenes: Seq[String] = Seq("Image:0")
        def sceneMeta(i: Int): SceneMeta =
          SceneMeta(0, "Image:0", Dimensions("YX", Seq(1, 1)), Seq.empty,
            None, PixelType.Float64, Seq.empty, None)
        def readDelayed(s: SparkSession, i: Int): DataFrame =
          ArrayLikeReader(NDArray.zeros(Seq(1, 1))).readDelayed(s, 0)
      }
    })

  test("extension normalization: lowercase, leading dot, dedupe") {
    val r = new Registry(Seq.empty)
    assert(r.normalizeExtensions(Seq("TIF", ".tiff", "tif", ".TIFF")) ==
      Seq(".tif", ".tiff"))
  }

  test("extension families: suffix-related exts form one family") {
    val r = new Registry(Seq.empty)
    assert(r.countExtensionFamilies(Seq(".ome.tiff", ".tiff")) == 1)
    assert(r.countExtensionFamilies(Seq(".tiff", ".png")) == 2)
    assert(r.countExtensionFamilies(Seq(".ome.tiff", ".tiff", ".png", ".jpg")) == 3)
  }

  test("ordering: most-specific extension key first; focused plugins first") {
    val reg = new Registry(Seq(
      mockPlugin("multi", Seq(".tiff", ".png", ".jpg")),
      mockPlugin("ometiff", Seq(".ome.tiff", ".tiff")),
    ))
    val keys = reg.byExtension.keys.toSeq
    assert(keys.head == ".ome.tiff") // longest key first
    // within .tiff: ometiff (1 family) before multi (3 families)
    assert(reg.byExtension(".tiff").map(_.name) == Seq("ometiff", "multi"))
  }

  test("alphabetical tie-break on equal specificity") {
    val reg = new Registry(Seq(
      mockPlugin("zeta", Seq(".tiff")),
      mockPlugin("alpha", Seq(".tiff")),
    ))
    assert(reg.byExtension(".tiff").map(_.name) == Seq("alpha", "zeta"))
  }

  test("suffix match is robust to query strings") {
    val r = new Registry(Seq.empty)
    assert(r.pathHasExtension("http://host/img.tiff?sig=abc", ".tiff"))
    assert(r.pathHasExtension("/a/b/img.TIFF", ".tiff"))
    assert(!r.pathHasExtension("/a/b/img.png", ".tiff"))
  }

  test("resolution probes in priority order; first success wins") {
    val reg = new Registry(Seq(
      mockPlugin("says-no", Seq(".ome.tiff", ".tiff"), supported = false),
      mockPlugin("says-yes", Seq(".tiff", ".png", ".jpg")),
    ))
    val (entry, reader) = reg.determinePlugin(spark, "/x/img.ome.tiff")
    assert(entry.name == "says-yes")
    assert(reader.name == "says-yes")
  }

  test("total failure aggregates probe errors into the message") {
    val reg = new Registry(Seq(
      mockPlugin("broken", Seq(".tiff"), failConstruct = Some("boom")),
      mockPlugin("refuses", Seq(".tiff"), supported = false),
    ))
    val e = intercept[UnsupportedFileFormatError](
      reg.determinePlugin(spark, "/x/img.tiff"))
    assert(e.getMessage.contains("broken: boom"))
    assert(e.getMessage.contains("refuses: not supported"))
    // unmatched extension → no candidates at all
    intercept[UnsupportedFileFormatError](
      reg.determinePlugin(spark, "/x/file.txt"))
  }

  test("s3 anonymous retry kicks in on total failure") {
    val reg = new Registry(Seq(mockPlugin("s3only", Seq(".zarr"), needAnon = true)))
    // plain failure without retry for non-s3
    intercept[UnsupportedFileFormatError](
      reg.determinePluginWithRetry(spark, "/local/img.zarr"))
    // s3 path retries with anon=true and succeeds
    val (entry, _) = reg.determinePluginWithRetry(spark, "s3://bucket/img.zarr")
    assert(entry.name == "s3only")
  }

  test("explicit reader override: try-list order, failure aggregation") {
    val good = mockPlugin("good", Seq(".abc"))
    val bad = mockPlugin("bad", Seq(".abc"), failConstruct = Some("nope"))
    val reg = new Registry(Seq.empty)
    val (e1, _) = reg.resolveExplicit(spark, "/x/f.anything", Seq(bad, good))
    assert(e1.name == "good")
    val err = intercept[UnsupportedFileFormatError](
      reg.resolveExplicit(spark, "/x/f.anything", Seq(bad)))
    assert(err.getMessage.contains("bad: nope"))
  }

  test("feasibility report probes every plugin regardless of extension") {
    val reg = new Registry(Seq(
      mockPlugin("ok", Seq(".tiff")),
      mockPlugin("no", Seq(".png"), supported = false),
      mockPlugin("err", Seq(".jpg"), failConstruct = Some("kaput")),
    ))
    val rep = reg.feasibilityReport(spark, "/x/whatever.xyz")
    assert(rep("ok") == PluginSupport(true, None))
    assert(rep("no") == PluginSupport(false, None))
    assert(rep("err").supported == false)
    assert(rep("err").error.exists(_.contains("kaput")))
  }
}
