package graft.writers

import java.nio.file.{Files, Path, Paths}

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray

/** The 100 TB geometry claim, exercised at a size where a wrong plan
  * visibly blows up: a 2048×3072 plane re-tiled inside the plan into a
  * 256×256 stored-chunk grid of 64×64-inner-chunk shards. Pins (a) the
  * on-disk object geometry, (b) round-trip equality through the sharded
  * reader, and (c) that the re-tile fan-out is explode + codegen'd HOFs
  * with NO Exchange — the property that lets a 100k×100k plane write
  * without a shuffle or a driver funnel. */
class ZarrScaleGeometrySpec extends SparkSpec {

  test("2048x3072 plane, chunk=(256,256), shardInner=(64,64): 96 shard " +
      "objects, exact round-trip, no Exchange beyond the explode") {
    val (h, w) = (2048, 3072)
    // value = y*w + x: unique per pixel, exact in a double
    val arr = NDArray.tabulate(Seq(h, w))(idx => idx(0) * w * 1.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    val uri = freshDir("big.ome.zarr")

    // plan audit FIRST (same geometry the write runs): the re-tile is a
    // Generate (explode over the chunk grid) fed by projections — any
    // Exchange here would shuffle the full pixel payload at scale
    val (rows, _) = ZarrWriter.sceneChunkRows(img, levels = 1, nS = 1,
      allowTileGrid = false, chunk = Some((256, 256)))
    val plan = rows.queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("Exchange"),
      s"re-tile fan-out must not shuffle:\n$plan")

    val t0 = System.nanoTime()
    ZarrWriter.save(img, uri, None, levels = 1, compressor = None,
      format = 3, shardInner = Some((64, 64)), chunk = Some((256, 256)))
    val writeSec = (System.nanoTime() - t0) / 1e9

    // object geometry: an 8x12 grid of 256x256 shards, nothing else
    val lvl = Paths.get(uri, "0", "0")
    def chunkFiles(p: Path): Seq[Path] = {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        // skip Hadoop LocalFileSystem's hidden .crc sidecars
        s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".")).toSeq
      } finally s.close()
    }
    val objs = chunkFiles(lvl.resolve("c"))
    assert(objs.length == 8 * 12, s"expected 96 shard objects, got ${objs.length}")
    // every shard carries a 16-entry (4x4 inner grid) crc32c'd end index;
    // full data shards: 16*64*64*8 bytes payload + 16*16 + 4 index
    val expectBytes = 16 * 64 * 64 * 8 + 16 * 16 + 4
    assert(objs.forall(o => Files.size(o) == expectBytes),
      s"shard sizes ${objs.map(Files.size).distinct} != $expectBytes")

    val t1 = System.nanoTime()
    val back = BioSpark.open(spark, uri)
    val nd = back.getImageData("YX")
    assert(nd.array.shape == Seq(h, w))
    val readSec = (System.nanoTime() - t1) / 1e9
    // exact equality on a dense sample lattice + all four corners
    for (y <- 0 until h by 97; x <- 0 until w by 101)
      assert(nd.array(y, x) == y * w * 1.0 + x, s"($y,$x)")
    for ((y, x) <- Seq((0, 0), (0, w - 1), (h - 1, 0), (h - 1, w - 1)))
      assert(nd.array(y, x) == y * w * 1.0 + x, s"corner ($y,$x)")
    info(f"write $writeSec%.2f s, stitched read $readSec%.2f s " +
      f"(${h.toLong * w * 8 / 1e6}%.0f MB of f8 pixels, 96 shards)")
  }
}
