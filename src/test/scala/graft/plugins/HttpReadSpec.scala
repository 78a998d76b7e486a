package graft.plugins

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.HttpServer

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray

/** S9 remote-scheme evidence: the registry's readers resolve sources via
  * `FileSystem.get(uri)` (the fsspec analog), so any Hadoop-registered
  * scheme works unchanged. file:// is exercised everywhere; this spec
  * pins http:// end-to-end against an in-JVM HTTP server — the
  * read-only remote case (Hadoop's HttpFileSystem, HADOOP-14383). */
class HttpReadSpec extends SparkSpec {

  /** Serve a directory tree over HTTP: 200 with file bytes, 404 when the
    * path is not a file (http has no exists() — missing objects must
    * surface as open-time 404s). */
  private def serveDir(dir: java.nio.file.Path): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", exchange => {
      val rel = exchange.getRequestURI.getPath.stripPrefix("/")
      val f = dir.resolve(rel)
      try {
        if (Files.isRegularFile(f)) {
          val bytes = Files.readAllBytes(f)
          exchange.sendResponseHeaders(200, bytes.length.toLong)
          exchange.getResponseBody.write(bytes)
        } else exchange.sendResponseHeaders(404, -1)
      } finally exchange.close()
    })
    server.start()
    server
  }

  test("a zarr v3 store reads over http://: metadata discovery, executor " +
      "chunk fetches, and missing-chunk-as-fill semantics") {
    import graft.writers.ZarrWriter
    val arr = NDArray.tabulate(Seq(2, 3, 4))(idx =>
      idx(0) * 100.0 + idx(1) * 10.0 + idx(2) + 1)
    val store = Paths.get(freshDir("img.ome.zarr"))
    val dir = store.getParent
    ZarrWriter.save(BioSpark.fromArray(spark, arr, Some("CYX")),
      store.toString, None, levels = 1)
    // drop the c=1 chunk object: over http the reader must see the 404
    // and produce fill_value planes (0.0), not an error
    Files.delete(store.resolve("0/0/c/0/1/0/0/0"))
    val server = serveDir(dir)
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/img.ome.zarr"
      val back = BioSpark.open(spark, url)
      assert(back.reader.name == "ZarrReader")
      assert(back.dims.shape == Seq(1, 2, 1, 3, 4))
      val nd = back.getImageData("CYX")
      for (y <- 0 until 3; x <- 0 until 4) {
        assert(nd.array(0, y, x) == y * 10.0 + x + 1, s"c0 ($y,$x)")
        assert(nd.array(1, y, x) == 0.0, s"c1 ($y,$x) should be fill")
      }
    } finally server.stop(0)
  }

  test("a sharded (sharding_indexed) zarr v3 store reads over http://: " +
      "buffered-shard fallback, missing shard and unwritten inner chunk " +
      "both surface as fill") {
    import graft.writers.ZarrWriter
    // c0 carries data with an all-zero bottom-right 4x4 quadrant (the
    // writer leaves that inner chunk unwritten, index entry -1/-1); c1's
    // whole shard object is deleted after the write. Over http:// the
    // reader can neither stat nor seek the shard, so both cases must
    // resolve through the single-buffered-read fallback: fill planes,
    // not errors.
    val arr = NDArray.tabulate(Seq(2, 8, 8)) { idx =>
      val (c, y, x) = (idx(0), idx(1), idx(2))
      if (c == 0 && y >= 4 && x >= 4) 0.0
      else c * 1000.0 + y * 10.0 + x + 1
    }
    val store = Paths.get(freshDir("img.ome.zarr"))
    val dir = store.getParent
    ZarrWriter.save(BioSpark.fromArray(spark, arr, Some("CYX")),
      store.toString, None, levels = 1, compressor = None, format = 3,
      shardInner = Some((4, 4)))
    Files.delete(store.resolve("0/0/c/0/1/0/0/0"))
    val server = serveDir(dir)
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/img.ome.zarr"
      val back = BioSpark.open(spark, url)
      assert(back.reader.name == "ZarrReader")
      assert(back.dims.shape == Seq(1, 2, 1, 8, 8))
      val nd = back.getImageData("CYX")
      for (y <- 0 until 8; x <- 0 until 8) {
        val want =
          if (y >= 4 && x >= 4) 0.0 else y * 10.0 + x + 1
        assert(nd.array(0, y, x) == want, s"c0 ($y,$x)")
        assert(nd.array(1, y, x) == 0.0, s"c1 ($y,$x) should be fill")
      }
    } finally server.stop(0)
  }

  test("BioSpark.open reads a PNG over http:// through plugin resolution") {
    // a formulaic PNG on local disk, then served over HTTP
    val arr = NDArray.tabulate(Seq(4, 5))(idx => idx(0) * 10.0 + idx(1))
    val png = freshDir("img.png")
    BioSpark.fromArray(spark, arr).save(png)
    val bytes = Files.readAllBytes(Paths.get(png))

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/img.png", exchange => {
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      try exchange.getResponseBody.write(bytes)
      finally exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/img.png"
      val back = BioSpark.open(spark, url)
      assert(back.reader.name == "ImageIoReader")
      assert(back.dims.shape == Seq(1, 1, 1, 4, 5))
      val nd = back.getImageData("YX")
      for (y <- 0 until 4; x <- 0 until 5)
        assert(nd.array(y, x) == y * 10.0 + x, s"($y,$x)")
    } finally server.stop(0)
  }
}
