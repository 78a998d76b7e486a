package graft.writers

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, array_repeat, array_sort, col, collect_list, concat, explode, flatten, greatest, least, lit, sequence, slice, struct, transform, when}
import org.apache.spark.util.SerializableConfiguration

import graft.core.Plane
import graft.formats.ZarrFormat
import graft.image.BioImage

/** OME-ZARR sink — zarr v3 / NGFF 0.5 by default (`zarr.json` nodes,
  * default "c"-prefix chunk-key encoding), zarr v2 / NGFF 0.4 behind
  * `format = 2`. Unlike the single-file OME-TIFF, zarr chunks are
  * independent objects — so the pixel write is FULLY DISTRIBUTED:
  * executors write their chunk files straight to the target FileSystem
  * via foreachPartition (no driver funnel, no collect), and only the
  * small JSON metadata documents are written driver-side. This is the
  * scale-path image sink. `levels` > 1 materializes the NGFF multiscale
  * pyramid via the shared 2× mean-pool.
  */
object ZarrWriter extends BioWriter {
  override def name: String = "ZarrWriter"
  override def supportedExtensions: Seq[String] = Seq(".ome.zarr", ".zarr")

  override def save(img: BioImage, uri: String,
      selectScenes: Option[Seq[String]]): Unit =
    save(img, uri, selectScenes, levels = 1)

  /** Facade options (BioImage.save / Writers dispatch): "format" (2|3),
    * "levels", "compressor" (gzip/zstd/blosc; v2: zlib/zstd/blosc),
    * "chunk" ("THxTW" stored-chunk grid), "shardInner" ("IHxIW"
    * sharding_indexed inner chunks) — the writer's full direct-call
    * surface, reachable through extension dispatch. */
  override def save(img: BioImage, uri: String,
      selectScenes: Option[Seq[String]],
      options: Map[String, String]): Unit = {
    WriterOptions.unknown(options,
      Set("format", "levels", "compressor", "chunk", "shardInner"), name)
    save(img, uri, selectScenes,
      levels = WriterOptions.int(options, "levels").getOrElse(1),
      compressor = options.get("compressor"),
      format = WriterOptions.int(options, "format").getOrElse(3),
      shardInner = WriterOptions.dims(options, "shardInner"),
      chunk = WriterOptions.dims(options, "chunk"))
  }

  def save(img: BioImage, uri: String, selectScenes: Option[Seq[String]],
      levels: Int): Unit =
    save(img, uri, selectScenes, levels, compressor = None)

  def save(img: BioImage, uri: String, selectScenes: Option[Seq[String]],
      levels: Int, compressor: Option[String]): Unit =
    save(img, uri, selectScenes, levels, compressor, format = 3)

  /** Mosaic scenes whose tile catalog IS an exact chunk grid (positions =
    * (yi·th, xi·tw), full coverage, tile dims dividing the stitched
    * shape) can write zarr chunks STRAIGHT from tile rows — no
    * stitched-plane reassembly, no aggregation anywhere in the plan. */
  private[graft] def alignedTileGrid(img: BioImage): Option[(Int, Int)] = {
    val m = img.meta
    if (!m.dims.order.contains('M') || m.dims.order.contains('S')) None
    else {
      val th = m.dims('Y').toInt
      val tw = m.dims('X').toInt
      val d = img.dims
      if (!d.order.startsWith("TCZ") || d.order.contains('M')) None
      else {
        val h = d('Y').toInt
        val w = d('X').toInt
        val expect = (for {
          yi <- 0 until h / th; xi <- 0 until w / tw
        } yield (yi * th, xi * tw)).toSet
        if (th > 0 && tw > 0 && h % th == 0 && w % tw == 0 &&
          m.tilePositions.length == expect.size &&
          m.tilePositions.toSet == expect) Some((th, tw))
        else None
      }
    }
  }

  /** The chunk-row plan for the CURRENT scene: (level, t, c, z, yi, xi,
    * bands). Returns the tile grid when chunks come straight from mosaic
    * tile rows (aligned grid, single level, no samples).
    *
    * `chunk` = Some((th, tw)) re-tiles every level's planes into a
    * th×tw chunk grid INSIDE the plan — one output row per chunk, pixels
    * sliced by codegen'd array HOFs on the executors, edge chunks padded
    * to full chunk shape (zarr storage semantics). This is the scale
    * geometry for large planes: a 100k×100k plane must not become one
    * multi-GB object (the read-side analog is the reference's
    * `chunk_dims`, bio_image.py:92-109). */
  private[graft] def sceneChunkRows(img: BioImage, levels: Int,
      nS: Int, allowTileGrid: Boolean = true,
      chunk: Option[(Int, Int)] = None): (DataFrame, Option[(Int, Int)]) = {
    val grid =
      if (allowTileGrid && chunk.isEmpty && levels == 1 && nS == 1)
        alignedTileGrid(img)
      else None
    if (grid.isDefined) {
      val (th, tw) = grid.get
      (img.planes.select(col("level"), col("t"), col("c"), col("z"),
        (col("y0") / th).cast("int").as("yi"),
        (col("x0") / tw).cast("int").as("xi"),
        array(col("pixels")).as("bands")), grid)
    } else {
      val levelDfs = Iterator.iterate(img.stitchedPlanes)(Plane.poolHalf)
        .take(levels).toSeq
      val unioned = levelDfs.map { df =>
        if (nS == 1)
          df.select(col("level"), col("t"), col("c"), col("z"),
            col("h"), col("w"), array(col("pixels")).as("bands"))
        else
          df.select(col("level"), col("t"), col("c"), col("z"), col("s"),
            col("h"), col("w"), col("pixels"))
            .groupBy(col("level"), col("t"), col("c"), col("z"),
              col("h"), col("w"))
            .agg(transform(
              array_sort(collect_list(struct(col("s"), col("pixels")))),
              b => b.getField("pixels")).as("bands"))
      }.reduce(_ unionByName _)
      val rows = chunk match {
        case None =>
          unioned.select(col("level"), col("t"), col("c"), col("z"),
            lit(0).as("yi"), lit(0).as("xi"), col("bands"))
        case Some((th, tw)) =>
          // one row per (yi, xi) grid cell; each band sliced row-by-row
          // out of the plane, zero-padded past the edges — pure column
          // HOFs, so the fan-out runs distributed under codegen
          unioned
            .withColumn("nxi",
              ((col("w") + (tw - 1)) / tw).cast("int"))
            .withColumn("nyi",
              ((col("h") + (th - 1)) / th).cast("int"))
            .withColumn("ci",
              explode(sequence(lit(0), col("nyi") * col("nxi") - 1)))
            .withColumn("yi", (col("ci") / col("nxi")).cast("int"))
            .withColumn("xi", (col("ci") % col("nxi")).cast("int"))
            .withColumn("bands", transform(col("bands"), band =>
              flatten(transform(sequence(lit(0), lit(th - 1)), r => {
                val y = col("yi") * th + r
                val x0 = col("xi") * tw
                val avail = when(y < col("h"),
                  greatest(least(col("w") - x0, lit(tw)), lit(0)))
                  .otherwise(lit(0)).cast("int")
                val start = when(avail > 0, y * col("w") + x0 + 1)
                  .otherwise(lit(1)).cast("int")
                concat(slice(band, start, avail),
                  array_repeat(lit(0.0), lit(tw) - avail))
              }))))
            .select(col("level"), col("t"), col("c"), col("z"),
              col("yi"), col("xi"), col("bands"))
      }
      (rows, None)
    }
  }

  def save(img: BioImage, uri: String, selectScenes: Option[Seq[String]],
      levels: Int, compressor: Option[String], format: Int): Unit =
    save(img, uri, selectScenes, levels, compressor, format,
      shardInner = None)

  def save(img: BioImage, uri: String, selectScenes: Option[Seq[String]],
      levels: Int, compressor: Option[String], format: Int,
      shardInner: Option[(Int, Int)]): Unit =
    save(img, uri, selectScenes, levels, compressor, format, shardInner,
      chunk = None)

  /** `compressor`: None (raw chunks), or a codec id — v2 accepts
    * "zlib"/"zstd"/"blosc" (numcodecs configs), v3 accepts
    * "gzip"/"zstd"/"blosc" (v3 codec chain). `format`: 3 (default,
    * zarr v3 + NGFF 0.5) or 2 (zarr v2 + NGFF 0.4).
    *
    * `shardInner` = Some((ih, iw)) writes v3 `sharding_indexed` arrays:
    * each stored object is one whole-plane SHARD of independently-
    * readable ih×iw inner chunks located by the end-of-shard crc32c
    * index. This is the 100 TB object-store layout — tile-granular reads
    * without tile-granular object counts. Inner chunks that are entirely
    * fill_value (0) are left unwritten (index entry -1/-1) and read back
    * as fill planes, so sparse images store sparsely.
    *
    * `chunk` = Some((th, tw)) re-tiles planes into a th×tw stored-chunk
    * grid (each grid cell its own object; with `shardInner`, its own
    * SHARD — then th/tw must be multiples of ih/iw). Without it each
    * plane is one chunk — fine for microscopy-sized planes, wrong for
    * enormous ones. */
  def save(img: BioImage, uri: String, selectScenes: Option[Seq[String]],
      levels: Int, compressor: Option[String], format: Int,
      shardInner: Option[(Int, Int)], chunk: Option[(Int, Int)]): Unit = {
    val spark = img.spark
    val sel = Writers.validateSelection(img, selectScenes)
    require(levels >= 1, s"levels must be >= 1, got $levels")
    require(format == 2 || format == 3, s"zarr format must be 2 or 3, got $format")
    require(shardInner.isEmpty || format == 3,
      "sharding_indexed requires zarr format 3")
    shardInner.foreach { case (ih, iw) =>
      require(ih > 0 && iw > 0, s"shard inner chunk must be positive, got ${ih}x$iw")
    }
    chunk.foreach { case (th, tw) =>
      require(th > 0 && tw > 0, s"chunk must be positive, got ${th}x$tw")
      shardInner.foreach { case (ih, iw) =>
        require(th % ih == 0 && tw % iw == 0,
          s"chunk ${th}x$tw must be a multiple of the shard inner " +
            s"chunk ${ih}x$iw")
      }
    }
    val v3 = format == 3

    val saved = img.currentSceneIndex
    val hconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fs = FileSystem.get(new Path(uri).toUri, hconf.value)

    def writeDoc(path: String, content: String): Unit = {
      val out = fs.create(new Path(path), true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }

    if (v3)
      writeDoc(s"$uri/zarr.json",
        ZarrFormat.zarrJsonGroup(ZarrFormat.rootAttrs(sel.length)))
    else {
      writeDoc(s"$uri/.zgroup", ZarrFormat.zgroup)
      writeDoc(s"$uri/.zattrs", ZarrFormat.rootAttrs(sel.length))
    }

    sel.zipWithIndex.foreach { case (sid, g) =>
      img.setScene(sid)
      val m = img.meta
      val d = img.dims // stitched for mosaic scenes
      val nS = if (d.order.contains('S')) d('S').toInt else 1
      val (t, c, z, h, w) =
        (d('T'), d('C'), d('Z'), d('Y'), d('X'))
      val pt = m.pixelType
      val dtype = ZarrFormat.dtypeOf(pt)

      // group metadata (driver-side, tiny)
      val scale0 = Seq(m.timeInterval.getOrElse(1.0), 1.0,
        m.physicalPixelSizes.map(_._1).getOrElse(1.0),
        m.physicalPixelSizes.map(_._2).getOrElse(1.0),
        m.physicalPixelSizes.map(_._3).getOrElse(1.0))
      // scene ids are REGENERATED with order preserved, the shared writer
      // contract (bio_image.py:1252-1257) — same as OME-TIFF / .graft
      val attrs = ZarrFormat.imageAttrs(s"Image:$g", levels, scale0,
        img.channelNames, sSamples = nS,
        timeUnit = m.timeInterval.map(_ => "second"),
        spaceUnit = m.physicalPixelSizes.map(_ => "micrometer"),
        ngffVersion = if (v3) "0.5" else "0.4")
      if (v3)
        // NGFF 0.5 namespaces the OME attrs under attributes.ome
        writeDoc(s"$uri/$g/zarr.json",
          ZarrFormat.zarrJsonGroup(s"""{"ome":$attrs}"""))
      else {
        writeDoc(s"$uri/$g/.zgroup", ZarrFormat.zgroup)
        writeDoc(s"$uri/$g/.zattrs", attrs)
      }
      val (chunkRows, tileGrid) =
        sceneChunkRows(img, levels, nS,
          allowTileGrid = shardInner.isEmpty, chunk = chunk)
      val hs = Iterator.iterate(h)(v => (v + 1) / 2).take(levels).toSeq
      val ws = Iterator.iterate(w)(v => (v + 1) / 2).take(levels).toSeq
      val sTail = if (nS > 1) Seq(nS.toLong) else Seq.empty
      val dimNames = Seq("t", "c", "z", "y", "x") ++
        (if (nS > 1) Seq("s") else Seq.empty)
      (0 until levels).foreach { l =>
        val shape = Seq(t, c, z, hs(l), ws(l)) ++ sTail
        // the stored-object base block: an explicit chunk grid, or one
        // whole plane per object
        val (bh, bw) = chunk match {
          case Some((th, tw)) => (th.toLong, tw.toLong)
          case None           => (hs(l), ws(l))
        }
        shardInner match {
          case Some((ih, iw)) =>
            // shard = the base block, padded up to a multiple of the
            // inner chunk (zarr v3 requires shard % inner == 0)
            val shH = ((bh + ih - 1) / ih) * ih
            val shW = ((bw + iw - 1) / iw) * iw
            writeDoc(s"$uri/$g/$l/zarr.json", ZarrFormat.zarrJsonArray(
              shape, Seq(1L, 1L, 1L, shH, shW) ++ sTail,
              ZarrFormat.dataTypeV3Of(pt), compressor,
              ZarrFormat.bytesPer(dtype), dimNames,
              shardInner = Some(Seq(1L, 1L, 1L, ih.toLong, iw.toLong) ++ sTail)))
          case None =>
            val (chl, cwl) = tileGrid match {
              case Some((th, tw)) => (th.toLong, tw.toLong)
              case None           => (bh, bw)
            }
            val chunks = Seq(1L, 1L, 1L, chl, cwl) ++ sTail
            if (v3)
              writeDoc(s"$uri/$g/$l/zarr.json", ZarrFormat.zarrJsonArray(
                shape, chunks, ZarrFormat.dataTypeV3Of(pt), compressor,
                ZarrFormat.bytesPer(dtype), dimNames))
            else
              writeDoc(s"$uri/$g/$l/.zarray",
                ZarrFormat.zarray(shape, chunks, dtype, compressor))
        }
      }

      // chunk files: distributed — each task writes its chunks directly.
      // Aligned mosaics write one chunk per TILE row (no stitch in the
      // plan); other mosaics come from `stitchedPlanes`, which shuffles
      // each plane's tile arrays once and pastes them into one row; S>1
      // groups a plane's sample rows into one interleaved chunk (a tiny
      // keyed shuffle).
      val target = s"$uri/$g"
      val sSuffix = if (nS > 1) ".0" else ""
      val (shIH, shIW) = shardInner.getOrElse((0, 0))
      // block dims the shard extractor sees: the (padded) chunk when an
      // explicit grid is set, else the true plane dims per level
      val planeDims: Map[Int, (Int, Int)] = chunk match {
        case Some((th, tw)) => (0 until levels).map(l => l -> ((th, tw))).toMap
        case None =>
          (0 until levels).map(l => l -> ((hs(l).toInt, ws(l).toInt))).toMap
      }
      chunkRows.foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.nonEmpty) {
            val pfs = FileSystem.get(
              new java.net.URI(target + "/"), hconf.value)
            val typesize = ZarrFormat.bytesPer(ZarrFormat.dtypeOf(pt))
            rows.foreach { r =>
              // v3 default chunk-key encoding: "c" prefix, "/" separator;
              // v2: flat "." keys (the writer's historical layout)
              val key = if (v3)
                s"$target/${r.getInt(0)}/c/${r.getInt(1)}/" +
                  s"${r.getInt(2)}/${r.getInt(3)}/${r.getInt(4)}/${r.getInt(5)}" +
                  (if (sSuffix.isEmpty) "" else "/0")
              else s"$target/${r.getInt(0)}/${r.getInt(1)}." +
                s"${r.getInt(2)}.${r.getInt(3)}.${r.getInt(4)}.${r.getInt(5)}$sSuffix"
              val bands = r.getSeq[scala.collection.Seq[Double]](6)
              val px =
                if (bands.length == 1) bands.head.toArray
                else {
                  val out = new Array[Double](bands.head.length * bands.length)
                  var si = 0
                  while (si < bands.length) {
                    val b = bands(si)
                    var k = 0
                    while (k < b.length) {
                      out(k * bands.length + si) = b(k)
                      k += 1
                    }
                    si += 1
                  }
                  out
                }
              val bytes =
                if (shIH == 0)
                  ZarrFormat.compressChunk(
                    ZarrFormat.encodeChunk(px, pt), compressor, typesize)
                else {
                  // sharding_indexed: split the interleaved plane into
                  // the inner-chunk grid; encode written chunks into the
                  // payload, all-fill chunks get an unwritten (-1/-1)
                  // index entry; LE offset+nbytes index + crc32c at END
                  val (ph, pw) = planeDims(r.getInt(0))
                  val nIy = (ph + shIH - 1) / shIH
                  val nIx = (pw + shIW - 1) / shIW
                  val entries = new Array[Long](nIy * nIx * 2)
                  val bos = new java.io.ByteArrayOutputStream()
                  var off = 0L
                  var iy = 0
                  while (iy < nIy) {
                    var ix = 0
                    while (ix < nIx) {
                      val block = new Array[Double](shIH * shIW * nS)
                      var allFill = true
                      var rr = 0
                      while (rr < shIH) {
                        val y = iy * shIH + rr
                        if (y < ph) {
                          var cc = 0
                          while (cc < shIW) {
                            val x = ix * shIW + cc
                            if (x < pw) {
                              var si = 0
                              while (si < nS) {
                                val v = px((y * pw + x) * nS + si)
                                block((rr * shIW + cc) * nS + si) = v
                                if (v != 0.0) allFill = false
                                si += 1
                              }
                            }
                            cc += 1
                          }
                        }
                        rr += 1
                      }
                      val ei = (iy * nIx + ix) * 2
                      if (allFill) {
                        entries(ei) = -1L
                        entries(ei + 1) = -1L
                      } else {
                        val enc = ZarrFormat.compressChunk(
                          ZarrFormat.encodeChunk(block, pt), compressor,
                          typesize)
                        entries(ei) = off
                        entries(ei + 1) = enc.length.toLong
                        bos.write(enc)
                        off += enc.length
                      }
                      ix += 1
                    }
                    iy += 1
                  }
                  val idx = java.nio.ByteBuffer
                    .allocate(entries.length * 8 + 4)
                    .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                  entries.foreach(idx.putLong)
                  val crc = new java.util.zip.CRC32C
                  crc.update(idx.array(), 0, entries.length * 8)
                  idx.putInt(crc.getValue.toInt)
                  bos.write(idx.array())
                  bos.toByteArray
                }
              val out = pfs.create(new Path(key), true)
              try out.write(bytes)
              finally out.close()
            }
          }
      }
    }
    img.setScene(saved)
  }
}
