package graft.readers

import java.io.DataInputStream
import java.util.zip.ZipInputStream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.UnsupportedFileFormatError
import graft.plugins.{PluginEntry, ScanWorkReader, SceneMeta}

/** `.npz` (numpy zip archive) source: each member `.npy` array is one
  * SCENE — the multi-scene form of the ArrayLike file domain (a
  * `np.savez` of named arrays maps exactly onto the reference's
  * list-of-arrays multi-scene constructor,
  * /root/reference/bioio/array_like_reader.py:165-230). Scene ids are
  * the member names (sans `.npy`) in archive order, so
  * `np.savez(f, alpha=a, beta=b)` yields scenes `["alpha", "beta"]`
  * and `set_scene("beta")` selects the second array. Per-array
  * semantics (dtype bridge, rank→order guess, Fortran reject) are
  * shared with NpyReader via [[NpyArrayData]].
  *
  * The archive is decoded driver-side like the other interchange
  * readers (STORED and DEFLATED members both stream through the JDK
  * inflater); bulk pixel data at scale belongs in the plane store. */
final class NpzReader(spark: SparkSession, path: String) extends ScanWorkReader {

  private lazy val members: Seq[(String, NpyArrayData)] = {
    val fs = FileSystem.get(new Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    val zin = new ZipInputStream(new java.io.BufferedInputStream(
      fs.open(new Path(path)), 1 << 16))
    try {
      val out = Seq.newBuilder[(String, NpyArrayData)]
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory && e.getName.toLowerCase.endsWith(".npy")) {
          val id = e.getName.substring(0, e.getName.length - 4)
          out += id -> NpyArrayData.read(new DataInputStream(zin),
            s"$path!${e.getName}")
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
      val ms = out.result()
      if (ms.isEmpty)
        throw new UnsupportedFileFormatError(
          s"npz: '$path' contains no .npy members")
      ms
    } finally zin.close()
  }

  override def name: String = "NpzReader"
  override def supportedExtensions: Seq[String] = Seq(".npz")

  override def isSupportedImage(spark: SparkSession, p: String): Boolean =
    try {
      val fs = FileSystem.get(new Path(p).toUri,
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(p))
      try {
        val magic = new Array[Byte](4)
        in.readFully(magic)
        // zip local-file-header magic PK\x03\x04
        magic(0) == 'P' && magic(1) == 'K' && magic(2) == 3 && magic(3) == 4
      } finally in.close()
    } catch { case _: Throwable => false }

  override def scenes: Seq[String] = members.map(_._1)

  override def sceneMeta(sceneIdx: Int): SceneMeta = {
    require(sceneIdx >= 0 && sceneIdx < members.length,
      s"scene $sceneIdx out of range 0..${members.length - 1}")
    val (id, a) = members(sceneIdx)
    a.sceneMeta(sceneIdx, id)
  }

  override def localPlaneRows(sceneIdx: Int, level: Int): Seq[graft.core.PlaneRow] = {
    require(sceneIdx >= 0 && sceneIdx < members.length,
      s"scene $sceneIdx out of range 0..${members.length - 1}")
    val (id, a) = members(sceneIdx)
    a.planeRows(sceneIdx, id)
  }
}

object NpzReader {
  val plugin: PluginEntry = PluginEntry(
    name = "NpzReader",
    extensions = Seq(".npz"),
    open = (spark, path, _) => new NpzReader(spark, path))
}
