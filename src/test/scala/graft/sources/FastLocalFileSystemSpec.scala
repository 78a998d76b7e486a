package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** FastLocalFileSystem = stock local FS minus the subprocess chmod.
  * The contract is bit-identical permissions through the JDK call. */
class FastLocalFileSystemSpec extends AnyFunSuite {

  private def newFast(): FastRawLocalFileSystem = {
    val fs = new FastRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private def newStock(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("setPermission: JDK path produces the same bits as the stock " +
      "shell path, across the permission space") {
    val dir = Files.createTempDirectory("graft_fastfs").toString
    val fast = newFast()
    val stock = newStock()
    try {
      for (bits <- Seq(Integer.parseInt("600", 8), Integer.parseInt("644", 8),
          Integer.parseInt("700", 8), Integer.parseInt("755", 8),
          Integer.parseInt("775", 8), Integer.parseInt("444", 8),
          Integer.parseInt("541", 8))) {
        val a = new Path(s"$dir/fast_$bits")
        val b = new Path(s"$dir/stock_$bits")
        fast.create(a).close()
        stock.create(b).close()
        fast.setPermission(a, new FsPermission(bits.toShort))
        stock.setPermission(b, new FsPermission(bits.toShort))
        val got = fast.getFileStatus(a).getPermission.toShort
        val want = stock.getFileStatus(b).getPermission.toShort
        assert(got == want && (got.toInt & 0x1ff) == bits,
          s"bits ${bits.toOctalString}: fast ${got.toInt.toOctalString} " +
            s"vs stock ${want.toInt.toOctalString}")
      }
    } finally FileUtil.fullyDelete(new java.io.File(dir))
  }

  test("create/rename/delete roundtrip through the registered 'file' " +
      "impl yields readable files with default permissions") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(java.net.URI.create("file:///"), conf)
    assert(fs.isInstanceOf[FastLocalFileSystem])
    val dir = Files.createTempDirectory("graft_fastfs2").toString
    val p = new Path(s"$dir/a.txt")
    val out = fs.create(p)
    out.write("payload".getBytes("UTF-8"))
    out.close()
    val q = new Path(s"$dir/b.txt")
    assert(fs.rename(p, q))
    // rename REFUSES an existing destination file — the engine's
    // commit-race contract (manifest publish: exactly one winner)
    val p2 = new Path(s"$dir/c.txt")
    fs.create(p2).close()
    assert(!fs.rename(p2, q),
      "rename over an existing file must refuse (commit point)")
    val in = fs.open(q)
    val buf = new Array[Byte](7)
    in.readFully(buf)
    in.close()
    assert(new String(buf, "UTF-8") == "payload")
    // default create permission = 666 & ~umask, same as stock hadoop;
    // just assert owner read+write survived the JDK path
    val perm = fs.getFileStatus(q).getPermission.toShort.toInt
    assert((perm & Integer.parseInt("600", 8)) ==
      Integer.parseInt("600", 8), perm.toOctalString)
    assert(fs.delete(new Path(dir), true))
  }
}
