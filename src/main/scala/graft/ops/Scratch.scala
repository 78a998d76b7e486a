package graft.ops

import java.io.File
import java.util.UUID

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import graft.sources.GraftLakeCatalog

/** The scratch state of one key run. A scope carries one unique nonce and
  * names everything the run creates after it:
  *  - `catalog`: a lake catalog rooted at `catalogRoot`, registered on
  *    first use;
  *  - `path(suffix)`: image stores, streaming checkpoints, state dirs;
  *  - `name(prefix)`: temp views and memory-sink query names.
  *
  * Every path lies under the scope's one directory,
  * `/tmp/graft_<key>_<nonce>`.
  *
  * Release after materialize: a key's result is lazy and may still read
  * its scratch tables, views and files when it runs. So the consumer
  * calls [[Scratch.release]] only after it has written, collected or
  * counted the result (or is done with its plan). Release drops the
  * issued views, unsets the catalog confs and deletes the directories of
  * every scope opened on that session since the last release.
  */
final class Scratch private (spark: SparkSession, key: String) {
  val nonce: String = UUID.randomUUID().toString.replace("-", "").take(12)
  val dir: String = s"/tmp/graft_${key}_$nonce"

  private val catalogConf = s"spark.sql.catalog.graft_${key}_$nonce"
  private val views = mutable.LinkedHashSet.empty[String]

  lazy val catalog: String = {
    spark.conf.set(catalogConf, classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"$catalogConf.root", catalogRoot)
    catalogConf.stripPrefix("spark.sql.catalog.")
  }

  def catalogRoot: String = path("lake")

  def path(suffix: String): String = {
    new File(dir).mkdirs()
    s"$dir/$suffix"
  }

  def name(prefix: String): String = synchronized {
    val n = s"${prefix}_$nonce"
    views += n
    n
  }

  private def release(): Unit = synchronized {
    views.foreach(spark.catalog.dropTempView)
    Seq(catalogConf, s"$catalogConf.root").foreach(spark.conf.unset)
    FileUtils.deleteQuietly(new File(dir))
  }
}

object Scratch {
  private val open =
    mutable.WeakHashMap.empty[SparkSession, mutable.ArrayBuffer[Scratch]]

  /** Opens a scope for `key` and records it against the session. */
  def apply(spark: SparkSession, key: String): Scratch = {
    val s = new Scratch(spark, key)
    open.synchronized(open.getOrElseUpdate(spark, mutable.ArrayBuffer.empty) += s)
    s
  }

  /** Releases every scope opened on `spark` since the last release (see
    * the class doc for when to call it) and returns them. */
  def release(spark: SparkSession): Seq[Scratch] = {
    val scopes = open.synchronized(open.remove(spark)).fold(Seq.empty[Scratch])(_.toSeq)
    scopes.foreach(_.release())
    scopes
  }
}
