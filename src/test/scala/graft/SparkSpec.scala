package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scratch

/** Shared session for all suites (one JVM-wide session, scalatest runs
  * suites sequentially within the forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the fork-free local FS GraftSession ships (every suite then
      // exercises it, not just the Verify/Bench mains)
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.FastLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** A new scratch scope, released after the test. */
  protected def scratch(): Scratch =
    Scratch(spark, getClass.getSimpleName.toLowerCase)

  /** A new lake catalog: its name and its root. */
  protected def freshCatalog(): (String, String) = {
    val s = scratch()
    (s.catalog, s.catalogRoot)
  }

  /** A new path whose parent directory exists. */
  protected def freshDir(name: String = "t"): String = scratch().path(name)

  /** Cache-lifecycle guard: NO test may leave an entry in the cache
    * manager behind (the round-9 bench regression was exactly such a
    * leak — a persist() with no unpersist() that taxed every query run
    * after it in the same session). Runs after every test in every
    * suite, so a future operator that persists without releasing fails
    * its own spec instead of degrading the whole bench.
    *
    * Then the scratch release: the views, catalog confs and directories
    * of every scope the test opened, its own and those of the keys it
    * ran. */
  override protected def afterEach(): Unit =
    try {
      super.afterEach()
      assert(spark.sharedState.cacheManager.isEmpty,
        "cache leak: a test left persisted plans in the cache manager")
    } finally Scratch.release(spark)
}
