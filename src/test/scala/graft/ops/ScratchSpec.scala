package graft.ops

import java.io.File

import graft.SparkSpec

/** The scratch scope: what it issues, what release takes back, and that
  * `SparkSpec.afterEach` releases every test's scopes. */
class ScratchSpec extends SparkSpec {

  /** The scope the first test leaves open for `afterEach` to release. */
  private var leftOpen: Option[(Scratch, String)] = None

  private def catalogConfs(s: Scratch): Iterable[String] =
    spark.conf.getAll.keys.filter(k =>
      k.startsWith("spark.sql.catalog.") && k.contains(s.nonce))

  test("a scope issues a catalog, paths and names under one nonce") {
    val s = scratch()
    assert(s.dir.startsWith("/tmp/graft_") && s.dir.endsWith(s.nonce))
    val cat = s.catalog
    assert(cat.contains(s.nonce) && s.catalog == cat)
    assert(catalogConfs(s).size == 2)
    assert(spark.conf.get(s"spark.sql.catalog.$cat.root") == s.catalogRoot)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")
    val view = s.name("v")
    assert(view.endsWith(s.nonce))
    spark.table(s"$cat.t").createOrReplaceTempView(view)
    assert(spark.table(view).count() == 2)
    assert(s.path("x") == s"${s.dir}/x" && new File(s.dir).isDirectory)
    assert(s.catalogRoot.startsWith(s.dir + "/"))
    leftOpen = Some((s, view))
  }

  test("afterEach released the previous test's scope") {
    val (s, view) = leftOpen.getOrElse(fail("the first test did not run"))
    assert(catalogConfs(s).isEmpty, "catalog confs survived")
    assert(!spark.catalog.tableExists(view), "temp view survived")
    assert(!new File(s.dir).exists, s"${s.dir} survived")
  }

  test("release takes back only the scopes opened since the last release") {
    val a = scratch()
    spark.range(1).createOrReplaceTempView(a.name("a"))
    new File(a.path("f")).mkdirs()
    assert(Scratch.release(spark) == Seq(a))
    assert(!new File(a.dir).exists)
    val b = scratch()
    new File(b.path("f")).mkdirs()
    assert(Scratch.release(spark) == Seq(b))
    assert(Scratch.release(spark).isEmpty)
  }
}
