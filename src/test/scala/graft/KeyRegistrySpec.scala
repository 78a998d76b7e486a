package graft

import org.scalatest.funsuite.AnyFunSuite

/** The key registry: each family declares every key once, with its
  * oracle. A key declared in two families would silently keep only the
  * later declaration when `SparkEntry` concatenates them. */
class KeyRegistrySpec extends AnyFunSuite {

  test("the seven family key sets are disjoint and hold all 268 keys") {
    val families = SparkEntry.families
    assert(families.size == 7)
    val twice = families.flatMap(_.keys).groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }
    assert(twice.isEmpty, s"keys declared in more than one family: $twice")
    assert(families.map(_.size).sum == 268)
    assert(SparkEntry.queries.size == 268)
    assert(SparkEntry.oracleSql.size == 268)
    assert(SparkEntry.queries.keys.toSeq == SparkEntry.oracleSql.keys.toSeq)
  }

  test("every key has a non-blank oracle") {
    val blank = SparkEntry.keys.collect {
      case (k, key) if key.oracle.trim.isEmpty => k
    }
    assert(blank.isEmpty, s"keys with a blank oracle: $blank")
  }
}
