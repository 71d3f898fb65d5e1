package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract checks the driver relies on. */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("no query-name collisions across packs") {
    val all = SparkEntry.packs.flatMap(_.queries.keys)
    assert(all.size === all.distinct.size,
      s"duplicate names: ${all.diff(all.distinct).distinct}")
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every bench override replaces an existing query and returns rows") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.packs.flatMap(_.benchOverrides.keys).toSet.diff(qs)
    assert(orphans.isEmpty, s"bench overrides without queries: $orphans")
    // the production shape must still exercise the operator end-to-end
    SparkEntry.packs.flatMap(_.benchOverrides).foreach { case (name, fn) =>
      assert(fn(spark, SparkSuite.sf0001).count() > 0,
        s"bench override $name returned zero rows")
    }
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns rows at sf0.001") {
    // and leaves no cached relation once its first action is done:
    // operator caches are released by the action that reads them, on
    // the listener bus, so the check polls. A query that leaves some
    // is cleared after, so each query is judged on its own.
    spark.catalog.clearCache()
    val runs = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val rows = fn(spark, SparkSuite.sf0001).count()
      val left = graft.operators.Caches.residentAfter(spark, 5000L)
      if (left > 0) spark.catalog.clearCache()
      (name, rows, left)
    }
    val empty = runs.collect { case (name, 0L, _) => name }
    assert(empty.isEmpty, s"queries with zero rows at sf0.001: $empty")
    val residue = runs.collect { case (name, _, left) if left > 0 => s"$name ($left)" }
    assert(residue.isEmpty,
      s"queries leaving cached relations after their first action: ${residue.mkString(", ")}")
  }
}
