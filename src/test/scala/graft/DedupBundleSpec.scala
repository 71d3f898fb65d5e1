package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.{Caches, Components, Dedup}

/** [[Dedup.bundle]]: every derived frame equals its independently
  * computed counterpart, the internal caches release cleanly, and the
  * bench's amortization claim (three consumers ≈ one pair
  * materialization) holds as a checked invariant.
  */
class DedupBundleSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  // 12-token base docs: identical pair (1,2), near pair (3,4 — one
  // token appended, 3-gram jaccard 10/11 ≥ 0.8), chain 5-6-7 (6 near
  // both), unrelated 8
  private def docs: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val base = (1 to 12).map(i => s"tok$i").mkString(" ")
    val baseB = (1 to 12).map(i => s"b$i").mkString(" ")
    Seq(
      1L -> base,
      2L -> base,
      3L -> baseB,
      4L -> (baseB + " extra"),
      5L -> ((1 to 12).map(i => s"c$i").mkString(" ")),
      6L -> ((1 to 12).map(i => s"c$i").mkString(" ")),
      7L -> ((1 to 12).map(i => s"c$i").mkString(" ") + " tail"),
      8L -> ((1 to 12).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("bundle frames equal the separately-computed steps") {
    val d = docs
    def freshPairs() = Dedup.exactJaccardPairs(d, "doc_id", "text",
      threshold = 0.8)
    val bundle = Dedup.bundle(d, "doc_id", freshPairs())
    try {
      val refPairs = freshPairs()
      assert(bundle.pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet === refPairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet)
      val refClusters = Components.clusters(d, "doc_id", freshPairs())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bundle.clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap === refClusters)
      assert(ids(bundle.canonical) ===
        ids(Components.canonicalDocs(d, "doc_id", freshPairs())))
      assert(ids(bundle.deduped) ===
        ids(Dedup.dropNearDups(d, "doc_id", freshPairs())))
      // and the semantics on the constructed corpus are the expected
      // ones: {1,2}, {3,4}, {5,6,7} collapse, 8 is a singleton
      assert(ids(bundle.canonical) === Set(1L, 3L, 5L, 8L))
      assert(refClusters(7L) === 5L && refClusters(2L) === 1L)
    } finally bundle.release()
  }

  test("release() drops both internal caches") {
    val d = docs
    val bundle = Dedup.bundle(d, "doc_id",
      Dedup.exactJaccardPairs(d, "doc_id", "text", threshold = 0.8))
    bundle.deduped.count() // materialize through the persisted frames
    assert(bundle.pairs.storageLevel.useMemory ||
      bundle.pairs.storageLevel.useDisk)
    bundle.release()
    assert(!bundle.pairs.storageLevel.useMemory &&
      !bundle.pairs.storageLevel.useDisk)
    assert(!bundle.clusters.storageLevel.useMemory &&
      !bundle.clusters.storageLevel.useDisk)
  }

  test("a pair frame that fails to evaluate leaves no cached relation behind") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    import org.apache.spark.storage.StorageLevel
    // a range, not a local relation, so the third row raises in a task
    // rather than while the optimizer folds the input
    def failing() = spark.range(1, 4).select(col("id").as("doc_a"),
      when(col("id") === 3L, raise_error(lit("failing pair")))
        .otherwise(col("id") + 1).as("doc_b"))
    def failsOnPairs(pairs: DataFrame): Unit = {
      val ex = intercept[Exception](Dedup.bundle(docs, "doc_id", pairs))
      assert(ex.toString.contains("failing pair") ||
        Option(ex.getCause).exists(_.toString.contains("failing pair")),
        s"bundle failed for another reason: $ex")
    }
    // earlier tests' releases land on the listener bus; let them
    val before = Caches.residentAfter(spark, 2000)
    failsOnPairs(failing())
    assert(Caches.residentAfter(spark, 3000) === before,
      "bundle's own persist of the pair frame must not outlive the throw")
    // a pair frame the caller persisted stays the caller's to release
    val callers = failing().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      failsOnPairs(callers)
      assert(callers.storageLevel === StorageLevel.MEMORY_AND_DISK)
    } finally callers.unpersist(true)
    assert(Caches.residentAfter(spark, 3000) === before)
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  // The bench's q_dedup_bundle override claims the bundle amortizes
  // pair generation: three consuming actions for ≈ the cost of ONE
  // cluster pass, not three. Round 12 shipped the claim as prose (the
  // driver's truncated bench tail hid both numbers); this pins it as a
  // checked invariant. The assertion is deliberately generous (< 2× a
  // single pass, where a broken bundle that re-ran pair generation per
  // consumer would sit near 3×) so host noise cannot flake it while
  // the regression it guards cannot slip under it.
  test("bundle's three consumers cost < 2x one cluster pass (amortized pair set)") {
    val d = Tables.documents(spark, SparkSuite.sf001)
    def pairs() = Dedup.exactJaccardPairs(d, "doc_id", "text", threshold = 0.8)

    // warm the parquet footers / codegen paths off the clock
    d.count()

    // single pass: pair generation + one clustering action
    val single = timed {
      Components.clusters(d, "doc_id", pairs()).count()
    }

    // production bundle: ONE pair materialization, three consumers
    val bundleSec = timed {
      val b = Dedup.bundle(d, "doc_id", pairs())
      b.clusters.count()
      b.canonical.count()
      b.deduped.count()
      b.release()
    }
    spark.catalog.clearCache()

    info(f"single cluster pass: $single%.2fs, bundle (3 actions): $bundleSec%.2fs, " +
      f"ratio ${bundleSec / single}%.2f")
    assert(bundleSec < 2 * single,
      f"bundle (3 consumers) took $bundleSec%.2fs vs single pass $single%.2fs — " +
        "amortization broken (pair generation re-running per consumer?)")
  }
}
