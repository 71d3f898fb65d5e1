package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Caches

/** The operator cache lifecycle: release after the first action that
  * uses a cache, whatever the consumer does to the result, and
  * nothing left behind by a construction that throws. Release runs on
  * the listener bus, so assertions poll with a deadline. */
class CachesSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def await(cond: => Boolean, ms: Long = 10000L): Boolean = {
    val deadline = System.currentTimeMillis + ms
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(50)
    cond
  }

  private def released(df: DataFrame): Boolean =
    await(df.storageLevel == StorageLevel.NONE)

  /** A scoped operator over (a, b) rows: one lazily persisted cache,
    * `held`, and a result with a non-nullable aggregate column. */
  private def operator(tag: String): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    var held: DataFrame = null
    val result = Caches.scoped { caches =>
      held = caches.persist(Seq((1L, 1L, tag), (2L, 200L, tag), (3L, 3L, tag))
        .toDF("a", "b", "tag"))
      held.groupBy("a", "b").agg(count(lit(1)).as("n"))
    }
    (result, held)
  }

  test("rows and schema unchanged; caches unpersist after first action") {
    val (result, held) = operator("plain")
    assert(held.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(!result.schema("n").nullable)
    assert(result.schema.fieldNames.toSeq === Seq("a", "b", "n"))
    val rows = result.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((1L, 1L, 1L), (2L, 200L, 1L), (3L, 3L, 1L)))
    assert(released(held), "cache still resident after the consuming action")
  }

  test("a consumer filter(a =!= b) still releases") {
    val (result, held) = operator("neq")
    assert(result.filter(col("a") =!= col("b")).count() === 1L)
    assert(released(held))
  }

  test("a consumer that persists a filtered projection still releases") {
    val (result, held) = operator("proj")
    val kept = result.filter(col("b") > 100).select("a")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assert(kept.count() === 1L)
      assert(released(held))
    } finally kept.unpersist()
  }

  test("a count the optimizer answers without reading the cache releases") {
    val s = spark
    import s.implicits._
    var held: DataFrame = null
    val docs = Seq((1L, "x"), (2L, "y")).toDF("id", "t")
    val result = Caches.scoped { caches =>
      held = caches.persist(Seq((1L, 5L), (1L, 6L)).toDF("id", "v"))
      // unique on the join key: count() drops the whole right side
      docs.join(held.groupBy("id").agg(max("v").as("v")), Seq("id"), "left")
    }
    assert(result.count() === 2L)
    assert(released(held))
  }

  test("a parquet write of the result releases") {
    val (result, held) = operator("write")
    val out = java.nio.file.Files.createTempDirectory("graft-caches").resolve("out")
    result.write.parquet(out.toString)
    assert(released(held))
  }

  test("a failing action releases") {
    val (result, held) = operator("fail")
    intercept[Exception] {
      result.select(assert_true(col("n") > 1L)).collect()
    }
    assert(released(held))
  }

  test("a construction that throws after a fill leaves nothing cached") {
    val s = spark
    import s.implicits._
    var filled: DataFrame = null
    var lazily: DataFrame = null
    intercept[IllegalStateException] {
      Caches.scoped { caches =>
        filled = caches.fill(Seq(1L, 2L).toDF("x").withColumn("tag", lit("thrown")))
        lazily = caches.persist(filled.select((col("x") + 1).as("y")))
        throw new IllegalStateException("construction failed")
      }
    }
    assert(filled.storageLevel === StorageLevel.NONE)
    assert(lazily.storageLevel === StorageLevel.NONE)
  }

  test("a frame the caller persisted is used, not filled or released") {
    val s = spark
    import s.implicits._
    val mine = Seq(1L, 2L).toDF("x").withColumn("tag", lit("mine"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val result = Caches.scoped(caches => caches.fill(mine).select(col("x") * 2))
      assert(result.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 4L))
      Thread.sleep(1000) // a wrongly registered release lands well inside this
      assert(mine.storageLevel === StorageLevel.MEMORY_AND_DISK)
    } finally mine.unpersist()
  }

  test("Caches is the only QueryExecutionListener registration in src/main") {
    // observed metrics go through Spark's Observation; a second
    // hand-rolled listener bus would show up here
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val files = Files.walk(root)
    val sources =
      try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally files.close()
    val registering = sources
      .filter(p => Files.readString(p).contains("listenerManager.register"))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
    assert(registering === List("graft/operators/Caches.scala"))
  }

  test("operators persist outside Caches.scoped only at the named sites") {
    // an operator's own caches go through `caches.persist`/`fill`; the
    // sites below hold a cache whose release is owned elsewhere
    val allowed = Map(
      "graft/operators/Caches.scala" -> 1, // Scope.own: the scoped persist itself
      "graft/operators/Dedup.scala" -> 2, // bundle: its caller calls DedupBundle.release
      "graft/operators/Similarity.scala" -> 2) // kMeans, pqFit: unpersisted in finally
    val root = Paths.get("src/main/scala")
    val ops = root.resolve("graft/operators")
    assert(Files.isDirectory(ops))
    val handManaged = """(?<!caches)\.persist\(""".r
    val files = Files.walk(ops)
    val found =
      try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
        .map(p => root.relativize(p).toString.replace('\\', '/') ->
          handManaged.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
      finally files.close()
    assert(found === allowed)
  }
}
