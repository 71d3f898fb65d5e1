package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The build-once artifact memo every pack shares ([[QueryPack]]'s
  * `once` and `storeRoot`). No Spark session: the memo is plain JVM
  * state. Each test uses its own data-dir strings, because entries
  * live for the whole JVM. */
class QueryPackMemoSpec extends AnyFunSuite {

  private class MemoPack extends QueryPack {
    def queries: Map[String, (SparkSession, String) => DataFrame] = Map.empty
    def oracleSql: Map[String, String] = Map.empty
    def build[A](artifact: String, dataDir: String)(b: => A): A = once(artifact, dataDir)(b)
    def root(store: String, dataDir: String): String = storeRoot(store, dataDir)
  }
  private object PackA extends MemoPack
  private object PackB extends MemoPack

  test("concurrent first calls for one (artifact, data dir) run the build once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        PackA.build("model", "/data/concurrent") {
          Thread.sleep(50)
          builds.incrementAndGet()
        }
      })
      start.countDown()
      val got = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get === 1)
      assert(got.distinct === Seq(1))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("different data dirs and different packs build separately") {
    val builds = new AtomicInteger()
    def model(pack: MemoPack, dir: String): Int =
      pack.build("model", dir)(builds.incrementAndGet())
    val a1 = model(PackA, "/data/sep-1")
    val a2 = model(PackA, "/data/sep-2")
    val b1 = model(PackB, "/data/sep-1")
    assert(Set(a1, a2, b1).size === 3)
    assert(model(PackA, "/data/sep-1") === a1)
    assert(model(PackB, "/data/sep-1") === b1)
    assert(builds.get === 3)
  }

  test("a build may call storeRoot and once for other keys (no recursive update)") {
    // the dsir / lm / ivf pattern: the build writes under a store root
    val out = PackA.build("layout", "/data/nested") {
      val root = PackA.root("nestedstore", "/data/nested")
      val inner = PackA.build("fit", "/data/nested")("centroids")
      Files.writeString(Paths.get(root, "layout.txt"), inner)
      root
    }
    assert(Files.readString(Paths.get(out, "layout.txt")) === "centroids")
    assert(PackA.build("layout", "/data/nested")("rebuilt") === out)
  }

  test("the temp root is created once per (store, data dir)") {
    val r1 = PackA.root("rootstore", "/data/root-1")
    assert(Files.isDirectory(Paths.get(r1)))
    assert(Paths.get(r1).getFileName.toString.startsWith("graft-rootstore"))
    assert(PackA.root("rootstore", "/data/root-1") === r1)
    val others = Seq(PackA.root("rootstore", "/data/root-2"),
      PackA.root("otherstore", "/data/root-1"),
      PackB.root("rootstore", "/data/root-1"))
    assert((r1 +: others).distinct.size === 4)
  }

  test("a build that throws memoizes nothing; the next call builds") {
    intercept[IllegalStateException] {
      PackA.build[Int]("flaky", "/data/flaky")(throw new IllegalStateException("boom"))
    }
    assert(PackA.build("flaky", "/data/flaky")(7) === 7)
    assert(PackA.build("flaky", "/data/flaky")(8) === 7)
  }
}
