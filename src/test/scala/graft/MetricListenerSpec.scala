package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.MetricListener

/** Contract pins for the shared observe-metric plumbing: ensure's
  * first-registration-wins rule and the zero-row twin's schema
  * transparency. Listener delivery is async (bus thread), so
  * assertions poll with a deadline instead of parking. */
class MetricListenerSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def await(cond: => Boolean, ms: Long = 10000L): Boolean = {
    val deadline = System.currentTimeMillis + ms
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(50)
    cond
  }

  test("ensure: first registration wins; a second handler is ignored") {
    val spark2 = spark
    import spark2.implicits._
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val wrong = new java.util.concurrent.atomic.AtomicInteger(0)
    MetricListener.ensure(spark, "graft_mls_prefix_")((_, _) => hits.incrementAndGet())
    // the documented contract: same (session, prefix), different
    // handler — silently a no-op
    MetricListener.ensure(spark, "graft_mls_prefix_")((_, _) => wrong.incrementAndGet())
    val df = Seq(1, 2, 3).toDF("x")
      .observe("graft_mls_prefix_a", count(lit(1)).as("n"))
    df.collect()
    assert(await(hits.get >= 1), "prefix handler never fired")
    assert(wrong.get === 0, "second ensure handler must be ignored")
    // prefix handlers are permanent: they fire on every matching query
    df.collect()
    assert(await(hits.get >= 2))
    assert(wrong.get === 0)
  }

  test("zeroRowTwin: opaque-false branch is empty and type-faithful") {
    val spark2 = spark
    import spark2.implicits._
    val observed = Seq((1L, 5L)).toDF("k", "count")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val twin = MetricListener.zeroRowTwin(observed, col("count") < 0, schema)
    assert(twin.count() === 0)
    assert(twin.schema.fields.map(_.name).toSeq === Seq("a", "b", "c"))
    assert(twin.schema.fields.forall(!_.nullable),
      s"twin widened nullability: ${twin.schema}")
  }
}
