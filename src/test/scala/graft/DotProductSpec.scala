package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.DotProduct

/** The native codegen'd dot product must be bit-identical to the
  * `aggregate(zip_with(...))` HOF formulation it replaced — same
  * left-to-right double accumulation, same NULL poisoning — or the
  * DuckDB-hashed similarity queries would silently drift. */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def hof(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)")

  test("a second register leaves the registry's graft_dot entry as it is") {
    // each registration stores a fresh ExpressionInfo, so identity
    // tells a kept entry from a replaced one
    val registry = spark.sessionState.functionRegistry
    DotProduct.register(spark)
    val first = registry.lookupFunction(FunctionIdentifier("graft_dot"))
    DotProduct.register(spark)
    val second = registry.lookupFunction(FunctionIdentifier("graft_dot"))
    assert(first.isDefined)
    assert(second.get eq first.get, "register replaced an existing graft_dot")
  }

  test("native graft_dot equals the HOF formulation bit-for-bit on real vectors") {
    DotProduct.register(spark)
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
      .selectExpr("embedding AS a", "reverse(embedding) AS b")
    val rows = emb
      .select(expr("graft_dot(a, b)").as("native"), hof("a", "b").as("hofv"))
      .collect()
    assert(rows.nonEmpty)
    // exact bitwise equality, not tolerance: both accumulate
    // sequentially in double
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("edge semantics: empty arrays, length mismatch, NULL element, NULL array") {
    DotProduct.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (Array.empty[Double], Array.empty[Double]),           // empty -> 0.0
      (Array(1.0, 2.0), Array(3.0)),                        // mismatch -> null
      (Array(1.0, 2.0), Array(3.0, 4.0)),                   // 11.0
    ).toDF("a", "b")
    val got = df.select(expr("graft_dot(a, b)").as("d")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq === Seq(Some(0.0), None, Some(11.0)))
    // NULL element poisons, NULL array is null (HOF-identical)
    val nulls = spark.sql(
      """SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D)) AS x,
        |       graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS y""".stripMargin)
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("rejects non-vector arguments at analysis time") {
    DotProduct.register(spark)
    val e = intercept[Exception](
      spark.sql("SELECT graft_dot('abc', array(1.0D))").collect())
    assert(e.getMessage.toLowerCase.contains("graft_dot") ||
           e.getMessage.toLowerCase.contains("data type"))
  }

  test("evaluates inside whole-stage codegen (no fallback)") {
    DotProduct.register(spark)
    val plan = Tables.embeddings(spark, SparkSuite.sf0001)
      .selectExpr("graft_dot(embedding, embedding) AS d")
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes every operator fused into a WholeStageCodegen
    // stage; the projection carrying graft_dot must be starred
    assert(plan.contains("*(1) Project [graft_dot"),
      s"expected the graft_dot projection inside a codegen stage:\n$plan")
  }
}
