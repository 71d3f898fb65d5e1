package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Traffic

/** Golden test of the canonical traffic query against the committed
  * reconstruction of the reference's own fixture
  * ([[SparkSuite.trafficCsv]], 121 data rows; FIXTURES.md §1). Expected
  * values were hand-computed from the original file with the
  * Hadoop-oracle semantics (global denominator, trim, empty→"empty");
  * the reconstruction holds exactly the documented counts they rest on.
  */
class TrafficGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def resultMap(param: String): Map[String, (Long, String)] =
    Traffic.analyze(spark, SparkSuite.trafficCsv, param)
      .collect()
      .map(r => r.getAs[String]("detection") ->
        (r.getAs[Long]("cnt"), r.getAs[String]("pct_str")))
      .toMap

  test("Radio: 15 rows → Video 86.67%, Loop 6.67%, None 6.67%") {
    val m = resultMap("Radio")
    assert(m === Map(
      "Video" -> ((13L, "86.67%")),
      "Loop"  -> ((1L, "6.67%")),
      "None"  -> ((1L, "6.67%")),
    ))
  }

  test("Fiber: 62 rows incl. empty-normalized cells; None≠NONE cases stay distinct") {
    val m = resultMap("Fiber")
    assert(m("Loop") === ((24L, "38.71%")))
    assert(m("Video") === ((21L, "33.87%")))
    assert(m("None") === ((8L, "12.90%")))
    assert(m("Loop/Video") === ((4L, "6.45%")))
    assert(m("empty") === ((2L, "3.23%")))    // "" and " " both → empty
    assert(m("Loop/None") === ((2L, "3.23%")))
    assert(m("Radar") === ((1L, "1.61%")))
    assert(m.values.map(_._1).sum === 62L)
  }

  test("counts are stable across re-execution (exactly-once, unlike reference at-least-once)") {
    val a = resultMap("Radio")
    val b = resultMap("Radio")
    assert(a === b)
  }
}
