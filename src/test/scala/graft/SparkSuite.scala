package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run: the mains'
  * [[LocalSession]] on four threads. */
object SparkSuite {
  lazy val spark: SparkSession = LocalSession(4)

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** The committed reconstruction of the reference's `data/traffic.csv`
    * (FIXTURES.md §1), resolved from the test classpath. */
  lazy val trafficCsv: String = java.nio.file.Paths
    .get(getClass.getResource("/fixtures/traffic.csv").toURI).toString
}
