package graft

import org.apache.spark.sql.SparkSession

/** The session every driver main runs on: `local[threads]` with one
  * shuffle partition per thread, UTC session time zone, no web UI,
  * log level WARN. AQE is on by default in Spark; it is set explicitly
  * so the recorded session conf states it. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS` when set, else `fallback`. */
  def cpus(fallback: => Int = math.min(32, Runtime.getRuntime.availableProcessors())): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(fallback)(_.toInt)

  def apply(threads: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
