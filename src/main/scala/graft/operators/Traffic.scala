package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Pct, Text}

/** The reference's canonical end-to-end workload (SURVEY.md §0,
  * reference MP4-RUN-Command.txt:1-15): filter traffic-signal rows by
  * `Interconne`, group by `Detection_`, and report each group's count
  * and share of the filtered total, formatted "%.2f%%".
  *
  * Semantics pinned to the Hadoop oracle pair
  * (hadoop/TrafficMapper.java:29-50 filter/normalize,
  * hadoop/TrafficReducer.java:29-38 global denominator + format);
  * header row is skipped via header=true, the intended behavior
  * (SURVEY.md §7.3.1).
  */
object Traffic {

  /** The CSV with its header row as column names, all columns
    * strings. The header is read once per file version
    * ([[graft.Tables.inferredSchema]]), so reading the same file again
    * plans without a job. */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val options = Map("header" -> "true")
    val reader = spark.read.options(options)
    graft.Tables.inferredSchema(spark, "csv", path, options)
      .fold(reader)(reader.schema).csv(path)
  }

  def analyze(df: DataFrame, interconne: String): DataFrame = {
    val counts = df
      .filter(trim(col("Interconne")) === interconne)
      .select(Text.normalizeEmpty(col("Detection_")).as("detection"))
      .groupBy("detection").agg(count(lit(1)).as("cnt"))
    Pct.withPctOfTotal(counts, "cnt", "pct")
      .withColumn("pct_str", Pct.pctString(col("pct")))
  }

  def analyze(spark: SparkSession, csvPath: String,
              interconne: String): DataFrame =
    analyze(readCsv(spark, csvPath), interconne)

  /** The reference maple executable as a line UDF for the generic
    * MapleJuice API (data/maple-exe.go:16-69): positional CSV fields,
    * filter col `filterIdx` == param (trimmed), emit normalized col
    * `projectIdx` as the key, sanitized `[/ ]`→`_` exactly as the
    * reference does for filename-safety (maple-exe.go:34-39 — note
    * this makes "Loop/Video" surface as "Loop_Video", a deliberate
    * byte-compat quirk of the maple path; the Catalyst path keeps
    * keys as data and skips sanitization).
    */
  def csvMaple(filterIdx: Int = 10, projectIdx: Int = 9, param: String)
              (line: String): Iterator[(String, String)] = {
    val parts = line.split(",", -1)
    if (parts.length <= math.max(filterIdx, projectIdx) ||
        parts(filterIdx).trim != param) Iterator.empty
    else {
      val v = parts(projectIdx).trim
      val normalized = if (v.isEmpty) "empty" else v
      val key = normalized.replace('/', '_').replace(' ', '_')
      Iterator((key, normalized))
    }
  }
}
