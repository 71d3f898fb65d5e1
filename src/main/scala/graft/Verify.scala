package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded in `outDir/failures.json` AND fails the run with a
  * non-zero exit — an absent correctness entry must never be the only
  * trace of a broken query (round 12 lost three queries that way). */
object Verify {

  /** Runs every query, writing each result to `outDir/<name>` parquet;
    * returns name → error for the ones that threw (insertion order). */
  def runQueries(spark: SparkSession, sfDir: String, outDir: String,
                 queries: Map[String, (SparkSession, String) => DataFrame])
      : Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failures = Seq.newBuilder[(String, String)]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name ->
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      // release per-query persisted frames (LSH signatures etc.)
      spark.catalog.clearCache()
    }
    failures.result()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonObject(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** Writes oracle_sql.json + failures.json; returns the failure count. */
  def writeArtifacts(outDir: String, oracleSql: Map[String, String],
                     failures: Seq[(String, String)]): Int = {
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), jsonObject(failures))
    failures.size
  }

  def main(args: Array[String]): Unit = {
    // optional args 3..n: query names (comma- and/or space-separated)
    // — dev subset runs (the driver always calls with 2 args = the
    // full suite). ALL trailing args count: taking only the first
    // silently ignored space-separated names (round-19 fix).
    val Array(sfDir, outDir) = args.take(2)
    val subset = if (args.length > 2)
      Some(args.drop(2).flatMap(_.split(",")).filter(_.nonEmpty).toSet)
    else None
    val spark = LocalSession(LocalSession.cpus(fallback = 4))
    // unknown subset names fail FAST: a typo'd name used to yield an
    // empty, silently-green run (round-18 advice)
    subset.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val qs = subset.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    val failures = runQueries(spark, sfDir, outDir, qs)
    // a subset run writes only the SELECTED oracles — the full map
    // would make a gate over outDir fail on (or, worse, pass stale
    // parquet for) queries this run never produced (round-18 advice)
    val oracles = subset.fold(SparkEntry.oracleSql)(names =>
      SparkEntry.oracleSql.filter { case (n, _) => names(n) })
    writeArtifacts(outDir, oracles, failures)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${
        if (failures.size == 1) "y" else "ies"} FAILED: ${
        failures.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
