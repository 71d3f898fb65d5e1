package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Helpers to load the driver-generated parquet tables
  * (see TESTDATA.md: region nation customer supplier part orders
  * lineitem events documents embeddings).
  *
  * [[load]] infers each table's schema once and reads with it after
  * that, so building a query over the tables submits no footer
  * inference job. The memo ([[QueryPack.once]]) is keyed by the
  * table's absolute path, its file count, total size and newest
  * modification time (one file for a single-file table), and the
  * values of the session confs that change what parquet
  * inference returns ([[InferenceConfs]]). A file rewritten in place
  * or a changed conf therefore infers afresh.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    inferredSchema(spark, path)
      .fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))
  }

  /** The confs whose values change the schema parquet inference
    * returns for the same file. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Spark's inferred schema of `path`, memoized per file version and
    * inference confs. A directory's version is that of the files under
    * it. None when the path lists no file, so the plain read reports
    * the error as before. */
  private def inferredSchema(spark: SparkSession, path: String): Option[StructType] =
    scala.util.Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      s"${fs.makeQualified(p)}|${files.size}|${files.map(_.getLen).sum}|" +
        files.map(_.getModificationTime).max
    }.toOption.map { version =>
      val confs = InferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString("|")
      QueryPack.once(("graft.Tables", confs, version))(spark.read.parquet(path).schema)
    }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** events.parquet's `ts` layout has drifted across regenerations
    * (INT64 TIMESTAMP(NANOS) → TIMESTAMP(MICROS)), so adapt to the
    * loaded column's type instead of assuming one physical layout.
    * Every branch normalizes to microsecond-precision TimestampType
    * under the UTC session timezone all entry points pin
    * (TablesLayoutSpec asserts nanos and micros fixtures agree). */
  def events(s: SparkSession, d: String): DataFrame = {
    // needed to load a NANOS file at all; a no-op for non-NANOS columns
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(load(s, d, "events"))
  }

  /** The layout-adaptive `ts` normalization behind [[events]], exposed
    * for readers that open an events-shaped parquet directly (e.g.
    * [[graft.streaming.EventStream.asOfStream]]'s static and streaming
    * legs). The caller must have set
    * `spark.sql.legacy.parquet.nanosAsLong=true` before the read if
    * the file may be NANOS-typed. */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long: integer division — `/` would promote to double
        // and mangle ~1.7e18 nano epochs (53-bit mantissa)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => // TIMESTAMP_NTZ (micros/millis): same instant under UTC
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
