package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Helpers to load the driver-generated parquet tables
  * (see TESTDATA.md: region nation customer supplier part orders
  * lineitem events documents embeddings).
  *
  * [[load]] infers each table's schema once and reads with it after
  * that, so building a query over the tables submits no footer
  * inference job. [[inferredSchema]] is the engine's one file-version
  * schema memo; `Traffic.readCsv` uses it too, for the CSV header job.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    inferredSchema(spark, "parquet", path)
      .fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))
  }

  /** Per format, the confs whose values change the schema inference
    * returns for the same file: parquet's type mappings, and the case
    * sensitivity CSV's header de-duplication reads. The CSV list covers
    * reads without `inferSchema` (every column a string); typed CSV
    * inference would also read the time-parsing confs. */
  private val InferenceConfs = Map(
    "parquet" -> Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.binaryAsString",
      "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.mergeSchema"),
    "csv" -> Seq("spark.sql.caseSensitive"))

  /** Spark's inferred schema of a `format` read of `path` with
    * `options`, memoized ([[QueryPack.once]]) per format, reader
    * options, the values of that format's [[InferenceConfs]], and file
    * version: the path's qualified name, file count, total size and
    * newest modification time, over the files under it (one file for a
    * single-file path). A file rewritten in place, another option or a
    * changed conf therefore infers afresh. The files are listed with
    * `listStatus`, which leaves their permissions unloaded: loading them
    * on a host without libhadoop forks an `ls` per file. None for a
    * format not listed above, or a path that lists no file, so the
    * plain read infers and reports any error as before. */
  private[graft] def inferredSchema(spark: SparkSession, format: String, path: String,
                                    options: Map[String, String] = Map.empty): Option[StructType] =
    InferenceConfs.get(format).flatMap { keys =>
      scala.util.Try {
        val p = new Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def files(st: FileStatus): Seq[FileStatus] =
          if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
        val all = fs.listStatus(p).toSeq.flatMap(files)
        s"${fs.makeQualified(p)}|${all.size}|${all.map(_.getLen).sum}|" +
          all.map(_.getModificationTime).max
      }.toOption.map { version =>
        val read = options.toSeq.sorted.mkString(",") + "|" +
          keys.map(k => spark.conf.getOption(k).getOrElse("")).mkString("|")
        QueryPack.once(("graft.Tables", s"$format|$read", version))(
          spark.read.format(format).options(options).load(path).schema)
      }
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
