package graft

import java.nio.file.{Files, Paths, StandardCopyOption, Path => JPath}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.parquet.schema.Types
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.load]] infers each table's schema once per file version
  * and inference confs: a repeated load plans without a job, while a
  * file rewritten at the same path or a changed conf infers afresh. */
class TablesSchemaSpec extends AnyFunSuite {
  private val spark = SparkSuite.spark
  import spark.implicits._

  private def sfDir(): JPath = {
    val d = Files.createTempDirectory("graft_tables_")
    d.toFile.deleteOnExit()
    d
  }

  test("a repeated load of one table submits no job and reads the same schema") {
    val dir = sfDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir.resolve("t.parquet").toString)
    val (first, firstJobs) = JobCount(spark)(Tables.load(spark, dir.toString, "t"))
    assert(firstJobs >= 1, "the first load infers")
    val (again, againJobs) = JobCount(spark)(Tables.load(spark, dir.toString, "t"))
    assert(againJobs === 0)
    assert(again.schema === first.schema)
    assert(again.schema === spark.read.parquet(dir.resolve("t.parquet").toString).schema)
    assert(again.orderBy("k").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // the real generated tables: the second load is job-free too
    Tables.lineitem(spark, SparkSuite.sf0001)
    assert(JobCount(spark)(Tables.lineitem(spark, SparkSuite.sf0001))._2 === 0)
  }

  test("a table rewritten at the same path is re-inferred") {
    val dir = sfDir()
    val table = dir.resolve("t.parquet").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(table)
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("k", "v"))
    Seq((1.5, 2, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(table)
    val back = Tables.load(spark, dir.toString, "t")
    assert(back.schema === spark.read.parquet(table).schema)
    assert(back.as[(Double, Int, Boolean)].collect().toSeq === Seq((1.5, 2, true)))

    // a single-file table replaced by a file of a different size
    val single = dir.resolve("s.parquet")
    def writeSingle(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = dir.resolve("tmp").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, single, StandardCopyOption.REPLACE_EXISTING)
    }
    writeSingle(Seq(1L).toDF("a"))
    assert(Tables.load(spark, dir.toString, "s").columns.toSeq === Seq("a"))
    writeSingle(Seq(("x", 2L)).toDF("b", "c"))
    assert(Tables.load(spark, dir.toString, "s").columns.toSeq === Seq("b", "c"))
    assert(Tables.load(spark, dir.toString, "s").as[(String, Long)].collect().toSeq ===
      Seq(("x", 2L)))
  }

  test("a changed inference conf infers afresh") {
    // an unannotated BINARY column, written without Spark's schema in
    // the footer: binaryAsString decides whether it is binary or string
    val dir = sfDir()
    val schema = Types.buildMessage()
      .required(INT64).named("k")
      .required(BINARY).named("raw")
      .named("t")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet")).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      g.add("k", 1L)
      g.add("raw", Binary.fromString("hello"))
      w.write(g)
    } finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir.toString, "t").schema("raw").dataType === BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.load(spark, dir.toString, "t")
      assert(asString.schema("raw").dataType === StringType)
      assert(asString.select("raw").as[String].collect().toSeq === Seq("hello"))
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir.toString, "t").schema("raw").dataType === BinaryType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
