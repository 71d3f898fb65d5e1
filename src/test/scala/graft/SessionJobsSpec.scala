package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Catalog
import graft.operators.Traffic

/** The jobs a REPL session's CSV put, get and multiread submit: the
  * CSV header is read once per file version, and each of multiread's
  * reads is one job. */
class SessionJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import SparkSuite.spark.implicits._

  /** Every job the session starts during `body`, from any thread
    * ([[JobCount]] sees only the calling thread's job group). A
    * sentinel job after the block drains the listener bus. */
  private def allJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val counted = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(sentinel))
          seen.countDown()
        else counted.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(sentinel, "allJobs sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(seen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  private def plainCsv(path: String) = spark.read.option("header", "true").csv(path)

  test("a second readCsv of the same file submits no job; a rewritten file infers again") {
    val f = Files.createTempDirectory("graft-sj").resolve("t.csv")
    Files.writeString(f, "a,b\n1,2\n3,4\n")
    val (first, firstJobs) = JobCount(spark)(Traffic.readCsv(spark, f.toString))
    assert(firstJobs >= 1, "the first read infers the header")
    val (again, againJobs) = JobCount(spark)(Traffic.readCsv(spark, f.toString))
    assert(againJobs === 0)
    assert(again.schema === first.schema)
    assert(again.schema === plainCsv(f.toString).schema)
    assert(again.collect().toSeq === plainCsv(f.toString).collect().toSeq)

    // a new header at the same path
    Files.writeString(f, "x,y,z\n5,6,7\n")
    val (rewritten, rewrittenJobs) = JobCount(spark)(Traffic.readCsv(spark, f.toString))
    assert(rewrittenJobs >= 1)
    assert(rewritten.columns.toSeq === Seq("x", "y", "z"))
    assert(rewritten.as[(String, String, String)].collect().toSeq === Seq(("5", "6", "7")))
  }

  test("a spark.sql.caseSensitive flip infers the CSV header again") {
    val f = Files.createTempDirectory("graft-sj").resolve("dup.csv")
    // header names that are duplicates only when case is ignored
    Files.writeString(f, "k,K\n1,2\n")
    val insensitive = Traffic.readCsv(spark, f.toString)
    assert(insensitive.columns.toSeq === plainCsv(f.toString).columns.toSeq)
    assert(JobCount(spark)(Traffic.readCsv(spark, f.toString))._2 === 0)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val (sensitive, jobs) = JobCount(spark)(Traffic.readCsv(spark, f.toString))
      assert(jobs >= 1)
      assert(sensitive.columns.toSeq === Seq("k", "K"))
      assert(sensitive.columns.toSeq === plainCsv(f.toString).columns.toSeq)
      assert(sensitive.columns.toSeq !== insensitive.columns.toSeq)
    } finally spark.conf.unset("spark.sql.caseSensitive")
  }

  test("multiread(name, m) reads m times with one job each, counting what count() does") {
    val cat = new Catalog(spark, Files.createTempDirectory("graft-sj-cat").toString)
    val rows = (1 to 500).map(i => (i, s"r$i")).toDF("id", "v").repartition(3)
    cat.put("pq", rows)
    cat.put("csv", rows, format = "csv", options = Map("header" -> "true"))
    cat.putBlob("blob", Array.fill[Byte](64)(1))
    for (name <- Seq("pq", "csv", "blob"); m <- Seq(1, 4)) {
      val expected = cat.get(name).count()
      // a csv entry's header was inferred by the first get above;
      // parquet and blob gets never infer, so a get runs no job here
      val getJobs = allJobs(cat.get(name))._2
      val (counts, jobs) = allJobs(cat.multiread(name, m))
      assert(counts === Seq.fill(m)(expected), name)
      assert(jobs === m * (1 + getJobs), s"$name m=$m")
    }
    assert(cat.get("pq").count() === 500L)
    assert(cat.get("blob").count() === 1L)
  }

  test("a second get of a csv entry submits no job") {
    val cat = new Catalog(spark, Files.createTempDirectory("graft-sj-cat").toString)
    cat.put("t", Seq((1, "a"), (2, "b")).toDF("id", "v"), format = "csv",
      options = Map("header" -> "true"))
    val first = cat.get("t")
    val (again, jobs) = allJobs(cat.get("t"))
    assert(jobs === 0)
    assert(again.schema === first.schema)
    assert(again.columns.toSeq === Seq("id", "v"))
    assert(again.as[(String, String)].collect().toSet === Set(("1", "a"), ("2", "b")))
  }

  test("a csv re-put with a new header reads the new columns") {
    val cat = new Catalog(spark, Files.createTempDirectory("graft-sj-cat").toString)
    val opts = Map("header" -> "true")
    cat.put("t", Seq((1, "a")).toDF("id", "v"), format = "csv", options = opts)
    assert(cat.get("t").columns.toSeq === Seq("id", "v"))
    cat.put("t", Seq((7, "x", 9L)).toDF("k", "w", "z"), format = "csv", options = opts)
    val got = cat.get("t")
    assert(got.columns.toSeq === Seq("k", "w", "z"))
    assert(got.as[(String, String, String)].collect().toSeq === Seq(("7", "x", "9")))
  }
}
