package graftbench

import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Checks the benchmark's own helpers: the tail-percentile rule, the
  * stage-interval union behind `spark.driver_ms`, the output digest's
  * invariance to row order and partitioning, and the traffic
  * generator's known answers. Returns the process exit code. */
object SelfTest {

  private var checks = 0
  private var failures = List.empty[String]

  private def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = try cond catch { case e: Throwable => println(s"  $what threw $e"); false }
    if (!ok) failures ::= what
    println(s"${if (ok) "ok  " else "FAIL"} $what")
  }

  def run(workDir: Path): Int = {
    tailRule()
    intervalUnion()
    trafficAnswers()
    val spark = Main.session(workDir, threads = 2)
    try digestInvariance(spark) finally spark.stop()
    println(s"selftest: ${checks - failures.size} of $checks checks passed")
    if (failures.isEmpty) 0 else 1
  }

  def tailRule(): Unit = {
    val xs = (1 to 40).map(_.toDouble)
    check("tail of 40 samples is p75 with 10 beyond")(
      Stats.tail(xs) == Stats.Tail(30.0, 75, 10, 40))
    check("tail of 1000 samples is p99 with 10 beyond")(
      Stats.tail((1 to 1000).map(_.toDouble)) == Stats.Tail(990.0, 99, 10, 1000))
    check("tail of 10 samples falls back to the maximum")(
      Stats.tail((1 to 10).map(_.toDouble).reverse) == Stats.Tail(10.0, 100, 0, 10))
    check("tail of 11 samples is p9 with 10 beyond")(
      Stats.tail((1 to 11).map(_.toDouble)) == Stats.Tail(1.0, 9, 10, 11))
    check("tail ignores input order")(
      Stats.tail(scala.util.Random.shuffle(xs)) == Stats.tail(xs))
    check("median of an odd sample is its middle value")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median of an even sample is the mean of the middle two")(
      Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5)
  }

  def intervalUnion(): Unit = {
    check("union of disjoint intervals adds them")(
      Stats.unionLength(Seq((0.0, 1.0), (2.0, 4.0)), 0, 10) == 3.0)
    check("union counts overlapping and nested intervals once")(
      Stats.unionLength(Seq((0.0, 5.0), (1.0, 2.0), (4.0, 7.0), (7.0, 8.0)), 0, 10) == 8.0)
    check("union is clipped to the op's window")(
      Stats.unionLength(Seq((-5.0, 2.0), (9.0, 20.0)), 0, 10) == 3.0)
    check("union of nothing is zero")(Stats.unionLength(Nil, 0, 10) == 0.0)
    check("driver time is op wall minus the stage union")(
      10.0 - Stats.unionLength(Seq((1.0, 4.0), (3.0, 6.0)), 0, 10) == 5.0)
  }

  def trafficAnswers(): Unit = {
    // EngineSpec's golden answer for the real file: the 15 Radio rows
    // split Video 13, Loop 1, None 1
    val radio = TrafficGen.Csv(IndexedSeq.empty,
      IndexedSeq.fill(13)("Video") ++ Seq("Loop", "None") ++ Seq("Video", " ", "Loop/Video"),
      IndexedSeq.fill(15)("Radio") ++ Seq("Fiber", " Radio ", "Fiber/Radio"))
    check("known answer: Radio splits Video 13, Loop 1, None 1, plus a padded Radio")(
      TrafficGen.expectedPct(radio, "Radio") ==
        Map("Video" -> (13L, "81.25%"), "Loop" -> (1L, "6.25%"), "None" -> (1L, "6.25%"),
          "empty" -> (1L, "6.25%")))
    check("juice keys are trimmed, emptied and sanitized like maple-exe")(
      Seq("Loop/Video", " ", "", "Loop None ").map(TrafficGen.juiceKey) ==
        Seq("Loop_Video", "empty", "empty", "Loop_None"))

    val csv = TrafficGen.generate(3000, 7L)
    check("the generator is a function of its seed")(TrafficGen.generate(3000, 7L) == csv)
    check("every line has the 35 header fields")(
      TrafficGen.Header.size == 35 && csv.lines.forall(_.split(",", -1).length == 35))
    // recount from the written lines, independently of the drawn values
    val fields = csv.lines.map(_.split(",", -1))
    TrafficGen.Params.foreach { p =>
      val recount = fields.filter(_(TrafficGen.InterconneIdx).trim == p)
        .groupMapReduce(f => TrafficGen.juiceKey(f(TrafficGen.DetectionIdx)))(_ => 1L)(_ + _)
      val want = TrafficGen.expectedPct(csv, p)
      check(s"maple $p: known counts match the written lines")(
        want.map { case (k, (c, _)) => k -> c } == recount)
      check(s"maple $p: percentages sum to 100")(
        math.abs(want.values.map(_._2.stripSuffix("%").toDouble).sum - 100.0) < 0.05 * want.size)
    }
    check("SELECT Video,Radio counts adjacent Detection_/Interconne pairs")(
      TrafficGen.expectedSelect(csv, "Video,Radio") ==
        fields.count(f => f(9).endsWith("Video") && f(10).startsWith("Radio")))
    check("SELECT strips the quotes of a quoted regex")(
      TrafficGen.expectedSelect(csv, "'Radar|NONE'") ==
        TrafficGen.expectedSelect(csv, "Radar|NONE"))
    check("seeded distributions draw every fixture value")(
      TrafficGen.DetectionBase.map(_._1).forall(csv.detection.contains) &&
        TrafficGen.InterconneBase.map(_._1).forall(csv.interconne.contains))
  }

  def digestInvariance(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("m", DecimalType(10, 2)),
      StructField("a", ArrayType(IntegerType)), StructField("day", DateType)))
    val rows = (0 until 200).map { k =>
      Row(if (k % 17 == 0) null else k, s"v${k % 13}", if (k == 5) -0.0 else k / 8.0,
        java.math.BigDecimal.valueOf(k, 1), Seq(k, k % 3),
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(k)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val base = OutputHash.of(df)
    check("digest counts every row")(base.rows == 200)
    check("digest ignores row order")(OutputHash.of(df.orderBy(desc("s"), desc("i"))) == base)
    check("digest ignores partitioning")(
      OutputHash.of(df.repartition(7, col("s"))) == base && OutputHash.of(df.coalesce(1)) == base)
    check("digest ignores column order")(OutputHash.of(df.select(df.columns.reverse.map(col).toIndexedSeq: _*)) == base)
    check("digest ignores integer width, decimal scale and the sign of zero")(
      OutputHash.of(df.select(col("i").cast(LongType).as("i"), col("s"),
        when(col("d") === 0.0, lit(0.0)).otherwise(col("d")).as("d"),
        col("m").cast(DecimalType(20, 5)).as("m"),
        col("a").cast(ArrayType(LongType)).as("a"), col("day"))) == base)
    check("digest sees a duplicated row")(OutputHash.of(df.union(df.limit(1))) != base)
    check("digest tells which column holds a null")(
      OutputHash.of(df.select(lit(null).cast(IntegerType).as("x"), lit(1).as("y"))) !=
        OutputHash.of(df.select(lit(1).as("x"), lit(null).cast(IntegerType).as("y"))))
    check("digest sees one changed value")(
      OutputHash.of(df.withColumn("s", when(col("i") === 42, lit("x")).otherwise(col("s")))) != base)
    check("digest reads a column no aggregate would")(
      OutputHash.of(df.withColumn("s", sha2(col("s"), 256))) != base)
  }
}
