package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream

class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("streaming dedup with watermark equals batch dropDuplicates on finite input") {
    val dir = Files.createTempDirectory("graft-sdedup").toString
    val events = Tables.events(spark, SparkSuite.sf0001)
    // plant exact duplicates
    events.unionAll(events.limit(50)).write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
      .dropDuplicates(Seq("user_id", "event_type", "ts"))
      .count()
    val q = EventStream.dedupStream(spark, dir, Seq("user_id", "event_type"), "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sdedup").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("graft_sdedup").count() === batch)
  }

  test("streaming simhash near-dup equals batch pairs, including across batches") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-sneardup").toString
    val docs = Tables.documents(spark, SparkSuite.sf0001)
      .select(col("doc_id"), col("text"),
        expr("timestamp_seconds(1700000000 + doc_id)").as("ts"))
    // feed in two event-time-ordered batches so state genuinely
    // crosses a batch boundary
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(dir)
    val q = EventStream.nearDupStream(spark, dir, "doc_id", "text", "ts",
        maxHamming = 3, delay = "1 second")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sneardup").start()
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= 250).write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("graft_sneardup")
      .groupBy("doc_id").agg(min("dup_of").as("dup_of"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    // batch truth: for every doc_b its smallest matched earlier doc_a
    // (ts order == id order here)
    val batch = graft.operators.Dedup
      .simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    assert(batch.nonEmpty, "test data must contain simhash near-dups")
    assert(streamed === batch)
  }

  test("gapStream equals batch gaps pair-for-pair, including across batches") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-sgaps").toString
    val events = Tables.events(spark, SparkSuite.sf0001)
      .select("event_id", "user_id", "ts")
    val cut = events.agg(
      expr("percentile_approx(unix_micros(ts), 0.5)")).collect()(0).getLong(0)
    val horizonS = 7200L
    // feed in two event-time-ordered halves so per-user state
    // genuinely crosses the batch boundary
    events.filter(unix_micros(col("ts")) < cut)
      .write.mode("overwrite").parquet(dir)
    val q = EventStream.gapStream(spark, dir, horizonS = horizonS,
        delay = "1 second")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sgaps").start()
    try {
      q.processAllAvailable()
      events.filter(unix_micros(col("ts")) >= cut)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id", "gap_s", "bucket").count().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getLong(3))
        .toMap
    val streamed = multiset(spark.table("graft_sgaps"))
    val batch = multiset(graft.operators.EventAnalytics.gaps(
      spark.read.parquet(dir), "user_id", "ts", "event_id", horizonS))
    assert(batch.nonEmpty, "fixture produced no gaps — dead test")
    assert(streamed === batch)
    // and the horizon really excludes: an unbounded batch run has more
    val unbounded = graft.operators.EventAnalytics.gaps(
      spark.read.parquet(dir), "user_id", "ts", "event_id", Long.MaxValue)
    assert(unbounded.count() >= batch.values.sum)
  }

  test("nearDupStream overflow bucket: caps matching, then reopens after horizon aging") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-sneardup-cap").toString
    val t0 = 1700000000L
    import spark.implicits._
    def write(ids: Seq[Long], off: Long => Long, mode: String): Unit =
      ids.map(i => (i, off(i))).toDF("doc_id", "tsoff")
        .withColumn("text", lit("the quick brown fox jumps over the lazy dog"))
        .withColumn("ts", expr(s"timestamp_seconds($t0 + tsoff)"))
        .drop("tsoff")
        .write.mode(mode).parquet(dir)
    // batch 1: five identical docs, cap is 4 — doc 4 must be dropped
    write(Seq(0L, 1L, 2L, 3L, 4L), i => i, "overwrite")
    val q = EventStream.nearDupStream(spark, dir, "doc_id", "text", "ts",
        maxHamming = 3, delay = "1 second", horizonMs = 10000L, maxBucket = 4)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sneardup_cap").start()
    try {
      q.processAllAvailable()
      // batch 2: bucket still full (state within horizon) — dropped too
      write(Seq(10L, 11L), _ => 100L, "append")
      q.processAllAvailable()
      // batch 3: watermark now ~t0+99s, batch-1 state aged out (>10s
      // horizon) and batch-2 docs were never admitted — bucket reopens
      // empty, doc 20 is admitted with no earlier match
      write(Seq(20L), _ => 102L, "append")
      q.processAllAvailable()
      // batch 4: doc 21 matches the re-admitted doc 20
      write(Seq(21L), _ => 103L, "append")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("graft_sneardup_cap")
      .groupBy("doc_id").agg(min("dup_of").as("dup_of"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    // first maxBucket arrivals pair normally; overflow (4, 10, 11) is
    // dropped — the documented divergence from batch, which would have
    // suppressed the whole bucket; post-aging the bucket matches again
    assert(streamed === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 21L -> 20L))
  }

  test("streaming hourly aggregation equals the batch formulation") {
    // stage events as micro-precision parquet (streaming source can't
    // read the nanos-typed original)
    val dir = Files.createTempDirectory("graft-stream").toString
    val events = Tables.events(spark, SparkSuite.sf0001)
    events.write.mode("overwrite").parquet(dir)

    val batch = EventStream.hourlyBatch(spark.read.parquet(dir))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val stream = EventStream.runStreamToMemory(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(stream === batch)
    assert(batch.nonEmpty)
  }

  test("windowed KMV distinct stream equals the batch estimator; windows close on watermark") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-kmvw").toString
    val ev = Tables.events(spark, SparkSuite.sf0001)
      .select(col("user_id"), col("ts"))
    // Window estimates are emitted only when the watermark CLOSES the
    // window; a finite feed needs one far-future sentinel (user −1)
    // to drag the watermark past every real window end (the
    // sessionizeStream flush pattern). The sentinel's own window
    // stays open and is the only one withheld.
    val flush = ev.agg(max(col("ts")).as("ts"))
      .select(lit(-1L).as("user_id"),
        (col("ts") + expr("INTERVAL 30 DAYS")).as("ts"))
    ev.union(flush).write.mode("overwrite").parquet(dir)
    val batch = EventStream.kmvWindowedBatch(
        spark.read.parquet(dir).filter(col("user_id") =!= -1L),
        "cast(user_id as string)", windowSec = 3600L, k = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = EventStream.kmvWindowedStream(spark, dir,
        "cast(user_id as string)", windowSec = 3600L, k = 16,
        delay = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_kmvw").start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("graft_kmvw").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream === batch)
    assert(batch.nonEmpty)
    // the sketch genuinely estimated somewhere (k=16 under ~dozens of
    // distinct users per hour) AND stayed sane: estimate within 50%
    // of exact on every window
    val exact = spark.read.parquet(dir).filter(col("user_id") =!= -1L)
      .select(window(col("ts"), "3600 seconds")("start").cast("long")
        .as("ws"), col("user_id"))
      .groupBy("ws").agg(countDistinct(col("user_id")).as("ex"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = stream.toMap
    assert(exact.keySet === est.keySet)
    exact.foreach { case (ws, ex) =>
      val e = est(ws)
      assert(e <= ex * 2 && e * 2 >= ex, s"window $ws: est $e vs exact $ex")
    }
  }

  test("sliding window stream equals the batch formulation; each event lands in dur/slide windows") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-sslide").toString
    val ev = Tables.events(spark, SparkSuite.sf0001)
      .select(col("ts"), col("event_type"), col("value"))
    // append-mode sliding windows emit only when the watermark passes
    // their END — a finite feed needs one far-future sentinel to drag
    // the watermark past every real window (the kmvWindowedStream
    // flush pattern); the sentinel's own 4 windows stay open
    val flush = ev.agg((max(col("ts")) + expr("INTERVAL 30 DAYS")).as("ts"))
      .select(col("ts"), lit("zz_flush").as("event_type"),
        lit(0.0).as("value"))
    ev.union(flush).write.mode("overwrite").parquet(dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val real = spark.read.parquet(dir).filter(col("event_type") =!= "zz_flush")
    val batch = key(EventStream.slidingBatch(real, "1 hour", "15 minutes"))
    val q = EventStream.slidingStream(spark, dir, "1 hour", "15 minutes",
        delay = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sslide").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = key(spark.table("graft_sslide")
      .filter(col("event_type") =!= "zz_flush"))
    assert(streamed === batch)
    assert(batch.nonEmpty)
    // overlap accounting: every event contributes to exactly
    // dur/slide = 4 windows, so summed counts are 4 x the input
    assert(batch.toSeq.map(_._3).sum === 4L * real.count())
  }

  test("sliding windowed KMV stream equals the sliding batch estimator") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-kmvslide").toString
    val ev = Tables.events(spark, SparkSuite.sf0001)
      .select(col("user_id"), col("ts"))
    val flush = ev.agg(max(col("ts")).as("ts"))
      .select(lit(-1L).as("user_id"),
        (col("ts") + expr("INTERVAL 30 DAYS")).as("ts"))
    ev.union(flush).write.mode("overwrite").parquet(dir)
    val batch = EventStream.kmvWindowedBatch(
        spark.read.parquet(dir).filter(col("user_id") =!= -1L),
        "cast(user_id as string)", windowSec = 3600L, k = 16,
        slideSec = 900L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = EventStream.kmvWindowedStream(spark, dir,
        "cast(user_id as string)", windowSec = 3600L, k = 16,
        delay = "0 seconds", slideSec = 900L)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_kmvslide").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_kmvslide").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
    // sliding: ~4x the tumbling window count over the same feed
    val tumbling = EventStream.kmvWindowedBatch(
        spark.read.parquet(dir).filter(col("user_id") =!= -1L),
        "cast(user_id as string)", windowSec = 3600L, k = 16)
      .count()
    assert(batch.size > 2 * tumbling,
      s"sliding produced ${batch.size} windows vs $tumbling tumbling — " +
        "overlap factor missing")
  }

  test("streaming Misra-Gries heavy hitters: superset of exact batch HH, counts within the MG band") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-shh").toString
    val t0 = 1704067200L // 2024-01-01 00:00 UTC, window-aligned
    // window A (hour 0): one hot value x30 + 20 singletons (n=50,
    // thr=ceil(0.2*50)=10 -> exact HH = {hot}); window B (hour 1):
    // two hots x15 + 20 singletons (n=50 -> {hotB1, hotB2}). 21
    // distinct values per window > c=10 counters, so the MG trim
    // genuinely fires; window A arrives split across two appends so
    // the summary MERGE path is exercised too.
    def rows(win: Int, vs: Seq[String]): Seq[(String, Long)] =
      vs.zipWithIndex.map { case (v, i) =>
        (v, t0 + win * 3600L + 60L + i % 3000)
      }
    val winA = rows(0, Seq.fill(30)("hotA") ++ (1 to 20).map(i => s"sa$i"))
    val winB = rows(1, Seq.fill(15)("hotB1") ++ Seq.fill(15)("hotB2")
      ++ (1 to 20).map(i => s"sb$i"))
    def write(rs: Seq[(String, Long)], mode: String): Unit =
      rs.toDF("v", "tss")
        .select(col("v"), expr("timestamp_seconds(tss)").as("ts"))
        .write.mode(mode).parquet(dir)
    write(winA.take(25), "overwrite")
    val support = 0.2
    val c = 10
    val q = EventStream.heavyHittersWindowedStream(spark, dir, "v",
        support = support, windowSec = 3600L, counters = c,
        delay = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_shh").start()
    try {
      q.processAllAvailable()
      write(winA.drop(25) ++ winB, "append")
      q.processAllAvailable()
      // flush sentinel drags the watermark past both windows
      write(Seq(("zz", t0 + 40L * 24 * 3600)), "append")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("graft_shh").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val real = spark.read.parquet(dir).filter(col("v") =!= "zz")
    val exactHH = EventStream.heavyHittersWindowedBatch(
        real, "v", support, 3600L)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val exactCnt = real
      .select(window(col("ts"), "3600 seconds")("start").cast("long")
        .as("ws"), col("v"))
      .groupBy("ws", "v").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(exactHH.size === 3, s"fixture: expected 3 exact HHs, got $exactHH")
    // containment: every exact heavy hitter was emitted
    exactHH.foreach { case (k, cnt) =>
      assert(streamed.contains(k), s"exact HH $k (cnt=$cnt) missing from stream")
    }
    // error band: mg_count <= exact <= mg_count + n/(c+1), and the
    // emitted n_window is the true window total
    streamed.foreach { case (k @ (ws, _), (mg, n)) =>
      val ex = exactCnt.getOrElse(k, 0L)
      assert(mg <= ex && ex <= mg + n / (c + 1),
        s"$k: mg=$mg exact=$ex n=$n")
      assert(n === exactCnt.collect { case ((w, _), cn) if w == ws => cn }.sum)
    }
    // selectivity: the singletons (mg + slack < threshold) were NOT
    // emitted — on this fixture the candidate set is exactly the HH set
    assert(streamed.keySet === exactHH.keySet,
      s"expected only the 3 hot values, got ${streamed.keySet}")
    // the documented two-pass pattern: stream candidates -> exactify
    // == the exact batch answer (counts AND totals)
    val exactified = EventStream.heavyHittersExactify(
        spark.table("graft_shh"), real, "v", support, 3600L)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(exactified === exactHH,
      s"exactify(stream candidates) must equal the batch answer")
  }

  test("sliding Misra-Gries heavy hitters: superset of the sliding exact batch per window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-shh-slide").toString
    val t0 = 1704067200L // 2024-01-01 00:00 UTC, window-aligned
    // one hot value x20 + 15 singletons in each half-hour block; hour
    // windows sliding 30 min put each block in TWO windows, so the
    // hot values must surface in every containing window
    val rows = (0 until 2).flatMap { blk =>
      (Seq.fill(20)(s"hot$blk") ++ (1 to 15).map(i => s"s${blk}_$i"))
        .zipWithIndex.map { case (v, i) =>
          (v, t0 + blk * 1800L + 60L + i % 1500)
        }
    }
    rows.toDF("v", "tss")
      .select(col("v"), expr("timestamp_seconds(tss)").as("ts"))
      .write.mode("overwrite").parquet(dir)
    Seq(("zz", t0 + 40L * 24 * 3600)).toDF("v", "tss")
      .select(col("v"), expr("timestamp_seconds(tss)").as("ts"))
      .write.mode("append").parquet(dir)
    val support = 0.2
    val q = EventStream.heavyHittersWindowedStream(spark, dir, "v",
        support = support, windowSec = 3600L, counters = 10,
        delay = "0 seconds", slideSec = 1800L)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_shh_slide").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_shh_slide").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val real = spark.read.parquet(dir).filter(col("v") =!= "zz")
    val exactHH = EventStream.heavyHittersWindowedBatch(
        real, "v", support, 3600L, slideSec = 1800L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(exactHH.nonEmpty, "fixture produced no sliding HHs — dead test")
    // a hot value appears as an exact HH in MORE windows than the
    // tumbling form could show (overlap factor)
    assert(exactHH.count(_._2 == "hot0") >= 2,
      s"hot0 should be a HH in >= 2 overlapping windows: $exactHH")
    // containment: every exact sliding HH was emitted by the stream
    assert(exactHH.subsetOf(streamed),
      s"missing from stream: ${exactHH -- streamed}")
    // exactify over the sliding candidates == the sliding batch, full
    // row identity (window, value, exact count, window total)
    val batchRows = EventStream.heavyHittersWindowedBatch(
        real, "v", support, 3600L, slideSec = 1800L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val exactified = EventStream.heavyHittersExactify(
        spark.table("graft_shh_slide"), real, "v", support, 3600L,
        slideSec = 1800L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(exactified === batchRows,
      s"sliding exactify diverged: ${(exactified diff batchRows) ++ (batchRows diff exactified)}")
    spark.catalog.clearCache()
  }

  test("streaming as-of enrichment equals the batch as-of join on finite input") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-sasof").toString
    Tables.events(spark, SparkSuite.sf0001).write.mode("overwrite").parquet(dir)

    val ev = spark.read.parquet(dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("pts_us"),
        col("value"))
      .withColumnRenamed("p_user", "user_id")
    val batch = graft.operators.AsOfJoin
      .asOf(clicks, purchases, "user_id", "ts_us", "pts_us", Seq("value"))
      .select(col("event_id"),
        coalesce(col("asof_ts"), lit(-1L)).as("ats"),
        coalesce(col("asof_value"), lit(-1.0)).as("av"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val q = EventStream.asOfStream(spark, dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sasof").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_sasof")
      .select(col("event_id"), col("asof_ts_us"), col("asof_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(streamed === batch)
    assert(streamed.exists(_._2 == -1L), "expected some no-match rows")
    assert(streamed.exists(_._2 != -1L), "expected some enriched rows")
  }

  test("anomalyStream equals batch robustOutliers when the profile snapshot is the scored data") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-sanom").toString
    Tables.events(spark, SparkSuite.sf0001).write.mode("overwrite").parquet(dir)

    val batch = graft.operators.EventAnalytics.robustOutliers(
        spark.read.parquet(dir), "event_type", "value", "event_id")
      .select(col("event_id"), col("mscore"), col("is_anomaly"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet

    val q = EventStream.anomalyStream(spark, dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sanom").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_sanom")
      .select(col("event_id"), col("mscore"), col("is_anomaly"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet

    assert(streamed === batch,
      "shared scoring expression: stream and batch flags must be identical")
    assert(streamed.nonEmpty, "the equality above must not be vacuous")
    spark.catalog.clearCache()
  }

  test("rateAnomalyStream equals batch robust scoring of the same windowed rates") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-srate").toString
    Tables.events(spark, SparkSuite.sf0001).write.mode("overwrite").parquet(dir)

    // batch twin: robustOutliers over the SAME windowed rates the
    // stream aggregates, one synthetic 'all' group — q_bot_users'
    // shape, per-window instead of per-corpus
    val rates = EventStream.windowRatesBatch(spark.read.parquet(dir))
      .withColumn("grp", lit("all"))
      .withColumn("rate_id", concat_ws(":", col("user_id"), col("window_start")))
    val batch = graft.operators.EventAnalytics.robustOutliers(
        rates, "grp", "value", "rate_id")
      .select(col("rate_id"), col("value"), col("mscore"), col("is_anomaly"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getInt(3))).toSet

    // complete mode so every window is observable on finite input;
    // production runs append (finalized windows only)
    val q = EventStream.rateAnomalyStream(spark, dir)
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_srate").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_srate")
      .select(concat_ws(":", col("user_id"), col("window_start")).as("rate_id"),
        col("n_events"), col("mscore"), col("is_anomaly"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getInt(3))).toSet

    assert(streamed === batch,
      "shared rate aggregation + scoring expression: flags must be identical")
    assert(streamed.nonEmpty, "the equality above must not be vacuous")
    assert(streamed.exists(_._4 == 1) || streamed.forall(_._4 == 0),
      "flag column materialized")
    spark.catalog.clearCache()
  }

  test("asOfStream caps per-key purchase history at maxHistory, counting the cut") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sasof-cap").toString
    val t0 = 1700000000L
    // user 1: six purchases at t0+1..t0+6 (value == offset); cap 4
    // retains only the LATEST four (offsets 3..6)
    val purchases = (1 to 6).map(i =>
      (100L + i, 1L, "purchase", t0 + i, i.toDouble))
    val clicks = Seq(
      (900L, 1L, "click", t0 + 100, 0.0), // sees latest retained: value 6
      (901L, 1L, "click", t0 + 4, 0.0),   // within window: value 4
      (902L, 1L, "click", t0 + 2, 0.0))   // reaches past the cut: no match
    (purchases ++ clicks).toDF("event_id", "user_id", "event_type", "tsoff", "value")
      .withColumn("ts", expr("timestamp_seconds(tsoff)")).drop("tsoff")
      .write.mode("overwrite").parquet(dir)
    val q = EventStream.asOfStream(spark, dir, maxHistory = 4)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sasof_cap").start()
    try q.processAllAvailable() finally q.stop()
    assert(EventStream.lastAsOfDroppedHistory === 2L,
      "two of six purchases fall past the cap")
    val got = spark.table("graft_sasof_cap")
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("asof_value")).toMap
    assert(got === Map(900L -> 6.0, 901L -> 4.0, 902L -> -1.0))
  }

  test("asOfStream reads the INT64 TIMESTAMP(NANOS) events layout on both legs") {
    // mimic the driver's nanos generator via the low-level writer
    // (Spark itself cannot emit TIMESTAMP(NANOS)) — the layout that
    // broke raw readers in earlier rounds; TablesLayoutSpec pins the
    // batch loader, this pins the stream-static as-of path
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    import org.apache.parquet.schema.Types
    val dir = Files.createTempDirectory("graft-sasof-nanos").toString
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .named("events")
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    val t0us = 1700000000000000L
    val rows = Seq( // (event_id, ts_us, user_id, type, value)
      (1L, t0us + 1000000L, 7L, "purchase", 5.5),
      (2L, t0us + 9000000L, 7L, "click", 0.0),  // after the purchase
      (3L, t0us - 1000000L, 7L, "click", 0.0),  // before: no match
      (4L, t0us + 2000000L, 8L, "click", 0.0))  // user with no purchases
    try rows.foreach { case (id, us, uid, et, v) =>
      val g = factory.newGroup()
      g.add("event_id", id); g.add("ts", us * 1000L)
      g.add("user_id", uid); g.add("event_type", et); g.add("value", v)
      w.write(g)
    } finally w.close()
    val q = EventStream.asOfStream(spark, dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sasof_nanos").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("graft_sasof_nanos")
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("asof_ts_us"), r.getAs[Double]("asof_value")))).toMap
    assert(got === Map(
      2L -> ((t0us + 1000000L, 5.5)),
      3L -> ((-1L, -1.0)),
      4L -> ((-1L, -1.0))))
  }

  test("rebuilding a stream over an unchanged directory runs no job") {
    val dir = Files.createTempDirectory("graft-stream-rebuild").toString
    Tables.events(spark, SparkSuite.sf0001).write.mode("overwrite").parquet(dir)
    EventStream.hourlyStream(spark, dir)
    val (again, jobs) = JobCount(spark)(EventStream.hourlyStream(spark, dir))
    assert(jobs === 0, "the second build must take the memoized schema")
    assert(again.isStreaming)
  }

  test("readStream appears in src/main only in EventStream.source") {
    // every stream opens its parquet directory through one source; a
    // second streaming read would show up here
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val files = Files.walk(root)
    val found =
      try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
        .map(p => root.relativize(p).toString.replace('\\', '/') ->
          "readStream".r.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
      finally files.close()
    assert(found === Map("graft/streaming/EventStream.scala" -> 1))
    val text = Files.readString(root.resolve("graft/streaming/EventStream.scala"))
    val start = text.indexOf("private def source(")
    assert(start >= 0)
    assert(text.indexOf("readStream") > start &&
      text.indexOf("readStream") < text.indexOf("\n  }\n", start))
  }
}
