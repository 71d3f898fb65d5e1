package graft

import org.apache.spark.sql.SparkSession

/** Scale-ladder slope check: times every bench query at three scale
  * factors and reports the log-log slope of runtime vs data size —
  * the cheap early-warning for anything super-linear (an accidental
  * quadratic, a driver-side bottleneck, a collect that grows with the
  * data) long before it matters at 100 TB.
  *
  * slope = log(t_hi / t_lo) / log(sf_hi / sf_lo); linear scaling is
  * 1.0, constant (overhead-bound) is 0.0. At these SFs most queries
  * are OVERHEAD-bound (job scheduling, codegen, persists — see the
  * workflow notes), so slopes well BELOW 1 are expected and
  * uninformative; the signal is the other tail. The 0.01→0.1 slope is
  * the one that matters (the 0.001→0.01 leg is almost pure overhead);
  * `FLAG`s mark queries whose 0.01→0.1 slope exceeds the threshold
  * (default 1.3 — super-linear beyond noise).
  *
  * Timing protocol per query: the three SFs run back-to-back
  * (adjacent in time, so host drift between rounds of the suite
  * cannot skew one query's ratio), median of `runs` runs each, cache
  * cleared between runs — same discipline as Bench. Output: a
  * human-readable table plus one machine-readable JSON line (prefixed
  * SLOPES_JSON:) for tooling.
  */
object Slopes {
  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SLOPE_DIRS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").toSeq
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_SLOPE_RUNS").flatMap(_.toIntOption).getOrElse(3))
    val flagAt = sys.env.get("SPARK_GRAFT_SLOPE_FLAG")
      .flatMap(_.toDoubleOption).getOrElse(1.3)
    // the SF value is the trailing number in the dir name (sf0.01 →
    // 0.01); the slope denominators come from these ratios
    def sfOf(dir: String): Double =
      "([0-9.]+)$".r.findFirstIn(dir.stripSuffix("/"))
        .flatMap(_.toDoubleOption)
        .getOrElse(sys.error(s"cannot parse scale factor from $dir"))
    val sfs = dirs.map(sfOf)
    require(sfs == sfs.sorted && sfs.distinct == sfs,
      s"slope dirs must be distinct ascending SFs, got $sfs")

    val spark = LocalSession(LocalSession.cpus())
    spark.range(1L << 20).selectExpr("sum(id)").collect() // warmup

    def medianSec(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                  dir: String): Double = {
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // teardown OUTSIDE the timed span — queries differ in how much
        // they cache, and attributing unpersist cost to the query
        // would shift slopes without the compute scaling changing
        spark.catalog.clearCache()
        sec
      }.sorted
      ts(ts.size / 2)
    }

    var errors = List.empty[String]
    val rows: Seq[(String, Seq[Double], Seq[Double])] =
      SparkEntry.benchQueries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try {
          val times = dirs.map(d => medianSec(fn, d))
          val slopes = times.sliding(2).zip(sfs.sliding(2)).map {
            case (Seq(t1, t2), Seq(s1, s2)) =>
              math.log(t2 / t1) / math.log(s2 / s1)
            case _ => Double.NaN
          }.toSeq
          Some((name, times, slopes))
        } catch {
          case e: Throwable =>
            errors ::= name
            System.err.println(s"[slopes] $name failed: ${e.getMessage}")
            None
        }
      }

    // Locale.ROOT formatting throughout: the f"" interpolator uses the
    // JVM default locale, which renders decimals with ',' under e.g.
    // de_DE — fatal for the machine-readable line below, ugly above
    def fmt(pattern: String, v: Double): String =
      String.format(java.util.Locale.ROOT, pattern, Double.box(v))
    val hdr = "query".padTo(28, ' ') +
      sfs.map(s => s"sf$s".padTo(9, ' ')).mkString +
      "slope_lo  slope_hi  verdict"
    println(hdr)
    rows.foreach { case (name, ts, sl) =>
      val verdict = if (sl.last > flagAt) "FLAG" else "ok"
      println(name.padTo(28, ' ') +
        ts.map(t => fmt("%.3f", t).padTo(9, ' ')).mkString +
        fmt("%.2f", sl.head).padTo(10, ' ') +
        fmt("%.2f", sl.last).padTo(10, ' ') + verdict)
    }
    val flagged = rows.filter(_._3.last > flagAt).map(_._1)
    // a degenerate ladder (one dir) yields NaN slopes — JSON has no
    // NaN literal, emit null
    def jNum(s: Double): String =
      if (s.isNaN || s.isInfinite) "null" else fmt("%.4f", s)
    val qJson = rows.map { case (n, ts, sl) =>
      "\"" + n + "\":{\"sec\":" +
        ts.map(t => fmt("%.6f", t)).mkString("[", ",", "]") +
        ",\"slopes\":" + sl.map(jNum).mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    println("SLOPES_JSON:" +
      s"""{"sfs":${sfs.mkString("[", ",", "]")},"runs":$runs,""" +
      s""""flag_threshold":$flagAt,""" +
      s""""flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""errors":${errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""queries":$qJson}""")
    spark.stop()
  }
}
