package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the `events` stream: inter-arrival
  * gaps, ordered-stage funnels, and retention cohorts — the product-
  * analytics triple every event pipeline grows sooner or later
  * (beyond-reference surface; the reference's only event handling is
  * grep/wc over log lines, SURVEY.md §2.2/§2.4).
  *
  * Determinism discipline (the oracle contract for all three): every
  * intermediate is exact integer arithmetic — epoch microseconds,
  * date diffs in days, counts. No double crosses a shuffle, so
  * results are bit-stable under any partitioning and DuckDB-replayable
  * (q_event_gaps / q_funnel / q_retention).
  */
object EventAnalytics {

  /** EWMA trend over per-group ordered counts — EXACT fixed-point
    * formulation: classical EWMA carries an unbounded recursion
    * (s_t = α·x_t + (1−α)·s_{t−1}) whose float accumulation differs
    * across engines in the last ulp; this is the BOUNDED-window form
    * with α = 1/2, where the decay weights are exact powers of two —
    * weight 2^(W−1−j) for the j-th most recent of the last W
    * observations (truncating the <2^−W tail the recursion would
    * carry). Numerator and denominator are therefore pure BIGINT
    * sums over ≤ W lag terms; the ONLY float op is one final
    * division (+ round-6), which any engine replays bit-for-bit from
    * identical integers — the q_unigram_xent fixed-point discipline
    * applied to smoothing. Near a group's start the window holds
    * fewer terms and the denominator shrinks with it, so the EWMA is
    * a true weighted average from the first row (no warm-up bias).
    *
    * `trend` = value / ewma (round-6, against the ROUNDED ewma so
    * replays can't diverge): >1 means the latest observation runs
    * above its own smoothed history — the spike score the moving-
    * average query can't give without double-sum drift.
    *
    * PRECONDITION: (groupCol, orderCol) must be UNIQUE — the lag()
    * window orders by `orderCol` alone, so duplicate order keys
    * within a group make the lag sequence tie-broken by partition
    * order (nondeterministic, and free to diverge across engines).
    * Current call sites aggregate to one row per (group, period)
    * first; any new caller must do the same.
    *
    * Decay is per OBSERVATION (row), not per calendar gap: lag(j)
    * skips absent periods, the standard choice when the upstream
    * aggregate only materializes nonempty groups. Shape at scale:
    * one exchange on `groupCol` feeds a single window with W lag
    * reads — W literals, no self-join, no state. */
  def ewmaTrend(df: DataFrame, groupCol: String, orderCol: String,
                valueCol: String, window: Int = 8): DataFrame = {
    // overflow headroom, not just weight representability: the num
    // fold's largest term is value·2^(window−1), and the W-term sum
    // at most doubles it — window ≤ 32 leaves every per-row value up
    // to 2^30 (~10^9 events per period) exactly representable, and a
    // silent Long wrap (negative ewma, garbage trend, no error under
    // non-ANSI) can't happen on any realistic count column. Larger
    // windows with α = 1/2 are pointless anyway: weight 2^-33 is
    // below any count's contribution.
    require(window >= 1 && window <= 32,
      "ewmaTrend window must be in [1, 32] (num = value*2^(window-1) " +
        "folds must keep Long headroom; see overflow note)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    def lagged(j: Int) = lag(col(valueCol).cast("long"), j).over(w)
    val num = (0 until window).map { j =>
      when(lagged(j).isNotNull, lagged(j) * lit(1L << (window - 1 - j)))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val den = (0 until window).map { j =>
      when(lagged(j).isNotNull, lit(1L << (window - 1 - j))).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("ewma",
        round(num.cast("double") / den.cast("double"), 6))
      .withColumn("trend",
        when(col("ewma") > 0.0,
          round(col(valueCol).cast("double") / col("ewma"), 6)))
  }

  /** Per-user inter-arrival gap histogram on power-of-two second
    * buckets: bucket b holds gaps with 2^(b−1) ≤ gap_seconds < 2^b
    * (b = 0 for zero-second gaps). The log-2 bucket is computed as
    * the BIT LENGTH of the integer gap (`length(bin(gap))`) — exact
    * integer arithmetic, where `floor(log2(x))` on doubles wobbles at
    * exact powers of two and can put a boundary gap in different
    * buckets on different engines.
    *
    * Shape at scale: one exchange on `userCol` feeds both the lag
    * window and nothing else; the histogram is a map-side-partial
    * count over ≤ 64 buckets. A user's first event has no
    * predecessor and is excluded (lag = null). Ties in `tsCol` order
    * by `idCol`, making the lag total-ordered and the result unique. */
  def interArrivalHistogram(events: DataFrame, userCol: String,
                            tsCol: String, idCol: String): DataFrame =
    gaps(events, userCol, tsCol, idCol, horizonS = Long.MaxValue)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Row-level gap extraction behind [[interArrivalHistogram]], with
    * the horizon bound the streaming twin
    * ([[graft.streaming.EventStream.gapStream]]) needs for bounded
    * state: gaps > `horizonS` seconds are dropped on both sides.
    * Output (user_id, gap_s, bucket). */
  def gaps(events: DataFrame, userCol: String, tsCol: String,
           idCol: String, horizonS: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col("ts_us"), col(idCol))
    events
      .select(col(userCol).as("user_id"), col(idCol),
        unix_micros(col(tsCol)).as("ts_us"))
      .withColumn("gap_s",
        ((col("ts_us") - lag(col("ts_us"), 1).over(w)) / lit(1000000L))
          .cast("long"))
      .filter(col("gap_s").isNotNull && col("gap_s") <= horizonS)
      .withColumn("bucket",
        when(col("gap_s") === 0, lit(0))
          .otherwise(length(bin(col("gap_s")))))
      .select(col("user_id"), col("gap_s"), col("bucket"))
  }

  /** Robust per-group anomaly flagging on a numeric column — the
    * telemetry-quality gate (bot bursts, broken loggers, corrupted
    * values) run before events feed any downstream stat. Modified
    * z-score (Iglewicz–Hoaglin): m = 0.6745·(v − median) / MAD, with
    * median and MAD per group — median/MAD, not mean/std, because the
    * anomalies being hunted are exactly the points that wreck the
    * moments they'd be standardized by.
    *
    * Both medians are LOWER medians by rank selection (the value at
    * row ⌈n/2⌉ in (value, id) order) — pure selection, NO
    * interpolation arithmetic, so the result is a value that exists
    * in the data and replays identically in any engine (interpolated
    * medians differ across engines in the last ulp when their
    * blend formulas differ). `idCol` breaks value ties, making the
    * selection total-ordered and unique.
    *
    * `exact = true` (the gate path) ranks inside per-group windows —
    * right when the grouping is low-cardinality-per-group or
    * moderate volume. At corpus scale a hot group funnels one task,
    * so `exact = false` swaps BOTH medians for
    * `approx_percentile(·, 0.5)` — a partial-aggregated sketch, no
    * window, same flag logic (EventAnalyticsSpec pins the two paths
    * to agree on separated data). MAD = 0 (over half the group
    * identical) yields m = 0 — those groups never flag, the
    * documented Iglewicz–Hoaglin degenerate case.
    *
    * Output: (idCol, groupCol, value, med, mad, mscore round-4,
    * is_anomaly 0/1); null values excluded. */
  def robustOutliers(events: DataFrame, groupCol: String, valueCol: String,
                     idCol: String, k: Double = 3.5,
                     exact: Boolean = true): DataFrame = Caches.scoped { caches =>
    // ONE projected base shared by all four consumers (median window,
    // deviation join, MAD window, and the scoring join) — without the
    // persist each branch re-scans the source
    val base = caches.persist(baseOf(events, groupCol, valueCol, idCol))
    base
      .join(profileFromBase(base, groupCol, idCol, exact), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("value"), col("med"), col("mad"))
      .transform(scoreAgainstProfile(k))
  }

  /** The fitted (group, med, mad) profile alone — the artifact a
    * pipeline persists after the daily batch fit and joins against
    * live data (see [[graft.streaming.EventStream.anomalyStream]]).
    * Semantics and the exact/approx switch as in [[robustOutliers]]. */
  def robustProfile(events: DataFrame, groupCol: String, valueCol: String,
                    idCol: String, exact: Boolean = true): DataFrame =
    profileFromBase(baseOf(events, groupCol, valueCol, idCol), groupCol,
      idCol, exact)

  private def baseOf(events: DataFrame, groupCol: String, valueCol: String,
                     idCol: String): DataFrame =
    events.select(col(idCol), col(groupCol),
        col(valueCol).cast("double").as("value"))
      .filter(col("value").isNotNull)

  private def profileFromBase(base: DataFrame, groupCol: String,
                              idCol: String, exact: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def lowerMedian(df: DataFrame, vCol: String, out: String): DataFrame =
      if (exact) {
        val w = Window.partitionBy(col(groupCol)).orderBy(col(vCol), col(idCol))
        df.withColumn("__rn", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
          .filter(col("__rn") === expr("(__n + 1) div 2"))
          .select(col(groupCol), col(vCol).as(out))
      } else {
        df.groupBy(col(groupCol))
          .agg(expr(s"approx_percentile($vCol, 0.5)").as(out))
      }
    val med = lowerMedian(base, "value", "med")
    val dev = base.join(med, Seq(groupCol))
      .withColumn("adev", abs(col("value") - col("med")))
    lowerMedian(dev, "adev", "mad").join(med, Seq(groupCol))
      .select(col(groupCol), col("med"), col("mad"))
  }

  /** The shared scoring tail: rows carrying (value, med, mad) →
    * + (mscore round-4, is_anomaly) — one map-side expression, used
    * identically by the batch operator and the streaming twin so the
    * two cannot drift. */
  private[graft] def scoreAgainstProfile(k: Double)(df: DataFrame): DataFrame =
    df.withColumn("mscore",
        round(when(col("mad") > 0.0,
            lit(0.6745) * (col("value") - col("med")) / col("mad"))
          .otherwise(lit(0.0)), 4))
      .withColumn("is_anomaly", (abs(col("mscore")) > k).cast("int"))

  /** Ordered-stage funnel: how many users completed stage 1, stages
    * 1→2 in order, 1→2→3 in order, … — "in order" meaning each later
    * stage's event must be STRICTLY AFTER the earliest completion of
    * the previous stage (the standard sequential-funnel semantics —
    * a purchase logged before the first view does not convert).
    *
    * One chained aggregate per stage, each a shuffle on `userCol`
    * with map-side partial mins — stages.size small (3-5), so the
    * chain is a handful of narrow user-keyed aggregates; no
    * per-user event list is ever collected. Output: (stage, stage_name,
    * users), stage 1-indexed, users non-increasing. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             stageCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct, got $stages")
    val base = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("t"), col(stageCol).as("s"))
    // reached(i): per-user earliest completion time of stage i given
    // reached(i-1); each step is a user-keyed join + aggregate that
    // only ever sees users still in the funnel. The whole funnel is
    // ONE lazy plan (a union of the per-stage counts) — stage i's
    // chain has depth i, fine for the 3-5 stages funnels have.
    val reachedPerStage = stages.drop(1).scanLeft(
      base.filter(col("s") === stages.head)
        .groupBy(col("u")).agg(min(col("t")).as("t0"))) { (prev, stage) =>
      base.filter(col("s") === stage)
        .join(prev, Seq("u"))
        .filter(col("t") > col("t0"))
        .groupBy(col("u")).agg(min(col("t")).as("t0"))
    }
    reachedPerStage.zip(stages).zipWithIndex.map { case ((reached, name), i) =>
      reached.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("stage"), lit(name).as("stage_name"),
          col("users"))
    }.reduce(_.unionByName(_))
  }

  /** Retention cohorts: users grouped by their first-activity day
    * (the cohort), counted per day-offset of each later active day.
    * Output (cohort_date, offset_days, users): of the users whose
    * first event fell on `cohort_date`, `users` were active
    * `offset_days` days later (offset 0 = the cohort day itself, so
    * its count is the cohort size).
    *
    * Three narrow user-keyed exchanges at scale — the (user, day)
    * distinct, the per-user min, and the join — each over two small
    * columns with map-side partial aggregation; nothing is ever wider
    * than (user, day). All date arithmetic in exact days. */
  def retention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val days = events.select(col(userCol).as("u"),
      to_date(col(tsCol)).as("day")).distinct()
    val cohorts = days.groupBy(col("u")).agg(min(col("day")).as("cohort_date"))
    days.join(cohorts, Seq("u"))
      .select(col("cohort_date"),
        datediff(col("day"), col("cohort_date")).as("offset_days"))
      .groupBy(col("cohort_date"), col("offset_days"))
      .agg(count(lit(1)).as("users"))
  }
}
