package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` table shape: tumbling-window
  * aggregation with a watermark for late data, plus the identical
  * batch formulation (same column expressions) so stream and batch
  * results can be compared row-for-row.
  *
  * Streams are beyond-reference (SURVEY.md §2.9: the reference is
  * batch-files-only); this is the streaming source → watermark → window →
  * writeStream shape a user upgrading from the reference gets.
  */
/** Event row for stateful sessionization with the watermarked `ts`
  * column kept alongside its millisecond view — EventTimeTimeout
  * requires the watermark-carrying attribute to survive into the
  * grouped input (projecting it away strips the watermark metadata
  * and Spark rejects the query at analysis). */
case class WatermarkedEvent(user_id: Long, ts_ms: Long, ts: java.sql.Timestamp)

/** Banded simhash row for streaming near-dup state (`ts` carries the
  * watermark into the grouped input, same as [[WatermarkedEvent]]). */
case class BandedSig(band: Int, chunk: Long, doc_id: Long, fp: Long,
                     ts_ms: Long, ts: java.sql.Timestamp)

/** One doc retained in a band bucket's dedup state. */
case class BandEntry(doc_id: Long, fp: Long, ts_ms: Long)
case class BandState(docs: List[BandEntry])

/** `doc_id` duplicates earlier-arrived `dup_of` (per band; aggregate
  * min(dup_of) by doc_id downstream for the per-doc verdict). */
case class NearDupHit(doc_id: Long, dup_of: Long)

/** Hash row for streaming windowed-KMV state (`ts` carries the
  * watermark into the grouped input, [[WatermarkedEvent]] convention). */
case class KmvEvent(window_start: Long, hv: Long, ts: java.sql.Timestamp)

/** Per-window KMV state: the k-smallest DISTINCT 60-bit hashes seen
  * so far, ascending — ≤ k longs per open window, regardless of how
  * many events the window received. */
case class KmvState(hashes: List[Long])

/** Final per-window distinct estimate, emitted exactly once when the
  * watermark closes the window. */
case class KmvWindow(window_start: Long, approx_distinct: Long)

/** Value row for streaming windowed heavy hitters (`ts` carries the
  * watermark into the grouped input, [[WatermarkedEvent]] convention). */
case class HhEvent(window_start: Long, v: String, ts: java.sql.Timestamp)

/** Per-window Misra–Gries state: rows seen so far + the ≤ c surviving
  * counters — constant memory per open window however many distinct
  * values the window receives. */
case class HhState(n: Long, counts: Map[String, Long])

/** One candidate heavy hitter, emitted exactly once when the
  * watermark closes the window: `mg_count` is the Misra–Gries
  * UNDER-estimate (true count ∈ [mg_count, mg_count + n_window/(c+1)]). */
case class HhHit(window_start: Long, v: String, mg_count: Long,
                 n_window: Long)

/** Event row for streaming gap extraction (`ts` carries the watermark,
  * [[WatermarkedEvent]] convention; microseconds — not ms — because
  * the batch twin floors µs differences and flooring ms views first
  * shifts second boundaries). */
case class GapEvent(user_id: Long, ts_us: Long, ts: java.sql.Timestamp)

/** One scored vector of the drift feed: nearest cluster + fixed-point
  * squared assignment distance (the [[graft.operators.Similarity
  * .scoredDistances]] pass, shared with the batch monitor). */
case class DriftEvent(cluster: Int, d2f: Long)

/** Accumulated per-cluster state of the appended feed: rows seen,
  * exact fixed-point distance sum, and the emission sequence number —
  * three longs per cluster, however many vectors arrive. */
case class DriftMonState(n: Long, s: Long, upd: Long)

/** One emitted drift-profile row — the batch [[graft.operators
  * .Similarity.assignmentDrift]] columns plus `upd`, the per-cluster
  * emission sequence (take max(upd) per cluster for the latest
  * accumulated profile). */
case class DriftUpdate(cluster: Int, upd: Long, n_base: Long, n_new: Long,
                       mean_d2_base: Option[Double], mean_d2_new: Double,
                       drift_ratio: Option[Double], drift_flag: Int)

/** One scored token of the LM feed: doc id + the 1e-9 fixed-point
  * ln S contribution of that token under the standing model. */
case class LmTok(doc_id: Long, lp: Long)

/** Accumulated per-doc LM state: tokens seen + fixed-point log-prob
  * sum — two longs per doc, reaped implicitly because a doc's rows
  * arrive in one micro-batch. */
case class LmDocState(n: Long, s: Long)

/** One emitted per-doc score — the batch
  * [[graft.operators.TextAnalysis.lmPerplexity]] columns. */
case class LmScore(doc_id: Long, n_tokens: Long, avg_logp: Double,
                   ppl: Double)

/** One emitted per-doc DSIR importance score — the batch
  * [[graft.operators.DataSelection.dsirLogWeights]] columns. */
case class DsirScore(doc_id: Long, n_tokens: Long, log_w: Double)

/** One scored doc from [[EventStream.clfScoreStream]]. */
case class ClfScore(doc_id: Long, n_tokens: Long, score: Double)

/** Per-user gap state: the last seen event time. */
case class GapState(last_us: Long)

/** One inter-arrival gap: `gap_s` whole seconds, `bucket` its
  * power-of-two histogram bucket (bit length of gap_s; 0 for 0). */
case class GapHit(user_id: Long, gap_s: Long, bucket: Int)

object EventStream {

  /** The streaming parquet source over `dir`, every stream's one way in.
    * Its schema comes from [[graft.Tables.inferredSchema]], the
    * engine's file-version schema memo, so rebuilding a stream over an
    * unchanged directory runs no footer-inference job. A directory that
    * lists no file falls back to plain inference, which reports Spark's
    * error. Readers of a possibly NANOS-typed events file set
    * `spark.sql.legacy.parquet.nanosAsLong` first: the memo keys on it. */
  private def source(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.inferredSchema(spark, "parquet", dir)
      .getOrElse(spark.read.parquet(dir).schema)
    spark.readStream.schema(schema).parquet(dir)
  }

  /** `cols` over `df` (named) and `ts`, beside `window_start`: the
    * start seconds of the tumbling `windowSec` window from native
    * `window()` when `slideSec` is unset or equals `windowSec`, else
    * one row per containing sliding window ([[slidingStartsCol]]).
    * `cols` are evaluated once per input row: beside the window when
    * tumbling, before the explode when sliding. */
  private def withWindowStart(df: DataFrame, windowSec: Long, slideSec: Long,
                              cols: Column*): DataFrame =
    if (slideSec <= 0L || slideSec == windowSec)
      df.select(window(col("ts"), s"$windowSec seconds").getField("start")
        .cast("long").as("window_start") +: cols :+ col("ts"): _*)
    else {
      val rows = df.select(cols :+ col("ts"): _*)
      rows.select(slidingStartsCol(windowSec, slideSec).as("window_start") +:
        rows.columns.toSeq.map(col): _*)
    }

  /** Batch-side HALF_UP round-6, matching the batch operators'
    * `round(col, 6)` exactly (Spark's Round is BigDecimal HALF_UP). */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Fire `state`'s event-time timeout at `ms`, kept ahead of the
    * current watermark: Spark rejects a timeout timestamp at or behind
    * it, and `ms` can lag it when a batch's events all sit near the
    * lateness bound. */
  private def timeoutAt(state: GroupState[_], ms: Long): Unit =
    state.setTimeoutTimestamp(math.max(ms, state.getCurrentWatermarkMs() + 1L))

  /** The per-doc fold of the doc-scoring streams: each doc's token
    * count and fixed-point contribution sum within the micro-batch its
    * rows arrive in, read out by `score(doc_id, n_tokens, sum)`. The
    * GroupState is never written ([[lmScoreStream]] documents this
    * zero-retained-state contract). */
  private def scoreDocs[O: Encoder](toks: Dataset[LmTok])(
      score: (Long, Long, Long) => O): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.groupByKey(_.doc_id)
      .flatMapGroupsWithState[LmDocState, O](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (docId: Long, it: Iterator[LmTok], _: GroupState[LmDocState]) =>
          var n = 0L
          var s = 0L
          it.foreach { t => n += 1L; s += t.lp }
          if (n == 0L) Iterator.empty else Iterator(score(docId, n, s))
      }.toDF()
  }

  /** Hourly tumbling window per event_type, the aggregation
    * [[hourlyStream]] shares (driver-checkable against DuckDB
    * time_bucket). */
  def hourlyBatch(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").cast("long").as("hour_start"),
              col("event_type"), col("cnt"), col("sum_value"))

  /** Streaming formulation over a parquet directory; 10-minute
    * watermark bounds state for late arrivals. */
  def hourlyStream(spark: SparkSession, dir: String): DataFrame =
    hourlyBatch(source(spark, dir).withWatermark("ts", "10 minutes"))

  /** SLIDING-window aggregation, shared with [[slidingStream]]: count
    * + sum per event_type per OVERLAPPING window — "the last `dur`
    * every `slide`", the most common production windowing ask the
    * tumbling form can't express. Spark's native `window(ts, dur,
    * slide)` generates every window containing the row (epoch-aligned
    * starts at multiples of `slide`), so each event contributes to
    * ⌈dur/slide⌉ windows — that factor is the extra shuffle volume
    * AND, on the streaming side, the extra per-window state; size
    * `slide` accordingly (hour/15 min = 4× is the conventional trade).
    * Gate-checkable: the DuckDB oracle replays the epoch-aligned
    * membership arithmetic. */
  def slidingBatch(events: DataFrame, dur: String = "1 hour",
                   slide: String = "15 minutes"): DataFrame =
    events.groupBy(window(col("ts"), dur, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").cast("long").as("window_start"),
              col("event_type"), col("cnt"), col("sum_value"))

  /** Streaming formulation — the identical expressions under a
    * watermark; in append mode a window emits once, when the
    * watermark passes its END (so a row's last containing window
    * finalizes `dur` after its first). EventStreamSpec pins
    * stream == batch on a finite feed. */
  def slidingStream(spark: SparkSession, dir: String,
                    dur: String = "1 hour", slide: String = "15 minutes",
                    delay: String = "10 minutes"): DataFrame =
    slidingBatch(source(spark, dir).withWatermark("ts", delay), dur, slide)

  /** Epoch-aligned overlapping-window membership as an exploded
    * column of window START seconds: for an event at time t the
    * starts are (t_us div slide_us − j) · slide for j < dur/slide —
    * exactly the windows Spark's native sliding `window()` assigns
    * (dur must divide evenly by slide so membership is a constant
    * dur/slide windows; integral `div`, never a double divide, so
    * boundary events land deterministically). Used where the sliding
    * assignment must be an explicit column — the KMV stream keys
    * flatMapGroupsWithState state by window start, and `window(ts,
    * dur, slide)` only resolves under an aggregation. */
  private[graft] def slidingStartsCol(durSec: Long, slideSec: Long): Column = {
    require(durSec > 0 && slideSec > 0 && durSec % slideSec == 0,
      s"sliding windows need dur ($durSec s) a positive multiple of " +
        s"slide ($slideSec s)")
    val n = durSec / slideSec
    val slideUs = slideSec * 1000000L
    // FLOOR division, not `div` (which truncates toward zero): native
    // window() floor-aligns and DuckDB's `//` floor-divides, so a
    // truncating div would mis-assign pre-1970 (negative unix_micros)
    // timestamps by one slide. pmod is non-negative, so subtracting it
    // makes the numerator an exact multiple and `div` then IS floor.
    explode(expr(
      s"transform(sequence(0, ${n - 1}), " +
        s"j -> ((unix_micros(ts) - pmod(unix_micros(ts), $slideUs)) " +
        s"div $slideUs - j) * $slideSec)"))
  }

  /** Stateful sessionization: custom per-key state via
    * flatMapGroupsWithState (the KeyValueGroupedDataset escape hatch
    * the reference's UDF surface maps to for streams). A session is
    * emitted exactly once, when it CLOSES: either a newer event
    * arrives past the gap (closed within/between batches), or the
    * event-time watermark passes `end + gap` and the timeout fires —
    * the still-open session is carried in state, never re-emitted.
    * `delay` is the watermark lateness bound: state for a session is
    * held until the watermark (max event ts − delay) clears its
    * close point, so state size is bounded by gap + delay regardless
    * of stream length. */
  def sessionizeStream(spark: SparkSession, dir: String,
                       gapMs: Long = graft.operators.Sessionize.DefaultGapMs,
                       delay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    import graft.operators.{Session, Sessionize}
    val events = source(spark, dir).withWatermark("ts", delay)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("ts"))
      .as[WatermarkedEvent]
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[WatermarkedEvent], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap with no new events: the open
            // session can never be extended — close and emit it
            val closed = state.get
            state.remove()
            Iterator(closed)
          } else {
            val sorted = it.map(_.ts_ms).toSeq.sorted
            if (sorted.isEmpty) Iterator.empty
            else {
              val open = state.getOption
              val merged = open match {
                case Some(s) if sorted.head - s.end_ms <= gapMs =>
                  // continue the open session: seed with its events' span
                  Sessionize.sessionizeSorted(uid, sorted, gapMs).map { x =>
                    if (x.session_id == 1)
                      Session(uid, s.session_id, x.cnt + s.cnt, s.start_ms, x.end_ms)
                    else x.copy(session_id = x.session_id + s.session_id - 1)
                  }
                case Some(s) =>
                  Sessionize.sessionizeSorted(uid, sorted, gapMs)
                    .map(x => x.copy(session_id = x.session_id + s.session_id))
                case None =>
                  Sessionize.sessionizeSorted(uid, sorted, gapMs)
              }
              state.update(merged.last)
              // the open session dies when the watermark clears its
              // close point
              timeoutAt(state, merged.last.end_ms + gapMs)
              merged.init.iterator
            }
          }
      }.toDF()
  }

  /** Batch twin of [[kmvWindowedStream]]: approx distinct `valueExpr`
    * per tumbling `windowSec` window via the KMV sketch —
    * [[graft.operators.Sketch.kmvDistinctGrouped]] with the window
    * start as the group. Output: (window_start, approx_distinct).
    * EventStreamSpec pins stream == batch bit-for-bit. */
  def kmvWindowedBatch(events: DataFrame, valueExpr: String,
                       windowSec: Long = 3600L, k: Int = 16,
                       slideSec: Long = 0L): DataFrame = {
    // sliding: each value lands in its dur/slide containing windows
    val grouped = withWindowStart(events, windowSec, slideSec,
      expr(valueExpr).as("v"))
    graft.operators.Sketch.kmvDistinctGrouped(grouped, "window_start", "v", k)
  }

  /** The KMV read-out over a retained ascending k-smallest distinct
    * hash list — the same double expression as
    * [[graft.operators.Sketch.kmvDistinct]]'s column form (m when the
    * window saw fewer than k distinct hashes, else ⌊(k−1)/(h_k/2^60)⌋),
    * so the streaming estimate equals the batch one bit-for-bit. */
  private def kmvEstimate(hashes: List[Long], k: Int): Long =
    if (hashes.size < k) hashes.size.toLong
    else math.floor((k - 1).toDouble /
      (hashes.last.toDouble / graft.operators.Sketch.M60)).toLong

  /** Streaming DISTINCT-per-window under a watermark — the sketch
    * that answers "how many distinct users/texts per hour" over an
    * unbounded stream with BOUNDED state, where an exact streaming
    * distinct would retain every key it has ever seen. State per open
    * window is the k smallest distinct 60-bit hashes (the KMV cut —
    * ≤ k longs however large the window), merged per micro-batch;
    * the estimate is emitted exactly ONCE, when the event-time
    * watermark passes the window end and the EventTimeTimeout fires —
    * append-mode cannot retract, so the final number is the only
    * honest one to emit (the [[sessionizeStream]] discipline). State
    * for a closed window is removed on emission, so total state is
    * (open windows within the lateness bound) × k longs.
    *
    * Same 60-bit md5 hash and the same read-out expression as the
    * batch estimator, so stream == batch exactly on a finite feed
    * (EventStreamSpec). `valueExpr` is any SQL expression over the
    * event row (e.g. `"cast(user_id as string)"`). */
  def kmvWindowedStream(spark: SparkSession, dir: String, valueExpr: String,
                        windowSec: Long = 3600L, k: Int = 16,
                        delay: String = "10 minutes",
                        slideSec: Long = 0L): DataFrame = {
    require(k >= 3, s"kmvWindowedStream needs k >= 3, got $k")
    import spark.implicits._
    // sliding (slideSec < windowSec): each hash feeds the state of
    // ALL dur/slide containing windows — state cost scales by exactly
    // that factor (the [[slidingBatch]] trade), emit-on-close
    // unchanged because state is keyed by window START and the
    // timeout below fires at start + dur either way
    val hashed = source(spark, dir).withWatermark("ts", delay)
      .select(expr(graft.operators.Sketch.md5Hash60Sql(valueExpr)).as("hv"),
        col("ts"))
      .filter(col("hv").isNotNull)
    val ev = withWindowStart(hashed, windowSec, slideSec, col("hv")).as[KmvEvent]
    ev.groupByKey(_.window_start)
      .flatMapGroupsWithState[KmvState, KmvWindow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (ws: Long, it: Iterator[KmvEvent], state: GroupState[KmvState]) =>
          if (state.hasTimedOut) {
            // watermark passed the window end: the sketch is final
            val hs = state.get.hashes
            state.remove()
            Iterator(KmvWindow(ws, kmvEstimate(hs, k)))
          } else {
            val merged = (state.getOption.map(_.hashes).getOrElse(Nil)
              ++ it.map(_.hv)).distinct.sorted.take(k)
            state.update(KmvState(merged))
            // fire when the watermark clears the window end
            timeoutAt(state, (ws + windowSec) * 1000L)
            Iterator.empty
          }
      }.toDF()
  }

  /** Batch twin of [[heavyHittersWindowedStream]] — EXACT per-window
    * heavy hitters: every `valueExpr` value whose count within its
    * tumbling `windowSec` window is ≥ `support` · (window rows), with
    * the exact count and the window total. One shuffle on the
    * compound (window, value) key with map-side partial aggregation —
    * shuffle rows are bounded by distinct (window, value) pairs per
    * partition, not input rows — plus a broadcast of the tiny
    * per-window totals. At vocabulary-scale cardinality compose with
    * [[graft.operators.Sketch.heavyHitters]]'s Misra–Gries candidate
    * pre-filter per window; the gate pins this exact form. */
  def heavyHittersWindowedBatch(events: DataFrame, valueExpr: String,
                                support: Double,
                                windowSec: Long = 3600L,
                                slideSec: Long = 0L): DataFrame = {
    require(support > 0 && support < 1,
      s"heavyHittersWindowedBatch needs support in (0,1), got $support")
    val w = windowedValues(events, valueExpr, windowSec, slideSec)
    val totals = w.groupBy("window_start").agg(count(lit(1)).as("n_window"))
    w.groupBy("window_start", "v").agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq("window_start"))
      .filter(col("cnt") >= ceil(lit(support) * col("n_window")))
      .select(col("window_start"), col("v"), col("cnt"), col("n_window"))
  }

  /** The (window_start, v) assignment shared by
    * [[heavyHittersWindowedBatch]] and [[heavyHittersExactify]] —
    * tumbling via native window(), sliding via [[slidingStartsCol]]
    * (a value counts toward EVERY containing window, so a hitter's
    * support is judged against each window's own total). */
  private def windowedValues(events: DataFrame, valueExpr: String,
                             windowSec: Long, slideSec: Long): DataFrame =
    withWindowStart(events, windowSec, slideSec,
        expr(valueExpr).cast("string").as("v"))
      .filter(col("v").isNotNull)

  /** The offline EXACTIFIER pass [[heavyHittersWindowedStream]]'s doc
    * promises — pass 2 of the standard two-pass frequent-items
    * pattern: recount the stream's emitted (window, value) candidates
    * EXACTLY over the closed windows' rows and keep those meeting the
    * support cut. Because the stream emits a guaranteed SUPERSET of
    * the true heavy hitters (MG containment, enforced c + 1 ≥
    * 1/support), candidates → exactify ==
    * [[heavyHittersWindowedBatch]] exactly — EventStreamSpec pins the
    * identity for tumbling and sliding windows.
    *
    * Scale shape: the candidate set is tiny (≤ c per window) and
    * BROADCAST as a semi-join onto the windowed rows BEFORE the count
    * aggregation, so the counting shuffle carries only candidate-value
    * rows; the per-window totals are the same windows-bounded
    * aggregate the batch operator pays. Output schema ==
    * [[heavyHittersWindowedBatch]]. */
  def heavyHittersExactify(candidates: DataFrame, events: DataFrame,
                           valueExpr: String, support: Double,
                           windowSec: Long = 3600L,
                           slideSec: Long = 0L): DataFrame = {
    require(support > 0 && support < 1,
      s"heavyHittersExactify needs support in (0,1), got $support")
    val w = windowedValues(events, valueExpr, windowSec, slideSec)
    val cand = candidates.select(col("window_start"), col("v")).distinct()
    val totals = w.groupBy("window_start").agg(count(lit(1)).as("n_window"))
    w.join(broadcast(cand), Seq("window_start", "v"), "left_semi")
      .groupBy("window_start", "v").agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq("window_start"))
      .filter(col("cnt") >= ceil(lit(support) * col("n_window")))
      .select(col("window_start"), col("v"), col("cnt"), col("n_window"))
  }

  /** Streaming HEAVY HITTERS per window under a watermark — the
    * frequent-items complement to [[kmvWindowedStream]]'s distinct
    * count, with the same bounded-state discipline: per open window
    * the state is a Misra–Gries summary (≤ c counters + the row
    * total — constant memory however many distinct values arrive),
    * merged per micro-batch with the standard summary merge (add
    * counts, then subtract the (size−c)-th smallest and drop the
    * non-positive — total under-count stays ≤ n/(c+1)), and emitted
    * exactly ONCE when the event-time watermark passes the window end
    * (append-mode cannot retract; the [[sessionizeStream]]
    * discipline).
    *
    * What is emitted is the honest streaming answer: every retained
    * value whose count COULD reach the support threshold
    * (mg_count + ⌊n/(c+1)⌋ ≥ ⌈support·n⌉) with its under-estimate and
    * the window total. Because a true heavy hitter's counter survives
    * with mg_count ≥ true − ⌊n/(c+1)⌋, the emitted set is a
    * guaranteed SUPERSET of [[heavyHittersWindowedBatch]]'s exact
    * answer whenever c + 1 ≥ 1/support (enforced; default
    * c = ⌈2/support⌉, the [[graft.operators.Sketch.heavyHitters]]
    * margin) — EventStreamSpec pins containment and the error band.
    * A batch recount of the emitted candidates (the Sketch pass-2
    * trick over the closed window's rows) exactifies offline. */
  def heavyHittersWindowedStream(spark: SparkSession, dir: String,
                                 valueExpr: String, support: Double,
                                 windowSec: Long = 3600L, counters: Int = 0,
                                 delay: String = "10 minutes",
                                 slideSec: Long = 0L): DataFrame = {
    require(support > 0 && support < 1,
      s"heavyHittersWindowedStream needs support in (0,1), got $support")
    val c = if (counters > 0) counters else math.ceil(2.0 / support).toInt
    require(c + 1 >= 1.0 / support,
      s"counters=$c cannot guarantee support=$support " +
        s"(need counters + 1 >= ${1.0 / support})")
    import spark.implicits._
    // sliding (slideSec < windowSec): a value feeds the MG summary of
    // ALL dur/slide containing windows — per-window state is still
    // ≤ c counters, so total state scales by exactly that factor (the
    // [[kmvWindowedStream]] sliding trade); emit-on-close unchanged
    val valued = source(spark, dir).withWatermark("ts", delay)
      .select(expr(valueExpr).cast("string").as("v"), col("ts"))
      .filter(col("v").isNotNull)
    val ev = withWindowStart(valued, windowSec, slideSec, col("v")).as[HhEvent]
    ev.groupByKey(_.window_start)
      .flatMapGroupsWithState[HhState, HhHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (ws: Long, it: Iterator[HhEvent], state: GroupState[HhState]) =>
          if (state.hasTimedOut) {
            // watermark passed the window end: the summary is final
            val st = state.get
            state.remove()
            val slack = st.n / (c + 1)
            val thr = math.ceil(support * st.n).toLong
            st.counts.iterator.collect {
              case (v, cnt) if cnt + slack >= thr => HhHit(ws, v, cnt, st.n)
            }
          } else {
            val st = state.getOption.getOrElse(HhState(0L, Map.empty))
            val counts = scala.collection.mutable.HashMap
              .empty[String, Long] ++= st.counts
            var arrived = 0L
            it.foreach { e =>
              counts.update(e.v, counts.getOrElse(e.v, 0L) + 1L)
              arrived += 1L
            }
            val merged =
              if (counts.size <= c) counts.toMap
              else {
                // summary merge: subtracting the (size−c)-th smallest
                // zeroes ≥ size−c counters; survivors keep cnt − cut
                val cut = counts.valuesIterator.toArray.sorted
                  .apply(counts.size - c - 1)
                counts.iterator.collect {
                  case (v, cnt) if cnt > cut => v -> (cnt - cut)
                }.toMap
              }
            state.update(HhState(st.n + arrived, merged))
            // fire when the watermark clears the window end
            timeoutAt(state, (ws + windowSec) * 1000L)
            Iterator.empty
          }
      }.toDF()
  }

  /** Streaming NEAR-dup detection — the incremental [[graft.operators
    * .Dedup.simhashNearDups]]: each arriving doc is flagged when a doc
    * with simhash hamming ≤ `maxHamming` arrived earlier (within
    * `horizonMs` of event time). Same pigeonhole banding as batch —
    * the 64-bit fingerprint splits into four 16-bit chunks, and any
    * pair within hamming ≤ 3 agrees on ≥ 1 chunk — so state is keyed
    * by (band, chunk): a lookup touches only the docs sharing a
    * 16-bit chunk, never the corpus, and per-bucket state is tiny for
    * the same reason batch buckets are. State is pruned to the
    * event-time horizon on every invocation and idle buckets are
    * reaped by EventTimeTimeout, so state is bounded regardless of
    * stream length. Matches are evaluated when the LATER doc (by
    * event time, id tie-break) arrives — docs arriving out of order
    * beyond that are the stream's inherent trade. Emits per-band
    * [[NearDupHit]]s; aggregate `min(dup_of)` per doc downstream.
    * EventStreamSpec pins stream == batch on an in-order feed.
    *
    * `maxBucket` plays the same skew-guard ROLE as the batch
    * operator's bucket cap, but the semantics necessarily diverge —
    * batch sees the whole corpus before pairing, so it drops an
    * oversized (band, chunk) bucket ENTIRELY (zero pairs from it,
    * [[graft.operators.Dedup.simhashNearDups]]); an append-mode
    * stream cannot retract hits it already emitted, so a bucket
    * pairs its first `maxBucket` arrivals normally and only then
    * stops: later arrivals are dropped from that band (they can
    * still match through their other three bands). On a hot chunk
    * that exceeds the cap the stream therefore emits hits batch
    * suppresses. Bucket size is also counted differently: batch
    * counts corpus-wide, the stream counts state retained within
    * `horizonMs` — so a bucket that fills, then ages past the
    * horizon, accepts (and matches) again. Dropped arrivals are
    * counted in the named accumulator
    * `graft.nearDupStream.droppedArrivals` (visible in the Spark UI
    * per micro-batch), never silent — as a transformation-scope
    * accumulator it can OVERCOUNT under task retries / stage reruns
    * (Spark's standard caveat), so treat it as an upper-bound
    * observability signal, not an exact loss ledger. Without the cap a hot chunk —
    * boilerplate or empty texts sharing a fingerprint — would grow
    * state unboundedly within the horizon and do O(bucket²) work
    * per micro-batch.
    * `maxHamming` must be ≤ 3: the 4×16-bit pigeonhole only guarantees
    * a chunk collision for pairs within hamming 3; a larger radius
    * would silently lose pairs that differ in every chunk. */
  def nearDupStream(spark: SparkSession, dir: String, idCol: String,
                    textCol: String, tsCol: String, maxHamming: Int = 3,
                    delay: String = "10 minutes",
                    horizonMs: Long = 24L * 3600 * 1000,
                    maxBucket: Int = 64): DataFrame = {
    import spark.implicits._
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming: 4-chunk banding only guarantees candidates for hamming <= 3")
    require(maxBucket > 0, s"maxBucket=$maxBucket must be positive")
    graft.functions.SimHash64.register(spark)
    val droppedArrivals =
      spark.sparkContext.longAccumulator("graft.nearDupStream.droppedArrivals")
    val banded = source(spark, dir).withWatermark(tsCol, delay)
      .select(col(idCol).as("doc_id"),
        graft.operators.Dedup.simhash(textCol).as("fp"),
        unix_millis(col(tsCol)).as("ts_ms"), col(tsCol).as("ts"))
      .select(col("doc_id"), col("fp"), col("ts_ms"), col("ts"),
        explode(expr(
          """transform(sequence(0, 3), j -> named_struct(
            |  'band', cast(j as int),
            |  'chunk', pmod(shiftright(fp, cast(j * 16 as int)), 65536)))"""
            .stripMargin)).as("bs"))
      .select(col("bs.band").as("band"), col("bs.chunk").as("chunk"),
        col("doc_id"), col("fp"), col("ts_ms"), col("ts"))
      .as[BandedSig]
    banded.groupByKey(b => (b.band, b.chunk))
      .flatMapGroupsWithState[BandState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), it: Iterator[BandedSig], state: GroupState[BandState]) =>
          val wm = state.getCurrentWatermarkMs()
          val retained = state.getOption.map(_.docs).getOrElse(Nil)
            .filter(_.ts_ms >= wm - horizonMs)
          if (state.hasTimedOut) {
            if (retained.isEmpty) state.remove()
            else {
              state.update(BandState(retained))
              timeoutAt(state, retained.map(_.ts_ms).max + horizonMs)
            }
            Iterator.empty
          } else {
            val arrivals = it.toSeq.sortBy(b => (b.ts_ms, b.doc_id))
            val hits = List.newBuilder[NearDupHit]
            var seen = retained
            var bucketSize = retained.size
            arrivals.foreach { b =>
              if (bucketSize < maxBucket) {
                val earlier = seen.filter(e =>
                  (e.ts_ms < b.ts_ms ||
                    (e.ts_ms == b.ts_ms && e.doc_id < b.doc_id)) &&
                  java.lang.Long.bitCount(e.fp ^ b.fp) <= maxHamming)
                if (earlier.nonEmpty)
                  hits += NearDupHit(b.doc_id, earlier.map(_.doc_id).min)
                seen = BandEntry(b.doc_id, b.fp, b.ts_ms) :: seen
                bucketSize += 1
              } else {
                // bucket at cap — drop the arrival from this band.
                // NOT batch parity (batch would suppress the whole
                // bucket; see the method doc) — counted, not silent.
                droppedArrivals.add(1)
              }
            }
            val kept = seen.filter(_.ts_ms >= wm - horizonMs)
            state.update(BandState(kept))
            timeoutAt(state, kept.map(_.ts_ms).foldLeft(wm)(math.max) + horizonMs)
            hits.result().iterator
          }
      }.toDF()
  }

  /** Streaming as-of enrichment: each arriving click is attached the
    * latest prior purchase from a STATIC reference snapshot — the
    * streaming twin of the batch as-of join (EventPack q_asof /
    * [[graft.plans.AsOfJoinNative]]). The static side is
    * pre-aggregated to one sorted (ts, value) array per key, so the
    * stream-static join is a plain equi-join and the per-row "latest
    * ≤ ts" lookup is a codegen'd array filter — no streaming state at
    * all, and the watermark-less append output needs none.
    *
    * Scale shape: this is the broadcast-dimension-lookup pattern —
    * right when the reference side is dimension-like (its per-key
    * history fits a row). For unbounded per-key histories use the
    * batch native plan over the accumulated log instead; a stateful
    * streaming as-of (purchases as a second stream) would need
    * flatMapGroupsWithState like [[sessionizeStream]].
    *
    * Ties: among purchases sharing the winning (key, ts) the sorted
    * array's LAST (max value) wins — deterministic, unlike the batch
    * tie contract (AsOfJoinNative's doc); on tie-free data the two
    * agree row-for-row (EventStreamSpec pins stream == batch).
    *
    * The static side is capped at `maxHistory` purchases per key
    * (keep-LATEST-N: the oldest overflow is cut, so only lookups that
    * reach back past the retained window can differ from batch — a
    * click at/after the Nth-newest retained purchase is unaffected).
    * Without the cap one hot key at corpus scale packs its entire
    * history into a single row and OOMs silently; with it the drop is
    * counted in the named accumulator
    * `graft.asOfStream.droppedHistory` (populated once at stream
    * build, when the snapshot materializes — exact, unlike the
    * task-retry-overcounting transformation-scope accumulators).
    * Both legs apply [[graft.Tables.normalizeEventsTs]], so either
    * physical ts layout the driver has generated (INT64
    * TIMESTAMP(NANOS) or TIMESTAMP(MICROS)) works unmodified. */
  @volatile private var asOfDroppedAcc
      : Option[org.apache.spark.util.LongAccumulator] = None
  /** Value of the `graft.asOfStream.droppedHistory` accumulator from
    * the most recent [[asOfStream]] build (test/observability hook;
    * the accumulator itself is also visible in the Spark UI). */
  def lastAsOfDroppedHistory: Long =
    asOfDroppedAcc.map(_.value.longValue).getOrElse(0L)

  def asOfStream(spark: SparkSession, dir: String,
                 maxHistory: Int = 4096): DataFrame = {
    require(maxHistory > 0, s"maxHistory=$maxHistory must be positive")
    val droppedHistory =
      spark.sparkContext.longAccumulator("graft.asOfStream.droppedHistory")
    asOfDroppedAcc = Some(droppedHistory)
    // may be NANOS-typed depending on driver generation — see Tables.events
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val static = graft.Tables.normalizeEventsTs(spark.read.parquet(dir))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("pts_us"), col("value")).as("p"))
      .groupBy("user_id").agg(sort_array(collect_list(col("p"))).as("ps_all"))
      .select(col("user_id"),
        expr(s"""CASE WHEN size(ps_all) > $maxHistory
                |     THEN slice(ps_all, -$maxHistory, $maxHistory)
                |     ELSE ps_all END""".stripMargin).as("ps"),
        greatest(size(col("ps_all")) - lit(maxHistory), lit(0)).as("cut"))
      .persist() // snapshot once; stream-static joins re-run the static plan per micro-batch
    // one k-row action at stream build: materializes the snapshot and
    // makes the history-drop count exact and observable up front
    droppedHistory.add(
      static.agg(sum(col("cut"))).first().getAs[Any](0) match {
        case null => 0L; case n: Long => n
      })
    val lookup = static.drop("cut")
    graft.Tables.normalizeEventsTs(source(spark, dir))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .join(lookup, Seq("user_id"), "left")
      // hoist the prior-purchase scan once — CASE branches are not
      // guaranteed common-subexpression-eliminated across each other
      .withColumn("hist", expr("filter(ps, p -> p.pts_us <= ts_us)"))
      .withColumn("m", expr(
        // guard the empty case: ANSI element_at(-1) errors on []
        "CASE WHEN hist IS NULL OR size(hist) = 0 THEN NULL ELSE element_at(hist, -1) END"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        coalesce(col("m.pts_us"), lit(-1L)).as("asof_ts_us"),
        coalesce(col("m.value"), lit(-1.0)).as("asof_value"))
  }

  /** Streaming robust-anomaly scoring — the live twin of
    * [[graft.operators.EventAnalytics.robustOutliers]], split the way
    * production runs it: the (group, med, mad) profile is FITTED ON
    * THE BATCH SNAPSHOT (medians aren't incrementally maintainable —
    * the daily fit is the standard discipline), persisted once, and
    * every arriving event is scored against it map-side. Zero
    * streaming state, watermark-free append output; the profile is a
    * per-group frame (bounded by group cardinality), so the
    * stream-static join broadcasts.
    *
    * The scoring expression is literally shared with the batch
    * operator ([[graft.operators.EventAnalytics.scoreAgainstProfile]])
    * so the two paths cannot drift; EventStreamSpec pins
    * stream == batch row-for-row when the profile snapshot is the
    * same data the batch scored. Events whose group is absent from
    * the profile (born after the fit) pass through unflagged
    * (mscore 0) rather than erroring — the conservative choice until
    * the next fit covers them.
    *
    * Cache lifetime: the persisted profile must stay resident for the
    * stream's lifetime (every micro-batch re-reads it — the same
    * contract as [[asOfStream]]'s snapshot), so this operator cannot
    * self-release it; a caller cycling fits in one long session
    * should `unpersist` the previous stream's profile (or
    * `clearCache`) after stopping it. */
  def anomalyStream(spark: SparkSession, dir: String,
                    k: Double = 3.5): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val profile = graft.operators.EventAnalytics.robustProfile(
        graft.Tables.normalizeEventsTs(spark.read.parquet(dir)),
        "event_type", "value", "event_id")
      .persist() // snapshot once; stream-static joins re-run the static plan per micro-batch
    graft.Tables.normalizeEventsTs(source(spark, dir))
      .select(col("event_id"), col("event_type"),
        col("value").cast("double").as("value"))
      .filter(col("value").isNotNull)
      .join(broadcast(profile), Seq("event_type"), "left")
      .transform(graft.operators.EventAnalytics.scoreAgainstProfile(k))
      .select(col("event_id"), col("event_type"), col("value"),
        col("mscore"), col("is_anomaly"))
  }

  /** Windowed per-user RATE aggregation — the value column the bot
    * detector scores: events per user per tumbling window. Used
    * verbatim by [[rateAnomalyStream]]'s batch fit and its stream so
    * the two cannot drift (the [[hourlyBatch]]/[[hourlyStream]]
    * convention). */
  def windowRatesBatch(events: DataFrame,
                       windowDur: String = "1 hour"): DataFrame =
    events.groupBy(col("user_id"), window(col("ts"), windowDur).as("w"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(col("user_id"), col("w.start").cast("long").as("window_start"),
        col("value"))

  /** Streaming RATE anomaly — the volume complement to
    * [[anomalyStream]]'s value scoring, closing the bot-detection
    * loop end-to-end (q_bot_users is the batch twin over TOTAL
    * counts; this scores windowed rates live): per-user events per
    * tumbling `windowDur` window, scored with the modified z-score
    * against a robust (med, mad) profile FIT ON THE BATCH SNAPSHOT's
    * windowed rates — the fit-offline / score-online split
    * production bot detection runs.
    *
    * The profile here is ONE row (a single synthetic 'all' group), so
    * it rides the stream as two LITERALS instead of a stream-static
    * join — which also sidesteps the Structured Streaming restriction
    * on joins after a streaming aggregation; the scoring expression
    * is still literally [[graft.operators.EventAnalytics
    * .scoreAgainstProfile]], so batch and stream flags cannot drift
    * (EventStreamSpec pins row-for-row equality on the same
    * snapshot). The windowed count itself is the standard
    * watermarked tumbling aggregate — per-(user, window) state,
    * reaped as the watermark passes; in append mode only FINALIZED
    * windows emit (the production shape), while the spec uses
    * complete mode to observe every window on finite input.
    * `exact = false` swaps the fit's rank-selection medians for
    * approx_percentile at corpus scale ([[graft.operators
    * .EventAnalytics.robustOutliers]]'s documented switch). */
  def rateAnomalyStream(spark: SparkSession, dir: String,
                        windowDur: String = "1 hour",
                        delay: String = "10 minutes",
                        k: Double = 3.5,
                        exact: Boolean = true): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchRates = windowRatesBatch(graft.Tables.normalizeEventsTs(
        spark.read.parquet(dir)), windowDur)
      .withColumn("grp", lit("all"))
      .withColumn("rate_id",
        concat_ws(":", col("user_id"), col("window_start")))
    val prof = graft.operators.EventAnalytics.robustProfile(
      batchRates, "grp", "value", "rate_id", exact).collect()
    // empty snapshot (or all-null values): med = mad = 0 — nothing
    // flags, the conservative degenerate case the scorer documents
    val (med, mad) =
      if (prof.isEmpty) (0.0, 0.0)
      else (prof(0).getAs[Double]("med"), prof(0).getAs[Double]("mad"))
    graft.Tables.normalizeEventsTs(source(spark, dir))
      .withWatermark("ts", delay)
      .transform(df => windowRatesBatch(df, windowDur))
      .withColumn("med", lit(med))
      .withColumn("mad", lit(mad))
      .transform(graft.operators.EventAnalytics.scoreAgainstProfile(k))
      .select(col("user_id"), col("window_start"),
        col("value").as("n_events"), col("mscore"), col("is_anomaly"))
  }

  /** Streaming inter-arrival gap extraction — the stateful twin of
    * [[graft.operators.EventAnalytics.gaps]]: per-user state is ONE
    * long (the last event time), each arriving event emits its gap to
    * the previous one, and gaps longer than `horizonS` are excluded
    * on BOTH sides — which is exactly what lets the state die: once
    * the watermark clears last + horizon, no future event can emit an
    * in-horizon gap, so the timeout reaps the entry and state size is
    * bounded by the active-user count, never the stream length.
    *
    * Divergence contract (the [[nearDupStream]] convention): events
    * arriving out of order ACROSS batches (later batch, earlier event
    * time beyond the watermark delay) see the already-advanced state —
    * the stream cannot retract an emitted gap. Negative chains are
    * dropped rather than emitted. In-order feeds match batch
    * pair-for-pair (EventStreamSpec). */
  def gapStream(spark: SparkSession, dir: String, horizonS: Long = 86400L,
                delay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    val events = source(spark, dir).withWatermark("ts", delay)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[GapEvent]
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[GapEvent], state: GroupState[GapState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.map(_.ts_us).toArray.sorted
            if (sorted.isEmpty) Iterator.empty
            else {
              val chain = state.getOption.map(_.last_us).toSeq ++ sorted
              val hits = chain.sliding(2).collect {
                case scala.collection.Seq(a, b) if b >= a =>
                  val gapS = (b - a) / 1000000L
                  GapHit(uid, gapS, if (gapS == 0L) 0
                    else 64 - java.lang.Long.numberOfLeadingZeros(gapS))
              }.filter(_.gap_s <= horizonS).toVector
              state.update(GapState(sorted.last))
              // alive until no in-horizon successor is possible
              timeoutAt(state, sorted.last / 1000L + (horizonS + 1L) * 1000L)
              hits.iterator
            }
          }
      }.toDF()
  }

  /** Streaming ASSIGNMENT-DRIFT monitor — the live twin of
    * [[graft.operators.Similarity.assignmentDrift]], watching an
    * append FEED instead of an append slice: every arriving vector is
    * scored against the standing base-fit centroids (the literally
    * shared [[graft.operators.Similarity.scoredDistances]] pass —
    * map-side, centroid literals inside codegen, no shuffle beyond
    * the per-cluster state update), per-cluster state accumulates
    * exact fixed-point (n, Σd2f), and each micro-batch RE-EMITS the
    * updated profile row for every cluster that received vectors —
    * so the refit trigger RECALL.json's append sweep motivates (drift
    * = new modes, not volume) fires within ONE micro-batch of an
    * unseen mode arriving, instead of waiting for a nightly batch
    * profile. EventStreamSpec pins both properties: the accumulated
    * profile equals batch `assignmentDrift` on the same slice
    * bit-for-bit (fixed-point sums are order-free; the read-out
    * replicates the batch operator's HALF_UP rounding), and the
    * new-modes scenario flags in the first batch that carries one.
    *
    * The BASE side is a batch snapshot profiled ONCE at stream build
    * (a k-row collect — the [[rateAnomalyStream]] fit-offline
    * discipline) and rides into the state function as a plain map of
    * k entries. Divergences from batch, both inherent to a live
    * monitor: only clusters that have RECEIVED appended vectors emit
    * (a base-only cluster is a static fact the snapshot already
    * states, and its batch row is all-zero/flagless), and rows are
    * per-batch updates — consumers take max(`upd`) per cluster for
    * the current profile. State is three longs per cluster (≤ k
    * entries total), so no timeout/eviction is needed: the state is
    * smaller than the centroid set the query already carries. */
  def driftStream(spark: SparkSession, dir: String, base: DataFrame,
                  vecCol: String,
                  centroids: IndexedSeq[IndexedSeq[Double]],
                  ratioThreshold: Double = 2.0): DataFrame = {
    require(ratioThreshold > 0, "driftStream needs ratioThreshold > 0")
    import spark.implicits._
    import graft.operators.Similarity
    val baseStats: Map[Int, (Long, Long)] = Similarity.scoredDistances(
        base.withColumn("__did", lit(0L)), "__did", vecCol, centroids,
        "driftStream")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("d2f")).as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val scored = Similarity.scoredDistances(
        source(spark, dir).withColumn("__did", lit(0L)),
        "__did", vecCol, centroids, "driftStream")
      .select(col("cluster"), col("d2f")).as[DriftEvent]
    scored.groupByKey(_.cluster)
      .flatMapGroupsWithState[DriftMonState, DriftUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cluster: Int, it: Iterator[DriftEvent], state: GroupState[DriftMonState]) =>
          val prev = state.getOption.getOrElse(DriftMonState(0L, 0L, 0L))
          var n = prev.n
          var s = prev.s
          it.foreach { e => n += 1L; s += e.d2f }
          if (n == prev.n) Iterator.empty
          else {
            state.update(DriftMonState(n, s, prev.upd + 1L))
            val (nb, sb) = baseStats.getOrElse(cluster, (0L, 0L))
            val meanNew = r6(s.toDouble / n / 1e6)
            val meanBase = if (nb > 0L) Some(r6(sb.toDouble / nb / 1e6)) else None
            val ratio = meanBase.filter(_ > 0.0).map(mb => r6(meanNew / mb))
            val flag = if (nb == 0L || ratio.exists(_ > ratioThreshold)) 1 else 0
            Iterator(DriftUpdate(cluster, prev.upd + 1L, nb, n,
              meanBase, meanNew, ratio, flag))
          }
      }.toDF()
  }

  /** Streaming LM scoring — the
    * [[graft.operators.TextAnalysis.lmPerplexity]] twin over a live
    * doc feed: each arriving doc's tokens are scored map-side against
    * the standing batch-fit model (the ingest-time quality gate, so a
    * crawler can route/drop documents the moment they land instead of
    * waiting for the nightly batch scorer). The five-way backoff
    * expression is LITERALLY shared with the batch operator
    * (`lmLogProbSql`), the model rides as two STATIC dictionary
    * DataFrames through stream-static equi-joins — never collected,
    * so a production-size vocabulary stays distributed — and only the
    * one-row reference total is fetched to the driver. Per-doc state
    * folds per doc in `flatMapGroupsWithState` (update mode) — and
    * the fold RETAINS NOTHING: a doc's score is computed entirely
    * within the micro-batch its token rows arrive in (the exploded
    * tokens of a doc co-arrive with the file that carries the doc),
    * and the GroupState is never written, so the state store holds
    * ZERO entries between batches. Doc ids on a crawler-ingest feed
    * are an unbounded key space (unlike [[driftStream]]'s k
    * clusters, which need no eviction) — accumulating per-doc state
    * under NoTimeout would grow by one entry per doc id ever seen
    * for the stream's lifetime. The trade, documented: a doc id
    * whose rows straddle a batch boundary (or re-appears later)
    * emits one PARTIAL score per batch, re-scoring from zero each
    * time, instead of one accumulated total.
    *
    * Deliberate divergence from batch: a doc with NO tokens
    * (empty/null text) produces no token rows, so the stream never
    * sees it — batch emits it with n_tokens 0 and null scores.
    * Stream==batch is pinned on the n_tokens > 0 subset in LmSpec. */
  def lmScoreStream(spark: SparkSession, dir: String,
                    uniCounts: DataFrame, biCounts: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    alpha: Double = 0.4): DataFrame = {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // coalesce: an EMPTY unigram model sums to null, which would NPE
    // here (and a zero total divides by zero inside lmLogProbSql) —
    // fail fast with a model-shaped message instead
    val nRef: Long = uniCounts.agg(coalesce(sum(col("c")), lit(0L)).as("n"))
      .collect()(0).getLong(0)
    require(nRef > 0, s"lmScoreStream: empty unigram model (nRef=$nRef)")
    val stream = source(spark, dir)
    val toks = stream
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextAnalysis.lmTransitions(stream, textCol)).as("tr"))
      .select(col("doc_id"), col("tr.prev").as("prev"),
        col("tr.cur").as("cur"))
      .join(biCounts.select(col("w1").as("prev"), col("w2").as("cur"),
        col("c_ab")), Seq("prev", "cur"), "left")
      .join(uniCounts.select(col("tok").as("cur"), col("c").as("c_cur")),
        Seq("cur"), "left")
      .join(uniCounts.select(col("tok").as("prev"), col("c").as("c_prev")),
        Seq("prev"), "left")
      .select(col("doc_id"),
        round(expr(TextAnalysis.lmLogProbSql(alpha, nRef.toString)))
          .cast("bigint").as("lp"))
      .as[LmTok]
    scoreDocs(toks)((docId, n, s) => LmScore(docId, n,
      r6((s.toDouble / 1e9) / n), r6(Math.exp((s.toDouble / -1e9) / n))))
  }

  /** Streaming DSIR scoring — the
    * [[graft.operators.DataSelection.dsirLogWeights]] twin over a live
    * doc feed: each arriving doc's hashed-token stream is scored
    * against the standing (bucket, lr) ratio table
    * ([[graft.operators.DataSelection.dsirRatioTable]] — the B-row
    * model artifact a production run fits once), so ingest can route
    * or drop documents by target-likeness the moment they land. Same
    * zero-retained-state contract as [[lmScoreStream]]: the ratio
    * table rides as a STATIC broadcast join side, each doc scores
    * entirely within its arriving micro-batch and the GroupState is
    * never written (doc ids are an unbounded key space — retained
    * per-doc state would grow for the stream's lifetime); an id
    * whose rows straddle batches emits partial per-batch scores.
    * Tokenless docs are invisible to the stream (batch emits them at
    * log_w 0) — pinned on the n_tokens > 0 subset in DsirStreamSpec.
    * The token→bucket assignment is literally shared with the batch
    * scorer ([[graft.operators.DataSelection.tokenBuckets]]). */
  def dsirScoreStream(spark: SparkSession, dir: String, ratios: DataFrame,
                      buckets: Int, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val toks = graft.operators.DataSelection.tokenBuckets(
        source(spark, dir), idCol, textCol, buckets)
      .join(broadcast(ratios), Seq("bucket"))
      .select(col("doc_id"), col("lr").as("lp"))
      .as[LmTok]
    scoreDocs(toks)((docId, n, s) => DsirScore(docId, n, r6(s.toDouble / 1e9)))
  }

  /** Streaming QUALITY-CLASSIFIER scoring — the
    * [[graft.operators.DataSelection.logregScore]] twin over a live
    * doc feed, completing the ingest-gate trio (LM perplexity, DSIR
    * target-likeness, trained classifier): each arriving doc's
    * hashed-token stream picks up its per-bucket weight from the
    * standing [[graft.operators.DataSelection.logregFit]] model (a
    * STATIC broadcast join side — the (B+1)-row artifact), the exact
    * fixed-point margin folds per doc, and the sigmoid + round-6
    * read-out replicates the batch scorer bit-for-bit. The BIAS
    * weight (bucket −1 — no token carries it) is fetched once at
    * stream build (1-row bounded read, the nRef discipline) and
    * added at emission. Same zero-retained-state and
    * tokenless-docs-invisible contract as [[lmScoreStream]] /
    * [[dsirScoreStream]]; stream == batch pinned on the
    * n_tokens > 0 subset in ClfStreamSpec. */
  def clfScoreStream(spark: SparkSession, dir: String, weights: DataFrame,
                     buckets: Int, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val biasW: Long = weights.filter(col("bucket") === -1L)
      .agg(coalesce(sum(col("w_fixed")), lit(0L))).collect()(0).getLong(0)
    val toks = graft.operators.DataSelection.tokenBuckets(
        source(spark, dir), idCol, textCol, buckets)
      .join(broadcast(weights), Seq("bucket"), "left")
      .select(col("doc_id"),
        coalesce(col("w_fixed"), lit(0L)).as("lp"))
      .as[LmTok]
    scoreDocs(toks)((docId, n, s) => ClfScore(docId, n,
      r6(1.0 / (1.0 + Math.exp(-((s + biasW).toDouble / 1e9))))))
  }

  /** Streaming exact-duplicate removal on (keyCols, ts): identical
    * re-deliveries of the same event are dropped, while genuine new
    * events for the same key (different ts) pass through. The
    * watermark bounds the dedup state (the standard unbounded-stream
    * trade: exact within the watermark horizon). For per-key
    * first-occurrence-only semantics use
    * `dropDuplicatesWithinWatermark(keyCols)` instead. */
  def dedupStream(spark: SparkSession, dir: String, keyCols: Seq[String],
                  tsCol: String, watermark: String = "1 hour"): DataFrame =
    source(spark, dir).withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Run the streaming query to completion over the (finite) input and
    * return the materialized result — used by tests to assert
    * stream == batch. `complete` output mode because the sink is the
    * in-memory table. */
  def runStreamToMemory(spark: SparkSession, dir: String,
                        name: String = "graft_stream_out"): DataFrame = {
    val q = hourlyStream(spark, dir).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }
}
