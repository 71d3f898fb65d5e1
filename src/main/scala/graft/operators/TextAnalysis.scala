package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.RollingHash

/** Text-analysis operators for training-data pipelines: token
  * counting, quality scoring, language ID, and content
  * fingerprinting. All pure column expressions (codegen'd, one
  * map-side pass, no shuffle) except the fingerprint, which is a
  * native Catalyst expression ([[graft.functions.RollingHash]]).
  */
object TextAnalysis {

  /** THE corpus tokenizer — literal single-space split — as a SQL
    * fragment for expression-string call sites. One definition site:
    * [[stopwordHits]], [[stringShingles]], [[repetitionScore]],
    * [[langId]], [[tfidfTop]] (via [[tokens]]), and the Dedup
    * tokenize+hash paths ([[Dedup.tokenHashes]], and the native
    * `graft_shingles`/`graft_chargrams` expressions, which pin
    * split-on-' ' equivalence bit-for-bit in GramHashesSpec) all
    * tokenize THIS way, so their token universes are interchangeable
    * — and DuckDB's `string_split(text, ' ')` replays it exactly,
    * which is what keeps the gram/stopword oracles hash-green. A
    * regex split ('\\s+') would diverge on tabs/newlines and has no
    * 1:1 DuckDB replay. */
  private[graft] def tokensSql(textCol: String): String =
    s"split($textCol, ' ')"

  /** [[tokensSql]] as a Column (the Column-API call sites). */
  private[graft] def tokens(textCol: String): Column =
    split(col(textCol), " ")

  /** Whitespace token count.
    *
    * DELIBERATE divergence from [[tokensSql]]: counts runs of ANY
    * whitespace ('\\s+') — a newline- or tab-separated doc counts its
    * words, where the single-space tokenizer would see one giant
    * token. That is the right semantics for a SIZE metric (and what
    * the q_token_count oracle pins), while the gram/stopword
    * consumers need the exact replayable token ARRAY — identity
    * matters there, not count. */
  def tokenCount(textCol: String): Column =
    size(expr(s"split($textCol, '\\\\s+')"))

  /** BPE-ish subword-piece estimate: runs of word chars count 1 per
    * ~4 chars (the usual tokens≈chars/4 heuristic applied per word),
    * punctuation counts 1 each. */
  def tokenEstimate(textCol: String): Column =
    expr(
      s"""aggregate(
         |  regexp_extract_all($textCol, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\\\s]', 0),
         |  0L,
         |  (acc, t) -> acc + CASE WHEN t rlike '^[A-Za-z0-9_]'
         |                         THEN cast(ceil(length(t) / 4.0) as bigint)
         |                         ELSE 1L END)""".stripMargin)

  /** English stopword hit count over whitespace tokens. */
  private val stopwords =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "for", "on")
  def stopwordHits(textCol: String): Column = {
    val set = stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
    expr(s"size(filter(${tokensSql(textCol)}, x -> x IN $set))")
  }

  /** Quality features + a single score in [0,1]: long-enough text,
    * low punctuation ratio, healthy stopword ratio — the
    * length/punct/stopword shape of standard corpus-quality filters. */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val nTokens = tokenCount(textCol)
    val nChars = length(col(textCol))
    val punct = expr(s"length(regexp_replace($textCol, '[A-Za-z0-9_\\\\s]+', ''))")
    df.withColumn("n_tokens", nTokens)
      .withColumn("punct_ratio", round(punct / greatest(nChars, lit(1)), 6))
      .withColumn("stopword_ratio",
        round(stopwordHits(textCol) / greatest(nTokens, lit(1)), 6))
      .withColumn("quality_score", round(
        least(col("n_tokens") / 20.0, lit(1.0)) * 0.4
          + (lit(1.0) - least(col("punct_ratio") * 10.0, lit(1.0))) * 0.3
          + least(col("stopword_ratio") * 10.0, lit(1.0)) * 0.3, 6))
  }

  /** Distinct word-`n`-gram STRINGS of `textCol` (not hashed) —
    * mirrors [[Dedup.shingleHashes]] gram boundaries exactly
    * (including the single short gram for <n-token docs) so the two
    * universes are interchangeable. Tokens are let-bound: `split`
    * runs once per row. */
  private[graft] def stringShingles(textCol: String, n: Int): Column =
    expr(graft.functions.Let.let1(tokensSql(textCol), "toks")(
      s"""array_distinct(transform(
         |  sequence(0, greatest(size(toks) - $n, 0)),
         |  i -> concat_ws(' ', slice(toks, i + 1, $n))))""".stripMargin))

  /** Train→eval n-gram contamination — the train/test-overlap check
    * (decontamination) an LLM pipeline runs before trusting an eval
    * split: for each eval doc, the fraction of its distinct word
    * n-grams that appear ANYWHERE in the train corpus. Returns
    * (idCol, n_grams, hits, contamination).
    *
    * Scale shape: the train side collapses to its DISTINCT gram set
    * first (one aggregation — at corpus scale this is the gram
    * vocabulary, far smaller than the corpus), then the eval (doc,
    * gram) pairs join it on the gram key. With `hashed = true` (the
    * default) grams are 8-byte xxhash64-mod-P longs ([[Dedup
    * .shingleHashes]], native codegen) — the join shuffles longs,
    * never text. `hashed = false` joins the raw gram strings — the
    * DuckDB-replayable oracle path; ContaminationSpec pins that both
    * paths produce identical counts. */
  def contamination(eval: DataFrame, train: DataFrame, idCol: String,
                    textCol: String, n: Int = 3,
                    hashed: Boolean = true): DataFrame = {
    if (hashed) graft.functions.GramHashes.register(eval.sparkSession)
    val gram: Column =
      if (hashed) Dedup.shingleHashes(textCol, n)
      else stringShingles(textCol, n)
    val ev = eval.select(col(idCol), explode(gram).as("g"))
    val evCounts = ev.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val trainGrams = train.select(explode(gram).as("g")).distinct()
    val hits = ev.join(trainGrams, "g")
      .groupBy(idCol).agg(count(lit(1)).as("hits"))
    evCounts.join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("hits"))
      .withColumn("contamination",
        round(col("hits") / col("n_grams"), 6))
  }

  /** Intra-document repetition score — the boilerplate/spam signal
    * quality filters pair with [[withQuality]]: the fraction of a
    * doc's word `n`-gram OCCURRENCES that are repeats of an earlier
    * gram in the same doc (0 = no repetition, →1 = the doc is one
    * phrase looping). Pure map-side column expression: total windows
    * minus distinct windows over total, no shuffle, no explode. */
  def repetitionScore(textCol: String, n: Int = 3): Column = {
    val total = s"greatest(size(${tokensSql(textCol)}) - ${n - 1}, 1)"
    // distinct grams via the same let-bound window transform the
    // other gram consumers use (split runs once per row)
    val distinctGrams = graft.functions.Let.let1(tokensSql(textCol), "toks")(
      s"""size(array_distinct(transform(
         |  sequence(0, greatest(size(toks) - $n, 0)),
         |  i -> concat_ws(' ', slice(toks, i + 1, $n)))))""".stripMargin)
    expr(s"round(($total - $distinctGrams) / cast($total as double), 6)")
  }

  /** Sequence packing — the concat-then-chunk assignment a
    * pretraining pipeline runs to turn variable-length docs into
    * fixed `ctxTokens` training windows: docs are concatenated in a
    * deterministic order and each is assigned the window containing
    * its first token. Returns (idCol, shard, bin, tok_start).
    *
    * Packing is inherently sequential, so the corpus is first split
    * into `shards` independent streams (deterministic `id % shards`)
    * and each shard packs alone — one shuffle, every shard a separate
    * window partition, parallelism = `shards` (size it to the
    * cluster; the driver never sees a global order). A doc whose
    * tokens cross a boundary spills into the next bin exactly as the
    * concatenated token stream does.
    *
    * `tokensCol` overrides the default whitespace [[tokenCount]] with
    * any per-row count — pass the [[bpeTokenCounts]] column to pack in
    * TOKENIZER-true units (q_pack_bpe), the currency the context
    * window is actually denominated in. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    ctxTokens: Int = 2048, shards: Int = 32,
                    tokensCol: Option[Column] = None): DataFrame = {
    require(ctxTokens > 0 && shards > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(col(idCol),
        tokensCol.getOrElse(tokenCount(textCol)).as("n_tokens"))
      .withColumn("shard", pmod(col(idCol), lit(shards)))
      .withColumn("tok_start", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("bin", floor(col("tok_start") / ctxTokens))
      .select(col(idCol), col("shard"), col("bin"), col("tok_start"))
  }

  /** WHOLE-DOC sequence packing — next-fit bin packing where a doc is
    * never split across training windows: walk each shard's stream in
    * id order keeping a running fill; a doc that would overflow the
    * open bin closes it and starts the next. [[packSequences]] slices
    * the concatenated stream exactly (zero padding waste, docs cross
    * boundaries — attention masks or cross-doc contamination are the
    * cost); this keeps every doc intact (each bin's tail is padding —
    * next-fit wastes < half a window amortized, since any two
    * consecutive bins hold more than one window between them). A doc
    * longer than `ctxTokens` still gets a bin alone (the caller
    * truncates or [[chunkTokens]]s it first; the fill rule isolates
    * it naturally because it overflows whatever is open).
    *
    * Packing is inherently sequential, so parallelism comes from the
    * same deterministic `id % shards` split as [[packSequences]]: one
    * hash exchange on shard, an in-partition (shard, id) sort, and a
    * single mapPartitions pass that folds the per-shard state in
    * stream order (a task may hold several shard values; the fold
    * resets on shard change — the [[Sampling.epochShuffle]] layout
    * discipline). Size `shards` to the cluster; no global order, no
    * driver state. Output: (idCol long, shard, bin, tok_start,
    * n_tokens) — tok_start is the doc's offset WITHIN its bin, so
    * tok_start + n_tokens <= ctxTokens for every unsplit doc. */
  def packSequencesWhole(df: DataFrame, idCol: String, textCol: String,
                         ctxTokens: Int = 2048, shards: Int = 32,
                         tokensCol: Option[Column] = None): DataFrame = {
    require(ctxTokens > 0 && shards > 0)
    val spark = df.sparkSession
    import spark.implicits._
    // null text packs deterministically like the empty string (the
    // lmPerplexity / dsirLogWeights / bpeDecode null convention) —
    // tokenCount(null) is null and the typed encoder below would
    // throw on a null primitive, failing the whole job for one row
    val packed = df
      .select(col(idCol).cast("long").as("id"),
        pmod(col(idCol), lit(shards)).cast("long").as("shard"),
        tokensCol.getOrElse(tokenCount(s"coalesce($textCol, '')"))
          .cast("long").as("n"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var bin = 0L
        var fill = 0L
        var open = false
        it.map { case (id, shard, n) =>
          if (shard != curShard || !open) {
            curShard = shard; bin = 0L; fill = n; open = true
            (id, shard, 0L, 0L, n)
          } else if (fill + n > ctxTokens) {
            bin += 1; fill = n
            (id, shard, bin, 0L, n)
          } else {
            val off = fill; fill += n
            (id, shard, bin, off, n)
          }
        }
      }
      .toDF("id", "shard", "bin", "tok_start", "n_tokens")
    packed.withColumnRenamed("id", idCol)
  }

  /** Distribution-derived quality filter: keep docs whose
    * quality_score is at or above the `q`-th quantile of the corpus —
    * the "top quartile by quality" selection step of a training-data
    * pipeline, where the threshold comes from the data, not a config.
    *
    * Shape, not a window: the quantile is ONE aggregated scalar,
    * broadcast back over the scan (1-row cross join — the same
    * pattern as percentage-of-total), so the filter itself stays
    * map-side. A `percent_rank() OVER (ORDER BY ...)` formulation
    * would funnel the corpus through a single-partition sort — the
    * classic global-window scale killer.
    *
    * `approxAccuracy = 0` (default) uses exact `percentile` (full
    * per-group value collection — fine to ~millions of rows, and what
    * the DuckDB oracle replays); at corpus scale pass an accuracy
    * (e.g. 10000) to swap in `approx_percentile` — a mergeable
    * constant-memory sketch with the identical plan shape, off by at
    * most 1/accuracy in rank. */
  def qualityFilter(df: DataFrame, textCol: String,
                    q: Double = 0.75, approxAccuracy: Int = 0): DataFrame = {
    val scored = withQuality(df, textCol)
    val thrAgg =
      if (approxAccuracy > 0)
        expr(s"approx_percentile(quality_score, ${q}D, $approxAccuracy)")
      else expr(s"percentile(quality_score, ${q}D)")
    val thr = scored.agg(thrAgg.as("thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("quality_score") >= col("thr"))
      .drop("thr")
  }

  /** N-gram/stopword-heuristic language ID: per-language tiny stopword
    * lists; argmax of hit counts, 'und' when nothing hits. (A toy
    * n-gram model — the operator shape, schema and scale behavior are
    * the point; swap the tables for real profiles.) */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
  )

  def langId(textCol: String): Column = {
    import graft.functions.Let.let1
    // Tokens and the 4 per-language scores are let-bound so each is
    // computed ONCE per row; inlining the score expressions into every
    // CASE arm would evaluate split 16× and each filter 4× per row
    // (HOFs are interpreted with no common-subexpression elimination).
    val scoresArr = langMarkers.map { case (_, words) =>
      val set = words.map(w => s"'$w'").mkString("(", ", ", ")")
      s"size(filter(toks, x -> x IN $set))"
    }.mkString("array(", ", ", ")")
    // argmax via chained CASE over the BOUND scores: first language
    // with a positive score >= all others, in declaration order
    val langs = langMarkers.map(_._1)
    val best = langs.zipWithIndex.map { case (lang, i) =>
      val mine = s"element_at(sc, ${i + 1})"
      val gt = langs.indices.filter(_ != i)
        .map(j => s"$mine >= element_at(sc, ${j + 1})").mkString(" AND ")
      s"WHEN $mine > 0 AND $gt THEN '$lang'"
    }.mkString(" ")
    expr(let1(tokensSql(textCol), "toks")(
      let1(scoresArr, "sc")(s"CASE $best ELSE 'und' END")))
  }

  /** Top-k terms per document by TF-IDF (natural-log IDF over the
    * corpus document frequency). Shuffles: one for per-(doc,term)
    * counts, one for term document-frequency, the frequency-split
    * term join below, plus a 1-row broadcast of the corpus size —
    * the standard two-pass shape; no driver-side vocabulary.
    *
    * The tf⋈df join is keyed on term — a textbook skew key, since
    * stopword terms hit nearly every document. The whole vocabulary
    * won't broadcast at corpus scale, but the hot head of it is
    * BOUNDED (`hotTerms` rows), so the join is frequency-split:
    * the top-`hotTerms` terms by df join map-side via broadcast (and
    * with them the bulk of the tf rows never shuffle), while the long
    * tail — high-cardinality but per-key small — takes the ordinary
    * shuffle join. Row-identical to the single shuffle join; only the
    * exchange's key distribution changes. */
  /** The shared (doc, term) statistics pass behind [[tfidfTop]],
    * [[bm25Top]] and [[unigramCrossEntropy]]: explode to tokens once,
    * aggregate tf per (doc, term), aggregate per-term corpus stats
    * (df = documents containing the term, cf = total occurrences),
    * and join tf⋈stats frequency-split — the top-`hotTerms` terms by
    * df (a BOUNDED head, broadcastable at any corpus size) join
    * map-side, the high-cardinality/per-key-small tail takes the
    * ordinary shuffle join. Row-identical to a single shuffle join;
    * only the exchange's key distribution changes — the stopword-heavy
    * hot keys never shuffle.
    *
    * Both caches (tf, per-term stats) live in the caller's `caches`
    * scope. tf feeds three consumers (stats agg, hot join, tail join) and the stats
    * frame two; ReuseExchange does NOT collapse the repeats (the join
    * consumers push isnotnull(term) below the agg, so the subtrees
    * canonicalize differently), and at corpus scale re-running the
    * tokenize+explode per consumer triples the heaviest scan. */
  private def termStatsJoined(caches: Caches.Scope, docs: DataFrame,
                              idCol: String, textCol: String, hotTerms: Int):
      (DataFrame, DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(textCol)).as("term"))
    val tf = caches.persist(
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val stats = caches.persist(tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf")))
    val hot = broadcast(stats.orderBy(col("df").desc, col("term").asc)
      .limit(hotTerms))
    val joined = tf.join(hot, Seq("term"))
      .unionByName(tf.join(hot.select("term"), Seq("term"), "left_anti")
        .join(stats.join(hot.select("term"), Seq("term"), "left_anti"),
          Seq("term")))
    (joined, tf, stats)
  }

  def tfidfTop(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 3, hotTerms: Int = 1024): DataFrame = Caches.scoped { caches =>
    val (joined, _, _) = termStatsJoined(caches, docs, idCol, textCol, hotTerms)
    val n = docs.agg(count(lit(1)).as("n"))
    // per-doc top-k through the shared Skew.saltedTopK dispatch — the
    // SAME plan as the direct row_number window at typical k (k ≤ the
    // WindowGroupLimit threshold dispatches to the plain single
    // window; doc_id is high-cardinality so even that is safe), but
    // the k-threshold behavior is now uniform with sourceCap: a
    // pathological k > 1000 takes the salted two-phase instead of
    // funneling whole docs through single tasks. saltCols = the group
    // and order columns — the narrow deterministic basis.
    val scored = joined
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n") / col("df")))
    Skew.saltedTopK(scored, Seq("doc_id"),
        Seq(col("score").desc, col("term").asc), k,
        saltCols = Seq(col("doc_id"), col("score"), col("term")))
      .select(col("doc_id"), col("term"), round(col("score"), 6).as("score"),
              col("rn"))
  }

  /** BM25 top-k terms per document — [[tfidfTop]]'s saturating,
    * length-normalized sibling (the Okapi BM25 formula with the usual
    * k1/b defaults): idf = ln(1 + (N - df + ½)/(df + ½)), score =
    * idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). Same
    * frequency-split term join as tfidf; per-doc length dl is derived
    * from the CACHED tf frame (Σ tf — no second tokenize pass) and
    * joins on the high-cardinality doc_id key (an even shuffle, the
    * correct shape — dl has one row per doc, never broadcastable at
    * corpus scale). avgdl is computed as exact-integer Σdl / N cast to
    * double, so the scalar is bit-identical across engines and
    * partitionings; with tf/df/dl/N all exact integers the whole score
    * is a deterministic per-row double — no cross-row double
    * summation anywhere (that determinism is what lets the DuckDB
    * oracle hash-match at round(…, 6)). */
  def bm25Top(docs: DataFrame, idCol: String, textCol: String,
              k: Int = 3, k1: Double = 1.2, b: Double = 0.75,
              hotTerms: Int = 1024): DataFrame = Caches.scoped { caches =>
    val (joined, tf, _) = termStatsJoined(caches, docs, idCol, textCol, hotTerms)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val totals = dl.agg(count(lit(1)).as("n"), sum("dl").as("total_tokens"))
    val scored = joined.join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("avgdl",
        col("total_tokens").cast("double") / col("n").cast("double"))
      .withColumn("idf", log(lit(1d) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score", col("idf") * (col("tf") * lit(k1 + 1d)) /
        (col("tf") + lit(k1) *
          (lit(1d - b) + lit(b) * col("dl") / col("avgdl"))))
    Skew.saltedTopK(scored, Seq("doc_id"),
        Seq(col("score").desc, col("term").asc), k,
        saltCols = Seq(col("doc_id"), col("score"), col("term")))
      .select(col("doc_id"), col("term"), round(col("score"), 6).as("score"),
              col("rn"))
  }

  /** Per-document unigram cross-entropy against the corpus's own
    * unigram distribution — the CCNet-style LM quality signal (a doc
    * of common words scores low, OCR noise / rare-token soup scores
    * high): xent = −(Σ_terms tf·ln(cf/T)) / dl nats per token, with
    * cf the term's corpus frequency and T total corpus tokens.
    *
    * The per-term contributions are quantized to fixed-point BIGINTs
    * (round(tf·ln(cf/T)·10⁹)) BEFORE the per-doc sum: a floating
    * Σ over terms would be partition-order-dependent in its last ulps
    * (Spark sums in shuffle arrival order, an external oracle in scan
    * order), and a last-ulp wobble next to a round(…, 6) boundary
    * would flip hashes nondeterministically. Integer sums are exact
    * and order-free, so the result is bit-stable across engines,
    * partitionings and retries; the 10⁹ scale keeps quantization error
    * (≤ 5·10⁻¹⁰·terms) three orders below the 10⁻⁶ rounding unit.
    * Same frequency-split join and cache discipline as [[tfidfTop]]. */
  def unigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
                          hotTerms: Int = 1024): DataFrame = Caches.scoped { caches =>
    val (joined, _, stats) = termStatsJoined(caches, docs, idCol, textCol, hotTerms)
    val totals = stats.agg(sum("cf").as("t_total"))
    joined.crossJoin(broadcast(totals))
      .withColumn("contrib",
        round(col("tf") * log(col("cf").cast("double") /
          col("t_total").cast("double")) * lit(1e9)).cast("bigint"))
      .groupBy("doc_id")
      .agg(round(-(sum(col("contrib")).cast("double") / lit(1e9)) /
        sum(col("tf")).cast("double"), 6).as("xent"))
  }

  /** Per-document token-distribution stats — the Gopher-family
    * repetitiousness signals computed from a doc's OWN token
    * histogram: Shannon entropy of the token distribution (a spam
    * page repeating ten phrases has low entropy at any length) and
    * type-token ratio (distinct/total — the classic lexical-diversity
    * cut). Complements [[repetitionScore]] (n-gram burstiness) and
    * the corpus-relative [[unigramCrossEntropy]] — this one needs no
    * corpus model, so it runs on day-0 data and never shuffles
    * anything wider than (doc_id, term, tf).
    *
    * H = ln(n) − (Σ tf·ln tf) / n, folded through fixed-point BIGINT
    * contributions (round(tf·ln(tf)·1e9)) so the per-doc sum is
    * partition-order independent — the q_unigram_xent discipline.
    * One explode + one (doc, term) aggregate + one doc aggregate;
    * per-doc parallelism is the corpus itself. Output: (doc_id,
    * n_tokens, distinct_tokens, ttr round-6, entropy round-6). A
    * NULL text yields no row (explode drops it); an EMPTY text is
    * one empty-string token ([[tokensSql]]'s split convention), so
    * it rows as (1, 1, 1.0, 0.0) — callers filtering on low
    * entropy/TTR as a spam signal should exclude empties first
    * (they are a length problem, not a repetition problem). */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokens(textCol)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("contrib",
        round(col("tf") * log(col("tf").cast("double")) * lit(1e9))
          .cast("bigint"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(col("contrib")).as("__c"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        round(col("distinct_tokens").cast("double")
          / col("n_tokens").cast("double"), 6).as("ttr"),
        round(log(col("n_tokens").cast("double"))
          - (col("__c").cast("double") / lit(1e9))
            / col("n_tokens").cast("double"), 6).as("entropy"))

  /** PMI-scored collocations — the corpus-statistics pass that finds
    * phrases behaving as units ("machine learning", "new york"):
    * pmi(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over the
    * consecutive-bigram stream and p(a), p(b) over the unigram
    * stream. High-PMI bigrams feed tokenizer merges, phrase-aware
    * dedup, and n-gram decontamination allowlists.
    *
    * Shape: two column-pruned scans (unigram and bigram streams —
    * tokenize let-bound once per row), one partial-agg shuffle each,
    * then two equi-joins of the `minCount`-filtered bigram table
    * against the unigram counts. The unigram side is the deduped
    * VOCABULARY (one row per distinct token), so a Zipf-hot token is
    * one build-side row — probe-side skew only, which hash joins
    * absorb; totals ride as broadcast one-row frames. `minCount`
    * prunes the hapax tail BEFORE the joins (the classic PMI
    * rare-pair explosion — at any scale most bigrams are singletons
    * with inflated PMI, and they would dominate join traffic).
    *
    * The single ln() per surviving bigram runs over one exact
    * integer-ratio expression with pinned association, round-6 — no
    * float sums anywhere (counts are exact longs), so the output is
    * partition-order independent and engine-replayable. Output:
    * (w1, w2, c_ab, pmi). */
  def pmiBigrams(docs: DataFrame, textCol: String,
                 minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"pmiBigrams needs minCount >= 1, got $minCount")
    val uni = docs.select(explode(expr(tokensSql(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val uniTot = uni.agg(sum(col("c")).as("n_uni"))
    val bigramsExpr = graft.functions.Let.let1(tokensSql(textCol), "toks")(
      """CASE WHEN size(toks) < 2
        |  THEN cast(array() as array<struct<w1: string, w2: string>>)
        |  ELSE transform(sequence(0, size(toks) - 2),
        |    i -> struct(element_at(toks, i + 1) as w1,
        |                element_at(toks, i + 2) as w2)) END""".stripMargin)
    val bi = docs.select(explode(expr(bigramsExpr)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val biTot = bi.agg(sum(col("c_ab")).as("n_bi"))
    bi.filter(col("c_ab") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(uniTot)).crossJoin(broadcast(biTot))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(expr(
          """ln((cast(c_ab as double) * cast(n_uni as double)
            |     * cast(n_uni as double))
            |   / (cast(n_bi as double) * cast(c_a as double)
            |      * cast(c_b as double)))""".stripMargin), 6).as("pmi"))
  }

  /** Overlapping token-window chunking — the pretraining sequence-prep
    * step that turns documents into model-sized pieces: chunk i covers
    * tokens [i·stride, i·stride + window) of the [[tokensSql]] token
    * array, chunks start every `stride` tokens until the doc is
    * exhausted (⌈len/stride⌉ chunks; `stride < window` overlaps
    * consecutive chunks by window − stride tokens, the usual
    * context-continuity trick), and trailing chunks may be shorter
    * than `window` — never empty, never an error (a null text chunks
    * as one empty chunk). Output: (doc_id, chunk_idx, chunk,
    * n_tokens), one row per chunk. Pure map-side flatMap via
    * posexplode — tokenize once per row (let-bound), no shuffle, the
    * fan-out bounded by ⌈len/stride⌉; at 100 TB this is an
    * embarrassingly parallel reshape of the scan. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1,
      s"chunkTokens needs window >= 1 and stride >= 1, got $window/$stride")
    val chunksExpr = graft.functions.Let.let1(
      tokensSql(s"coalesce($textCol, '')"), "toks")(
      s"""transform(
         |  sequence(0, cast(ceil(size(toks) / ${stride}.0) as int) - 1),
         |  i -> slice(toks, i * $stride + 1, $window))""".stripMargin)
    docs.select(col(idCol).as("doc_id"),
        posexplode(expr(chunksExpr)).as(Seq("chunk_idx", "__graft_ctoks")))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", col("__graft_ctoks")).as("chunk"),
        size(col("__graft_ctoks")).as("n_tokens"))
  }

  /** Line-level boilerplate removal — the C4/CCNet repetition pass:
    * split each doc on the literal `sep`, count every distinct
    * segment's document frequency corpus-wide, drop segments that
    * appear in more than `maxDocFreq` distinct docs (nav bars, cookie
    * banners, license headers), and reassemble the survivors in their
    * original order ('' when nothing survives — caller decides whether
    * to drop empties). Two shuffles: the segment document-frequency
    * aggregate and the per-doc reassembly. The boilerplate list
    * (df > cap) is by construction a tiny fraction of the segment
    * vocabulary — high-df segments are bounded by corpus_docs /
    * maxDocFreq × distinct-ness — so AQE takes the segs ⋈ boiler anti
    * join broadcast (pinned in PlanShapeSpec); the reassembly carries
    * (pos, seg) only, never the full text.
    *
    * Contract: `idCol` must be DISTINCT per row — the reassembly
    * groups on it, so duplicate ids would have their segments merged
    * into one interleaved doc. Output schema = `docs` with `textCol`
    * rewritten in place; every other column rides the final id-keyed
    * join untouched (the doc payload never enters the segment
    * explode/aggregate — only the scrubbed text joins back). */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       sep: String = "\n", maxDocFreq: Long = 2): DataFrame = {
    require(maxDocFreq > 0, "maxDocFreq must be positive")
    val segs = docs.select(col(idCol),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "seg")))
    val boiler = segs.groupBy("seg")
      .agg(countDistinct(col(idCol)).as("d"))
      .filter(col("d") > maxDocFreq)
      .select("seg")
    val kept = segs.join(boiler, Seq("seg"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg")), sep).as("__graft_scrubbed"))
    // the original text is dropped BEFORE the join-back so it never
    // rides the shuffle just to be overwritten
    docs.drop(textCol).join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__graft_scrubbed"), lit("")))
      .drop("__graft_scrubbed")
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  /** INTRA-doc segment dedup — the other half of the C4 repetition
    * pass ([[stripBoilerplate]] removes segments repeated ACROSS
    * docs; this removes segments repeated WITHIN one): split on the
    * literal `sep`, keep each segment's FIRST occurrence in order,
    * reassemble. `array_distinct` preserves first-occurrence order,
    * making this a pure map-side column expression — no shuffle, no
    * explode, one codegen'd pass (the cross-doc variant needs two
    * shuffles; do not pay them for the within-doc case). */
  def dedupSegments(textCol: String, sep: String = "\n"): Column =
    array_join(array_distinct(split(col(textCol),
      java.util.regex.Pattern.quote(sep))), sep)

  /** Top-`topK` unigram vocabulary with cumulative corpus coverage —
    * the tokenizer-prep pass (how many terms cover 95% of the corpus?
    * what goes in the vocab, what falls to <unk>?): terms ranked by
    * corpus frequency (ties broken lexicographically — a TOTAL order,
    * so rank and coverage are deterministic), each row carrying its
    * share and the running cumulative share of ALL corpus tokens.
    * One partial-agg shuffle over terms; the rank/cumsum window runs
    * AFTER the top-K cut, so the single-partition window only ever
    * sees `topK` rows no matter the corpus size (the unbounded-corpus
    * equivalent would be a global window — the trap this shape
    * avoids). Shares divide exact BIGINT counts by the exact BIGINT
    * total, rounded to 6 — engine-replayable. */
  def vocab(docs: DataFrame, idCol: String, textCol: String,
            topK: Int = 1000): DataFrame = {
    require(topK >= 1, "vocab needs topK >= 1")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(tokens(textCol)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    // Σcnt equals Σ size(tokens) — the narrow per-doc form costs one
    // cheap map-side agg instead of re-running the term aggregation.
    // Null-text docs contribute 0 (explode emits no rows for them),
    // guarded explicitly because legacy sizeOfNull would yield -1
    val total = docs.select(sum(when(col(textCol).isNotNull,
      size(tokens(textCol))).otherwise(lit(0L))).as("total"))
    val top = counts.orderBy(col("cnt").desc, col("term").asc).limit(topK)
    val w = Window.orderBy(col("cnt").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("term").asc)))
      .withColumn("share",
        round(col("cnt").cast("double") / col("total").cast("double"), 6))
      .withColumn("cum_share",
        round(sum("cnt").over(w).cast("double") /
          col("total").cast("double"), 6))
      .select("term", "cnt", "rank", "share", "cum_share")
  }

  /** Token-length histogram — the corpus-datasheet distribution pass
    * ([[sourceStats]] gives means; this gives the shape): docs
    * bucketed by ⌊tokens/bucketSize⌋·bucketSize. Exact integer
    * arithmetic end-to-end, one partial-agg shuffle over a bounded
    * key space (≈ max_len/bucketSize buckets). */
  def lengthHistogram(docs: DataFrame, textCol: String,
                      bucketSize: Int = 50): DataFrame = {
    require(bucketSize >= 1, "lengthHistogram needs bucketSize >= 1")
    // greatest(…, 0) pins null text to bucket 0 under BOTH ANSI
    // settings (legacy sizeOfNull = -1 would otherwise mint a
    // phantom bucket -bucketSize; ANSI null is skipped by greatest)
    docs.select((floor(greatest(tokenCount(textCol).cast("long"), lit(0L))
        / bucketSize) * bucketSize).as("bucket_lo"))
      .groupBy("bucket_lo").agg(count(lit(1)).as("docs"))
  }

  /** Per-doc PII pattern counts — the audit pass that runs BEFORE a
    * scrub decides what to redact: counts of email-shaped tokens,
    * phone-shaped digit groups, and URLs. The patterns are
    * deliberately simple character-class regexes (no lookarounds, no
    * word-boundary metachars) so every regex engine — Java here,
    * RE2/PCRE elsewhere — reads them identically; they are audit
    * heuristics, not validators. Map-side, one codegen'd pass. */
  def piiStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(expr(s"regexp_extract_all($textCol, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+', 0)"))
        .as("emails"),
      size(expr(s"regexp_extract_all($textCol, " +
        "'[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', 0)")).as("phones"),
      size(expr(s"regexp_extract_all($textCol, " +
        "'https?://[^ ]+', 0)")).as("urls"))

  /** Rolling-hash content fingerprint (see [[graft.functions.RollingHash]]). */
  def withFingerprint(spark: SparkSession, df: DataFrame,
                      textCol: String): DataFrame = {
    RollingHash.register(spark)
    df.withColumn("fingerprint", expr(s"rolling_hash($textCol)"))
  }

  /** Hex thresholds for [[hashSplit]]: cumulative fractions of the
    * 32-bit space as 8 lowercase hex digits — shared with the DuckDB
    * oracle so the two CASE expressions cannot drift. */
  private[graft] def splitThresholds(splits: Seq[(String, Double)]): Seq[String] =
    splits.map(_._2).scanLeft(0.0)(_ + _).tail.init
      .map(c => f"${math.floor(c * 4294967296.0).toLong}%08x")

  /** Per-source cap — keep at most `cap` docs per source (the guard
    * against one domain dominating the corpus): the first `cap` rows
    * per source under `orderCol`, which must be a TOTAL order within
    * each source (e.g. a unique id) for the kept set to be
    * deterministic. Runs through [[Skew.saltedTopK]], which picks the
    * plan by `cap`: at typical caps (≤ the WindowGroupLimit threshold,
    * default 1000) the plain window is already bounded by the
    * optimizer's per-partition partial top-k, and above it the salted
    * two-phase keeps a hot source (the case this operator exists for
    * — one domain dominating the corpus) from funneling ALL its rows
    * through a single task. The salt basis hashes only (source,
    * order) — not the row's payload columns — so the cost is
    * independent of document width and any schema (maps included) is
    * accepted; the total-order contract on `orderCol` makes that
    * narrow basis deterministic and well-distributed. */
  def sourceCap(df: DataFrame, sourceCol: String, orderCol: String,
                cap: Int): DataFrame = {
    require(cap > 0)
    Skew.saltedTopK(df, Seq(sourceCol), Seq(col(orderCol)), cap,
        saltFactor = 32, rankCol = "__graft_rn",
        saltCols = Seq(col(sourceCol), col(orderCol)))
      .drop("__graft_rn")
  }

  /** Corpus datasheet: per-source row counts and content stats — the
    * reporting pass run after every assembly step. Single partial-agg
    * shuffle; `n_tokens` is projected once so the sum and avg share
    * the tokenization work instead of splitting the text twice. */
  def sourceStats(df: DataFrame, idCol: String, sourceCol: String,
                  textCol: String): DataFrame =
    df.withColumn("__graft_n_tokens", tokenCount(textCol))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("docs"),
        sum(col("__graft_n_tokens")).as("total_tokens"),
        round(avg(col("__graft_n_tokens")), 4).as("avg_tokens"),
        round(avg(length(col(textCol))), 4).as("avg_chars"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))

  /** Per-SOURCE token-length histogram — (source, len, cnt) — the
    * mergeable distribution summary behind [[sourcePercentiles]]:
    * like [[sourceStatsMergeable]] it carries only associative
    * counts, so yesterday's histogram plus today's delta fold with
    * [[mergeLengthHistograms]] and re-cut to EXACT percentiles
    * without rescanning the corpus. One partial-agg shuffle whose
    * key space is sources × distinct lengths — lengths repeat
    * heavily, so the map-side combine collapses most of the corpus
    * before the exchange. Null text pins to length 0 (the
    * [[lengthHistogram]] idiom, both ANSI settings). */
  def lengthHistogramBySource(df: DataFrame, sourceCol: String,
                              textCol: String): DataFrame =
    df.select(col(sourceCol),
        greatest(tokenCount(textCol).cast("long"), lit(0L)).as("len"))
      .groupBy(col(sourceCol), col("len"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge two per-source length histograms (same schema as
    * [[lengthHistogramBySource]]): counts add per (source, len);
    * associative and commutative, so any tree of deltas folds to the
    * full-corpus histogram exactly — and because the histogram is a
    * LOSSLESS summary of the length distribution, percentiles cut
    * from the merged sheet equal a full recompute bit-for-bit
    * (CorpusStatsSpec pins it; t-digest-style sketches only
    * approximate this, and nothing here needs the approximation). */
  def mergeLengthHistograms(a: DataFrame, b: DataFrame,
                            sourceCol: String = "source"): DataFrame =
    a.unionByName(b).groupBy(col(sourceCol), col("len"))
      .agg(sum(col("cnt")).as("cnt"))

  /** EXACT nearest-rank percentiles from a (source, len, cnt)
    * histogram: percentile p = the smallest len whose cumulative
    * count reaches ceil(p/100 · n). The comparison is pure integer
    * cross-multiplication (cum·100 ≥ n·p) — no float ever enters, so
    * any engine replays it bit-for-bit (the q_unigram_xent
    * discipline: never let a double cross an engine boundary).
    *
    * Scale shape: the windows partition by source over the
    * HISTOGRAM's rows — sources × distinct lengths, bounded by max
    * doc length, NOT by corpus size — so the per-source window task
    * is small no matter how many docs a source holds; the doc-scale
    * work all happened in the histogram's one combinable aggregate. */
  def percentilesFromHistogram(hist: DataFrame, sourceCol: String,
                               percents: Seq[Int] = Seq(25, 50, 75, 90))
      : DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "percents must be within [1, 100]")
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(col(sourceCol)).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(sourceCol))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val aggs = max(col("n")).as("docs") +: percents.map(p =>
      min(when(col("cum") * 100 >= col("n") * p, col("len"))).as(s"p$p"))
    cum.groupBy(col(sourceCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-source token-length percentiles — the datasheet's
    * distribution column set ([[sourceStats]] carries min/max/avg;
    * this answers "how long is a TYPICAL src12 doc, and where's the
    * p90 tail" — the first triage stat for a mixture rebalance).
    * Histogram + rank cut; see [[percentilesFromHistogram]]. */
  def sourcePercentiles(df: DataFrame, sourceCol: String, textCol: String,
                        percents: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame =
    percentilesFromHistogram(
      lengthHistogramBySource(df, sourceCol, textCol), sourceCol, percents)

  /** Canonical text normalization — the pass that runs BEFORE any
    * content hash so spelling-equivalent bytes dedup together:
    * Unicode NFC (native codegen'd [[graft.functions.NfcNormalize]] —
    * precomposed and decomposed accents unify), lowercase, collapse
    * every whitespace run to one space, trim. Pure map-side column;
    * each step is a standard pure function, so the whole chain is
    * engine-replayable (q_normalize_text). */
  def normalizeText(textCol: String): Column =
    expr(s"trim(regexp_replace(lower(graft_nfc($textCol)), '\\\\s+', ' '))")

  /** Per-document n-gram NOVELTY — how much of each doc is new
    * relative to everything before it in `idCol` order (ingestion
    * order in a crawl, time order in a feed): a gram is novel in the
    * doc with the MINIMUM id containing it, and a doc's novelty is
    * its fraction of first-introduced grams. The novelty-decay curve
    * this produces is the standard diminishing-returns diagnostic
    * for corpus growth ("the crawl's last month added 2% new
    * trigrams"), and per-doc scores feed novelty-weighted sampling.
    *
    * Shape: one gram explode + one (gram → min id) aggregate + one
    * join back on the gram key. The first-introduction table is
    * deduped (ONE row per distinct gram — build side), so a
    * boilerplate gram shared by millions of docs is probe-side skew
    * only, which hash joins absorb; compare [[contamination]], whose
    * train side collapses the same way. All counts exact integers —
    * engine-replayable. Output: (doc_id, n_grams, novel_grams,
    * novelty round-6). */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    val ex = docs.select(col(idCol).as("doc_id"),
        explode(stringShingles(textCol, n)).as("gram"))
    val first = ex.groupBy(col("gram")).agg(min(col("doc_id")).as("first_id"))
    ex.join(first, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_id"), 1L).otherwise(0L))
          .as("novel_grams"))
      .select(col("doc_id"), col("n_grams"), col("novel_grams"),
        round(col("novel_grams").cast("double")
          / col("n_grams").cast("double"), 6).as("novelty"))
  }

  /** The BPE symbol markers: U+001F opens and U+001E closes each
    * symbol (chr(31)/chr(30) in the oracle), both outside every
    * printable corpus alphabet. Two markers, not one shared
    * delimiter: the merge pattern ends at r's CLOSE marker and the
    * next occurrence starts at its own OPEN marker, so back-to-back
    * occurrences never share a character and one left-to-right
    * non-overlapping replace() pass IS exactly BPE's greedy merge
    * (see [[bpeMerges]]). Shared by training and [[bpeWordPieces]]
    * application — one wire format, one replay. */
  private[graft] val BpeOpen = "\u001f"
  private[graft] val BpeClose = "\u001e"

  /** BPE MERGE-TABLE training — the tokenizer-vocabulary induction
    * step of a training-data pipeline, as a deterministic Spark loop:
    * classic byte-pair encoding over the corpus's word-frequency
    * dictionary (the HF-tokenizers training shape — the corpus is
    * scanned ONCE into (distinct word, count); every merge round
    * touches only the dictionary, whose size is the vocabulary, not
    * the corpus). Each round: count adjacent symbol pairs weighted by
    * word count (overlapping adjacencies all count, the standard BPE
    * statistic), pick the most frequent with a lexicographic (l, r)
    * tie-break — fully deterministic — and rewrite every word's
    * symbol sequence by merging that pair leftmost-non-overlapping.
    *
    * The rewrite IS engine `replace()`: each symbol is WRAPPED as
    * open+sym+close (U+001F / U+001E), and the merge replaces
    * open+l+close+open+r+close with open+lr+close. The two-marker
    * wrapping is load-bearing: the pattern ends at r's CLOSE marker
    * and the next occurrence starts at its own OPEN marker, so
    * back-to-back occurrences never share a character and one
    * left-to-right non-overlapping replace() pass IS exactly BPE's
    * greedy merge — including runs ("banana" merging (a,n) yields
    * [b, an, an, a]; a single shared delimiter would consume the
    * boundary and miss the second merge). Both engines' replace()
    * scan identically, so the whole TRAINING LOOP replays in SQL —
    * q_bpe_vocab hash-pins all `merges` rounds via unrolled
    * MATERIALIZED stages, where float-based trainers couldn't pin
    * round one. No regex anywhere: the initial per-character split
    * is substr arithmetic, and symbol extraction is a close→open
    * translate + split.
    *
    * Per round: one partial-agg shuffle over the dictionary's pair
    * explosion + a ONE-ROW collect (the argmax — the k-means
    * centroid-read precedent) + a map-side rewrite, checkpointed so
    * round plans don't stack. Output: (rank, left, right, pair_cnt)
    * — the ordered merge table, i.e. the trained tokenizer artifact. */
  def bpeMerges(docs: DataFrame, textCol: String, merges: Int = 8): DataFrame = {
    require(merges >= 1, "bpeMerges needs merges >= 1")
    // U+001F opens and U+001E closes each symbol — chr(31)/chr(30) in
    // the oracle; both outside every printable corpus alphabet. Two
    // markers, not one shared delimiter: see the Scaladoc, this is
    // what makes one replace() pass exact on back-to-back runs.
    val o = BpeOpen
    val cl = BpeClose
    val sp = docs.sparkSession
    import sp.implicits._
    var cur = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        array_join(expr(
          s"transform(sequence(1, length(w)), i -> concat('$o', substr(w, i, 1), '$cl'))"),
          "").as("repr"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= merges && !exhausted) {
      // symbols = translate close markers to open, split on open, drop
      // empties — the exact list the oracle rebuilds with
      // replace(chr(30)->chr(31)) + string_split
      val syms = cur.select(col("cnt"),
        expr(s"filter(split(translate(repr, '$cl', '$o'), '$o'), x -> x != '')")
          .as("syms"))
      val best = syms
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) = (best(0).getAs[String]("l"), best(0).getAs[String]("r"),
          best(0).getAs[Long]("c"))
        out += ((rank, l, r, n))
        cur = cur.select(col("cnt"),
          call_function("replace", col("repr"),
            lit(o + l + cl + o + r + cl), lit(o + l + r + cl)).as("repr"))
          .localCheckpoint()
        rank += 1
      }
    }
    out.toSeq.toDF("rank", "left", "right", "pair_cnt")
  }

  /** BPE ENCODE — apply a trained merge table ([[bpeMerges]] output)
    * to a word dictionary: each merge is replayed ONCE, in rank
    * order, as the same marker-wrapped `replace()` the trainer runs.
    * That makes the semantics exact by construction: encoding the
    * training corpus reproduces the trainer's final dictionary state
    * segmentation bit-for-bit (the trainer IS this rewrite sequence
    * applied to the same dictionary), and OOV words get the identical
    * one-pass-in-rank-order rule. The deliberate divergence from
    * Sennrich's re-scan encoder: a pair RE-EXPOSED by a later merge
    * (rank-5's product landing adjacent to a rank-3 operand) is not
    * re-merged — re-scanning would make encode disagree with the
    * trainer's own segmentation of the very corpus it trained on,
    * which is the wrong trade for corpus token accounting.
    *
    * Scale shape: all work is DICTIONARY-sized (distinct words, i.e.
    * the corpus vocabulary — millions of rows at 100 TB, not
    * trillions), and the merge table rides into the plan as literal
    * `replace()` chains, `chunkSize` merges per projection with a
    * localCheckpoint between chunks so a 50k-merge production vocab
    * neither builds one 50k-deep expression tree (codegen/analysis
    * blowup) nor stacks 50k plan nodes. The merge-table collect is a
    * bounded model-artifact fetch (vocab-sized — the k-means
    * centroid-read precedent).
    *
    * Returns (w, pieces array<string>, n_pieces) — the encode
    * dictionary; join it to any (doc, word) exploded frame. */
  def bpeWordPieces(words: DataFrame, wordCol: String,
                    mergeTable: DataFrame,
                    chunkSize: Int = 64): DataFrame = {
    require(chunkSize >= 1, "bpeWordPieces needs chunkSize >= 1")
    val o = BpeOpen
    val cl = BpeClose
    val ms = mergeTable.select("rank", "left", "right").orderBy("rank")
      .collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    var cur = words
      .select(col(wordCol).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .withColumn("repr", array_join(expr(
        s"transform(sequence(1, length(w)), i -> concat('$o', substr(w, i, 1), '$cl'))"),
        ""))
    val chunks = ms.grouped(chunkSize).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val replaced = chunk.foldLeft(col("repr")) { case (c, (l, r)) =>
        call_function("replace", c,
          lit(o + l + cl + o + r + cl), lit(o + l + r + cl))
      }
      cur = cur.withColumn("repr", replaced)
      if (i < chunks.size - 1) cur = cur.localCheckpoint()
    }
    cur.select(col("w"),
      expr(s"filter(split(translate(repr, '$cl', '$o'), '$o'), x -> x != '')")
        .as("pieces"))
      .withColumn("n_pieces", size(col("pieces")))
  }

  /** Tokenizer-TRUE per-doc token counts under a trained BPE vocab —
    * the number the pipeline's budgets, mix ratios and packing caps
    * should be denominated in ([[tokenCount]] counts whitespace
    * words; [[tokenEstimate]] guesses chars/4; this COUNTS what the
    * tokenizer actually emits). One corpus pass explodes to
    * (doc, word, count), the [[bpeWordPieces]] dictionary is built
    * over the distinct words only, and a word-key equi-join + one
    * partial-agg shuffle produces per-doc sums — the corpus-sized
    * side never carries piece arrays, just one long per (doc, word).
    * Docs with no words (empty/null text) count 0. Same single-space
    * tokenizer as the trainer, so dictionary coverage is total —
    * every corpus word hits the dictionary by construction. */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     mergeTable: DataFrame,
                     chunkSize: Int = 64): DataFrame = {
    val dw = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    val dict = bpeWordPieces(dw.select("w"), "w", mergeTable, chunkSize)
      .select(col("w"), col("n_pieces"))
    val sums = dw.join(dict, "w")
      .groupBy(col(idCol))
      .agg(sum(col("c") * col("n_pieces")).as("__bpe"))
    docs.select(col(idCol))
      .join(sums, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__bpe"), lit(0L)).as("bpe_tokens"))
  }

  /** BPE piece→id VOCABULARY — the deterministic id table that turns
    * [[bpeWordPieces]] piece strings into the integers a trainer
    * mmaps: base characters first (every distinct character of the
    * corpus's words, binary-sorted, ids 0..nBase−1 — the byte-fallback
    * tier, so any future word over this alphabet encodes), then merge
    * PRODUCTS (`left || right`) in rank-of-creation order. A product
    * string reachable by two different merge paths (or colliding with
    * a base character) gets ONE id, at its first creation rank — the
    * HF-vocab dedup rule — so (piece → id) is a bijection.
    *
    * Scale shape: the alphabet scan is one corpus pass reduced to a
    * distinct-character aggregate (output = alphabet-sized); the id
    * assignment windows run over alphabet+vocab rows — model-artifact
    * sized, so the single-partition `row_number` windows are k-row by
    * construction, never corpus-sized. Output: (piece, id int). */
  def bpeVocab(docs: DataFrame, textCol: String,
               mergeTable: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val baseChars = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))")).as("piece"))
      .distinct()
    // the base tier is referenced THREE times below (union side,
    // product anti-join, count) — checkpoint the alphabet-sized frame
    // so the corpus-wide distinct-character pass runs once, not three
    // times (and the k-row window materializes once)
    val base = baseChars
      .select(col("piece"),
        (row_number().over(Window.orderBy("piece")) - 1).cast("int").as("id"))
      .localCheckpoint()
    val products = mergeTable
      .select(concat(col("left"), col("right")).as("piece"), col("rank"))
      .groupBy("piece").agg(min(col("rank")).as("rk"))
      .join(base.select("piece"), Seq("piece"), "left_anti")
    val nBase = base.agg(count(lit(1)).as("__nb"))
    val merged = products
      .crossJoin(broadcast(nBase))
      .select(col("piece"),
        (col("__nb") + row_number().over(Window.orderBy("rk")) - 1)
          .cast("int").as("id"))
    base.unionByName(merged)
  }

  /** Per-word piece-ID arrays — the [[bpeWordPieces]] dictionary with
    * every piece string swapped for its [[bpeVocab]] id, order
    * preserved: (w, ids array<int>). All dictionary-sized; total
    * coverage by construction (every dictionary piece is a base
    * character of a corpus word or a merge product, and both tiers
    * are in the vocab), so the piece join is lossless. */
  def bpeWordIds(words: DataFrame, wordCol: String, vocab: DataFrame,
                 mergeTable: DataFrame, chunkSize: Int = 64): DataFrame =
    bpeWordPieces(words, wordCol, mergeTable, chunkSize)
      .select(col("w"), posexplode(col("pieces")).as(Seq("pi", "piece")))
      .join(vocab, "piece")
      .groupBy(col("w"))
      .agg(expr("transform(array_sort(collect_list(struct(pi, id))), x -> x.id)")
        .as("ids"))

  /** Per-doc TOKEN-ID SEQUENCES under a trained BPE vocab — the last
    * step between this pipeline and trainer-consumable shards:
    * [[bpeTokenCounts]] stops at counts; this emits the actual
    * `array<int>` (words in document order, each word's pieces in
    * piece order, ids from [[bpeVocab]]). Wordless docs emit an empty
    * array, never null.
    *
    * Scale shape: the dictionary side ([[bpeWordIds]]) is vocab-sized;
    * the CORPUS side carries only (doc, position, word) — one
    * word-key equi-join attaches each word's id array, and one
    * per-doc aggregate reassembles the sequence via a position-sorted
    * flatten. The corpus never carries piece STRINGS, and per-doc
    * arrays are bounded by document length (the same bound every
    * downstream context window imposes anyway). */
  def bpeIdSequences(docs: DataFrame, idCol: String, textCol: String,
                     mergeTable: DataFrame,
                     chunkSize: Int = 64): DataFrame = {
    val vocab = bpeVocab(docs, textCol, mergeTable)
    val dwp = docs
      .select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val wid = bpeWordIds(dwp.select("w"), "w", vocab, mergeTable, chunkSize)
    val seqs = dwp.join(wid, "w")
      .groupBy(col(idCol))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(pos, ids))), x -> x.ids))")
        .as("__ids"))
    docs.select(col(idCol))
      .join(seqs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__ids"), array().cast("array<int>")).as("ids"))
      .withColumn("n_ids", size(col("ids")))
  }

  /** PACKED training bins with their id payloads — the
    * [[packSequences]] assignment (BPE-denominated: the stream unit
    * is each doc's id-sequence length, identical to
    * [[bpeTokenCounts]] by construction) with each (shard, bin)
    * emitting the concatenation of its member docs' [[bpeIdSequences]]
    * arrays in stream order — i.e. the shard files a trainer reads.
    * One extra per-(shard, bin) aggregate over the packed corpus;
    * docs crossing a bin boundary belong to the bin holding their
    * first token, exactly as the concatenated stream does. Output:
    * (shard, bin, n_docs, n_ids, ids). */
  def bpePackedIdBins(docs: DataFrame, idCol: String, textCol: String,
                      mergeTable: DataFrame, ctxTokens: Int = 2048,
                      shards: Int = 32, chunkSize: Int = 64): DataFrame = {
    require(ctxTokens > 0 && shards > 0)
    val seqs = bpeIdSequences(docs, idCol, textCol, mergeTable, chunkSize)
    // the [[packSequences]] window INLINED (same shard/tok_start/bin
    // arithmetic, pinned equal by the shared q_pack_bpe oracle window)
    // so the id payload rides the single pass — calling packSequences
    // and joining back would evaluate the whole id pipeline twice.
    // Measured r22 (interleaved A/B): a decide-with-small-rows
    // restructure (persist seqs, run the window over (id, n_ids)
    // only, join the bin assignment back) lost ~1.5-2 s at sf0.1 —
    // the cache write/read of the id payload plus the extra join
    // exchange cost more than keeping the payload in the window's
    // shard exchange; payload movement is 2 bounded exchanges either
    // way, and window parallelism at scale is governed by `shards`.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    seqs
      .withColumn("shard", pmod(col(idCol), lit(shards)))
      .withColumn("tok_start",
        sum(col("n_ids").cast("long")).over(w) - col("n_ids"))
      .withColumn("bin", floor(col("tok_start") / ctxTokens))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ids").cast("long")).as("n_ids"),
        expr(s"flatten(transform(array_sort(collect_list(struct(`$idCol`, ids))), x -> x.ids))")
          .as("ids"))
  }

  /** BPE DECODE + round-trip certification — the inverse of
    * [[bpeIdSequences]], and the proof a pipeline wants before it
    * deletes raw text in favor of id shards: every word's piece-id
    * array is mapped back through the inverted [[bpeVocab]] bijection
    * (id → piece), pieces concatenate back to the word (lossless by
    * construction — merges only ever concatenate), and words
    * reassemble in document order. Output: (idCol, decoded, ok) with
    * `decoded` the reconstructed text and `ok` whether it equals the
    * single-space-normalized original (split on ' ', empty tokens
    * dropped, rejoined with ' ' — the exact token stream the encoder
    * consumed; a doc that differs only in consecutive spaces decodes
    * ok = true against its normalized form by design). An all-true
    * `ok` column certifies the id emission is invertible end-to-end:
    * vocab bijectivity, per-word piece order, per-doc word order.
    *
    * Scale shape: identical to [[bpeIdSequences]] — decode tables are
    * dictionary-sized (the word→decoded-word table is built once over
    * distinct words), the corpus side carries (doc, pos, word), one
    * word-key equi-join, one per-doc position-sorted reassembly. */
  def bpeDecode(docs: DataFrame, idCol: String, textCol: String,
                mergeTable: DataFrame, chunkSize: Int = 64): DataFrame = {
    val vocab = bpeVocab(docs, textCol, mergeTable)
    val dwp = docs
      .select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val wid = bpeWordIds(dwp.select("w"), "w", vocab, mergeTable, chunkSize)
    val wdec = wid
      .select(col("w"), posexplode(col("ids")).as(Seq("pi", "id")))
      .join(vocab, "id")
      .groupBy(col("w"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(pi, piece))), x -> x.piece), '')")
        .as("w_dec"))
    val dec = dwp.join(wdec, "w")
      .groupBy(col(idCol))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(pos, w_dec))), x -> x.w_dec), ' ')")
        .as("__dec"))
    docs
      .select(col(idCol), expr(
        s"array_join(filter(split(coalesce($textCol, ''), ' '), x -> x != ''), ' ')")
        .as("__norm"))
      .join(dec, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__dec"), lit("")).as("decoded"),
        (coalesce(col("__dec"), lit("")) === col("__norm")).as("ok"))
  }

  /** BPE ENCODE UNDER A STORED VOCAB with an explicit OUT-OF-VOCAB
    * tier — the production serve shape [[bpeIdSequences]] cannot
    * honestly claim: that operator's vocab is built from the corpus
    * being encoded, so coverage is total by construction. Encoding a
    * NEW corpus under a train-once vocab (the `bpeMergeMemo`
    * train-once/serve-many deployment) meets characters the training
    * alphabet never saw; a real tokenizer byte-falls-back (GPT-2) or
    * emits `<unk>` — this implements the `<unk>` contract:
    *
    *  - merges replay exactly as at train time ([[bpeWordPieces]] —
    *    an unseen character can never match a merge operand, so it
    *    survives as its own single-character piece);
    *  - every piece found in `vocab` keeps its id; every piece NOT in
    *    `vocab` (exactly the unseen characters) maps to the RESERVED
    *    id `|vocab|` — one past the last assigned id, the appended
    *    `<unk>` row of the HF convention, computed distributively
    *    (1-row broadcast, no collect);
    *  - `n_unk` counts the fallback uses per word/doc, so corpus
    *    coverage of a stored vocab is an aggregate away.
    *
    * Output: (w, ids array<int>, n_unk) — dictionary-sized, the
    * [[bpeWordIds]] scale shape. */
  def bpeWordIdsWithVocab(words: DataFrame, wordCol: String,
                          vocab: DataFrame, mergeTable: DataFrame,
                          chunkSize: Int = 64): DataFrame = {
    val unk = broadcast(vocab.agg(count(lit(1)).cast("int").as("__unk")))
    bpeWordPieces(words, wordCol, mergeTable, chunkSize)
      .select(col("w"), posexplode(col("pieces")).as(Seq("pi", "piece")))
      .join(vocab, Seq("piece"), "left")
      .crossJoin(unk)
      .groupBy(col("w"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pi, coalesce(id, __unk) AS uid))), x -> x.uid)")
          .as("ids"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_unk"))
  }

  /** Per-doc token-id sequences of a corpus DISJOINT from the vocab's
    * training corpus — [[bpeIdSequences]]'s cross-corpus form, with
    * the [[bpeWordIdsWithVocab]] `<unk>` tier and a per-doc `n_unk`
    * coverage count. Wordless docs emit an empty array and n_unk 0.
    * Scale shape identical to [[bpeIdSequences]]: the dictionary side
    * is vocab-sized, the corpus side carries (doc, pos, word), one
    * word-key equi-join, one per-doc position-sorted reassembly. */
  def bpeIdSequencesWithVocab(docs: DataFrame, idCol: String,
                              textCol: String, vocab: DataFrame,
                              mergeTable: DataFrame,
                              chunkSize: Int = 64): DataFrame = {
    val dwp = docs
      .select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val wid = bpeWordIdsWithVocab(dwp.select("w"), "w", vocab, mergeTable,
      chunkSize)
    val seqs = dwp.join(wid, "w")
      .groupBy(col(idCol))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(pos, ids))), x -> x.ids))")
        .as("__ids"),
        sum(col("n_unk")).as("__unk"))
    docs.select(col(idCol))
      .join(seqs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__ids"), array().cast("array<int>")).as("ids"),
        coalesce(col("__unk"), lit(0L)).as("n_unk"))
      .withColumn("n_ids", size(col("ids")))
  }

  /** Cross-corpus DECODE + round-trip certification under a stored
    * vocab — [[bpeDecode]]'s OOV-aware form: the reserved `<unk>` id
    * decodes to U+FFFD (the Unicode replacement character — one per
    * out-of-alphabet source character, since each unseen character is
    * exactly one unk piece), and `ok` compares against the HONEST
    * expectation: the single-space-normalized original with every
    * character OUTSIDE the vocab's base alphabet replaced by U+FFFD.
    * An all-true `ok` certifies the encode→ids→decode loop loses
    * nothing BUT the explicitly-marked OOV characters — the strongest
    * invertibility statement a fallback tokenizer can make. */
  def bpeDecodeWithVocab(docs: DataFrame, idCol: String, textCol: String,
                         vocab: DataFrame, mergeTable: DataFrame,
                         chunkSize: Int = 64): DataFrame = {
    val rep = "�"
    val dwp = docs
      .select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val wid = bpeWordIdsWithVocab(dwp.select("w"), "w", vocab, mergeTable,
      chunkSize)
    // id → piece with the unk id (absent from the vocab table by
    // construction) decoding to the replacement character
    val wdec = wid
      .select(col("w"), posexplode(col("ids")).as(Seq("pi", "id")))
      .join(vocab, Seq("id"), "left")
      .groupBy(col("w"))
      .agg(expr(
        s"array_join(transform(array_sort(collect_list(struct(pi, coalesce(piece, '$rep') AS p))), x -> x.p), '')")
        .as("w_dec"))
    // expected: each distinct word with out-of-alphabet characters
    // masked — alphabet membership is a left join of the word's
    // characters against the vocab's single-character (base) tier
    val wexp = dwp.select("w").distinct()
      .select(col("w"), posexplode(expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))"))
        .as(Seq("ci", "piece")))
      .join(vocab.filter(length(col("piece")) === 1), Seq("piece"), "left")
      .groupBy(col("w"))
      .agg(expr(
        s"array_join(transform(array_sort(collect_list(struct(ci, CASE WHEN id IS NULL THEN '$rep' ELSE piece END AS p))), x -> x.p), '')")
        .as("w_exp"))
    val dec = dwp.join(wdec, "w").join(wexp, "w")
      .groupBy(col(idCol))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(pos, w_dec))), x -> x.w_dec), ' ')")
        .as("__dec"),
        expr(
          "array_join(transform(array_sort(collect_list(struct(pos, w_exp))), x -> x.w_exp), ' ')")
          .as("__exp"))
    docs
      .select(col(idCol))
      .join(dec, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__dec"), lit("")).as("decoded"),
        (coalesce(col("__dec"), lit("")) === coalesce(col("__exp"), lit("")))
          .as("ok"))
  }

  /** Tokenizer FERTILITY by source — the standard tokenizer-quality
    * number (pieces emitted per word; 1.0 = every word kept whole):
    * per source, total words, total pieces under the trained merge
    * table, fertility = pieces/words, and the unsplit-word fraction.
    * A tokenizer trained on one distribution shows its bias here —
    * out-of-domain sources pay more pieces per word, which is more
    * sequence length for the same text; this is the table that
    * decision is made from (train longer? bigger vocab? per-domain
    * merges?).
    *
    * Shape: the corpus collapses to per-(source, word) counts, the
    * [[bpeWordPieces]] dictionary is built once over distinct words,
    * one word-key equi-join, one k-row aggregate. Ratios are exact
    * integer divisions rounded at read-out. */
  def bpeFertility(docs: DataFrame, textCol: String, sourceCol: String,
                   mergeTable: DataFrame, chunkSize: Int = 64): DataFrame = {
    val sw = docs
      .select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val dict = bpeWordPieces(sw.select("w"), "w", mergeTable, chunkSize)
      .select(col("w"), col("n_pieces"))
    sw.join(dict, "w")
      .groupBy("source")
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n_pieces")).as("n_pieces"),
        sum(when(col("n_pieces") === 1, col("c")).otherwise(lit(0L)))
          .as("__whole"))
      .select(col("source"), col("n_words"), col("n_pieces"),
        round(col("n_pieces").cast("double")
          / col("n_words").cast("double"), 6).as("fertility"),
        round(col("__whole").cast("double")
          / col("n_words").cast("double"), 6).as("pct_unsplit"))
  }

  /** Zipf-law fit over the term-frequency ranking — the corpus-health
    * diagnostic (natural text follows cnt ∝ rank^s with s ≈ −1;
    * boilerplate floods, template spam, or synthetic text bend the
    * tail): ordinary least squares of ln(cnt) on ln(rank) over the
    * top `topK` terms. Output is ONE row (n_terms, slope, intercept).
    *
    * Exactness: ln(rank)/ln(cnt) are 1e-6 fixed-point longs, the five
    * OLS sums are integer aggregates, and the closed-form slope
    * numerator/denominator are computed in DECIMAL(38,0) from those
    * exact sums (k·Σxy and Σx·Σy pass 2^63 around topK ≈ 500) — one
    * double division each at read-out, so the row hash-pins. Shape:
    * one combinable term-count aggregate, a TakeOrdered top-K cut,
    * and a k-row single-partition window for the rank — model-sized
    * by construction, never corpus-sized. */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int = 100): DataFrame = {
    require(topK >= 3, s"zipfFit needs topK >= 3, got $topK")
    import org.apache.spark.sql.expressions.Window
    val top = docs
      .select(explode(expr(tokensSql(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(topK)
    val ranked = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
      .select(
        expr("cast(round(ln(cast(rank as double)) * 1e6) as bigint)").as("x"),
        expr("cast(round(ln(cast(cnt as double)) * 1e6) as bigint)").as("y"))
    ranked
      .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("k").as("n_terms"),
        round(expr(
          """cast(cast(k as decimal(38,0)) * cast(sxy as decimal(38,0))
            |     - cast(sx as decimal(38,0)) * cast(sy as decimal(38,0))
            |   as double)
            | / cast(cast(k as decimal(38,0)) * cast(sxx as decimal(38,0))
            |     - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0))
            |   as double)""".stripMargin), 6).as("slope"),
        round(expr(
          """(cast(sy as double)
            |  - (cast(cast(k as decimal(38,0)) * cast(sxy as decimal(38,0))
            |       - cast(sx as decimal(38,0)) * cast(sy as decimal(38,0))
            |     as double)
            |   / cast(cast(k as decimal(38,0)) * cast(sxx as decimal(38,0))
            |       - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0))
            |     as double)) * cast(sx as double))
            |/ cast(k as double) / 1e6""".stripMargin), 6).as("intercept"))
  }

  /** Distribution DRIFT between two corpora — exact total-variation
    * distance over unigram frequencies, plus the top-K terms driving
    * it: the "did this refresh change what the model will read"
    * check [[graft.operators.CorpusDiff]] (row identity) and
    * [[contamination]] (membership) can't answer, because a corpus
    * can keep every doc_id and still shift its token mix.
    *
    * TV = ½ Σ_t |p_a(t) − p_b(t)|, computed WITHOUT a float sum:
    * per-term |cnt_a·N_b − cnt_b·N_a| is exact wide-integer
    * cross-multiplication (DECIMAL(38,0) here, HUGEINT in the
    * replay — cnt·N overflows a long once both corpora pass ~3·10^9
    * tokens), summed exactly, with ONE final double division — the
    * q_unigram_xent fixed-point discipline, which is what lets a
    * 50-row answer derived from billions of float-sized fractions
    * hash-pin. KL/χ² rank hot terms similarly but need cross-engine
    * logs; TV needs only |·|, so exactness is free.
    *
    * Shape at scale: two combinable term-count aggregates, a full
    * outer equi-join on term (a term missing from one side counts
    * 0), scalar totals riding broadcast, and a TakeOrdered top-K by
    * (cross, term) — never a global sort. Output: one row per top-K
    * term (term, cnt_a, cnt_b, drift round-6) with the corpus-wide
    * `total_tv` round-6 on every row. */
  def termDrift(a: DataFrame, b: DataFrame, textCol: String,
                topK: Int = 50): DataFrame = Caches.scoped { caches =>
    require(topK >= 1, "termDrift needs topK >= 1")
    def counts(df: DataFrame, out: String) =
      df.select(explode(tokens(textCol)).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as(out))
    val ca = counts(a, "cnt_a")
    val cb = counts(b, "cnt_b")
    // the final plan reads this frame FOUR times (totals, the TV
    // scalar, and the top-K branch each re-reach it) — persist so the
    // corpus-wide tokenize+count+join runs once
    val joined = caches.persist(ca.join(cb, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b")))
    val totals = joined.agg(sum(col("cnt_a")).as("na"),
      sum(col("cnt_b")).as("nb"))
    val crossed = joined.crossJoin(broadcast(totals))
      .withColumn("cross",
        abs(col("cnt_a").cast("decimal(38,0)") * col("nb")
          - col("cnt_b").cast("decimal(38,0)") * col("na")))
    // na/nb are row-constant; grouping on them keeps one group and
    // makes them legal alongside the aggregate
    val tv = crossed.groupBy(col("na"), col("nb"))
      .agg(sum(col("cross")).as("sum_cross"))
      .select(round(col("sum_cross").cast("double")
        / (lit(2.0) * col("na").cast("double") * col("nb").cast("double")),
        6).as("total_tv"))
    crossed
      .orderBy(col("cross").desc, col("term"))
      .limit(topK)
      .withColumn("drift", round(col("cross").cast("double")
        / (col("na").cast("double") * col("nb").cast("double")), 6))
      .select(col("term"), col("cnt_a"), col("cnt_b"), col("drift"))
      .crossJoin(broadcast(tv))
  }

  /** The MERGEABLE form of [[sourceStats]] — the incremental-pipeline
    * variant: emit only ASSOCIATIVE stats (counts, exact sums,
    * min/max), so yesterday's datasheet plus today's delta merge in
    * O(sources) without rescanning the corpus — at 100 TB the
    * difference between a daily full pass and a delta pass. Derived
    * ratios (avg_*) are deliberately absent here: they don't merge;
    * [[finalizeSourceStats]] computes them at read time from the
    * exact sums. One partial-agg shuffle, same as [[sourceStats]]. */
  def sourceStatsMergeable(df: DataFrame, idCol: String, sourceCol: String,
                           textCol: String): DataFrame =
    df.withColumn("__graft_n_tokens", tokenCount(textCol))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("docs"),
        sum(col("__graft_n_tokens")).as("total_tokens"),
        sum(length(col(textCol)).cast("long")).as("total_chars"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))

  /** Merge two mergeable datasheets (same schema as
    * [[sourceStatsMergeable]]) — counts/sums add, min/max combine; a
    * source present in only one side passes through. Associative and
    * commutative, so any tree of deltas folds to the full-corpus
    * sheet exactly (q_stats_merge hash-pins merge(evens, odds) ==
    * full). Cost: a union of two k-row frames + a k-key aggregate —
    * no corpus data touched. The key is named explicitly (the union
    * aligns BY NAME, so a reloaded sheet with reordered columns must
    * not silently group by a positional guess). */
  def mergeSourceStats(a: DataFrame, b: DataFrame,
                       sourceCol: String = "source"): DataFrame = {
    val g = a.unionByName(b).groupBy(sourceCol)
    g.agg(sum(col("docs")).as("docs"),
      sum(col("total_tokens")).as("total_tokens"),
      sum(col("total_chars")).as("total_chars"),
      min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"))
  }

  /** Read-time ratios over a (merged) mergeable datasheet: averages
    * from the exact sums, round-6 — one double division per source,
    * deterministic regardless of how many deltas were merged. */
  def finalizeSourceStats(m: DataFrame): DataFrame =
    m.withColumn("avg_tokens",
        round(col("total_tokens").cast("double")
          / col("docs").cast("double"), 6))
      .withColumn("avg_chars",
        round(col("total_chars").cast("double")
          / col("docs").cast("double"), 6))

  /** Deterministic per-source downsampling — the data-MIXING step of
    * corpus assembly (keep 100% of the curated source, 10% of the
    * crawl, …): each row survives iff the md5 prefix of its id falls
    * under its source's keep-rate threshold. Same engine-replayable
    * mechanism as [[hashSplit]] — membership is a pure function of
    * (id, source), stable across runs/partitionings/engines, map-side
    * CASE, no shuffle, no sampler state; re-running with a raised
    * rate strictly grows the kept set (nested samples, the property
    * mixing ablations rely on). Sources absent from `rates` keep
    * `defaultRate`. */
  def sourceMix(df: DataFrame, idCol: String, sourceCol: String,
                rates: Map[String, Double],
                defaultRate: Double = 1.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0,1]")
    // "g" sorts above every hex digit: rate 1.0 keeps everything
    // (f"%08x" of 2^32 would be 9 chars and lexicographically LOSE
    // to 8-char hashes)
    def thr(r: Double): String =
      if (r >= 1.0) "g" else f"${math.floor(r * 4294967296.0).toLong}%08x"
    val hex = substring(md5(col(idCol).cast("string").cast("binary")), 1, 8)
    // typed when-chain, not string-assembled SQL: source names are
    // DATA (arbitrary user strings) and must never reach the parser
    val threshold = rates.toSeq.sortBy(_._1)
      .foldLeft(Option.empty[Column]) { case (acc, (s, r)) =>
        val cond = col(sourceCol) === lit(s)
        Some(acc.fold(when(cond, lit(thr(r))))(_.when(cond, lit(thr(r)))))
      }
      .map(_.otherwise(lit(thr(defaultRate))))
      .getOrElse(lit(thr(defaultRate)))
    df.filter(hex < threshold)
  }

  /** Deterministic train/val/test assignment keyed on a hash of the
    * id — the reproducible-split primitive of a training-data
    * pipeline: stable across runs, machines, partitionings and
    * engines, with no shuffle and no sampling state (a `sample()`
    * split changes membership whenever partitioning does). The first
    * 8 md5 hex chars of the id are compared lexicographically against
    * fraction thresholds; md5 — not xxhash64 — precisely so any
    * external engine can replay the exact assignment (the DuckDB
    * oracle in [[graft.queries.TextPack]] does). Map-side CASE, one
    * codegen'd projection. */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)] =
                  Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${splits.map(_._2).sum}")
    val hex = s"substring(md5(cast(cast($idCol as string) as binary)), 1, 8)"
    val caseExpr =
      if (splits.size == 1) s"'${splits.head._1}'"
      else {
        val whens = splits.init.zip(splitThresholds(splits)).map {
          case ((name, _), t) => s"WHEN $hex < '$t' THEN '$name'"
        }.mkString(" ")
        s"CASE $whens ELSE '${splits.last._1}' END"
      }
    df.withColumn("split", expr(caseExpr))
  }

  /** HTML → text extraction — the step upstream of every text filter
    * when the corpus arrives as crawled markup: script/style blocks
    * (content AND tags) removed first, then comments, then every
    * remaining tag, then the five core entities decoded, whitespace
    * collapsed, trimmed. Two deliberate choices keep it
    * engine-replayable: patterns avoid backreferences (RE2 — the
    * DuckDB engine — has none, so script and style get separate
    * patterns), and `&amp;` decodes LAST so double-encoded text
    * (`&amp;lt;`) correctly yields `&lt;`, not `<`. Pure chained
    * `regexp_replace`/`replace` — map-side, codegen'd, zero shuffle,
    * embarrassingly parallel at any scale. Null propagates. */
  def stripHtml(textCol: String): Column = {
    val noScript = regexp_replace(col(textCol),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        call_function("replace", c, lit(from), lit(to))
      }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** The scored per-token transition stream both LM passes share:
    * one row per token of `textCol` (empty whitespace tokens
    * dropped), carrying the PREVIOUS token (null for the doc's first
    * token) — the (history, word) pairs a bigram model conditions
    * on. Map-side flatMap via explode; tokenize + filter let-bound
    * once per row; the size-0 guard exists because Spark's
    * `sequence(1, 0)` counts DOWN ([1, 0]) instead of yielding
    * empty. */
  private[graft] def lmTransitions(df: DataFrame, textCol: String): Column = {
    val filtered = s"filter(split(coalesce($textCol, ''), ' '), x -> x != '')"
    expr(graft.functions.Let.let1(filtered, "toks")(
      """CASE WHEN size(toks) = 0
        |  THEN cast(array() as array<struct<prev: string, cur: string>>)
        |  ELSE transform(sequence(1, size(toks)),
        |    i -> struct(
        |      CASE WHEN i = 1 THEN cast(null as string)
        |           ELSE element_at(toks, i - 1) END as prev,
        |      element_at(toks, i) as cur)) END""".stripMargin))
  }

  /** The five-way Stupid-Backoff log-score as a SQL string over
    * columns (c_ab, prev, c_cur, c_prev) and the reference-total
    * column/literal `nRefExpr` — shared LITERALLY by the batch scorer
    * ([[lmPerplexity]]) and the streaming twin
    * ([[graft.streaming.EventStream.lmScoreStream]]), so the two can
    * never drift. The result is ln(S)·1e9, pre-round — callers apply
    * `round(...).cast("bigint")` (the fixed-point step).
    *
    * Constants go through string→double casts, not bare decimal
    * literals: Spark parses 0.4 as DECIMAL and DuckDB as
    * DECIMAL(2,1), and the two engines' decimal→double promotion
    * points differ (0.4·0.4 is exactly 0.16 in decimal but
    * 0.16000000000000003 in doubles) — strtod of the shortest
    * round-trip repr is bit-identical everywhere. α² is
    * pre-multiplied in Scala for the same reason. */
  private[graft] def lmLogProbSql(alpha: Double, nRefExpr: String): String = {
    val a = s"cast('$alpha' as double)"
    val a2 = s"cast('${alpha * alpha}' as double)"
    s"""ln(CASE
       |  WHEN c_ab IS NOT NULL
       |    THEN cast(c_ab as double) / cast(c_prev as double)
       |  WHEN prev IS NOT NULL AND c_cur IS NOT NULL
       |    THEN $a * cast(c_cur as double) / cast($nRefExpr as double)
       |  WHEN prev IS NOT NULL
       |    THEN $a2 / cast($nRefExpr as double)
       |  WHEN c_cur IS NOT NULL
       |    THEN cast(c_cur as double) / cast($nRefExpr as double)
       |  ELSE $a / cast($nRefExpr as double) END) * 1e9""".stripMargin
  }

  /** Reference-corpus unigram counts — the (token, count) vocabulary
    * table a Stupid-Backoff LM backs off to. One column-pruned scan +
    * one partial-agg shuffle; output is dictionary-sized. */
  def lmUnigramCounts(ref: DataFrame, textCol: String): DataFrame =
    ref.select(explode(expr(
        s"filter(split(coalesce($textCol, ''), ' '), x -> x != '')")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** Reference-corpus consecutive-bigram counts (w1, w2, c_ab).
    * `minCount` prunes the singleton tail BEFORE the table is ever
    * joined — a pruned bigram is simply UNSEEN to the scorer, which
    * backs off to the unigram path, exactly how a production LM caps
    * its model size (at 100 TB the unpruned bigram table rivals the
    * corpus; the pruned one is vocabulary-shaped). */
  def lmBigramCounts(ref: DataFrame, textCol: String,
                     minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"lmBigramCounts needs minCount >= 1, got $minCount")
    ref.select(explode(lmTransitions(ref, textCol)).as("tr"))
      .filter(col("tr.prev").isNotNull)
      .groupBy(col("tr.prev").as("w1"), col("tr.cur").as("w2"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
  }

  /** Mergeable LM maintenance — count tables are associative sums, so
    * yesterday's model + today's delta merge in O(vocabulary) without
    * rescanning either corpus (the [[sourceStatsMergeable]]
    * discipline). Fit deltas UNPRUNED (minCount = 1) and prune after
    * the merge: a threshold applied before merging drops mass a later
    * delta might have pushed over the cut. */
  def lmMergeUnigramCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("tok").agg(sum(col("c")).as("c"))

  /** Bigram-table twin of [[lmMergeUnigramCounts]]; `minCount` prunes
    * AFTER the merged sum. */
  def lmMergeBigramCounts(a: DataFrame, b: DataFrame,
                          minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"lmMergeBigramCounts needs minCount >= 1, got $minCount")
    a.unionByName(b).groupBy("w1", "w2").agg(sum(col("c_ab")).as("c_ab"))
      .filter(col("c_ab") >= minCount)
  }

  /** Stupid-Backoff bigram perplexity — the CCNet-style LM quality
    * filter (Wenzek et al. 2020 filter by reference-corpus
    * perplexity; Brants et al. 2007 define the backoff): every doc
    * scored against a reference model, low-perplexity ≈ looks like
    * the reference. Score of token w after history p (α = `alpha`):
    *
    *   S(w | p) = c(p,w)/c(p)   if the bigram is in `biCounts`
    *            = α · S(w)      otherwise
    *   S(w)     = c(w)/N        if w is in `uniCounts` (N = Σ c)
    *            = α / N         otherwise (OOV floor)
    *
    * The doc's first token (no history) scores S(w) directly. Output:
    * (doc_id, n_tokens, avg_logp, ppl) with avg_logp = Σ ln S / n
    * (round 6) and ppl = exp(−avg_logp) (round 6); docs with no
    * tokens keep n_tokens 0 and null scores — the caller's
    * drop-or-keep decision, not ours.
    *
    * Scale shape: the corpus side collapses to per-doc DISTINCT
    * (prev, cur) transitions with multiplicities before any join
    * (natural-language repetition makes this a big cut), then three
    * hash equi-joins against dictionary-sized build sides — bigram
    * table, vocabulary twice — with the 1-row total riding broadcast.
    * Zipf-hot tokens are probe-side skew only. Each surviving row
    * takes ONE ln over one exact integer-count ratio, rounded to a
    * 1e-9 fixed-point long and weighted by the multiplicity, so the
    * per-doc sum is integer arithmetic — partition-order independent
    * and engine-replayable (the [[pmiBigrams]]/[[tokenEntropy]]
    * discipline). */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
                   uniCounts: DataFrame, biCounts: DataFrame,
                   alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val uniTot = uniCounts.agg(sum(col("c")).as("n_ref"))
    val pairs = docs
      .select(col(idCol), explode(lmTransitions(docs, textCol)).as("tr"))
      .groupBy(col(idCol), col("tr.prev").as("prev"), col("tr.cur").as("cur"))
      .agg(count(lit(1)).as("m"))
    val scored = pairs
      .join(biCounts.select(col("w1").as("prev"), col("w2").as("cur"),
        col("c_ab")), Seq("prev", "cur"), "left")
      .join(uniCounts.select(col("tok").as("cur"), col("c").as("c_cur")),
        Seq("cur"), "left")
      .join(uniCounts.select(col("tok").as("prev"), col("c").as("c_prev")),
        Seq("prev"), "left")
      .crossJoin(broadcast(uniTot))
      .withColumn("__lp",
        col("m") * round(expr(lmLogProbSql(alpha, "n_ref"))).cast("bigint"))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("n_tokens"), sum(col("__lp")).as("__s"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round((col("__s").cast("double") / lit(1e9))
          / col("n_tokens").cast("double"), 6).as("avg_logp"),
        round(exp((col("__s").cast("double") / lit(-1e9))
          / col("n_tokens").cast("double")), 6).as("ppl"))
  }
}
