package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.operators.TextAnalysis

/** Text-analysis suite over `documents`: token counting, quality
  * scoring, language ID (all mirrored in DuckDB SQL so the hash gate
  * applies), and the rolling-hash fingerprint (native Catalyst
  * expression, rows-only + unit-pinned).
  */
object TextPack extends QueryPack {

  /** The conjunctive search probe shared by q_index_search (scan
    * form) and q_index_stored (posting-index form) — same terms, so
    * the two plans must return identical rows under one oracle. */
  private val searchTerms = Seq("spark", "hash", "window")

  /** Trained BPE merge table, once per data dir — the artifact SIX
    * gate queries now share (encode, budget, pack, vocab-ids, ids,
    * packed-id-bins). Training is deterministic, so memoizing changes
    * nothing a hash gate can see; production trains a tokenizer once
    * and every downstream job reads the artifact — the same
    * train-once/serve-many shape as the memoized IVF fit (r17 #6).
    * The memo holds the 8 collected rows (a bounded model artifact)
    * and rebuilds the DataFrame per call. q_bpe_vocab itself keeps
    * calling [[TextAnalysis.bpeMerges]] directly: the training LOOP
    * is what that gate times and pins. */
  private def trainedMerges(s: SparkSession, d: String): DataFrame = {
    val rows = once("bpe-merges", d)(
      TextAnalysis.bpeMerges(Tables.documents(s, d), "text", merges = 8)
        .collect().toSeq.map(r => (r.getInt(0), r.getString(1),
          r.getString(2), r.getLong(3))))
    import s.implicits._
    rows.toDF("rank", "left", "right", "pair_cnt")
  }

  /** The OOV gate's TRAINING-split artifact: merges fit on src0–2
    * only, so encoding the remaining sources is a genuine
    * cross-corpus serve (same memo discipline as [[trainedMerges]]). */
  private def trainedMergesOov(s: SparkSession, d: String): DataFrame = {
    val rows = once("bpe-merges-oov", d)(
      TextAnalysis.bpeMerges(
          Tables.documents(s, d)
            .filter(col("source").isin("src0", "src1", "src2")),
          "text", merges = 8)
        .collect().toSeq.map(r => (r.getInt(0), r.getString(1),
          r.getString(2), r.getLong(3))))
    import s.implicits._
    rows.toDF("rank", "left", "right", "pair_cnt")
  }

  /** The Verify form of q_index_stored times the whole index
    * LIFECYCLE (posting build + partitioned write + probe) — right
    * for the gate, wrong to time: a serving user pays the build once
    * and the probe per query. The bench builds the store on the first
    * invocation only and times the partition-pruned probe alone. */
  /** Warm the posting-index memo off the clock (the override's
    * build-once step; the returned probe frame stays lazy). */
  override def benchWarm(spark: SparkSession, sfDir: String): Unit = {
    benchOverrides("q_index_stored")(spark, sfDir)
    // fit + store the LM and DSIR models off the clock (the
    // overrides then time scoring against the stored models only)
    benchOverrides("q_lm_perplexity")(spark, sfDir)
    benchOverrides("q_dsir_sample")(spark, sfDir)
    // train the shared BPE artifacts off the clock — otherwise the
    // alphabetically-first bpe query pays the whole training loop
    trainedMerges(spark, sfDir)
    trainedMergesOov(spark, sfDir)
    ()
  }

  override def benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the DSIR B-row ratio table is fit once per data dir and stored
    // through the catalog; the bench times the SERVING shape (score +
    // Gumbel draw against the stored model), the production nightly
    // after a one-time fit. Verify keeps the full fit+score lifecycle
    // the gate pins.
    "q_dsir_sample" -> ((s, d) => {
      once("dsir-model", d) {
        val cat = new graft.catalog.Catalog(s, storeRoot("dsirmodel", d))
        val docs = Tables.documents(s, d)
        val target = docs.filter(col("source").isin("src0", "src1", "src2"))
        cat.put("dsir_ratios", graft.operators.DataSelection.dsirRatioTable(
          target, "text", docs, "text", buckets = 1024))
        cat.close()
      }
      val cat = new graft.catalog.Catalog(s, storeRoot("dsirmodel", d))
      val ratios = cat.get("dsir_ratios")
      val docs = Tables.documents(s, d)
      cat.close()
      // the q_dsir_sample chain from the STORED ratio table — the
      // LITERAL serve-path operators (dsirLogWeightsFromRatios +
      // gumbelTopN, the same code dsirResample runs after its fit),
      // so the bench and the gate share one copy of the arithmetic;
      // here the model is read, not refit
      graft.operators.DataSelection.gumbelTopN(
        graft.operators.DataSelection.dsirLogWeightsFromRatios(
          docs, "doc_id", "text", ratios, buckets = 1024),
        "doc_id", n = 100)
    }),

    // LM count tables, fit once per data dir and stored through the
    // catalog: Verify keeps timing fit + score (the gate's pinned
    // lifecycle); the bench times the SERVING shape, scoring the
    // corpus against a stored model as a production pipeline does
    // nightly after fitting once
    "q_lm_perplexity" -> ((s, d) => {
      once("lm-model", d) {
        val cat = new graft.catalog.Catalog(s, storeRoot("lmmodel", d))
        val ref = Tables.documents(s, d)
          .filter(col("source").isin("src0", "src1", "src2"))
        cat.put("lm_uni", TextAnalysis.lmUnigramCounts(ref, "text"))
        cat.put("lm_bi", TextAnalysis.lmBigramCounts(ref, "text", minCount = 2L))
        cat.close()
      }
      val cat = new graft.catalog.Catalog(s, storeRoot("lmmodel", d))
      val out = TextAnalysis.lmPerplexity(Tables.documents(s, d), "doc_id",
        "text", cat.get("lm_uni"), cat.get("lm_bi"))
      cat.close()
      out
    }),

    "q_index_stored" -> ((s, d) => {
      once("posting-index", d) {
        val cat = new graft.catalog.Catalog(s, storeRoot("idxbench", d))
        graft.operators.Search.storePostings(cat, "postings",
          Tables.documents(s, d), "doc_id", "text", buckets = 64)
        cat.close()
      }
      val cat = new graft.catalog.Catalog(s, storeRoot("idxbench", d))
      val out = graft.operators.Search.searchPostings(
        cat.get("postings"), searchTerms, buckets = 64, docCol = "doc_id")
      cat.close()
      out
    }),
  )

  /** DuckDB replay of [[graft.functions.RollingHash]] over a
    * hex-encoded-bytes column `hexCol` (produce it upstream as
    * `lower(hex(encode(<string>)))` so the encode runs once per row):
    * fold pairs of hex digits with HUGEINT intermediates — the
    * 122-bit products RollingHash keeps exact with Math.multiplyHigh
    * fit a HUGEINT directly; a prepended 0 seeds the fold so empty
    * strings hash to 0 on both sides. */
  private[queries] def rollingHashFoldSql(hexCol: String): String =
    s"""CAST(list_reduce(
       |    list_prepend(CAST(0 AS HUGEINT),
       |      list_transform(range(len($hexCol) // 2),
       |        i -> CAST((strpos('0123456789abcdef', $hexCol[2*i+1:2*i+1]) - 1) * 16
       |               + (strpos('0123456789abcdef', $hexCol[2*i+2:2*i+2]) - 1) AS HUGEINT))),
       |    (acc, b) -> (acc * 131 + b) % 2305843009213693951) AS BIGINT)""".stripMargin

  /** DuckDB replay of `conv(<hex>, 16, 10)`: fold `n` leading hex
    * digits of column `hexCol` into a BIGINT (most-significant
    * first). With `hexCol = substr(md5(x), 1, 15)` this is the
    * 60-bit mixed hash of [[graft.operators.Sketch.md5Hash60Sql]] —
    * shared by the q_approx_distinct (KMV) and q_dedup_simhash
    * oracles. */
  private[queries] def hexFoldSql(hexCol: String, n: Int): String =
    s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range($n),
       |        i -> CAST(strpos('0123456789abcdef', $hexCol[i+1:i+1]) - 1 AS BIGINT))),
       |    (acc, d) -> acc * 16 + d)""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Misra–Gries two-pass heavy hitters over the corpus token stream:
    // the candidate pass is a constant-memory sketch, the recount is
    // exact — so the OUTPUT (all terms at >= 0.5% of corpus tokens,
    // with exact counts) replays as a plain GROUP BY / HAVING oracle
    "q_heavy_hitters" -> ((s, d) =>
      graft.operators.Sketch.heavyHitters(
        Tables.documents(s, d)
          .select(explode(expr(TextAnalysis.tokensSql("text"))).as("term")),
        "term", support = 0.005)),

    "q_token_count" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount("text").as("n_tokens"),
        TextAnalysis.tokenEstimate("text").as("n_tokens_bpe"))),

    "q_quality" -> ((s, d) =>
      TextAnalysis.withQuality(Tables.documents(s, d), "text")
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
                "quality_score")),

    "q_lang_id" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.langId("text").as("lang_pred"))),

    "q_fingerprint" -> ((s, d) =>
      TextAnalysis.withFingerprint(s, Tables.documents(s, d), "text")
        .select("doc_id", "fingerprint")),

    "q_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTop(Tables.documents(s, d), "doc_id", "text", k = 3)),

    // BM25 keyword extraction — tfidf's saturating, length-normalized
    // sibling; every score input is an exact integer so the oracle
    // replays the doubles bit-for-bit (see the operator's scaladoc)
    "q_bm25" -> ((s, d) =>
      TextAnalysis.bm25Top(Tables.documents(s, d), "doc_id", "text", k = 3)),

    // corpus-LM quality signal: per-doc unigram cross-entropy in nats
    // against the corpus's own term distribution (fixed-point
    // contributions — deterministic under any partitioning)
    "q_unigram_xent" -> ((s, d) =>
      TextAnalysis.unigramCrossEntropy(Tables.documents(s, d), "doc_id",
        "text")),

    // pretraining sequence prep: overlapping 32-token windows every 24
    // tokens (8-token overlap), trailing chunks shorter, never empty
    "q_chunk" -> ((s, d) =>
      TextAnalysis.chunkTokens(Tables.documents(s, d), "doc_id", "text",
        window = 32, stride = 24)),

    // tokenizer prep: top-200 vocabulary with cumulative coverage
    "q_vocab" -> ((s, d) =>
      TextAnalysis.vocab(Tables.documents(s, d), "doc_id", "text",
        topK = 200)),

    // corpus datasheet: token-length distribution in buckets of 50
    "q_length_hist" -> ((s, d) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, d), "text",
        bucketSize = 50)),

    // PII audit: per-doc email/phone/url pattern counts
    "q_pii" -> ((s, d) =>
      TextAnalysis.piiStats(Tables.documents(s, d), "doc_id", "text")),

    // intra-doc repetition removal: first occurrence of each segment
    // survives in order (space-separated here — the synthetic corpus
    // has no newlines, same reasoning as q_boilerplate). text is
    // coalesced to '' on BOTH sides (as q_chunk does): Spark's
    // split(NULL) would emit a (doc_id, NULL) row while DuckDB's
    // unnest over NULL emits none, and the doc would vanish from the
    // oracle only
    "q_dedup_segments" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("text", coalesce(col("text"), lit("")))
        .select(col("doc_id"),
          TextAnalysis.dedupSegments("text", sep = " ").as("deduped"))),

    // corpus-relative quality gate: keep the top quartile by
    // quality_score, threshold computed from the distribution itself
    // (broadcast scalar, not a global window)
    "q_quality_filter" -> ((s, d) =>
      TextAnalysis.qualityFilter(Tables.documents(s, d), "text", q = 0.75)
        .select("doc_id", "quality_score")),

    // scrubbing transform: redact digit runs (the PII-scrub shape —
    // swap the pattern for emails/SSNs/etc. in a real pipeline)
    "q_scrub" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "[0-9]+", "<NUM>").as("scrubbed"))),

    // deterministic 80/10/10 split keyed on md5(doc_id) — summarized
    // per split (count + id range) so the oracle hash-checks both the
    // sizes AND the membership boundaries
    "q_hash_split" -> ((s, d) =>
      TextAnalysis.hashSplit(Tables.documents(s, d), "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("cnt"), min("doc_id").as("min_id"),
             max("doc_id").as("max_id"))),

    // domain-domination guard: at most 12 docs per source,
    // deterministic id order
    "q_source_cap" -> ((s, d) =>
      TextAnalysis.sourceCap(Tables.documents(s, d), "source", "doc_id",
        cap = 12).select("doc_id", "source")),

    // corpus datasheet: per-source counts and content stats
    "q_source_stats" -> ((s, d) =>
      TextAnalysis.sourceStats(Tables.documents(s, d), "doc_id", "source",
        "text")),

    // datasheet distribution columns: exact per-source token-length
    // percentiles via the mergeable (source, len, cnt) histogram +
    // integer rank cut — the "how long is a typical src12 doc"
    // triage stat min/max/avg can't answer
    "q_source_percentiles" -> ((s, d) =>
      TextAnalysis.sourcePercentiles(Tables.documents(s, d), "source",
        "text")),

    // BPE tokenizer-vocabulary training: 8 merge rounds over the
    // word-frequency dictionary, each fully deterministic (max pair
    // count, lexicographic tie-break, leftmost-non-overlap rewrite
    // via engine replace()) — the whole TRAINING LOOP sits under the
    // hash gate, where float-based trainers couldn't pin round one
    "q_bpe_vocab" -> ((s, d) =>
      TextAnalysis.bpeMerges(Tables.documents(s, d), "text", merges = 8)),

    // BPE ENCODE: the trained merge table APPLIED back to the corpus
    // — tokenizer-true per-doc token counts (what budgets and mix
    // ratios should be denominated in). All heavy work is
    // dictionary-sized; the whole train+apply round trip sits under
    // the hash gate via the same staged-CTE replay as q_bpe_vocab
    "q_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.bpeTokenCounts(docs, "doc_id", "text",
        trainedMerges(s, d))
    }),

    // the piece→id VOCABULARY over the trained merges: base alphabet
    // binary-sorted first (the byte-fallback tier), merge products in
    // rank-of-creation order, first-creation dedup — deterministic,
    // so the whole id assignment sits under the hash gate
    "q_bpe_vocab_ids" -> ((s, d) =>
      TextAnalysis.bpeVocab(Tables.documents(s, d), "text",
        trainedMerges(s, d))),

    // per-doc TOKEN-ID sequences — the trainer-consumable emission.
    // The gate projects the array to its space-joined rendering so
    // the hash pins BOTH the id assignment and the sequence order
    // (the compare sorts rows by column values; an array column
    // would be unsortable on the oracle side)
    "q_bpe_ids" -> ((s, d) =>
      TextAnalysis.bpeIdSequences(Tables.documents(s, d), "doc_id", "text",
        trainedMerges(s, d))
        .select(col("doc_id"),
          expr("array_join(transform(ids, x -> cast(x as string)), ' ')")
            .as("ids_str"),
          col("n_ids"))),

    // packed bins WITH their id payloads: the actual shard content a
    // trainer mmaps, one row per (shard, bin), ids concatenated in
    // stream order — same string rendering as q_bpe_ids
    "q_pack_bpe_ids" -> ((s, d) =>
      TextAnalysis.bpePackedIdBins(Tables.documents(s, d), "doc_id", "text",
        trainedMerges(s, d), ctxTokens = 2048, shards = 8)
        .select(col("shard"), col("bin"), col("n_docs"), col("n_ids"),
          expr("array_join(transform(ids, x -> cast(x as string)), ' ')")
            .as("ids_str"))),

    // q_token_budget_mix's tokenizer-true twin: the same prefix rule,
    // but budgets denominated in BPE tokens under the trained vocab
    // instead of whitespace word counts
    "q_token_budget_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text",
        trainedMerges(s, d))
      graft.operators.Sampling.tokenBudgetSample(
          docs.join(counts, "doc_id"), "source", "doc_id",
          col("bpe_tokens"),
          Map("src0" -> 3000L, "src1" -> 4500L), defaultBudget = 1500L)
        .select("doc_id", "source")
    }),

    // corpus-version DRIFT: exact total-variation distance over
    // unigram frequencies between the corpus and its partially
    // rewritten next version (the q_corpus_diff construction), plus
    // the top terms driving it — integer cross-multiplication, one
    // final division, so the whole distribution comparison hash-pins
    "q_term_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val newV = docs.withColumn("text",
        when(col("doc_id") % 3 === 0, upper(col("text")))
          .otherwise(col("text")))
      TextAnalysis.termDrift(docs, newV, "text", topK = 50)
    }),

    // data mixing: deterministic per-source keep rates (25% of src0,
    // 50% of src1, all of everything else)
    "q_mix" -> ((s, d) =>
      TextAnalysis.sourceMix(Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 0.25, "src1" -> 0.5))
        .select("doc_id", "source")),

    // intra-doc repetition (boilerplate/spam signal): fraction of
    // 3-gram occurrences that repeat an earlier gram in the same doc
    "q_repetition" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.repetitionScore("text", n = 3).as("repetition"))),

    // cross-doc boilerplate removal (C4/CCNet line-dedup shape): the
    // synthetic corpus has no newlines, so the driver query segments
    // on spaces — segments in >300 of the docs are "boilerplate" and
    // get stripped, survivors reassemble in original order (the '\n'
    // production default is pinned with planted lines in
    // BoilerplateSpec)
    "q_boilerplate" -> ((s, d) =>
      TextAnalysis.stripBoilerplate(Tables.documents(s, d), "doc_id", "text",
        sep = " ", maxDocFreq = 300L)
        // the operator preserves every doc column; the oracle replays
        // just the scrub, so project to the (id, text) pair it checks
        .select("doc_id", "text")),

    // sequence packing: every doc assigned its (shard, bin, offset)
    // in the concatenated fixed-window token stream
    "q_pack" -> ((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
        ctxTokens = 2048, shards = 8)),

    // packing denominated in TOKENIZER-true units: the same
    // shard/bin/offset assignment, but the concatenated stream is
    // measured in trained-BPE tokens — what the context window
    // actually holds (q_pack's whitespace count only approximates)
    "q_pack_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text",
        trainedMerges(s, d))
      TextAnalysis.packSequences(docs.join(counts, "doc_id"), "doc_id",
        "text", ctxTokens = 2048, shards = 8,
        tokensCol = Some(col("bpe_tokens")))
    }),

    // train→eval decontamination check: odd doc_ids stand in for the
    // eval split, even for train. String-gram variant so DuckDB can
    // replay the gram universe exactly (the hashed scale path joins
    // 8-byte longs instead and differs only by mod-P collisions —
    // ContaminationSpec pins the two paths equal at test scale)
    "q_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.contamination(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, hashed = false)
    }),

    // corpus-wide top bigrams (two shuffles: bigram count, then top-k).
    // Tokens are let-bound so split(text) runs once per row, not once
    // per bigram; <2-token docs yield an empty array (explode drops
    // them — same rows the old size-filter removed).
    "q_top_bigrams" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(expr(graft.functions.Let.let1(
          graft.operators.TextAnalysis.tokensSql("text"), "toks")(
          """CASE WHEN size(toks) < 2 THEN cast(array() as array<string>)
            |ELSE transform(sequence(0, size(toks) - 2),
            |  i -> concat_ws(' ', slice(toks, i + 1, 2))) END""".stripMargin)))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(20)),

    // source-relative quality calibration: percent_rank of the
    // quality score WITHIN each source — "top 10% of the crawl" and
    // "top 10% of curated" are different absolute bars, and
    // cross-source cuts on raw scores silently over-prune the noisy
    // domain; (score, doc_id) is a total order, so the rank — and
    // the (rank−1)/(n−1) percent — is exact and engine-replayable
    "q_quality_calibration" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      TextAnalysis.withQuality(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"), col("quality_score"))
        .withColumn("pct", round(percent_rank().over(
          Window.partitionBy(col("source"))
            .orderBy(col("quality_score"), col("doc_id"))), 6))
    }),

    // EXACT ROC-AUC of the quality score as a ranker of the lang=='en'
    // population — the measurement behind every quality-gate threshold
    // decision. Mann–Whitney with midrank ties, all-integer until one
    // final division, so the oracle replays the score AND the rank
    // arithmetic and the hash pins the full estimator.
    "q_filter_auc" -> ((s, d) =>
      graft.operators.Eval.rocAuc(
        TextAnalysis.withQuality(Tables.documents(s, d), "text")
          .select(col("quality_score"),
            (col("lang") === "en").cast("int").as("label")),
        "quality_score", "label")),

    // the reliability diagram for the same score/label: 10 equal-width
    // score bins, per bin count / positives / exact fixed-point mean
    // score / positive rate — calibrated == pos_rate tracks mean_score
    "q_filter_calibration" -> ((s, d) =>
      graft.operators.Eval.calibrationBins(
        TextAnalysis.withQuality(Tables.documents(s, d), "text")
          .select(col("quality_score"),
            (col("lang") === "en").cast("int").as("label")),
        "quality_score", "label", bins = 10)),

    // canonical text normalization: native codegen'd Unicode NFC
    // (graft_nfc) + lowercase + whitespace collapse + trim — the
    // pre-hash canonicalization pass; NFC is a Unicode-standard pure
    // function, so DuckDB's nfc_normalize replays it byte-for-byte
    "q_normalize_text" -> ((s, d) => {
      graft.functions.NfcNormalize.register(s)
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.normalizeText("text").as("normalized"))
    }),

    // deterministic weighted sampling (Efraimidis–Spirakis): exactly
    // 50 docs with odds ∝ token count, keys from the md5-derived
    // uniform — no RNG, no sampler state, top-n via TakeOrdered
    "q_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedSample(
          Tables.documents(s, d), "doc_id",
          TextAnalysis.tokenCount("text"), n = 50)
        .select("doc_id", "source")),

    // cross-corpus overlap triage: |A|, |B|, |A∪B| by KMV over the
    // shared 60-bit hash, intersection by inclusion–exclusion — the
    // one-row planning number before any cross-corpus dedup; evens'
    // vs odds' token vocabularies here
    "q_corpus_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        docs.filter(p(col("doc_id")))
          .select(explode(expr(TextAnalysis.tokensSql("text"))).as("term"))
      graft.operators.Sketch.kmvOverlap(
        toks(_ % 2 === 0), toks(_ % 2 === 1), "term")
    }),

    // ingestion-order novelty: a gram is novel in the min-id doc
    // containing it; the per-doc novel fraction is the corpus-growth
    // diminishing-returns diagnostic
    "q_novelty" -> ((s, d) =>
      TextAnalysis.noveltyScore(Tables.documents(s, d), "doc_id", "text")),

    // per-doc token-distribution stats: Shannon entropy + type-token
    // ratio from the doc's OWN histogram (the no-corpus-model
    // repetition signal) — fixed-point ln sums, q_unigram_xent style
    "q_token_entropy" -> ((s, d) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, d), "doc_id", "text")),

    // incremental datasheet maintenance: merge(evens, odds) must
    // equal the full-corpus sheet EXACTLY (associative sums/min/max;
    // ratios computed at read time from the merged sums) — the hash
    // gate pins the merge path against the one-pass oracle
    "q_stats_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.finalizeSourceStats(
        TextAnalysis.mergeSourceStats(
          TextAnalysis.sourceStatsMergeable(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "source", "text"),
          TextAnalysis.sourceStatsMergeable(
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "source", "text")))
    }),

    // per-source hot terms (the domain-profile report): exact counts,
    // top-5 per source via the shared salted top-k dispatch
    "q_source_top_terms" -> ((s, d) =>
      graft.operators.Skew.saltedTopK(
          Tables.documents(s, d)
            .select(col("source"),
              explode(expr(TextAnalysis.tokensSql("text"))).as("term"))
            .groupBy("source", "term").agg(count(lit(1)).as("cnt")),
          Seq("source"),
          Seq(col("cnt").desc, col("term").asc), 5,
          rankCol = "rank",
          saltCols = Seq(col("source"), col("term")))),

    // PMI collocations: bigrams scoring above chance co-occurrence —
    // exact integer counts into ONE ln() per surviving bigram
    // (round 6; no float sums), minCount=5 prunes the hapax tail
    // before any join
    "q_pmi" -> ((s, d) =>
      TextAnalysis.pmiBigrams(Tables.documents(s, d), "text", minCount = 5L)),

    // count-min sketch frequency estimation: depth×width counters
    // (bounded shuffle regardless of vocabulary size), point-queried
    // for the terms of every 101st doc. The md5-derived bucket
    // arithmetic is engine-replayable, so the gate hash-checks an
    // actual sketch — same trick as q_approx_distinct's KMV
    "q_cms_freq" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(expr(TextAnalysis.tokensSql("text"))).as("term"))
      val probes = Tables.documents(s, d).filter(col("doc_id") % 101 === 0)
        .select(explode(expr(TextAnalysis.tokensSql("text"))).as("term"))
      graft.operators.Sketch.cmsFreq(toks, "term", probes,
        width = 4096, depth = 4)
    }),

    // deterministic exact-size stratified sample: 5 docs per source,
    // selected by content-hash rank — stable under repartitioning,
    // unlike df.sample's binomial per-partition draw
    "q_sample_stratified" -> ((s, d) =>
      graft.operators.Sampling.stratifiedSample(
          Tables.documents(s, d), "source", "doc_id", n = 5)
        .select("source", "doc_id")),

    // deterministic epoch shuffle: the training-read permutation as a
    // pure function of (doc_id, epoch) — md5 sort key + 8-way shard
    // from the same hash; the emitted (shard, sort_key) pair fully
    // determines the order the loader reads, and the oracle replays
    // both columns byte-for-byte
    "q_epoch_shuffle" -> ((s, d) =>
      graft.operators.Sampling.epochShuffle(
          Tables.documents(s, d), "doc_id", epoch = 1, shards = 8)
        .select("doc_id", "shard", "sort_key")),

    // epoch composition: per-source TOKEN budgets (not row counts) —
    // keep docs in content-hash order until the budget is spent
    "q_token_budget_mix" -> ((s, d) =>
      graft.operators.Sampling.tokenBudgetSample(
          Tables.documents(s, d), "source", "doc_id",
          TextAnalysis.tokenCount("text"),
          Map("src0" -> 500L, "src1" -> 800L), defaultBudget = 300L)
        .select("doc_id", "source")),

    // conjunctive keyword search, scan form: substring prefilter
    // (StringContains pushdown) + exact token membership, one narrow
    // pass, no shuffle
    "q_index_search" -> ((s, d) =>
      graft.operators.Search.searchAllTerms(
        Tables.documents(s, d), "doc_id", "text", searchTerms)),

    // exact phrase search: consecutive-token match via a sliding
    // n-word window, substring prefilter pushed to the scan
    "q_phrase_search" -> ((s, d) =>
      graft.operators.Search.searchPhrase(
        Tables.documents(s, d), "doc_id", "text", "a agg batch")),

    // ranked retrieval: top-10 docs for the same bag-of-terms query
    // by Okapi BM25 — corpus stats are two scalar aggs, everything
    // wide is candidate-bounded, contributions fixed-point so the
    // doubles hash-match the replay
    "q_search_ranked" -> ((s, d) =>
      graft.operators.Search.bm25Search(
        Tables.documents(s, d), "doc_id", "text", searchTerms, k = 10)),

    // the same query through a stored posting index partitioned by
    // term-hash bucket: the probe reads only the matching bucket
    // directories (planning-time PartitionFilters, pinned in
    // SearchSpec) and intersects posting rows of the probed terms only
    "q_index_stored" -> ((s, d) => {
      val cat = new graft.catalog.Catalog(s, storeRoot("idxstore", d))
      graft.operators.Search.storePostings(cat, "postings",
        Tables.documents(s, d), "doc_id", "text", buckets = 64)
      val out = graft.operators.Search.searchPostings(
        cat.get("postings"), searchTerms, buckets = 64, docCol = "doc_id")
      cat.close()
      out
    }),

    // HTML → text extraction over deterministically synthesized
    // markup: each doc's text wrapped in tags + a script block +
    // entities, then stripped — the hash pins that extraction
    // recovers the original (whitespace-collapsed) text plus the
    // decoded entity fragment
    "q_strip_html" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), concat(
          lit("<html><head><style>body { color: red; }</style></head>" +
            "<body><!-- crawl\nartifact --><p>"),
          col("text"),
          lit("</p><script type=\"text/javascript\">var x = 1 < 2;\n" +
            "</script><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot;" +
            "&nbsp;end</div></body></html>")).as("__html"))
        .select(col("doc_id"),
          TextAnalysis.stripHtml("__html").as("extracted"))),

    // tokenizer round-trip certification: ids → pieces → words →
    // docs through the inverted vocab; `ok` all-true is the proof
    // the id emission is invertible before raw text is dropped
    "q_bpe_roundtrip" -> ((s, d) =>
      TextAnalysis.bpeDecode(Tables.documents(s, d), "doc_id", "text",
        trainedMerges(s, d))),

    // BPE cross-corpus encode under a STORED vocab with the `<unk>`
    // fallback tier: merges + vocab fit on src0–2 ONLY, then the
    // remaining sources — with 'a'→'x', 'e'→'z' planted (x/z are
    // outside the corpus alphabet at every SF, canaried in
    // BpeOovSpec) — encode under that vocab; unseen characters map to
    // the reserved id |vocab| and are counted per doc, so the
    // production serve shape (train once, encode new corpora forever)
    // is hash-pinned INCLUDING its failure tier
    "q_bpe_oov" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("source").isin("src0", "src1", "src2"))
      val eval = docs.filter(!col("source").isin("src0", "src1", "src2"))
        .select(col("doc_id"),
          translate(col("text"), "ae", "xz").as("text"))
      val mt = trainedMergesOov(s, d)
      val vocab = TextAnalysis.bpeVocab(train, "text", mt)
      TextAnalysis.bpeIdSequencesWithVocab(eval, "doc_id", "text", vocab, mt)
        .select(col("doc_id"),
          expr("array_join(transform(ids, x -> cast(x as string)), ' ')")
            .as("ids_str"),
          col("n_ids"), col("n_unk"))
    }),

    // whole-doc (next-fit) packing: docs never split across training
    // windows — the padding-for-integrity trade of q_pack's exact
    // stream slicing; sequential per shard, parallel across shards
    "q_pack_whole" -> ((s, d) =>
      TextAnalysis.packSequencesWhole(Tables.documents(s, d), "doc_id",
        "text", ctxTokens = 256, shards = 8)),

    // tokenizer fertility by source: pieces per word under the
    // trained merge table + unsplit fraction — the tokenizer-quality
    // table a vocab decision is made from
    "q_bpe_fertility" -> ((s, d) =>
      TextAnalysis.bpeFertility(Tables.documents(s, d), "text", "source",
        trainedMerges(s, d))),

    // Zipf-law fit over the top-100 term ranking: OLS slope of
    // ln(cnt) on ln(rank) — the corpus-health number (natural text
    // ≈ −1); fixed-point lns, integer OLS sums, DECIMAL(38,0) final
    // products
    "q_zipf" -> ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d), "text", topK = 100)),

    // temperature-scaled source mixing (shares ∝ n^(1/T)) over a
    // deliberately SKEWED grouping (the 4th source char makes group
    // '1' hold 11 of 20 sources): T=2 lifts rare groups, the clamp
    // fires where p·f·N exceeds the group, and membership replays via
    // the 't#' md5 uniform
    "q_temperature_mix" -> ((s, d) =>
      graft.operators.Sampling.temperatureMix(
        Tables.documents(s, d)
          .select(col("doc_id"), substring(col("source"), 4, 1).as("src_group")),
        "doc_id", "src_group", temperature = 2.0, budgetFraction = 0.5)),

    // DSIR importance resampling: 100 of 500 docs drawn ∝ their
    // hashed-unigram likelihood ratio against the src0-2 target —
    // bucket log-ratios are 1e-9 fixed-point longs, the Gumbel-max
    // draw derives from the doc id's md5, so the whole selection
    // replays deterministically
    "q_dsir_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val target = docs.filter(col("source").isin("src0", "src1", "src2"))
      graft.operators.DataSelection.dsirResample(
        docs, "doc_id", "text", target, "text", n = 100, buckets = 1024)
    }),

    // CCNet-style LM quality filter: every doc's Stupid-Backoff
    // bigram perplexity against a reference model fit on sources
    // src0-2 — minCount=2 prunes singleton bigrams so all five
    // backoff branches (seen bigram, backoff-to-seen-unigram,
    // backoff-to-OOV, first-token seen/OOV) fire on real rows; the
    // per-token ln contributions are 1e-9 fixed-point longs, so the
    // doc sums hash-pin
    "q_lm_perplexity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ref = docs.filter(col("source").isin("src0", "src1", "src2"))
      TextAnalysis.lmPerplexity(docs, "doc_id", "text",
        TextAnalysis.lmUnigramCounts(ref, "text"),
        TextAnalysis.lmBigramCounts(ref, "text", minCount = 2))
    }),

    // trainable quality classifier (fastText-shaped): TWO fixed
    // full-batch logistic-regression rounds over hashed-unigram
    // bucket features (+ bias), labels = src0-2 membership — the
    // TRAINING LOOP itself sits under the hash gate via staged-CTE
    // replay (the kMeans/bpeMerges fixed-round discipline; an SGD
    // trainer with shuffled minibatches never could), then the serve
    // path scores the corpus under the fit model. QualityClfSpec
    // pins separation (train→score→AUC) on a planted two-population
    // corpus and fit determinism across repeated fits
    "q_quality_clf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("y",
          when(col("source").isin("src0", "src1", "src2"), 1L).otherwise(0L))
      val w = graft.operators.DataSelection.logregFit(docs, "doc_id", "text",
        "y", buckets = 256, rounds = 2, lr = 1.0)
      graft.operators.DataSelection.logregScore(docs, "doc_id", "text", w,
        buckets = 256)
    }),
  )

  /** Shared CTE prefix for the BPE ENCODE oracles: the q_bpe_vocab
    * training replay with the WORD carried through every rewrite
    * stage (the trainer's s_i keep only (cnt, repr); encode needs
    * w -> final repr), ending in `dict` (w, n_pieces), `dw`
    * (doc_id, w, c) and `cnts` (doc_id, bpe_tokens). Applying each
    * merge once in rank order IS the trainer's rewrite sequence --
    * the exact semantics TextAnalysis.bpeWordPieces implements. */
  private def bpeEncodeCtes(merges: Int,
                            trainSrc: String = "documents"): String = {
    val stages = (1 to merges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, list_filter(
         |          string_split(replace(repr, chr(30), chr(31)), chr(31)),
         |          x -> x != '') AS syms FROM s${i - 1}),
         |       unnest(range(1, greatest(len(syms), 1))) AS t(i)
         |  GROUP BY 1, 2
         |),
         |m$i AS MATERIALIZED (
         |  SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1
         |),
         |s$i AS MATERIALIZED (
         |  SELECT w, cnt, replace(repr,
         |    chr(31) || m.l || chr(30) || chr(31) || m.r || chr(30),
         |    chr(31) || m.l || m.r || chr(30)) AS repr
         |  FROM s${i - 1}, m$i m
         |)""".stripMargin
    }.mkString(",\n")
    s"""w AS (
       |  SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM $trainSrc)
       |  WHERE w != '' GROUP BY 1
       |),
       |s0 AS MATERIALIZED (
       |  SELECT w, cnt, array_to_string(
       |    list_transform(range(1, length(w) + 1),
       |      i -> chr(31) || w[i] || chr(30)), '') AS repr
       |  FROM w
       |),
       |$stages,
       |dict AS (
       |  SELECT w, len(list_filter(
       |    string_split(replace(repr, chr(30), chr(31)), chr(31)),
       |    x -> x != '')) AS n_pieces
       |  FROM s$merges
       |),
       |dw AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  WHERE w != '' GROUP BY 1, 2
       |),
       |cnts AS (
       |  SELECT doc_id, CAST(sum(c * n_pieces) AS BIGINT) AS bpe_tokens
       |  FROM dw JOIN dict USING (w) GROUP BY 1
       |)""".stripMargin
  }

  /** Extends [[bpeEncodeCtes]] with the ID tiers: `vocab` (piece, id)
    * — base alphabet binary-sorted, then merge products `l || r` in
    * first-creation rank order, deduped against the base tier and
    * each other — `wid` (w, ids in piece order) and `dseq` (doc_id,
    * flattened id sequence in word order). The exact arithmetic
    * TextAnalysis.bpeVocab / bpeWordIds / bpeIdSequences run. */
  /** The piece→id tiers over [[bpeEncodeCtes]]'s `w`/`m_i` CTEs —
    * `chars`, `vb`, `mp`, `vocab` — shared by [[bpeIdCtes]] (same-
    * corpus encode) and [[bpeOovCtes]] (cross-corpus encode under the
    * stored vocab). */
  private def bpeVocabCtes(merges: Int): String = {
    val unionMerges = (1 to merges).map(i =>
      s"SELECT $i AS rank, l, r FROM m$i").mkString("\nUNION ALL\n")
    s"""chars AS (
       |  SELECT DISTINCT w[i] AS piece
       |  FROM w, unnest(range(1, length(w) + 1)) AS t(i)
       |),
       |vb AS (
       |  SELECT piece,
       |    CAST(row_number() OVER (ORDER BY piece) - 1 AS INT) AS id
       |  FROM chars
       |),
       |mp AS (
       |  SELECT piece, min(rank) AS rk FROM (
       |    SELECT rank, l || r AS piece FROM ($unionMerges)
       |  ) WHERE piece NOT IN (SELECT piece FROM vb) GROUP BY 1
       |),
       |vocab AS (
       |  SELECT piece, id FROM vb
       |  UNION ALL
       |  SELECT piece, CAST((SELECT count(*) FROM vb)
       |    + row_number() OVER (ORDER BY rk) - 1 AS INT) AS id
       |  FROM mp
       |)""".stripMargin
  }

  private def bpeIdCtes(merges: Int): String = {
    s"""${bpeEncodeCtes(merges)},
       |${bpeVocabCtes(merges)},
       |wid AS (
       |  SELECT w, list(id ORDER BY i) AS ids FROM (
       |    SELECT w, unnest(ps) AS piece, unnest(range(1, len(ps) + 1)) AS i
       |    FROM (SELECT w, list_filter(
       |            string_split(replace(repr, chr(30), chr(31)), chr(31)),
       |            x -> x != '') AS ps
       |          FROM s$merges)
       |  ) JOIN vocab USING (piece)
       |  GROUP BY w
       |),
       |dseq AS (
       |  SELECT doc_id, flatten(list(ids ORDER BY pos)) AS ids FROM (
       |    SELECT doc_id, w, pos FROM (
       |      SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS w,
       |        unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
       |      FROM documents) WHERE w != ''
       |  ) JOIN wid USING (w)
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  /** The q_bpe_oov replay: train (`w`/`s_i`/`m_i`) and the vocab
    * tiers over the TRAINING split only, then replay the same merges
    * over the EVAL corpus's word dictionary (`e_i` — the rewrite
    * TextAnalysis.bpeWordPieces runs on any words), map pieces
    * through a LEFT join against the stored vocab with the reserved
    * id |vocab| for misses (`wid_e` — the bpeWordIdsWithVocab `<unk>`
    * tier), and reassemble per-doc sequences (`dseq_e`). The eval
    * corpus is the non-training sources with 'a'→'x', 'e'→'z'
    * planted (x/z are outside the corpus alphabet at every SF —
    * alphabet canary in BpeOovSpec), so the fallback tier is
    * EXERCISED under the hash, not just defined. */
  private def bpeOovCtes(merges: Int): String = {
    val trainSrc = "(SELECT * FROM documents WHERE source IN ('src0', 'src1', 'src2'))"
    val evalStages = (1 to merges).map { i =>
      s"""e$i AS MATERIALIZED (
         |  SELECT w, replace(repr,
         |    chr(31) || m.l || chr(30) || chr(31) || m.r || chr(30),
         |    chr(31) || m.l || m.r || chr(30)) AS repr
         |  FROM e${i - 1}, m$i m
         |)""".stripMargin
    }.mkString(",\n")
    s"""${bpeEncodeCtes(merges, trainSrc)},
       |${bpeVocabCtes(merges)},
       |ev AS (
       |  SELECT doc_id, translate(text, 'ae', 'xz') AS text
       |  FROM documents WHERE source NOT IN ('src0', 'src1', 'src2')
       |),
       |ew AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM ev)
       |  WHERE w != ''
       |),
       |e0 AS MATERIALIZED (
       |  SELECT w, array_to_string(
       |    list_transform(range(1, length(w) + 1),
       |      i -> chr(31) || w[i] || chr(30)), '') AS repr
       |  FROM ew
       |),
       |$evalStages,
       |wid_e AS (
       |  SELECT w,
       |    list(coalesce(id, (SELECT CAST(count(*) AS INT) FROM vocab))
       |         ORDER BY i) AS ids,
       |    CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
       |  FROM (
       |    SELECT w, unnest(ps) AS piece, unnest(range(1, len(ps) + 1)) AS i
       |    FROM (SELECT w, list_filter(
       |            string_split(replace(repr, chr(30), chr(31)), chr(31)),
       |            x -> x != '') AS ps
       |          FROM e$merges)
       |  ) LEFT JOIN vocab USING (piece)
       |  GROUP BY w
       |),
       |dseq_e AS (
       |  SELECT doc_id, flatten(list(ids ORDER BY pos)) AS ids,
       |    CAST(sum(n_unk) AS BIGINT) AS n_unk
       |  FROM (
       |    SELECT doc_id, w, pos FROM (
       |      SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS w,
       |        unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
       |      FROM ev) WHERE w != ''
       |  ) JOIN wid_e USING (w)
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  private val stop = "('the', 'a', 'an', 'of', 'and', 'to', 'in', 'is', 'for', 'on')"

  override def oracleSql: Map[String, String] = Map(
    // the two-pass output is sketch-free: exactly the terms at
    // >= ceil(0.005 * N) occurrences with their exact counts, N =
    // non-null corpus tokens under the shared single-space tokenizer
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT term, count(*) AS cnt
        |FROM toks, tot
        |GROUP BY term, tot.n
        |HAVING count(*) >= ceil(0.005 * tot.n)
        |""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS n_tokens,
        |  CAST(list_sum(list_transform(
        |    regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]', 0),
        |    t -> CASE WHEN regexp_matches(t, '^[A-Za-z0-9_]')
        |              THEN CAST(ceil(length(t) / 4.0) AS BIGINT)
        |              ELSE 1 END)) AS BIGINT) AS n_tokens_bpe
        |FROM documents""".stripMargin,

    "q_quality" ->
      s"""SELECT doc_id, n_tokens,
         |  round(punct / greatest(n_chars2, 1), 6) AS punct_ratio,
         |  round(stop_hits / greatest(n_tokens, 1), 6) AS stopword_ratio,
         |  round(least(n_tokens / 20.0, 1.0) * 0.4
         |    + (1.0 - least(round(punct / greatest(n_chars2, 1), 6) * 10.0, 1.0)) * 0.3
         |    + least(round(stop_hits / greatest(n_tokens, 1), 6) * 10.0, 1.0) * 0.3, 6)
         |    AS quality_score
         |FROM (
         |  SELECT doc_id,
         |    len(string_split_regex(text, '\\s+')) AS n_tokens,
         |    length(text) AS n_chars2,
         |    length(regexp_replace(text, '[A-Za-z0-9_\\s]+', '', 'g')) AS punct,
         |    len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS stop_hits
         |  FROM documents
         |)""".stripMargin,

    // same score subquery as q_quality; quantile_cont matches Spark's
    // exact `percentile` interpolation on the identical score doubles
    "q_quality_filter" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    round(least(n_tokens / 20.0, 1.0) * 0.4
         |      + (1.0 - least(round(punct / greatest(n_chars2, 1), 6) * 10.0, 1.0)) * 0.3
         |      + least(round(stop_hits / greatest(n_tokens, 1), 6) * 10.0, 1.0) * 0.3, 6)
         |      AS quality_score
         |  FROM (
         |    SELECT doc_id,
         |      len(string_split_regex(text, '\\s+')) AS n_tokens,
         |      length(text) AS n_chars2,
         |      length(regexp_replace(text, '[A-Za-z0-9_\\s]+', '', 'g')) AS punct,
         |      len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS stop_hits
         |    FROM documents
         |  )
         |), thr AS (SELECT quantile_cont(quality_score, 0.75) AS t FROM scored)
         |SELECT doc_id, quality_score FROM scored, thr
         |WHERE quality_score >= t""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, CASE
        |  WHEN en > 0 AND en >= es AND en >= de AND en >= fr THEN 'en'
        |  WHEN es > 0 AND es >= en AND es >= de AND es >= fr THEN 'es'
        |  WHEN de > 0 AND de >= en AND de >= es AND de >= fr THEN 'de'
        |  WHEN fr > 0 AND fr >= en AND fr >= es AND fr >= de THEN 'fr'
        |  ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('the', 'and', 'of', 'to', 'a'))) AS en,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('el', 'la', 'de', 'que', 'y'))) AS es,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS de,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS fr
        |  FROM documents
        |)""".stripMargin,
    // the 2^61-1 modular rolling hash replayed byte-for-byte: UTF-8
    // bytes via hex(encode(text)), the polynomial fold via list_reduce
    // with HUGEINT intermediates (the 122-bit products that
    // RollingHash.hashBytes keeps exact with Math.multiplyHigh fit a
    // HUGEINT directly), seeded by a prepended 0 so empty text folds
    // to 0 on both sides. Was rows-only through round 12; values were
    // only pinned JVM-side in RollingHashSpec.
    "q_fingerprint" ->
      s"""WITH hx AS (
         |  SELECT doc_id, lower(hex(encode(text))) AS h FROM documents
         |)
         |SELECT doc_id,
         |  ${rollingHashFoldSql("h")}
         |    AS fingerprint
         |FROM hx""".stripMargin,

    "q_scrub" ->
      """SELECT doc_id, regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    "q_hash_split" -> {
      // thresholds generated by the same code the operator uses
      val Seq(t1, t2) = TextAnalysis.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""SELECT split, count(*) AS cnt, min(doc_id) AS min_id,
         |  max(doc_id) AS max_id
         |FROM (
         |  SELECT doc_id, CASE
         |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$t1' THEN 'train'
         |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$t2' THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM documents
         |) GROUP BY split""".stripMargin
    },

    "q_source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 12""".stripMargin,

    "q_source_stats" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
        |  round(avg(len(string_split_regex(text, '\s+'))), 4) AS avg_tokens,
        |  round(avg(length(text)), 4) AS avg_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source""".stripMargin,

    // the histogram + integer rank cut replayed: percentile p = min
    // len with cum·100 ≥ n·p — pure integer cross-multiplication, no
    // float crosses the engine boundary; window sums are HUGEINT
    // internally, every OUTPUT casts back to BIGINT
    "q_source_percentiles" ->
      """WITH hist AS (
        |  SELECT source,
        |    greatest(coalesce(len(string_split_regex(text, '\s+')), 0), 0)
        |      AS len,
        |    count(*) AS cnt
        |  FROM documents GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT source, len, cnt,
        |    sum(cnt) OVER (PARTITION BY source ORDER BY len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY source) AS n
        |  FROM hist
        |)
        |SELECT source, CAST(max(n) AS BIGINT) AS docs,
        |  CAST(min(CASE WHEN cum * 100 >= n * 25 THEN len END) AS BIGINT) AS p25,
        |  CAST(min(CASE WHEN cum * 100 >= n * 50 THEN len END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN cum * 100 >= n * 75 THEN len END) AS BIGINT) AS p75,
        |  CAST(min(CASE WHEN cum * 100 >= n * 90 THEN len END) AS BIGINT) AS p90
        |FROM cum GROUP BY 1""".stripMargin,

    // the BPE loop replayed round for round: symbols are WRAPPED
    // chr(31)+sym+chr(30) (open/close — the Spark side's "\u001f" /
    // "\u001e"), so the merge pattern ends at r's CLOSE marker and
    // back-to-back occurrences never share a character: one replace()
    // pass is exact on runs ("banana" really gets both an-merges).
    // Pair counts come from a close-to-open replace + split
    // (overlapping adjacencies all count); same (c DESC, l, r)
    // argmax. MATERIALIZED for the usual unroll reason; range(1, len)
    // is empty for single-symbol words on this engine (Spark guards
    // with size >= 2, same pair set)
    "q_bpe_vocab" -> {
      val stages = (1 to 8).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS c
           |  FROM (SELECT cnt, list_filter(
           |          string_split(replace(repr, chr(30), chr(31)), chr(31)),
           |          x -> x != '') AS syms FROM s${i - 1}),
           |       unnest(range(1, greatest(len(syms), 1))) AS t(i)
           |  GROUP BY 1, 2
           |),
           |m$i AS MATERIALIZED (
           |  SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1
           |),
           |s$i AS MATERIALIZED (
           |  SELECT cnt, replace(repr,
           |    chr(31) || m.l || chr(30) || chr(31) || m.r || chr(30),
           |    chr(31) || m.l || m.r || chr(30)) AS repr
           |  FROM s${i - 1}, m$i m
           |)""".stripMargin
      }.mkString(",\n")
      val union = (1 to 8).map(i =>
        s"SELECT CAST($i AS INT) AS rank, l AS left, r AS right, c AS pair_cnt FROM m$i")
        .mkString("\nUNION ALL\n")
      s"""WITH w AS (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w != '' GROUP BY 1
         |),
         |s0 AS MATERIALIZED (
         |  SELECT cnt, array_to_string(
         |    list_transform(range(1, length(w) + 1),
         |      i -> chr(31) || w[i] || chr(30)), '') AS repr
         |  FROM w
         |),
         |$stages
         |SELECT * FROM (
         |$union
         |) ORDER BY rank""".stripMargin
    },

    // the train+apply round trip replayed: the same staged merge CTEs
    // with the word carried through, final dictionary piece counts
    // joined back per doc (LEFT JOIN: wordless docs count 0)
    "q_bpe_encode" ->
      s"""WITH ${bpeEncodeCtes(8)}
         |SELECT d.doc_id,
         |  coalesce(cnts.bpe_tokens, CAST(0 AS BIGINT)) AS bpe_tokens
         |FROM documents d LEFT JOIN cnts ON d.doc_id = cnts.doc_id""".stripMargin,

    // the id-table replay: alphabet tier + product tier, same binary
    // sort, same first-creation dedup
    "q_bpe_vocab_ids" ->
      s"""WITH ${bpeIdCtes(8)}
         |SELECT piece, id FROM vocab""".stripMargin,

    // per-doc id sequences: the staged train replay carried through
    // word pieces → vocab ids → position-ordered flatten; LEFT JOIN
    // keeps wordless docs as empty sequences
    "q_bpe_ids" ->
      s"""WITH ${bpeIdCtes(8)}
         |SELECT d.doc_id,
         |  coalesce(array_to_string(
         |    list_transform(s.ids, x -> CAST(x AS VARCHAR)), ' '), '')
         |    AS ids_str,
         |  CAST(coalesce(len(s.ids), 0) AS INT) AS n_ids
         |FROM documents d LEFT JOIN dseq s USING (doc_id)""".stripMargin,

    // cross-corpus encode under the src0–2-trained vocab: the same
    // rendering as q_bpe_ids over the OOV replay (train on the split,
    // re-run the merge rewrites on the eval dictionary, LEFT-join
    // pieces to the vocab with the reserved |vocab| id for misses)
    "q_bpe_oov" ->
      s"""WITH ${bpeOovCtes(8)}
         |SELECT d.doc_id,
         |  coalesce(array_to_string(
         |    list_transform(s.ids, x -> CAST(x AS VARCHAR)), ' '), '')
         |    AS ids_str,
         |  CAST(coalesce(len(s.ids), 0) AS INT) AS n_ids,
         |  CAST(coalesce(s.n_unk, 0) AS BIGINT) AS n_unk
         |FROM ev d LEFT JOIN dseq_e s USING (doc_id)""".stripMargin,

    // the q_pack_bpe window re-derived from the id sequences (len(ids)
    // IS the bpe token count by construction), then per-bin payload
    // concatenation in stream (doc_id) order
    "q_pack_bpe_ids" ->
      s"""WITH ${bpeIdCtes(8)},
         |tok AS (
         |  SELECT d.doc_id, coalesce(s.ids, CAST([] AS INT[])) AS ids,
         |    coalesce(len(s.ids), 0) AS n
         |  FROM documents d LEFT JOIN dseq s USING (doc_id)
         |),
         |pk AS (
         |  SELECT doc_id, doc_id % 8 AS shard, ids,
         |    CAST(sum(n) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS tok_start
         |  FROM tok
         |)
         |SELECT shard, CAST(floor(tok_start / 2048.0) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(ids)) AS BIGINT) AS n_ids,
         |  array_to_string(flatten(list(
         |    list_transform(ids, x -> CAST(x AS VARCHAR)) ORDER BY doc_id)),
         |    ' ') AS ids_str
         |FROM pk GROUP BY 1, 2""".stripMargin,

    // the q_token_budget_mix prefix rule with the BPE-token counts as
    // the budget unit: same md5 order, same inclusive cumulative sum
    "q_token_budget_bpe" ->
      s"""WITH ${bpeEncodeCtes(8)},
         |t AS (
         |  SELECT d.doc_id, d.source,
         |    coalesce(cnts.bpe_tokens, CAST(0 AS BIGINT)) AS tok,
         |    md5(coalesce(CAST(d.source AS VARCHAR), '')
         |        || '#' || CAST(d.doc_id AS VARCHAR)) AS sk
         |  FROM documents d LEFT JOIN cnts ON d.doc_id = cnts.doc_id
         |),
         |c AS (
         |  SELECT doc_id, source,
         |    sum(tok) OVER (PARTITION BY source ORDER BY sk, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t
         |)
         |SELECT doc_id, source FROM c
         |WHERE cum <= CASE source WHEN 'src0' THEN 3000
         |                         WHEN 'src1' THEN 4500 ELSE 1500 END""".stripMargin,

    // TV drift replayed: same ' ' tokenizer, full-outer term join,
    // HUGEINT cross-multiplication (the DECIMAL(38,0) twin), one
    // final double division per output — totals promote to HUGEINT
    // via sum() and stay internal
    "q_term_drift" ->
      """WITH ta AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |),
        |tb AS (
        |  SELECT unnest(string_split(
        |    CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END, ' '))
        |    AS term
        |  FROM documents
        |),
        |ca AS (SELECT term, count(*) AS cnt_a FROM ta GROUP BY 1),
        |cb AS (SELECT term, count(*) AS cnt_b FROM tb GROUP BY 1),
        |j AS (
        |  SELECT coalesce(ca.term, cb.term) AS term,
        |    coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
        |),
        |tot AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb FROM j),
        |x AS (
        |  SELECT term, cnt_a, cnt_b, na, nb,
        |    abs(CAST(cnt_a AS HUGEINT) * nb - CAST(cnt_b AS HUGEINT) * na)
        |      AS crs
        |  FROM j, tot
        |),
        |tv AS (
        |  SELECT round(CAST(sum(crs) AS DOUBLE)
        |    / (2.0 * CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)), 6)
        |    AS total_tv
        |  FROM x
        |)
        |SELECT term, cnt_a, cnt_b,
        |  round(CAST(crs AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS drift,
        |  total_tv
        |FROM x, tv
        |ORDER BY crs DESC, term LIMIT 50""".stripMargin,

    // thresholds are floor(rate·2^32) as 8 hex chars, same mechanism
    // the q_hash_split oracle replays; 'g' sorts above all hex = keep
    "q_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE WHEN source = 'src0' THEN '40000000'
        |       WHEN source = 'src1' THEN '80000000'
        |       ELSE 'g' END""".stripMargin,

    // boilerplate removal replayed literally: same split, same
    // distinct-doc frequency threshold, same order-preserving
    // reassembly; LEFT JOIN + coalesce keeps fully-scrubbed docs as ''
    "q_boilerplate" ->
      """WITH segs AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS seg,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents
        |), boiler AS (
        |  SELECT seg FROM segs GROUP BY seg
        |  HAVING count(DISTINCT doc_id) > 300
        |), kept AS (
        |  SELECT doc_id, seg, pos FROM segs
        |  WHERE seg NOT IN (SELECT seg FROM boiler)
        |)
        |SELECT d.doc_id,
        |  coalesce(string_agg(k.seg, ' ' ORDER BY k.pos), '') AS text
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin,

    "q_repetition" ->
      """SELECT doc_id,
        |  round((total - dist) / CAST(total AS DOUBLE), 6) AS repetition
        |FROM (
        |  SELECT doc_id,
        |    greatest(len(string_split(text, ' ')) - 2, 1) AS total,
        |    len(list_distinct(list_transform(
        |      range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |      i -> array_to_string(
        |        list_slice(string_split(text, ' '), i + 1, i + 3), ' ')))) AS dist
        |  FROM documents)""".stripMargin,

    "q_pack" ->
      """SELECT doc_id, shard, CAST(floor(tok_start / 2048.0) AS BIGINT) AS bin,
        |  tok_start
        |FROM (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_start
        |  FROM (
        |    SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens
        |    FROM documents))""".stripMargin,

    // the q_pack window with the BPE-true counts from the staged
    // train+apply replay as the stream unit
    "q_pack_bpe" ->
      s"""WITH ${bpeEncodeCtes(8)},
         |tok AS (
         |  SELECT d.doc_id,
         |    coalesce(cnts.bpe_tokens, CAST(0 AS BIGINT)) AS n_tokens
         |  FROM documents d LEFT JOIN cnts ON d.doc_id = cnts.doc_id
         |)
         |SELECT doc_id, shard, CAST(floor(tok_start / 2048.0) AS BIGINT) AS bin,
         |  tok_start
         |FROM (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_start
         |  FROM tok)""".stripMargin,

    // grams replayed with the identical boundaries (full windows plus
    // the single short gram for <3-token docs); integer `/` is float
    // division in DuckDB, matching Spark column division
    "q_contamination" ->
      """WITH evd AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 2 = 1
        |), trd AS (
        |  SELECT string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 2 = 0
        |), ev AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))) AS g
        |  FROM evd
        |), tr AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(0, greatest(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))) AS g
        |  FROM trd
        |), cnt AS (
        |  SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id
        |), hit AS (
        |  SELECT doc_id, count(*) AS hits FROM ev JOIN tr USING (g) GROUP BY doc_id
        |)
        |SELECT cnt.doc_id, n_grams, coalesce(hits, 0) AS hits,
        |  round(coalesce(hits, 0) / n_grams, 6) AS contamination
        |FROM cnt LEFT JOIN hit USING (doc_id)""".stripMargin,

    "q_top_bigrams" ->
      """SELECT bigram, count(*) AS cnt FROM (
        |  SELECT unnest(list_transform(
        |    range(len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2]
        |  )) AS bigram FROM documents
        |) GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, round(score, 6) AS score, rn FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / dfreq.df) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * ln(n.n / dfreq.df) DESC, tf.term) AS rn
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |) WHERE rn <= 3""".stripMargin,

    // k1+1 is interpolated from the SAME Scala arithmetic the operator
    // runs (1.2 + 1.0) — a hand-written 2.2 literal could differ from
    // the computed sum by one ulp, and the score is sensitive to it;
    // Double.toString round-trips, so DuckDB parses the identical bits
    "q_bm25" -> {
      val k1 = 1.2; val b = 0.75
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
         |), stats AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY 1
         |), dl AS (
         |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
         |), tot AS (SELECT count(*) AS n, sum(dl) AS total_tokens FROM dl),
         |sel AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln(1.0 + (tot.n - stats.df + 0.5) / (stats.df + 0.5)) *
         |      (tf.tf * ${k1 + 1d}) /
         |      (tf.tf + $k1 * (${1d - b} + ($b * dl.dl) /
         |        (CAST(tot.total_tokens AS DOUBLE) / CAST(tot.n AS DOUBLE))))
         |      AS score
         |  FROM tf JOIN stats USING (term) JOIN dl USING (doc_id)
         |    CROSS JOIN tot
         |)
         |SELECT doc_id, term, round(score, 6) AS score, rn FROM (
         |  SELECT doc_id, term, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, term) AS rn
         |  FROM sel
         |) WHERE rn <= 3""".stripMargin
    },

    // fixed-point contributions (×10⁹, BIGINT) make the per-doc sum
    // order-free — the one place a floating Σ would be partition-
    // order-dependent; see the operator's scaladoc
    "q_unigram_xent" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), stats AS (
        |  SELECT term, sum(tf) AS cf FROM tf GROUP BY 1
        |), tot AS (SELECT sum(cf) AS t_total FROM stats)
        |SELECT doc_id,
        |  round(-(CAST(sum(contrib) AS DOUBLE) / 1000000000.0) /
        |    CAST(sum(tf) AS DOUBLE), 6) AS xent
        |FROM (
        |  SELECT tf.doc_id, tf.tf,
        |    CAST(round(tf.tf * ln(CAST(stats.cf AS DOUBLE) /
        |      CAST(tot.t_total AS DOUBLE)) * 1000000000.0) AS BIGINT)
        |      AS contrib
        |  FROM tf JOIN stats USING (term) CROSS JOIN tot
        |) GROUP BY doc_id""".stripMargin,

    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, CAST(ceil(len(toks) / 24.0) AS BIGINT))) AS i
        |  FROM t
        |)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  array_to_string(list_slice(toks, i * 24 + 1, i * 24 + 32), ' ')
        |    AS chunk,
        |  CAST(len(list_slice(toks, i * 24 + 1, i * 24 + 32)) AS INT)
        |    AS n_tokens
        |FROM idx""".stripMargin,

    "q_vocab" ->
      """WITH counts AS (
        |  SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term
        |), tot AS (
        |  SELECT sum(len(string_split(text, ' '))) AS total FROM documents
        |), top AS (
        |  SELECT term, cnt FROM counts ORDER BY cnt DESC, term LIMIT 200
        |)
        |SELECT term, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT) AS rank,
        |  round(CAST(cnt AS DOUBLE) / CAST(tot.total AS DOUBLE), 6)
        |    AS share,
        |  round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(tot.total AS DOUBLE), 6) AS cum_share
        |FROM top CROSS JOIN tot""".stripMargin,

    // same '\s+' tokenizer as q_token_count (a SIZE metric, not the
    // identity tokenizer — see TextAnalysis.tokenCount)
    // coalesce(text,'') pairs with the Spark side's greatest(…, 0):
    // null docs land in bucket 0 on both sides ('' splits to [''],
    // len 1, bucket 0)
    "q_length_hist" ->
      """SELECT CAST(floor(len(string_split_regex(coalesce(text, ''), '\s+'))
        |      / 50) AS BIGINT)
        |    * 50 AS bucket_lo,
        |  count(*) AS docs
        |FROM documents GROUP BY 1""".stripMargin,

    "q_pii" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+')) AS INT)
        |    AS emails,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS INT) AS phones,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT)
        |    AS urls
        |FROM documents""".stripMargin,

    // DuckDB's list_distinct does NOT preserve order, so the replay
    // keeps each segment's min position explicitly and re-aggregates
    // ordered — Spark's array_distinct is first-occurrence-ordered
    // (pinned in CorpusStatsSpec); the two parallel unnests zip
    "q_dedup_segments" ->
      """WITH segs AS (
        |  SELECT doc_id,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS seg,
        |    unnest(range(1, len(string_split(coalesce(text, ''), ' ')) + 1))
        |      AS pos
        |  FROM documents
        |), firsts AS (
        |  SELECT doc_id, seg, min(pos) AS p FROM segs GROUP BY doc_id, seg
        |)
        |SELECT doc_id, array_to_string(list(seg ORDER BY p), ' ')
        |  AS deduped
        |FROM firsts GROUP BY doc_id""".stripMargin,

    // the sketch itself is replayed: identical md5-derived buckets,
    // identical depth×width counters, identical min-over-rows read —
    // both sides of pmod are nonnegative so DuckDB's % matches
    "q_cms_freq" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split(text, ' ')) AS v FROM documents
         |),
         |probes AS (
         |  SELECT DISTINCT unnest(string_split(text, ' ')) AS v
         |  FROM documents WHERE doc_id % 101 = 0
         |),
         |grid AS (SELECT unnest(range(4)) AS i),
         |th AS (
         |  SELECT i, md5(v || '#' || CAST(i AS VARCHAR)) AS h
         |  FROM toks CROSS JOIN grid
         |),
         |counters AS (
         |  SELECT i, ${hexFoldSql("h", 15)} % 4096 AS bucket,
         |    count(*) AS cnt
         |  FROM th GROUP BY 1, 2
         |),
         |ph AS (
         |  SELECT v, i, md5(v || '#' || CAST(i AS VARCHAR)) AS h
         |  FROM probes CROSS JOIN grid
         |),
         |pb AS (
         |  SELECT v, i, ${hexFoldSql("h", 15)} % 4096 AS bucket FROM ph
         |)
         |SELECT pb.v AS term, min(coalesce(cnt, CAST(0 AS BIGINT))) AS est
         |FROM pb LEFT JOIN counters USING (i, bucket)
         |GROUP BY 1""".stripMargin,

    // the hash-rank selection replayed literally: same md5 string,
    // same per-stratum rank, same cut
    "q_sample_stratified" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(coalesce(CAST(source AS VARCHAR), '')
        |                   || '#' || CAST(doc_id AS VARCHAR)),
        |               doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 5""".stripMargin,

    // both search plans answer the same conjunctive predicate — the
    // index and the prefilter are pruning detail, not semantics
    "q_index_search" ->
      """SELECT doc_id FROM documents
        |WHERE list_contains(string_split(text, ' '), 'spark')
        |  AND list_contains(string_split(text, ' '), 'hash')
        |  AND list_contains(string_split(text, ' '), 'window')""".stripMargin,
    "q_index_stored" ->
      """SELECT doc_id FROM documents
        |WHERE list_contains(string_split(text, ' '), 'spark')
        |  AND list_contains(string_split(text, ' '), 'hash')
        |  AND list_contains(string_split(text, ' '), 'window')""".stripMargin,

    // the q_quality score subquery + the identical percent_rank
    // window ((score, doc_id) unique → rank exact on both engines)
    "q_quality_calibration" ->
      s"""WITH scored AS (
         |  SELECT doc_id, source,
         |    round(least(n_tokens / 20.0, 1.0) * 0.4
         |      + (1.0 - least(round(punct / greatest(n_chars2, 1), 6) * 10.0, 1.0)) * 0.3
         |      + least(round(stop_hits / greatest(n_tokens, 1), 6) * 10.0, 1.0) * 0.3, 6)
         |      AS quality_score
         |  FROM (
         |    SELECT doc_id, source,
         |      len(string_split_regex(text, '\\s+')) AS n_tokens,
         |      length(text) AS n_chars2,
         |      length(regexp_replace(text, '[A-Za-z0-9_\\s]+', '', 'g')) AS punct,
         |      len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS stop_hits
         |    FROM documents
         |  )
         |)
         |SELECT doc_id, source, quality_score,
         |  round(percent_rank() OVER (PARTITION BY source
         |    ORDER BY quality_score, doc_id), 6) AS pct
         |FROM scored""".stripMargin,

    // the same quality-score subquery + the full midrank Mann-Whitney
    // replay: distinct-score group, windowed strictly-lower count,
    // integer rank sums, one final division
    "q_filter_auc" ->
      s"""WITH scored AS (
         |  SELECT
         |    round(least(n_tokens / 20.0, 1.0) * 0.4
         |      + (1.0 - least(round(punct / greatest(n_chars2, 1), 6) * 10.0, 1.0)) * 0.3
         |      + least(round(stop_hits / greatest(n_tokens, 1), 6) * 10.0, 1.0) * 0.3, 6)
         |      AS quality_score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
         |  FROM (
         |    SELECT lang,
         |      len(string_split_regex(text, '\\s+')) AS n_tokens,
         |      length(text) AS n_chars2,
         |      length(regexp_replace(text, '[A-Za-z0-9_\\s]+', '', 'g')) AS punct,
         |      len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS stop_hits
         |    FROM documents
         |  )
         |), g AS (
         |  SELECT quality_score AS s, count(*) AS c, sum(label) AS cp
         |  FROM scored GROUP BY 1
         |), r AS (
         |  SELECT c, cp, coalesce(sum(c) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
         |  FROM g
         |), t AS (
         |  SELECT sum(cp * (2 * before + c + 1)) AS s2,
         |         sum(cp) AS np, sum(c - cp) AS nn
         |  FROM r
         |)
         |SELECT CASE WHEN np > 0 AND nn > 0
         |         THEN round((s2 - np * (np + 1)) / (2.0 * np * nn), 6)
         |       END AS auc,
         |       cast(np as bigint) AS n_pos, cast(nn as bigint) AS n_neg
         |FROM t""".stripMargin,

    // same scored CTE; equal-width bins, fixed-point mean replay
    "q_filter_calibration" ->
      s"""WITH scored AS (
         |  SELECT
         |    round(least(n_tokens / 20.0, 1.0) * 0.4
         |      + (1.0 - least(round(punct / greatest(n_chars2, 1), 6) * 10.0, 1.0)) * 0.3
         |      + least(round(stop_hits / greatest(n_tokens, 1), 6) * 10.0, 1.0) * 0.3, 6)
         |      AS quality_score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
         |  FROM (
         |    SELECT lang,
         |      len(string_split_regex(text, '\\s+')) AS n_tokens,
         |      length(text) AS n_chars2,
         |      length(regexp_replace(text, '[A-Za-z0-9_\\s]+', '', 'g')) AS punct,
         |      len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS stop_hits
         |    FROM documents
         |  )
         |)
         |SELECT cast(least(floor(quality_score * 10), 9) as int) AS bin,
         |  count(*) AS n, cast(sum(label) as bigint) AS n_pos,
         |  round(sum(cast(round(quality_score * 1000000, 0) as bigint))
         |    * 1.0 / count(*) / 1000000, 6) AS mean_score,
         |  round(sum(label) * 1.0 / count(*), 6) AS pos_rate
         |FROM scored GROUP BY 1""".stripMargin,

    // NFC + lower + collapse + trim replayed step-for-step (DuckDB
    // regexp_replace needs the explicit 'g' flag Spark defaults to)
    "q_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
        |    AS normalized
        |FROM documents""".stripMargin,

    // the E–S key replayed: same md5-derived uniform (60-bit fold
    // + 1 over 2^60), same ln(u)/w, same (key DESC, id) rank
    "q_weighted_sample" -> {
      val fold = hexFoldSql("h", 15)
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    ln(CAST(($fold) + 1 AS DOUBLE) / 1152921504606846976.0)
         |      / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS k
         |  FROM (
         |    SELECT doc_id, source, text,
         |      substr(md5('w#' || CAST(doc_id AS VARCHAR)), 1, 15) AS h
         |    FROM documents)
         |  WHERE CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) > 0
         |  ORDER BY k DESC, doc_id LIMIT 50
         |)""".stripMargin
    },

    // the three KMV estimators replayed (q_approx_distinct's SQL per
    // side — same hashes, same k-smallest cut, same double floor),
    // then the identical inclusion–exclusion arithmetic
    "q_corpus_overlap" -> {
      val fold = hexFoldSql("h", 15)
      def est(pred: String, name: String) =
        s"""${name}_h AS (
           |  SELECT DISTINCT $fold AS hv FROM (
           |    SELECT DISTINCT substr(md5(term), 1, 15) AS h FROM (
           |      SELECT unnest(string_split(text, ' ')) AS term
           |      FROM documents $pred))
           |),
           |$name AS (
           |  SELECT CASE WHEN m < 1024 THEN m
           |    ELSE CAST(floor(1023.0 / (CAST(hk AS DOUBLE)
           |                              / 1152921504606846976.0)) AS BIGINT)
           |    END AS v
           |  FROM (SELECT max(hv) AS hk, count(*) AS m
           |        FROM (SELECT hv FROM ${name}_h ORDER BY hv LIMIT 1024))
           |)""".stripMargin
      s"""WITH ${est("WHERE doc_id % 2 = 0", "ea")},
         |${est("WHERE doc_id % 2 = 1", "eb")},
         |${est("", "eu")}
         |SELECT ea.v AS approx_a, eb.v AS approx_b, eu.v AS approx_union,
         |  greatest(0, ea.v + eb.v - eu.v) AS approx_intersection,
         |  round(CAST(greatest(0, ea.v + eb.v - eu.v) AS DOUBLE)
         |    / CAST(eu.v AS DOUBLE), 6) AS approx_jaccard
         |FROM ea, eb, eu""".stripMargin
    },

    // first-introduction replayed over the exactPairsCte gram
    // universe: min(doc_id) per gram, exact integer counts
    "q_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |),
        |grams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(t) - 3, 0) + 2),
        |      i -> array_to_string(t[i:i+2], ' '))) AS g
        |  FROM toks
        |),
        |ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
        |fst AS (SELECT gram, min(doc_id) AS first_id FROM ex GROUP BY gram)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS novel_grams,
        |  round(CAST(sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM ex JOIN fst USING (gram) GROUP BY doc_id""".stripMargin,

    // the fixed-point ln-fold replayed per doc (sum of BIGINT
    // contributions is order-free); DuckDB's HUGEINT sums cast back
    // to Spark's long/double types
    "q_token_entropy" ->
      """WITH t2 AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY 1, 2
        |),
        |agg AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    count(*) AS distinct_tokens,
        |    CAST(sum(CAST(round(tf * ln(CAST(tf AS DOUBLE))
        |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS c
        |  FROM t2 GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, distinct_tokens,
        |  round(CAST(distinct_tokens AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE), 6) AS ttr,
        |  round(ln(CAST(n_tokens AS DOUBLE))
        |    - (CAST(c AS DOUBLE) / 1000000000.0)
        |      / CAST(n_tokens AS DOUBLE), 6) AS entropy
        |FROM agg""".stripMargin,

    // the merge path's result IS the one-pass sheet: associative
    // sums/min/max fold exactly, ratios divide the exact sums
    "q_stats_merge" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT)
        |    AS total_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  round(CAST(sum(len(string_split_regex(text, '\s+'))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_tokens,
        |  round(CAST(sum(length(text)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_chars
        |FROM documents GROUP BY source""".stripMargin,

    "q_source_top_terms" ->
      """SELECT source, term, cnt, CAST(rank AS INT) AS rank FROM (
        |  SELECT source, term, cnt, row_number() OVER (
        |    PARTITION BY source ORDER BY cnt DESC, term) AS rank
        |  FROM (
        |    SELECT source, term, count(*) AS cnt FROM (
        |      SELECT source, unnest(string_split(text, ' ')) AS term
        |      FROM documents)
        |    GROUP BY 1, 2)
        |) WHERE rank <= 5""".stripMargin,

    // exact counts replayed (unigram + consecutive-bigram streams),
    // then the identical pinned-association ratio into ln(), round 6
    // — DuckDB's t[i]/t[i+1] (1-indexed) over range(1, len) is
    // Spark's element_at(toks, i+1)/(i+2) over sequence(0, size-2)
    "q_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uc AS (
        |  SELECT tok, count(*) AS c FROM (SELECT unnest(t) AS tok FROM t)
        |  GROUP BY tok
        |),
        |ut AS (SELECT sum(c) AS n_uni FROM uc),
        |bc AS (
        |  SELECT w1, w2, count(*) AS c_ab FROM (
        |    SELECT t[i] AS w1, t[i + 1] AS w2
        |    FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t))
        |  GROUP BY w1, w2
        |),
        |bt AS (SELECT sum(c_ab) AS n_bi FROM bc)
        |SELECT w2, w1, c_ab,
        |  round(ln((CAST(c_ab AS DOUBLE) * CAST(n_uni AS DOUBLE)
        |            * CAST(n_uni AS DOUBLE))
        |          / (CAST(n_bi AS DOUBLE) * CAST(a.c AS DOUBLE)
        |             * CAST(b.c AS DOUBLE))), 6) AS pmi
        |FROM bc JOIN uc a ON bc.w1 = a.tok JOIN uc b ON bc.w2 = b.tok
        |CROSS JOIN ut CROSS JOIN bt
        |WHERE c_ab >= 5""".stripMargin,

    // the permutation replayed byte-for-byte: same md5 hex sort key,
    // same 15-nibble fold (hexFoldSql == Spark's conv(...,16,10)) mod
    // the shard count — the fold is non-negative, so % == pmod
    "q_epoch_shuffle" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    md5('1#' || CAST(doc_id AS VARCHAR)) AS sort_key
         |  FROM documents
         |)
         |SELECT doc_id,
         |  ${hexFoldSql("sort_key", 15)} % 8 AS shard,
         |  sort_key
         |FROM k""".stripMargin,

    // the prefix rule replayed: same md5 order, same inclusive
    // cumulative sum (ROWS frame == Spark's RANGE frame because the
    // (sk, doc_id) order is unique), same per-source budget CASE
    "q_token_budget_mix" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    coalesce(len(string_split_regex(text, '\s+')), 0) AS tok,
        |    md5(coalesce(CAST(source AS VARCHAR), '')
        |        || '#' || CAST(doc_id AS VARCHAR)) AS sk
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, source,
        |    sum(tok) OVER (PARTITION BY source ORDER BY sk, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source FROM c
        |WHERE cum <= CASE source WHEN 'src0' THEN 500
        |                         WHEN 'src1' THEN 800 ELSE 300 END""".stripMargin,

    // the sliding trigram window replayed with the q_top_bigrams
    // n-gram idiom
    "q_phrase_search" ->
      """SELECT doc_id FROM documents
        |WHERE list_contains(list_transform(
        |  range(len(string_split(text, ' ')) - 2),
        |  i -> string_split(text, ' ')[i + 1] || ' '
        |    || string_split(text, ' ')[i + 2] || ' '
        |    || string_split(text, ' ')[i + 3]),
        |  'a agg batch')""".stripMargin,

    // the BM25 scoring replayed with the identical expression shape:
    // exact-integer tf/df/dl/N, one double expression per (doc,term),
    // fixed-point BIGINT contributions before the per-doc sum (the
    // unigram-xent determinism trick), round(…,6) at the end
    "q_search_ranked" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        |),
        |tot AS (
        |  SELECT count(*) AS n,
        |    sum(len(string_split(text, ' '))) AS total_tokens
        |  FROM base
        |),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM base)
        |  WHERE term IN ('spark', 'hash', 'window')
        |  GROUP BY 1, 2
        |),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM base
        |),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (n - df + 0.5) / (df + 0.5))
        |        * (tf * 2.2)
        |        / (tf + 1.2 * (0.25 + 0.75 * dl
        |            / (CAST(total_tokens AS DOUBLE) / CAST(n AS DOUBLE))))
        |        * 1e9) AS BIGINT) AS c
        |  FROM tf
        |  JOIN dfreq USING (term)
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN tot
        |)
        |SELECT doc_id, round(CAST(sum(c) AS DOUBLE) / 1e9, 6) AS score
        |FROM contrib GROUP BY 1
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 10""".stripMargin,

    // the extraction chain replayed operation-for-operation: same
    // RE2-safe patterns (no backreferences), same strip order
    // (script/style blocks before the generic tag pass, &amp; decoded
    // last), DuckDB's 'g' flag standing in for Spark's
    // global-by-default regexp_replace
    "q_strip_html" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html,
        |              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS extracted
        |FROM (
        |  SELECT doc_id,
        |    '<html><head><style>body { color: red; }</style></head>'
        |    || '<body><!-- crawl' || chr(10) || 'artifact --><p>'
        |    || text
        |    || '</p><script type="text/javascript">var x = 1 < 2;'
        |    || chr(10) || '</script><div>Tom &amp; Jerry &lt;3 '
        |    || '&quot;quoted&quot;&nbsp;end</div></body></html>' AS html
        |  FROM documents)""".stripMargin,

    // the decode replayed through the same staged-train CTEs: invert
    // the vocab, rebuild every word from its piece ids in order,
    // reassemble docs in word order, compare against the normalized
    // original
    "q_bpe_roundtrip" ->
      s"""WITH ${bpeIdCtes(8)},
         |wdec AS (
         |  SELECT w, array_to_string(list(piece ORDER BY i), '') AS w_dec
         |  FROM (
         |    SELECT w, unnest(ids) AS id,
         |      unnest(range(1, len(ids) + 1)) AS i
         |    FROM wid
         |  ) JOIN vocab USING (id)
         |  GROUP BY w
         |),
         |ddec AS (
         |  SELECT doc_id,
         |    array_to_string(list(w_dec ORDER BY pos), ' ') AS decoded
         |  FROM (
         |    SELECT doc_id, w, pos FROM (
         |      SELECT doc_id,
         |        unnest(string_split(text, ' ')) AS w,
         |        unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
         |      FROM documents) WHERE w != ''
         |  ) JOIN wdec USING (w)
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(decoded, '') AS decoded,
         |  coalesce(decoded, '') = array_to_string(list_filter(
         |    string_split(coalesce(text, ''), ' '), x -> x != ''), ' ') AS ok
         |FROM documents d LEFT JOIN ddec USING (doc_id)""".stripMargin,

    // the next-fit fold replayed as a per-shard recursive CTE: same
    // stream order, same overflow rule, same oversize isolation
    "q_pack_whole" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS i
        |  FROM documents),
        |rec AS (
        |  SELECT doc_id, shard, CAST(0 AS BIGINT) AS bin,
        |    CAST(0 AS BIGINT) AS tok_start, n, i, n AS fill
        |  FROM t WHERE i = 1
        |  UNION ALL
        |  SELECT t.doc_id, t.shard,
        |    CASE WHEN rec.fill + t.n > 256 THEN rec.bin + 1 ELSE rec.bin END,
        |    CASE WHEN rec.fill + t.n > 256 THEN CAST(0 AS BIGINT)
        |         ELSE rec.fill END,
        |    t.n, t.i,
        |    CASE WHEN rec.fill + t.n > 256 THEN t.n ELSE rec.fill + t.n END
        |  FROM rec JOIN t ON t.shard = rec.shard AND t.i = rec.i + 1)
        |SELECT doc_id, shard, bin, tok_start, n AS n_tokens FROM rec""".stripMargin,

    // fertility replayed on top of the staged-train dictionary: same
    // per-(source, word) counts, same n_pieces join, same round-6
    // read-out
    "q_bpe_fertility" ->
      s"""WITH ${bpeEncodeCtes(8)},
         |sw AS (
         |  SELECT source, w, count(*) AS c FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE w != '' GROUP BY 1, 2),
         |f AS (
         |  SELECT source, sum(c) AS n_words,
         |    sum(c * n_pieces) AS n_pieces,
         |    sum(CASE WHEN n_pieces = 1 THEN c ELSE 0 END) AS whole
         |  FROM sw JOIN dict USING (w) GROUP BY 1)
         |SELECT source, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_pieces AS BIGINT) AS n_pieces,
         |  round(CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
         |    AS fertility,
         |  round(CAST(whole AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
         |    AS pct_unsplit
         |FROM f""".stripMargin,

    // the OLS fit replayed: same rank order, same 1e-6 fixed-point
    // lns, same integer sums, HUGEINT standing in for DECIMAL(38,0)
    // on the final cross products
    "q_zipf" ->
      """WITH tc AS (
        |  SELECT tok, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok != '' GROUP BY 1),
        |top AS (SELECT tok, cnt FROM tc ORDER BY cnt DESC, tok LIMIT 100),
        |rk AS (SELECT cnt,
        |         row_number() OVER (ORDER BY cnt DESC, tok) AS rank
        |       FROM top),
        |xy AS (SELECT
        |         CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |       FROM rk),
        |s AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
        |        sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT CAST(k AS BIGINT) AS n_terms,
        |  round(CAST(CAST(k AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |      / CAST(CAST(k AS HUGEINT) * sxx - sx * sx AS DOUBLE), 6)
        |    AS slope,
        |  round((CAST(sy AS DOUBLE)
        |      - (CAST(CAST(k AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |         / CAST(CAST(k AS HUGEINT) * sxx - sx * sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE))
        |    / CAST(k AS DOUBLE) / 1e6, 6) AS intercept
        |FROM s""".stripMargin,

    // the temperature rule replayed: same fixed-point pow weights
    // (integer W sum), same clamp, same 't#' uniform membership
    "q_temperature_mix" -> {
      val fold = hexFoldSql("h", 15)
      s"""WITH d AS (
         |  SELECT doc_id, substr(source, 4, 1) AS src_group FROM documents),
         |c AS (
         |  SELECT src_group, count(*) AS ns,
         |    CAST(round(pow(CAST(count(*) AS DOUBLE),
         |      CAST('0.5' AS DOUBLE)) * 1e6) AS BIGINT) AS wf
         |  FROM d GROUP BY 1),
         |t AS (SELECT sum(ns) AS n, sum(wf) AS w FROM c),
         |r AS (
         |  SELECT src_group,
         |    least(CAST(1.0 AS DOUBLE),
         |      (CAST(wf AS DOUBLE) / CAST(w AS DOUBLE))
         |        * CAST('0.5' AS DOUBLE) * CAST(n AS DOUBLE)
         |        / CAST(ns AS DOUBLE)) AS rate
         |  FROM c CROSS JOIN t)
         |SELECT doc_id, src_group FROM (
         |  SELECT d.doc_id, d.src_group, rate,
         |    CAST(($fold) + 1 AS DOUBLE) / 1152921504606846976.0 AS u
         |  FROM (
         |    SELECT doc_id, src_group,
         |      substr(md5('t#' || CAST(doc_id AS VARCHAR)), 1, 15) AS h
         |    FROM d) d
         |  JOIN r USING (src_group))
         |WHERE u < rate""".stripMargin
    },

    // the DSIR chain replayed end-to-end: same 'b#' md5 bucket
    // assignment, same Laplace-smoothed cross-ratio into one ln per
    // bucket (1e-9 fixed point), same per-doc multiplicity sums, and
    // the identical 'g#' Gumbel-max draw and (key DESC, id) rank cut
    // the 2-round logistic-regression fit unrolled as materialized
    // stages (round 1 starts from all-zero weights, so p = 0.5 and
    // g1 = ±5e8 exactly), then the serve-path sigmoid — every float
    // rounded back to fixed point at the same points as the operator
    "q_quality_clf" -> {
      val bfold = hexFoldSql("bh", 15)
      s"""WITH lab AS (
         |  SELECT doc_id,
         |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |feats AS MATERIALIZED (
         |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS m FROM (
         |    SELECT doc_id, ($bfold) % 256 AS bucket FROM (
         |      SELECT doc_id, substr(md5('b#' || tok), 1, 15) AS bh FROM (
         |        SELECT doc_id, unnest(list_filter(
         |          string_split(coalesce(text, ''), ' '), x -> x != '')) AS tok
         |        FROM documents)))
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, -1 AS bucket, 1 AS m FROM documents),
         |nn AS (SELECT count(*) AS n FROM lab),
         |g1 AS MATERIALIZED (
         |  SELECT doc_id, CAST(round((y - 0.5) * 1e9) AS BIGINT) AS g FROM lab),
         |w1 AS MATERIALIZED (
         |  SELECT bucket,
         |    CAST(round(1.0 * sum(g * m) / (SELECT n FROM nn)) AS BIGINT) AS wf
         |  FROM g1 JOIN feats USING (doc_id) GROUP BY bucket),
         |m2 AS (
         |  SELECT doc_id, CAST(sum(m * coalesce(wf, 0)) AS BIGINT) AS mf
         |  FROM feats LEFT JOIN w1 USING (bucket) GROUP BY doc_id),
         |g2 AS MATERIALIZED (
         |  SELECT lab.doc_id,
         |    CAST(round((lab.y - 1.0 / (1.0
         |      + exp(-(CAST(coalesce(m2.mf, 0) AS DOUBLE) / 1e9)))) * 1e9)
         |      AS BIGINT) AS g
         |  FROM lab LEFT JOIN m2 USING (doc_id)),
         |d2 AS MATERIALIZED (
         |  SELECT bucket,
         |    CAST(round(1.0 * sum(g * m) / (SELECT n FROM nn)) AS BIGINT) AS delta
         |  FROM g2 JOIN feats USING (doc_id) GROUP BY bucket),
         |w2 AS MATERIALIZED (
         |  SELECT coalesce(w1.bucket, d2.bucket) AS bucket,
         |    coalesce(w1.wf, 0) + coalesce(d2.delta, 0) AS wf
         |  FROM w1 FULL OUTER JOIN d2 ON w1.bucket = d2.bucket),
         |mfin AS (
         |  SELECT doc_id, CAST(sum(m * coalesce(wf, 0)) AS BIGINT) AS mf
         |  FROM feats LEFT JOIN w2 USING (bucket) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  round(1.0 / (1.0
         |    + exp(-(CAST(coalesce(mfin.mf, 0) AS DOUBLE) / 1e9))), 6) AS score
         |FROM documents d LEFT JOIN mfin USING (doc_id)""".stripMargin
    },

    "q_dsir_sample" -> {
      val bfold = hexFoldSql("bh", 15)
      val gfold = hexFoldSql("gh", 15)
      s"""WITH tb AS (
         |  SELECT doc_id, ($bfold) % 1024 AS bucket FROM (
         |    SELECT doc_id, substr(md5('b#' || tok), 1, 15) AS bh FROM (
         |      SELECT doc_id, unnest(list_filter(
         |        string_split(coalesce(text, ''), ' '), x -> x != '')) AS tok
         |      FROM documents))),
         |ttb AS (
         |  SELECT ($bfold) % 1024 AS bucket FROM (
         |    SELECT substr(md5('b#' || tok), 1, 15) AS bh FROM (
         |      SELECT unnest(list_filter(
         |        string_split(coalesce(text, ''), ' '), x -> x != '')) AS tok
         |      FROM documents
         |      WHERE source IN ('src0', 'src1', 'src2')))),
         |ct AS (SELECT bucket, count(*) AS ct FROM ttb GROUP BY 1),
         |cs AS (SELECT bucket, count(*) AS cs FROM tb GROUP BY 1),
         |nt AS (SELECT coalesce(sum(ct), 0) AS n_t FROM ct),
         |ns AS (SELECT coalesce(sum(cs), 0) AS n_s FROM cs),
         |spine AS (SELECT unnest(range(1024)) AS bucket),
         |ratios AS (
         |  SELECT spine.bucket,
         |    CAST(round(ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE)
         |                   * CAST(n_s + 1024 AS DOUBLE))
         |                  / (CAST(coalesce(cs, 0) + 1 AS DOUBLE)
         |                     * CAST(n_t + 1024 AS DOUBLE))) * 1e9)
         |      AS BIGINT) AS lr
         |  FROM spine LEFT JOIN ct ON spine.bucket = ct.bucket
         |  LEFT JOIN cs ON spine.bucket = cs.bucket
         |  CROSS JOIN nt CROSS JOIN ns),
         |pd AS (SELECT doc_id, bucket, count(*) AS m FROM tb GROUP BY 1, 2),
         |sums AS (
         |  SELECT doc_id, sum(m) AS n_tokens, sum(m * lr) AS s
         |  FROM pd JOIN ratios USING (bucket) GROUP BY 1),
         |w AS (
         |  SELECT d.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
         |    round(CAST(coalesce(s, 0) AS DOUBLE) / 1e9, 6) AS log_w
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN sums ON d.doc_id = sums.doc_id),
         |keyed AS (
         |  SELECT doc_id, n_tokens, log_w,
         |    log_w + -ln(-ln(CAST(($gfold) + 1 AS DOUBLE)
         |      / 1152921504606846976.0)) AS key
         |  FROM (SELECT doc_id, n_tokens, log_w,
         |          substr(md5('g#' || CAST(doc_id AS VARCHAR)), 1, 15) AS gh
         |        FROM w))
         |SELECT doc_id, n_tokens, log_w, round(key, 6) AS key FROM (
         |  SELECT * FROM keyed ORDER BY key DESC, doc_id LIMIT 100)""".stripMargin
    },

    // the Stupid-Backoff scorer replayed end-to-end: same reference
    // counts (unigram vocabulary, minCount-2 bigrams), same five-way
    // CASE over exact count ratios, one ln per distinct (doc, prev,
    // cur) transition rounded to a 1e-9 fixed-point long and weighted
    // by its multiplicity — the constants ride through strtod casts
    // so neither engine's decimal-literal promotion touches them
    "q_lm_perplexity" ->
      """WITH ref AS (
        |  SELECT list_filter(string_split(coalesce(text, ''), ' '),
        |    x -> x != '') AS t
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |uc AS (SELECT tok, count(*) AS c
        |       FROM (SELECT unnest(t) AS tok FROM ref) GROUP BY tok),
        |ut AS (SELECT sum(c) AS n_ref FROM uc),
        |bc AS (SELECT w1, w2, count(*) AS c_ab FROM (
        |         SELECT t[i] AS w1, t[i + 1] AS w2
        |         FROM (SELECT t, unnest(range(1, len(t))) AS i FROM ref))
        |       GROUP BY w1, w2 HAVING count(*) >= 2),
        |d AS (
        |  SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '),
        |    x -> x != '') AS t
        |  FROM documents),
        |tr AS (SELECT doc_id,
        |         CASE WHEN i = 1 THEN NULL ELSE t[i - 1] END AS prev,
        |         t[i] AS cur
        |       FROM (SELECT doc_id, t,
        |               unnest(range(1, len(t) + 1)) AS i FROM d)),
        |p AS (SELECT doc_id, prev, cur, count(*) AS m
        |      FROM tr GROUP BY 1, 2, 3),
        |sc AS (SELECT p.doc_id,
        |        sum(m) AS n_tokens,
        |        sum(m * CAST(round(ln(CASE
        |            WHEN c_ab IS NOT NULL
        |              THEN CAST(c_ab AS DOUBLE) / CAST(cp.c AS DOUBLE)
        |            WHEN prev IS NOT NULL AND cc.c IS NOT NULL
        |              THEN CAST('0.4' AS DOUBLE) * CAST(cc.c AS DOUBLE)
        |                   / CAST(n_ref AS DOUBLE)
        |            WHEN prev IS NOT NULL
        |              THEN CAST('0.16000000000000003' AS DOUBLE)
        |                   / CAST(n_ref AS DOUBLE)
        |            WHEN cc.c IS NOT NULL
        |              THEN CAST(cc.c AS DOUBLE) / CAST(n_ref AS DOUBLE)
        |            ELSE CAST('0.4' AS DOUBLE) / CAST(n_ref AS DOUBLE)
        |          END) * 1e9) AS BIGINT)) AS s
        |      FROM p
        |      LEFT JOIN bc ON p.prev = bc.w1 AND p.cur = bc.w2
        |      LEFT JOIN uc cc ON p.cur = cc.tok
        |      LEFT JOIN uc cp ON p.prev = cp.tok
        |      CROSS JOIN ut
        |      GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  round((CAST(s AS DOUBLE) / 1e9)
        |    / CAST(n_tokens AS DOUBLE), 6) AS avg_logp,
        |  round(exp((CAST(s AS DOUBLE) / -1e9)
        |    / CAST(n_tokens AS DOUBLE)), 6) AS ppl
        |FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
  )
}
