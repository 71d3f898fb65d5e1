package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, upper, when}
import graft.{QueryPack, Tables}
import graft.operators.{Components, Dedup}

/** Dedup suite over `documents` (SURVEY.md §7.1 step 7 /
  * driver north-star ops). Exact dedup is DuckDB-oracle-able; the
  * LSH/banded variants are not SQL-expressible, so they carry the
  * driver's rows-only check and are cross-validated in ScalaTest
  * against brute-force exact Jaccard (recall + precision) instead.
  */
object DedupPack extends QueryPack {

  /** The gate's synthetic non-transitive pair graph: an edge between
    * consecutive doc_ids whose texts share a first character —
    * variable-length CHAINS, so clustering is genuinely the
    * transitive closure (equality-keyed groups would already be
    * cliques). Shared by q_components and q_dedup_weights; the
    * oracle replays it as a self-join + recursive CTE. */
  private def chainEdges(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, substring}
    val keyed = docs.select(col("doc_id"), substring(col("text"), 1, 1).as("c1"))
    keyed.alias("l").join(keyed.alias("r"),
        col("r.doc_id") === col("l.doc_id") + 1 && col("l.c1") === col("r.c1"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")),

    // EXACT edit-distance similarity join (record linkage / fuzzy
    // dedup): every pair within Levenshtein distance 2 on the 40-char
    // text prefix, with the exact distance. The corpus is widened
    // with deterministic MUTANTS (every 5th doc gains a twin with one
    // 'q' substitution, every 10th a second at +9) so dist 1 and 2
    // pairs exist alongside the planted exact dups — both engines
    // derive the mutants with identical substring arithmetic, and
    // because the segment blocking is COMPLETE the oracle verifies
    // with a plain brute-force levenshtein join: the hash certifies
    // the blocked join found EVERY qualifying pair, not a sample.
    "q_fuzzy_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr, when}
      val t = Tables.documents(s, d)
        .select(col("doc_id").as("id"),
          expr("substring(text, 1, 40)").as("s"))
        .filter(col("s").isNotNull)
      def mut(sc: String, p: String) =
        s"concat(substring($sc, 1, ($p) - 1), 'q', substring($sc, ($p) + 1))"
      val variants = t.filter(col("id") % 5 === 0)
        .select(col("id"),
          expr(mut("s", "cast(id % 20 as int) + 5")).as("s"))
        .withColumn("s", when(col("id") % 10 === 0,
          expr(mut("s", "cast(id % 20 as int) + 14"))).otherwise(col("s")))
        .select((col("id") + 1000000L).as("id"), col("s"))
      Dedup.editDistancePairs(t.unionByName(variants), "id", "s",
        maxDist = 2)
    }),

    // the RECORD-LINKAGE form: link corpus A (document prefixes)
    // against corpus B (the deterministic mutants, keeping their
    // SOURCE ids) — every cross pair within distance 2, so each
    // mutant links back to its source (dist 1-2) and to the source's
    // exact-dup partners. Within-corpus pairs are never emitted; the
    // oracle is the plain brute-force A×B levenshtein join (complete
    // blocking, q_fuzzy_join discipline).
    "q_fuzzy_join_ab" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr, when}
      val t = Tables.documents(s, d)
        .select(col("doc_id").as("id"),
          expr("substring(text, 1, 40)").as("s"))
        .filter(col("s").isNotNull)
      def mut(sc: String, p: String) =
        s"concat(substring($sc, 1, ($p) - 1), 'q', substring($sc, ($p) + 1))"
      val variants = t.filter(col("id") % 5 === 0)
        .select(col("id"),
          expr(mut("s", "cast(id % 20 as int) + 5")).as("s"))
        .withColumn("s", when(col("id") % 10 === 0,
          expr(mut("s", "cast(id % 20 as int) + 14"))).otherwise(col("s")))
      Dedup.editDistanceJoinAB(t, "id", "s", variants, "id", "s",
        maxDist = 2)
    }),

    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8)),

    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramNearDups(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8)),

    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3)),

    // incremental shape: even ids stand in for the already-deduped
    // corpus (signature table), odd ids for the incoming batch —
    // new×corpus candidates only (DedupSpec pins precision/recall
    // against brute-force cross pairs)
    "q_dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val shingler = Dedup.shingleHashes("text", 3)
      val corpusSigs = Dedup.signatures(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", shingler, 64, 42L)
      Dedup.incrementalNearDups(docs.filter(col("doc_id") % 2 === 1),
        corpusSigs, "doc_id", shingler, threshold = 0.8, k = 64, bands = 16)
    }),

    // pairs applied as a filter: corpus minus docs with a smaller
    // near-dup neighbor
    "q_dedup_drop" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dropNearDups(docs, "doc_id",
        Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8))
        .select("doc_id")
    }),

    // transitive clustering of the near-dup pair graph: every doc
    // labeled with its cluster's min id (connected components with
    // pointer jumping; rows-only — ComponentsSpec pins the kernel
    // against union-find, q_components hash-checks it end-to-end)
    "q_dedup_cluster" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Components.clusters(docs, "doc_id",
        Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8))
    }),

    // the transitive dedup filter: exactly one survivor per cluster
    "q_dedup_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Components.canonicalDocs(docs, "doc_id",
        Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8))
        .select("doc_id")
    }),

    // ---- hash-gated destructive dedup: same drop/cluster/canonical
    // steps as above, but the pair input is the EXACT string-gram
    // Jaccard ([[Dedup.exactJaccardPairs]] — gram-keyed candidates,
    // set arithmetic on distinct word 3-grams), which DuckDB replays
    // verbatim (list_intersect / list_distinct(a||b)). The LSH-fed
    // variants stay rows-only by nature; these put the DESTRUCTIVE
    // logic itself — the steps that delete data — under the hash gate.
    "q_dedup_pairs_exact" -> ((s, d) =>
      Dedup.exactJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8)),

    // the PRODUCTION shape of the exact pair scan as its OWN gate:
    // maxGramFreq = 64 — the hot-gram valve a real corpus must run
    // with (one stop-gram at 100 TB makes an uncapped gram bucket
    // quadratic). Kept separate from q_dedup_pairs_exact (the
    // exactness oracle, uncapped by definition) so both plans carry
    // their own hash gate AND their own measured slope on every
    // bench rung; on the synthetic corpora the cap never binds (max
    // 3-gram doc-freq ≪ 64 — DedupSpec's measured-trade test), so
    // the OUTPUT matches uncapped while the PLAN is the capped
    // two-pass (freq filter → capped candidates → full-set verify),
    // and the oracle replays that capped rule, not the uncapped one
    "q_dedup_pairs_capped" -> ((s, d) =>
      Dedup.exactJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8, maxGramFreq = 64)),

    "q_dedup_drop_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dropNearDups(docs, "doc_id",
        Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
        .select("doc_id")
    }),

    // asymmetric containment (|A∩B|/|A|, directed): the quote/subset
    // detector — same count-based gram join as the exact pairs, each
    // direction divided by its own side's set size
    "q_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8)),

    "q_dedup_cluster_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Components.clusters(docs, "doc_id",
        Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
    }),

    "q_dedup_canonical_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Components.canonicalDocs(docs, "doc_id",
        Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
        .select("doc_id")
    }),

    // the single-materialization production pass: ONE exact pair set
    // feeds clustering + canonical + greedy-drop ([[Dedup.bundle]] —
    // the separate queries above each regenerate the pairs); the
    // result rides all three derived frames so the gate exercises the
    // whole bundle, and the oracle replays every flag from the same
    // recursive-CTE walk as the *_exact trio
    "q_dedup_bundle" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bundle = Dedup.bundle(docs, "doc_id",
        Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
      val joined = bundle.clusters
        .join(bundle.canonical.select(col("doc_id"), lit(1).as("canon0")),
          Seq("doc_id"), "left")
        .join(bundle.deduped.select(col("doc_id"), lit(1).as("kept0")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id"),
          coalesce(col("canon0"), lit(0)).as("is_canonical"),
          coalesce(col("kept0"), lit(0)).as("kept"))
      // this gate query is a SINGLE-action consumer of the bundle, so
      // the caller-owned caches (pairs + clusters) are released after
      // the first action that uses them instead of leaking until the
      // harness's clearCache (the multi-action production consumer
      // calls bundle.release() itself — see Dedup.bundle's doc)
      graft.operators.Caches.releaseOnFirstUse(Seq(bundle.pairs, bundle.clusters))
      joined
    }),

    // the CC kernel under a DuckDB-recursive-CTE hash oracle: edges
    // between consecutive doc_ids whose texts share a first character
    // form variable-length chains — a non-transitive relation, so the
    // clustering is genuinely the transitive closure (unlike
    // equality-keyed groups, which are already cliques)
    "q_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Components.clusters(docs, "doc_id", chainEdges(docs))
    }),

    // soft dedup over the same chain-edge closure: weight = 1/|cluster|
    // — the reweighting alternative to canonical's hard drop, under
    // the same recursive-CTE oracle plus a size window
    "q_dedup_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Components.clusterWeights(docs, "doc_id", chainEdges(docs))
    }),

    // incremental cluster maintenance under the hash gate: label the
    // corpus from HALF the chain edges, then fold the other half in
    // via incrementalClusters — the result must equal the one-shot
    // closure over ALL edges (the oracle is q_components's full
    // recompute), proving the prior-labels-as-edges maintenance path
    "q_components_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = chainEdges(docs)
      val prior = Components.clusters(docs, "doc_id",
        edges.filter(col("doc_a") % 2 === 0))
      Components.incrementalClusters(docs, "doc_id", prior,
        edges.filter(col("doc_a") % 2 === 1))
    }),

    // leakage-safe split over the same chain-edge closure: whole
    // clusters assigned to train/val/test by md5(cluster_id) — a doc
    // and its near-dups can never straddle the train/eval boundary
    // (the eval-contamination failure of row-level splits); oracle =
    // the recursive-CTE closure + the q_hash_split CASE on cluster_id
    "q_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Components.leakageSafeSplit(docs, "doc_id", chainEdges(docs))
    }),

    // substring-level (positional char-20-gram) duplication profile:
    // the exact-span dedup pass (Lee et al. 2021) — stride 1 on the
    // gate (the exact form; stride is the production subsample knob)
    "q_dedup_spans" -> ((s, d) =>
      Dedup.spanProfile(Tables.documents(s, d), "doc_id", "text",
        k = 20, stride = 1, minDocs = 2, flagFrac = 0.5)),

    // gaps-and-islands over the same window universe: the longest
    // duplicated run per doc (one lifted passage vs scattered
    // boilerplate)
    "q_dedup_span_runs" -> ((s, d) =>
      Dedup.spanRuns(Tables.documents(s, d), "doc_id", "text",
        k = 20, stride = 1, minDocs = 2)),

    // the destructive pass: every duplicated window's chars removed
    // from all docs but the window's owner (min doc id) — one copy of
    // each duplicated region survives corpus-wide
    "q_dedup_span_strip" -> ((s, d) =>
      Dedup.spanStrip(Tables.documents(s, d), "doc_id", "text",
        k = 20, minDocs = 2)),

    // incremental shape, same odd/even split as q_dedup_incremental:
    // even ids stand in for the standing corpus (its gram index), odd
    // ids for the incoming batch — batch windows are dup iff the gram
    // already exists in the corpus
    "q_dedup_spans_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val corpus = Dedup.spanGramIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 20)
      Dedup.spanProfileIncremental(docs.filter(col("doc_id") % 2 === 1),
        corpus, "doc_id", "text", k = 20)
    }),

    // sketch cardinality next to the exact answer: the constant-
    // memory scale path for distinct counts over arbitrary
    // cardinality. The GATE estimator is KMV (Sketch.kmvDistinct) —
    // deterministic arithmetic over the rolling hash, so the DuckDB
    // oracle replays the sketch itself (was rows-only through round
    // 13, when this slot held HLL: estimates there are
    // implementation-specific). HLL remains the production default
    // and keeps its tolerance pin in DedupSpec.
    "q_approx_distinct" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Sketch.kmvDistinct(docs, "text", k = 1024)
        .crossJoin(org.apache.spark.sql.functions.broadcast(docs.agg(
          org.apache.spark.sql.functions.countDistinct(
            org.apache.spark.sql.functions.col("text")).as("exact_docs"))))
    }),

    // the grouped sketch: approx distinct texts PER SOURCE, k=16 so
    // the estimator genuinely estimates (each source holds ~25
    // distinct texts at gate scale) — exact twin joined for the gate
    "q_approx_distinct_grouped" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Sketch.kmvDistinctGrouped(docs, "source", "text", k = 16)
        .join(docs.groupBy(col("source")).agg(
          org.apache.spark.sql.functions.countDistinct(col("text"))
            .as("exact_docs")), Seq("source"))
    }),

    // dup-graph shape summary: degree histogram of the minhash
    // near-dup graph (scattered pairs vs megaclusters — decides the
    // dedup application strategy)
    "q_dup_degree" -> ((s, d) =>
      graft.operators.Components.degreeHistogram(
        Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
          threshold = 0.8))),

    // triangle count of the same graph (clustering-coefficient
    // numerator) — two hash equi-joins over canonical a<b edges
    "q_dup_triangles" -> ((s, d) =>
      graft.operators.Components.triangleCount(
        Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
          threshold = 0.8))),

    // boilerplate-hub detection: the 4-core of the gram-OVERLAP graph
    // (docs sharing ≥2 word 3-grams). A ratio threshold can't see a
    // template hub (every pairwise union is huge), but the dense
    // overlap clique survives peeling while chains and stray pairs
    // fall away — the graph primitive the degree histogram motivates
    // but can't compute (degree is one round; the core is the
    // fixpoint)
    "q_dup_kcore" -> ((s, d) =>
      graft.operators.Components.kCore(
        Dedup.sharedGramPairs(Tables.documents(s, d), "doc_id", "text",
          minShared = 2), k = 4)
        .select(col("id").as("doc_id"), col("core_degree"))),

    // hub SCORING over the same overlap graph: exact integer
    // fixed-point PageRank (d = 17/20, scale 10^6, every division an
    // integer floor) — ranks the template centers the k-core only
    // detects; deterministic, so the power iteration itself is under
    // the hash gate
    "q_dup_pagerank" -> ((s, d) =>
      graft.operators.Components.pageRank(
        Dedup.sharedGramPairs(Tables.documents(s, d), "doc_id", "text",
          minShared = 2))
        .select(col("id").as("doc_id"), col("pr_scaled"))),

    // the EDGE-level cohesion filter: 4-truss of the overlap graph —
    // every surviving edge certified by ≥2 triangles, which keeps
    // mutual template clusters and drops the hub-and-spoke shapes a
    // k-core can't tell apart (a hub holds the core together while
    // its spokes share nothing)
    "q_dup_ktruss" -> ((s, d) =>
      graft.operators.Components.kTruss(
        Dedup.sharedGramPairs(Tables.documents(s, d), "doc_id", "text",
          minShared = 2), k = 4)
        .select(col("a").as("doc_a"), col("b").as("doc_b"),
          col("support"))),

    // WEIGHTED hub scoring: the same integer PageRank with each
    // share proportional to the shared-gram COUNT the unweighted
    // kernel discards — a 200-gram overlap outranks a 2-gram one, so
    // template centers rank by how much they share, not just with
    // how many neighbors
    "q_dup_pagerank_weighted" -> ((s, d) =>
      graft.operators.Components.pageRankWeighted(
        Dedup.sharedGramPairs(Tables.documents(s, d), "doc_id", "text",
          minShared = 2), "shared")
        .select(col("id").as("doc_id"), col("pr_scaled"))),

    // incremental-run bookkeeping: diff two corpus versions derived
    // deterministically from the gate table (docs dropped on each
    // side, a third of the survivors rewritten)
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldV = docs.filter(col("doc_id") % 7 =!= 0)
      val newV = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          upper(col("text"))).otherwise(col("text")))
      graft.operators.CorpusDiff.diff(oldV, newV, "doc_id", "text")
    }),
  )

  /** The Verify form of q_dedup_bundle joins all three derived frames
    * into one hash-pinnable row set — right for the gate, but a
    * single-action shape. The bench times the PRODUCTION shape
    * instead (round-11 verdict #2): one pair materialization, three
    * independent consuming actions (clusters, canonical, deduped —
    * how a pipeline actually uses the bundle), caches released after
    * the last. The whole span — pair generation + clustering + both
    * extra actions — rides the bench's timed `.count()`, because the
    * first two actions run inside this builder, which the bench
    * invokes inside its timing window. Expected: ≈ the cost of ONE
    * q_dedup_cluster_exact, not three — that is the amortization the
    * bundle exists for. */
  /** Bench-only memo: the minhash pair set materialized once per data
    * dir (parquet in a shutdown-cleaned temp dir) — q_dup_degree and
    * q_dup_triangles then time the GRAPH aggregation, not a fresh
    * pair pipeline each; production computes pairs once and runs
    * every graph stat on them (the q_index_stored/bundle precedent).
    * Verify keeps the standalone end-to-end form as the gate. The
    * write overwrites, so a retry after a failed build starts clean. */
  private def benchPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(once("minhash-pairs", d) {
      val out = s"${storeRoot("dupgraph", d)}/pairs"
      Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8).write.mode("overwrite").parquet(out)
      out
    })

  /** Bench-only memo for the gram-OVERLAP graph (the q_dup_kcore /
    * q_dup_pagerank input), same contract as [[benchPairs]]:
    * production computes the overlap pairs once and runs every graph
    * pass on them, so the bench times the PASSES, not a fresh
    * Σ freq² gram join per query. Verify keeps the standalone
    * end-to-end forms as the gate. */
  private def benchOverlapPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(once("overlap-pairs", d) {
      val out = s"${storeRoot("overlapgraph", d)}/pairs"
      Dedup.sharedGramPairs(Tables.documents(s, d), "doc_id", "text",
        minShared = 2).write.mode("overwrite").parquet(out)
      out
    })

  /** Build both pair-store memos off the clock (r15 verdict #6: the
    * first dup-graph query to run was paying the store build inside
    * its first timed run, spreading the family's runs up to 3.8×). */
  override def benchWarm(spark: SparkSession, sfDir: String): Unit = {
    benchPairs(spark, sfDir)
    benchOverlapPairs(spark, sfDir)
    ()
  }

  override def benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dup_degree" -> ((s, d) =>
      graft.operators.Components.degreeHistogram(benchPairs(s, d))),

    "q_dup_triangles" -> ((s, d) =>
      graft.operators.Components.triangleCount(benchPairs(s, d))),

    "q_dup_kcore" -> ((s, d) =>
      graft.operators.Components.kCore(benchOverlapPairs(s, d), k = 4)
        .select(col("id").as("doc_id"), col("core_degree"))),

    "q_dup_pagerank" -> ((s, d) =>
      graft.operators.Components.pageRank(benchOverlapPairs(s, d))
        .select(col("id").as("doc_id"), col("pr_scaled"))),

    "q_dup_pagerank_weighted" -> ((s, d) =>
      graft.operators.Components.pageRankWeighted(
          benchOverlapPairs(s, d), "shared")
        .select(col("id").as("doc_id"), col("pr_scaled"))),

    "q_dup_ktruss" -> ((s, d) =>
      graft.operators.Components.kTruss(benchOverlapPairs(s, d), k = 4)
        .select(col("a").as("doc_a"), col("b").as("doc_b"),
          col("support"))),

    "q_dedup_bundle" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bundle = Dedup.bundle(docs, "doc_id",
        Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
      bundle.clusters.count()
      bundle.canonical.count()
      graft.operators.Caches.releaseOnFirstUse(Seq(bundle.pairs, bundle.clusters))
      bundle.deduped
    }),

  )

  /** DuckDB replay of [[Dedup.exactJaccardPairs]] (threshold 0.8,
    * word 3-grams): the gram builder mirrors
    * TextAnalysis.stringShingles index-for-index — Spark
    * `sequence(0, greatest(size-3, 0))` + `slice(toks, i+1, 3)`
    * becomes `range(1, greatest(len-3, 0) + 2)` + the clamped
    * inclusive slice `t[i:i+2]` — and the candidate step is the same
    * shared-gram equi-join, so the oracle never goes all-pairs
    * either. */
  /** The shared gram-building prefix: per-doc distinct word 3-gram
    * lists plus their exploded (doc_id, gram) form — the index-for-
    * index mirror of TextAnalysis.stringShingles documented on
    * [[exactPairsCte]]. Ends at the `ex` CTE so both the Jaccard
    * replay and the overlap-graph replays build on one text. */
  private val gramExCte: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |),
      |grams AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(t) - 3, 0) + 2),
      |      i -> array_to_string(t[i:i+2], ' '))) AS g
      |  FROM toks
      |),
      |ex AS (SELECT doc_id, unnest(g) AS gram FROM grams)""".stripMargin

  private val exactPairsCte: String =
    gramExCte + """,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |),
      |pairs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
      |      / len(list_distinct(ga.g || gb.g)) AS jaccard
      |  FROM cand
      |  JOIN grams ga ON ga.doc_id = cand.doc_a
      |  JOIN grams gb ON gb.doc_id = cand.doc_b
      |  WHERE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
      |      / len(list_distinct(ga.g || gb.g)) >= 0.8
      |)""".stripMargin

  /** SQL twin of [[chainEdges]] + the component closure: CTEs ending
    * in cl(doc_id, cluster_id). Callers prepend WITH RECURSIVE. */
  private val chainClustersCte: String =
    """edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM documents a JOIN documents b
      |    ON b.doc_id = a.doc_id + 1
      |   AND substr(a.text, 1, 1) = substr(b.text, 1, 1)
      |),
      |sym AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT dst AS src, src AS dst FROM edges
      |),
      |walk(id, comp) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT w.id, s.dst FROM walk w JOIN sym s ON w.comp = s.src
      |),
      |cl AS (
      |  SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id
      |)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text",
    // brute-force truth for the blocked join: the operator's output is
    // semantically exact (complete blocking), so the oracle needs no
    // replay of the segment scheme — just the same mutants + the same
    // levenshtein predicate over all pairs
    "q_fuzzy_join" ->
      s"""WITH t AS (
         |  SELECT doc_id AS id, substr(text, 1, 40) AS s
         |  FROM documents WHERE text IS NOT NULL
         |), m1 AS (
         |  SELECT id, concat(substr(s, 1, (id % 20 + 5) - 1), 'q',
         |                    substr(s, (id % 20 + 5) + 1)) AS s
         |  FROM t WHERE id % 5 = 0
         |), v AS (
         |  SELECT id + 1000000 AS id,
         |    CASE WHEN id % 10 = 0
         |      THEN concat(substr(s, 1, (id % 20 + 14) - 1), 'q',
         |                  substr(s, (id % 20 + 14) + 1))
         |      ELSE s END AS s
         |  FROM m1
         |), u AS (
         |  SELECT id, s FROM t UNION ALL SELECT id, s FROM v
         |)
         |SELECT a.id AS id_a, b.id AS id_b,
         |       levenshtein(a.s, b.s) AS dist
         |FROM u a JOIN u b ON a.id < b.id
         |WHERE abs(length(a.s) - length(b.s)) <= 2
         |  AND levenshtein(a.s, b.s) <= 2
         |""".stripMargin,
    // A×B record linkage: same mutants (source ids kept), plain
    // brute-force cross join — no within-corpus pairs, no id ordering
    "q_fuzzy_join_ab" ->
      s"""WITH t AS (
         |  SELECT doc_id AS id, substr(text, 1, 40) AS s
         |  FROM documents WHERE text IS NOT NULL
         |), m1 AS (
         |  SELECT id, concat(substr(s, 1, (id % 20 + 5) - 1), 'q',
         |                    substr(s, (id % 20 + 5) + 1)) AS s
         |  FROM t WHERE id % 5 = 0
         |), v AS (
         |  SELECT id,
         |    CASE WHEN id % 10 = 0
         |      THEN concat(substr(s, 1, (id % 20 + 14) - 1), 'q',
         |                  substr(s, (id % 20 + 14) + 1))
         |      ELSE s END AS s
         |  FROM m1
         |)
         |SELECT a.id AS a_id, b.id AS b_id,
         |       levenshtein(a.s, b.s) AS dist
         |FROM t a JOIN v b
         |  ON abs(length(a.s) - length(b.s)) <= 2
         |WHERE levenshtein(a.s, b.s) <= 2
         |""".stripMargin,
    "q_dedup_pairs_exact" ->
      s"""WITH $exactPairsCte
         |SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard FROM pairs
         |""".stripMargin,
    // the CAPPED rule replayed, not the uncapped one: gram doc-freq
    // filter → candidates from capped grams only → intersection
    // COUNTED over the full gram universe → jaccard on full set sizes
    "q_dedup_pairs_capped" ->
      s"""WITH $gramExCte,
         |freqok AS (
         |  SELECT gram FROM ex GROUP BY gram HAVING count(*) <= 64
         |),
         |kx AS (SELECT ex.doc_id, ex.gram FROM ex JOIN freqok USING (gram)),
         |candc AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM kx a JOIN kx b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |),
         |inters AS (
         |  SELECT doc_a, doc_b, count(*) AS inter
         |  FROM candc
         |  JOIN ex ea ON ea.doc_id = candc.doc_a
         |  JOIN ex eb ON eb.doc_id = candc.doc_b AND eb.gram = ea.gram
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |  round(CAST(inter AS DOUBLE)
         |    / (len(ga.g) + len(gb.g) - inter), 4) AS jaccard
         |FROM inters
         |JOIN grams ga ON ga.doc_id = inters.doc_a
         |JOIN grams gb ON gb.doc_id = inters.doc_b
         |WHERE CAST(inter AS DOUBLE) / (len(ga.g) + len(gb.g) - inter) >= 0.8
         |""".stripMargin,
    "q_dedup_drop_exact" ->
      s"""WITH $exactPairsCte
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |""".stripMargin,
    // the count-based replay, divided per DIRECTION by that side's
    // distinct-gram set size (same gram universe as exactPairsCte)
    "q_containment" ->
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
        |sz AS (SELECT doc_id, len(g) AS ng FROM grams),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |),
        |dirs AS (
        |  SELECT doc_a AS doc_inner, doc_b AS doc_outer,
        |    CAST(i AS DOUBLE) / sa.ng AS containment
        |  FROM inter JOIN sz sa ON sa.doc_id = inter.doc_a
        |  UNION ALL
        |  SELECT doc_b AS doc_inner, doc_a AS doc_outer,
        |    CAST(i AS DOUBLE) / sb.ng AS containment
        |  FROM inter JOIN sz sb ON sb.doc_id = inter.doc_b
        |)
        |SELECT doc_inner, doc_outer, round(containment, 4) AS containment
        |FROM dirs WHERE containment >= 0.8""".stripMargin,
    "q_dedup_cluster_exact" ->
      s"""WITH RECURSIVE $exactPairsCte,
         |sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |),
         |walk(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.id, s.dst FROM walk w JOIN sym s ON w.comp = s.src
         |)
         |SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id
         |""".stripMargin,
    "q_dedup_canonical_exact" ->
      s"""WITH RECURSIVE $exactPairsCte,
         |sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |),
         |walk(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.id, s.dst FROM walk w JOIN sym s ON w.comp = s.src
         |)
         |SELECT id AS doc_id FROM walk GROUP BY id HAVING min(comp) = id
         |""".stripMargin,
    // every bundle flag from one walk: cluster label = min reachable,
    // canonical = label is own id, kept = never a doc_b (the greedy
    // rule) — the same semantics the three *_exact oracles pin
    // separately
    "q_dedup_bundle" ->
      s"""WITH RECURSIVE $exactPairsCte,
         |sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |),
         |walk(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.id, s.dst FROM walk w JOIN sym s ON w.comp = s.src
         |),
         |cl AS (
         |  SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id
         |),
         |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
         |SELECT cl.doc_id, cl.cluster_id,
         |  CASE WHEN cl.cluster_id = cl.doc_id THEN 1 ELSE 0 END
         |    AS is_canonical,
         |  CASE WHEN dropped.doc_id IS NULL THEN 1 ELSE 0 END AS kept
         |FROM cl LEFT JOIN dropped ON cl.doc_id = dropped.doc_id
         |""".stripMargin,
    // transitive closure of the chain-edge relation via recursive CTE:
    // walk enumerates every node reachable from each doc through the
    // symmetrized edges; min(reachable ∪ self) is the component label
    "q_components" ->
      s"""WITH RECURSIVE $chainClustersCte
         |SELECT doc_id, cluster_id FROM cl
         |""".stripMargin,
    // the closure plus a size window: weight divides exact BIGINT
    // counts into a round-6 double, same as the Spark side
    "q_dedup_weights" ->
      s"""WITH RECURSIVE $chainClustersCte
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  round(CAST(1.0 AS DOUBLE)
         |    / count(*) OVER (PARTITION BY cluster_id), 6) AS weight
         |FROM cl
         |""".stripMargin,
    // incremental == full recompute: the oracle is the ONE-SHOT
    // closure over all chain edges — identical to q_components's —
    // so the hash pins the maintenance path against the from-scratch
    // answer
    "q_components_incremental" ->
      s"""WITH RECURSIVE $chainClustersCte
         |SELECT doc_id, cluster_id FROM cl
         |""".stripMargin,

    // the closure plus the q_hash_split CASE keyed on cluster_id —
    // thresholds generated by the same code the operator uses
    "q_split_leakage" -> {
      val Seq(t1, t2) = graft.operators.TextAnalysis.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""WITH RECURSIVE $chainClustersCte
         |SELECT doc_id, cluster_id, CASE
         |  WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < '$t1'
         |    THEN 'train'
         |  WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < '$t2'
         |    THEN 'val'
         |  ELSE 'test' END AS split
         |FROM cl
         |""".stripMargin
    },

    // positional char-20-gram replay of Dedup.spanProfile: range is
    // Spark's sequence(1, greatest(len-19, 1)) (inclusive → exclusive
    // +1), the clamped slice text[i:i+19] is substring(text, i, 20)
    // truncated the same way at the tail, dup = grams in >= 2 distinct
    // docs, and the flag compares the ROUNDED dup_frac exactly as the
    // Spark column does. Gram identity is the raw substring here vs
    // pmod(xxhash64) on the Spark side — collision-free at gate scale
    // (SpanProfileSpec pins distinct-substrings == distinct-hashes on
    // the gate corpus; demote to rows-only if that canary ever trips)
    "q_dedup_spans" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(text) - 19, 1) + 1),
        |      i -> text[i:i+19]) AS spans
        |  FROM documents
        |),
        |pos AS (SELECT doc_id, unnest(spans) AS s FROM g),
        |dup AS (
        |  SELECT s FROM (
        |    SELECT s, count(DISTINCT doc_id) AS c FROM pos GROUP BY s)
        |  WHERE c >= 2
        |),
        |cnt AS (
        |  SELECT doc_id, count(*) AS n_dup
        |  FROM pos JOIN dup USING (s) GROUP BY doc_id
        |)
        |SELECT g.doc_id,
        |  len(spans) AS n_spans,
        |  coalesce(cnt.n_dup, 0) AS n_dup_spans,
        |  round(CAST(coalesce(cnt.n_dup, 0) AS DOUBLE) / len(spans), 6)
        |    AS dup_frac,
        |  CASE WHEN round(CAST(coalesce(cnt.n_dup, 0) AS DOUBLE)
        |                    / len(spans), 6) >= 0.5
        |       THEN 1 ELSE 0 END AS flagged
        |FROM g LEFT JOIN cnt USING (doc_id)
        |""".stripMargin,
    // the incremental split replayed: corpus = distinct grams of even
    // docs, batch = positional grams of odd docs, dup = membership
    "q_dedup_spans_incremental" ->
      """WITH corpus AS (
        |  SELECT DISTINCT unnest(list_transform(
        |    range(1, greatest(len(text) - 19, 1) + 1),
        |    i -> text[i:i+19])) AS s
        |  FROM documents WHERE doc_id % 2 = 0
        |),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(text) - 19, 1) + 1),
        |      i -> text[i:i+19]) AS spans
        |  FROM documents WHERE doc_id % 2 = 1
        |),
        |pos AS (SELECT doc_id, unnest(spans) AS s FROM g),
        |cnt AS (
        |  SELECT doc_id, count(*) AS n_dup
        |  FROM pos JOIN corpus USING (s) GROUP BY doc_id
        |)
        |SELECT g.doc_id,
        |  len(spans) AS n_spans,
        |  coalesce(cnt.n_dup, 0) AS n_dup_spans,
        |  round(CAST(coalesce(cnt.n_dup, 0) AS DOUBLE) / len(spans), 6)
        |    AS dup_frac,
        |  CASE WHEN round(CAST(coalesce(cnt.n_dup, 0) AS DOUBLE)
        |                    / len(spans), 6) >= 0.5
        |       THEN 1 ELSE 0 END AS flagged
        |FROM g LEFT JOIN cnt USING (doc_id)
        |""".stripMargin,
    // same window universe, gaps-and-islands: zipped unnests carry the
    // 0-based position (the q_embed_quantize alignment trick), islands
    // are p - row_number() per doc, and the longest island converts to
    // chars as (run-1)*stride + k (stride 1, k 20 at the gate)
    "q_dedup_span_runs" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(text) - 19, 1) + 1),
        |      i -> text[i:i+19]) AS spans
        |  FROM documents
        |),
        |pos AS (
        |  SELECT doc_id, unnest(spans) AS s,
        |    unnest(range(len(spans))) AS p
        |  FROM g
        |),
        |dup AS (
        |  SELECT s FROM (
        |    SELECT s, count(DISTINCT doc_id) AS c FROM pos GROUP BY s)
        |  WHERE c >= 2
        |),
        |islands AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM pos JOIN dup USING (s)
        |),
        |runs AS (
        |  SELECT doc_id, grp, count(*) AS run FROM islands GROUP BY 1, 2
        |),
        |mx AS (SELECT doc_id, max(run) AS mx FROM runs GROUP BY doc_id)
        |SELECT g.doc_id,
        |  coalesce(mx.mx, 0) AS max_run_spans,
        |  coalesce((mx.mx - 1) * 1 + 20, 0) AS max_run_chars
        |FROM g LEFT JOIN mx USING (doc_id)
        |""".stripMargin,
    // destructive replay: owner = min doc per dup gram, drop starts =
    // this doc's positions of non-owned dup grams (1-based), rebuild =
    // keep char i unless a dropped window [s, s+20) covers it —
    // exactly the Spark-side HOF, lambda for lambda. The coalesce
    // exists because DuckDB array_to_string([]) is NULL where Spark
    // concat_ws is '' (a fully-stripped doc must yield '')
    "q_dedup_span_strip" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    list_transform(range(1, greatest(len(text) - 19, 1) + 1),
        |      i -> text[i:i+19]) AS spans
        |  FROM documents
        |),
        |pos AS (
        |  SELECT doc_id, unnest(spans) AS s,
        |    unnest(range(len(spans))) AS p
        |  FROM g
        |),
        |own AS (
        |  SELECT s, min(doc_id) AS owner FROM pos
        |  GROUP BY s HAVING count(DISTINCT doc_id) >= 2
        |),
        |drops AS (
        |  SELECT doc_id, list_sort(list(p + 1)) AS starts
        |  FROM pos JOIN own USING (s)
        |  WHERE doc_id != owner
        |  GROUP BY doc_id
        |)
        |SELECT doc_id, stripped AS text,
        |  len(text0) - len(stripped) AS dropped_chars
        |FROM (
        |  SELECT g.doc_id, g.text AS text0,
        |    CASE WHEN drops.starts IS NULL THEN g.text ELSE
        |      coalesce(array_to_string(list_filter(
        |        list_transform(range(1, len(g.text) + 1),
        |          i -> CASE WHEN len(list_filter(drops.starts,
        |                       s -> s <= i AND i < s + 20)) > 0
        |                    THEN NULL ELSE g.text[i:i] END),
        |        x -> x IS NOT NULL), ''), '')
        |    END AS stripped
        |  FROM g LEFT JOIN drops USING (doc_id)
        |)
        |""".stripMargin,
    // q_dedup_minhash under the EXACT-pairs oracle: the operator
    // exact-verifies every banded candidate with set Jaccard, so its
    // output is {pairs banding surfaced} ∩ {Jaccard >= 0.8} — equal to
    // the brute exact-pair set whenever banding recall is 1 and the
    // hashed-gram universe is collision-free, and BOTH hold by a wide
    // margin at the gate corpus: every true pair there sits at
    // s >= 0.9, where the (b=16, r=4) miss probability (1 - s^4)^16 is
    // < 1e-7 per pair, and xxhash64 collisions among ~1e5 grams are
    // ~1e-10. General-corpus recall stays DedupSpec's job; this pins
    // the verify arithmetic + pair emission bit-for-bit in the gate.
    "q_dedup_minhash" ->
      s"""WITH $exactPairsCte
         |SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard FROM pairs
         |""".stripMargin,
    // q_dedup_ngram, same argument over the char-5-gram universe: the
    // gram builder mirrors graft_chargrams index-for-index (the HOF
    // form sequence(1, greatest(len-4, 1)) + substring(text, i, 5)
    // becomes range + the clamped slice t[i:i+4]; short/empty texts
    // yield one truncated gram on both sides), candidates are the shared-gram
    // equi-join (a superset of the banded candidates), and the exact
    // set Jaccard on distinct grams equals Spark's over distinct
    // hashed grams absent collisions
    "q_dedup_ngram" ->
      """WITH chargrams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(text) - 4, 1) + 1),
        |      i -> text[i:i+4])) AS g
        |  FROM documents
        |),
        |ex AS (SELECT doc_id, unnest(g) AS gram FROM chargrams),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
        |      / len(list_distinct(ga.g || gb.g)) AS jaccard
        |  FROM cand
        |  JOIN chargrams ga ON ga.doc_id = cand.doc_a
        |  JOIN chargrams gb ON gb.doc_id = cand.doc_b
        |  WHERE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
        |      / len(list_distinct(ga.g || gb.g)) >= 0.8
        |)
        |SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard FROM pairs
        |""".stripMargin,
    // q_dedup_incremental under the same exact-verification argument
    // as q_dedup_minhash above, restricted to the new×corpus shape:
    // doc_a ranges over the odd-id batch, doc_b over the even-id
    // corpus (NOT a < b), same word-3-gram universe
    "q_dedup_incremental" ->
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
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ex a JOIN ex b ON a.gram = b.gram
        |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
        |      / len(list_distinct(ga.g || gb.g)) AS jaccard
        |  FROM cand
        |  JOIN grams ga ON ga.doc_id = cand.doc_a
        |  JOIN grams gb ON gb.doc_id = cand.doc_b
        |  WHERE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
        |      / len(list_distinct(ga.g || gb.g)) >= 0.8
        |)
        |SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard FROM pairs
        |""".stripMargin,
    // the minhash-DRIVEN destructive trio under the *_exact oracles:
    // each is a deterministic function of the minhash pair set, and
    // q_dedup_minhash above hash-pins that set equal to the exact
    // pairs — so these three can only diverge from the *_exact
    // answers in a gate run where q_dedup_minhash itself is already
    // red (a banding miss fails all four together; no new flake mode)
    "q_dedup_drop" ->
      s"""WITH $exactPairsCte
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |""".stripMargin,
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $exactPairsCte,
         |sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |),
         |walk(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.id, s.dst FROM walk w JOIN sym s ON w.comp = s.src
         |)
         |SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id
         |""".stripMargin,
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE $exactPairsCte,
         |sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |),
         |walk(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.id, s.dst FROM walk w JOIN sym s ON w.comp = s.src
         |)
         |SELECT id AS doc_id FROM walk GROUP BY id HAVING min(comp) = id
         |""".stripMargin,
    // the whole simhash pipeline replayed (rows-only through round
    // 13, when the token hash was xxhash64 — no DuckDB twin; it now
    // rides the md5-derived 60-bit mix, Sketch.md5Hash60Sql):
    // per-token hash, per-bit majority vote, 4×16-bit banding with
    // the maxBucket=64 prune, pair join, hamming ≤ 3 verify. Bits
    // are folded over range(60), not 64: token hashes live in
    // [0, 2^60) so bits 60–63 of every hash are 0 and their majority
    // (-n_tokens < 0) is always a 0 bit — summing them would only
    // risk a vectorized 1<<63 overflow for no information.
    "q_dedup_simhash" -> {
      val fold = TextPack.hexFoldSql("h", 15)
      s"""WITH toks0 AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
         |),
         |toks AS (
         |  SELECT doc_id, substr(md5(t), 1, 15) AS h FROM toks0
         |),
         |th AS (
         |  SELECT doc_id, $fold AS hv FROM toks
         |),
         |bits AS (
         |  SELECT doc_id, bb.bit,
         |    CASE WHEN sum(CASE WHEN (hv >> bb.bit) & 1 = 1
         |                       THEN 1 ELSE -1 END) > 0
         |         THEN 1 ELSE 0 END AS s
         |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS bit) bb
         |  GROUP BY doc_id, bb.bit
         |),
         |fp AS (
         |  SELECT doc_id AS id,
         |    sum(CASE WHEN s = 1 THEN (CAST(1 AS BIGINT) << bit)
         |             ELSE CAST(0 AS BIGINT) END) AS fp
         |  FROM bits GROUP BY doc_id
         |),
         |chunks AS (
         |  SELECT id, fp, jj.band, (fp >> (jj.band * 16)) & 65535 AS sig
         |  FROM fp CROSS JOIN (SELECT CAST(unnest(range(4)) AS INT) AS band) jj
         |),
         |sizes AS (SELECT band, sig, count(*) AS c FROM chunks GROUP BY 1, 2),
         |pruned AS (
         |  SELECT ch.id, ch.fp, ch.band, ch.sig FROM chunks ch
         |  JOIN sizes s ON s.band = ch.band AND s.sig = ch.sig
         |  WHERE s.c <= 64
         |)
         |SELECT DISTINCT l.id AS doc_a, r.id AS doc_b,
         |  CAST(bit_count(xor(l.fp, r.fp)) AS INT) AS hamming
         |FROM pruned l JOIN pruned r
         |  ON l.band = r.band AND l.sig = r.sig AND l.id < r.id
         |WHERE bit_count(xor(l.fp, r.fp)) <= 3
         |""".stripMargin
    },
    // the KMV sketch replayed: distinct 60-bit md5 hashes, the k
    // smallest, then the SAME double expression Sketch.kmvDistinct
    // evaluates — (k−1) / (hk / 2^60) floored — over the identical
    // hk, so the estimate matches bit-for-bit. Below k distinct
    // hashes the estimator is the observed count on both sides.
    "q_approx_distinct" -> {
      val fold = TextPack.hexFoldSql("h", 15)
      s"""WITH hx AS (
         |  SELECT DISTINCT substr(md5(text), 1, 15) AS h FROM documents
         |),
         |hvs AS (SELECT DISTINCT $fold AS hv FROM hx),
         |ks AS (
         |  SELECT max(hv) AS hk, count(*) AS m
         |  FROM (SELECT hv FROM hvs ORDER BY hv LIMIT 1024)
         |)
         |SELECT
         |  CASE WHEN m < 1024 THEN m
         |       ELSE CAST(floor(1023.0 / (CAST(hk AS DOUBLE)
         |                                 / 1152921504606846976.0)) AS BIGINT)
         |  END AS approx_docs,
         |  (SELECT count(DISTINCT text) FROM documents) AS exact_docs
         |FROM ks
         |""".stripMargin
    },

    // the grouped estimator replayed: same per-source window rank,
    // same max/count read, same double expression
    "q_approx_distinct_grouped" -> {
      val fold = TextPack.hexFoldSql("h", 15)
      s"""WITH hx AS (
         |  SELECT DISTINCT source, substr(md5(text), 1, 15) AS h
         |  FROM documents WHERE text IS NOT NULL
         |),
         |hv AS (SELECT DISTINCT source, $fold AS hv FROM hx),
         |topk AS (
         |  SELECT source, hv, row_number() OVER (
         |    PARTITION BY source ORDER BY hv) AS rn
         |  FROM hv
         |),
         |ks AS (
         |  SELECT source, max(hv) AS hk, count(*) AS m
         |  FROM topk WHERE rn <= 16 GROUP BY 1
         |),
         |ex AS (
         |  SELECT source, count(DISTINCT text) AS exact_docs
         |  FROM documents GROUP BY 1
         |)
         |SELECT ks.source,
         |  CASE WHEN m < 16 THEN m
         |       ELSE CAST(floor(15.0 / (CAST(hk AS DOUBLE)
         |                               / 1152921504606846976.0)) AS BIGINT)
         |  END AS approx_distinct,
         |  exact_docs
         |FROM ks JOIN ex USING (source)""".stripMargin
    },

    // same pair universe as q_dedup_minhash's oracle (banding-margin
    // canary covers the equivalence), aggregated to degrees/triangles
    "q_dup_degree" ->
      s"""WITH $exactPairsCte,
         |deg AS (
         |  SELECT doc, count(*) AS degree FROM (
         |    SELECT doc_a AS doc FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs)
         |  GROUP BY 1
         |)
         |SELECT degree, count(*) AS docs FROM deg GROUP BY 1""".stripMargin,

    "q_dup_triangles" ->
      s"""WITH $exactPairsCte
         |SELECT count(*) AS triangles
         |FROM pairs p1
         |JOIN pairs p2 ON p2.doc_a = p1.doc_b
         |JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b""".stripMargin,

    // k-core peeling replayed by UNROLLING: stage i+1 = nodes of
    // stage i with ≥4 neighbors inside stage i (survivor sets only
    // shrink, so once the peel fixpoint is reached — 7 rounds at gate
    // scale — the remaining stages are identity). A recursive CTE
    // can't express a SHRINKING set (its union only accumulates), so
    // the rounds are spelled out; 16 stages leave 2× headroom over
    // the observed depth — and a CANARY row (doc_id −1) fires when
    // s15 ≠ s16, so a deeper-than-16 peel on future data turns the
    // gate loudly red (row-count mismatch) instead of silently
    // passing a superset. MATERIALIZED is load-bearing: each stage
    // references its predecessor twice, so inlined CTEs would expand
    // the plan 2^16-fold (measured: blows the fd limit before it even
    // runs); materialization makes each stage evaluate once.
    "q_dup_kcore" -> {
      val k = 4
      val stages = (1 to 16).map { i =>
        s"""s$i AS MATERIALIZED (
           |  SELECT e.src AS id FROM sym e
           |  JOIN s${i - 1} a ON e.src = a.id
           |  JOIN s${i - 1} b ON e.dst = b.id
           |  GROUP BY 1 HAVING count(*) >= $k
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $gramExCte,
         |edges AS MATERIALIZED (
         |  SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT dst AS src, src AS dst FROM edges
         |),
         |s0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym),
         |$stages
         |SELECT e.src AS doc_id, count(*) AS core_degree
         |FROM sym e
         |JOIN s16 a ON e.src = a.id
         |JOIN s16 b ON e.dst = b.id
         |GROUP BY 1
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(-1 AS BIGINT) AS core_degree
         |WHERE (SELECT count(*) FROM s15) != (SELECT count(*) FROM s16)""".stripMargin
    },

    // edge peeling replayed by unrolling (the k-core pattern at the
    // EDGE level): per stage, support = common-neighbor count via the
    // same two-wing adjacency join the Spark side runs, weak edges
    // dropped, 8 stages over the observed 3-round depth, with the
    // stage-7≠8 canary row turning a deeper peel loudly red
    "q_dup_ktruss" -> {
      val k = 4
      val stages = (1 to 8).map { i =>
        s"""y$i AS MATERIALIZED (
           |  SELECT a AS u, b AS v FROM e${i - 1}
           |  UNION ALL SELECT b AS u, a AS v FROM e${i - 1}
           |),
           |t$i AS MATERIALIZED (
           |  SELECT e.a, e.b, count(*) AS sup
           |  FROM e${i - 1} e
           |  JOIN y$i s1 ON s1.u = e.a
           |  JOIN y$i s2 ON s2.u = e.b AND s2.v = s1.v
           |  GROUP BY 1, 2
           |),
           |e$i AS MATERIALIZED (
           |  SELECT e.a, e.b FROM e${i - 1} e
           |  LEFT JOIN t$i t ON t.a = e.a AND t.b = e.b
           |  WHERE coalesce(t.sup, 0) >= ${k - 2}
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $gramExCte,
         |e0 AS MATERIALIZED (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |),
         |$stages,
         |yf AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e8 UNION ALL SELECT b AS u, a AS v FROM e8
         |),
         |tf AS MATERIALIZED (
         |  SELECT e.a, e.b, count(*) AS sup
         |  FROM e8 e
         |  JOIN yf s1 ON s1.u = e.a
         |  JOIN yf s2 ON s2.u = e.b AND s2.v = s1.v
         |  GROUP BY 1, 2
         |)
         |SELECT e.a AS doc_a, e.b AS doc_b,
         |  CAST(coalesce(t.sup, 0) AS BIGINT) AS support
         |FROM e8 e LEFT JOIN tf t ON t.a = e.a AND t.b = e.b
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT) AS doc_a, CAST(-1 AS BIGINT) AS doc_b,
         |  CAST(-1 AS BIGINT) AS support
         |WHERE (SELECT count(*) FROM e7) != (SELECT count(*) FROM e8)""".stripMargin
    },

    // the integer power iteration replayed round for round: // is
    // DuckDB's floor division (all values positive, so it matches
    // Spark's `div` exactly); window sums promote to HUGEINT
    // internally and the output casts back to BIGINT. MATERIALIZED
    // for the same 2^rounds-inlining reason as the k-core stages.
    "q_dup_pagerank" -> {
      val stages = (1 to 8).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT e.dst AS id,
           |    150000 + (17 * sum(p.pr // g.deg)) // 20 AS pr
           |  FROM sym e
           |  JOIN p${i - 1} p ON p.id = e.src
           |  JOIN deg g ON g.id = e.src
           |  GROUP BY 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $gramExCte,
         |edges AS MATERIALIZED (
         |  SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT dst AS src, src AS dst FROM edges
         |),
         |deg AS MATERIALIZED (
         |  SELECT src AS id, count(*) AS deg FROM sym GROUP BY 1
         |),
         |p0 AS MATERIALIZED (
         |  SELECT id, CAST(1000000 AS BIGINT) AS pr FROM deg
         |),
         |$stages
         |SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr_scaled FROM p8""".stripMargin
    },

    // the weighted power iteration replayed round for round: share =
    // (pr · w) // wsum per EDGE (the division can't factor out to one
    // row per node), w = the shared-gram count the edge CTE already
    // aggregates; same //-is-floor / HUGEINT-promotes / cast-back
    // contract as q_dup_pagerank
    "q_dup_pagerank_weighted" -> {
      val stages = (1 to 8).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT e.dst AS id,
           |    150000 + (17 * sum((p.pr * e.w) // g.wsum)) // 20 AS pr
           |  FROM sym e
           |  JOIN p${i - 1} p ON p.id = e.src
           |  JOIN ws g ON g.id = e.src
           |  GROUP BY 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $gramExCte,
         |edges AS MATERIALIZED (
         |  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS w
         |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |),
         |sym AS MATERIALIZED (
         |  SELECT src, dst, w FROM edges
         |  UNION ALL
         |  SELECT dst AS src, src AS dst, w FROM edges
         |),
         |ws AS MATERIALIZED (
         |  SELECT src AS id, sum(w) AS wsum FROM sym GROUP BY 1
         |),
         |p0 AS MATERIALIZED (
         |  SELECT id, CAST(1000000 AS BIGINT) AS pr FROM ws
         |),
         |$stages
         |SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr_scaled FROM p8""".stripMargin
    },

    "q_corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(coalesce(text, '')) AS oh
        |  FROM documents WHERE doc_id % 7 <> 0
        |),
        |n AS (
        |  SELECT doc_id, md5(coalesce(
        |    CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END,
        |    '')) AS nh
        |  FROM documents WHERE doc_id % 5 <> 0
        |)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN oh IS NULL THEN 'added'
        |       WHEN nh IS NULL THEN 'removed'
        |       WHEN oh = nh THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,
  )
}
