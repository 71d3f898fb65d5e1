package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, TextAnalysis}

/** Physical-plan pins for the properties the 100 TB path depends on:
  * filters and projections reaching the parquet scan, the bounded hot
  * side of skew-split joins actually broadcasting, and the LSH pair
  * pipeline never degenerating into a cartesian product. These are the
  * invariants a refactor could silently lose while every value-level
  * test stays green. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter and projection push down into the parquet scan") {
    val df = Tables.lineitem(spark, SparkSuite.sf0001)
      .filter(col("l_returnflag") === "A")
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_returnflag,A)"),
      s"filter not pushed to scan:\n$p")
    // column pruning: the scan must not read columns the query never uses
    assert(!p.contains("l_extendedprice") && !p.contains("l_shipdate"),
      s"scan reads unprojected columns:\n$p")
  }

  test("tfidf frequency-split: the bounded hot-term side broadcasts") {
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(TextAnalysis.tfidfTop(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"),
      s"hot-term join is not a broadcast join:\n$p")
  }

  test("bm25 keeps the frequency-split broadcast and adds no cartesian") {
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(TextAnalysis.bm25Top(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"),
      s"hot-term join is not a broadcast join:\n$p")
    // the 1-row totals scalar must ride a broadcast nested loop, never
    // a flat cartesian of the scored rows
    assert(!p.contains("CartesianProduct"),
      s"totals scalar degenerated to a cartesian product:\n$p")
  }

  test("chunkTokens and projectDense are single-stage map-side plans") {
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val pc = plan(TextAnalysis.chunkTokens(docs, "doc_id", "text", 32, 24))
    assert(!pc.contains("Exchange"), s"chunking shuffles:\n$pc")
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val pp = plan(Similarity.projectDense(emb, "vec_id", "embedding",
      dim = 64, outDim = 8))
    assert(!pp.contains("Exchange"), s"dense projection shuffles:\n$pp")
  }

  test("IVF probe list broadcasts; scan side never shuffles on cluster") {
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val q = Similarity.seededUnitVector(64, 11L)
    val p = plan(Similarity.ivfTopK(emb, "vec_id", "embedding", "label", q, 10))
    assert(p.contains("BroadcastHashJoin"),
      s"probed-centroid join is not broadcast:\n$p")
  }

  test("embedding near-dup plan has no cartesian product") {
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val p = plan(Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.40))
    assert(!p.contains("CartesianProduct"),
      s"LSH pair pipeline degenerated to a cartesian product:\n$p")
    spark.catalog.clearCache()
  }

  test("minhash pair pipeline: no cartesian, maxBucket prune survives the optimizer") {
    // feeds q_dedup_minhash / drop / cluster / canonical — the top of
    // the dedup cost ranking. Two load-bearing shapes: the band
    // self-join must stay an equi-join on (band, sig), and the
    // bucket-size cap (count <= 64) must remain a real Filter in the
    // physical plan — if an optimizer change or refactor dropped it,
    // one hot bucket at corpus scale would go quadratic.
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(graft.operators.Dedup.minhashNearDups(
      docs, "doc_id", "text", threshold = 0.8))
    assert(!p.contains("CartesianProduct"),
      s"band pair join degenerated to a cartesian product:\n$p")
    assert(p.linesIterator.exists(l => l.contains("count#") && l.contains("<= 64")),
      s"maxBucket=64 bucket-size filter not found in the physical plan:\n$p")
    spark.catalog.clearCache()
  }

  test("exact gram-Jaccard pair pipeline (bundle family input): count-based, no cartesian") {
    // feeds q_dedup_bundle and the *_exact trio. The gram equi-join
    // must never widen to a cartesian, and the count-based rewrite
    // must hold: no array_intersect on the hot path (the intersection
    // is COUNTED in the join; re-shuffling dense gram arrays per
    // candidate pair was 1.7x slower and is the corpus-scale killer).
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(graft.operators.Dedup.exactJaccardPairs(
      docs, "doc_id", "text", threshold = 0.8))
    assert(!p.contains("CartesianProduct"),
      s"gram candidate join degenerated to a cartesian product:\n$p")
    assert(!p.contains("array_intersect"),
      s"uncapped exact pairs regressed to the array-shuffling form:\n$p")
    spark.catalog.clearCache()
  }

  test("shared-gram overlap pairs (k-core input): count-based equi-join, no cartesian") {
    // feeds q_dup_kcore. Same load-bearing shape as the exact-Jaccard
    // audit: candidates come from the gram equi-join with |A∩B|
    // counted in place — never a cartesian, never dense gram arrays
    // re-shuffled per candidate pair.
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(graft.operators.Dedup.sharedGramPairs(
      docs, "doc_id", "text", minShared = 2))
    assert(!p.contains("CartesianProduct"),
      s"overlap-pair join degenerated to a cartesian product:\n$p")
    assert(!p.contains("array_intersect"),
      s"overlap pairs regressed to the array-shuffling form:\n$p")
    spark.catalog.clearCache()
  }

  test("PQ: encode is a single map-side stage; ADC probe is one TakeOrdered, no join") {
    // feeds q_ann_pq. The serving win is that neither step touches a
    // vector join: encode evaluates codebook literals inside codegen,
    // the probe reads m literal tables and TakeOrders — a shuffle or
    // join appearing here means the literals regressed to a
    // relational plan.
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val model = graft.operators.Similarity.pqFit(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 1, seed = 7L)
    val enc = graft.operators.Similarity.pqEncode(emb, "vec_id", "embedding",
      model)
    val pe = plan(enc)
    assert(!pe.contains("Exchange") && !pe.contains("Join"),
      s"PQ encode is not a pure map-side stage:\n$pe")
    val pp = plan(graft.operators.Similarity.pqTopK(enc, "vec_id",
      graft.queries.SimilarityPack.queryVec, model, 10))
    assert(pp.contains("TakeOrderedAndProject"),
      s"ADC top-k is not a TakeOrdered:\n$pp")
    assert(!pp.contains("Join") && !pp.contains("CartesianProduct"),
      s"ADC probe grew a join:\n$pp")
    spark.catalog.clearCache()
  }

  test("ewmaTrend is one window exchange; sourcePercentiles aggregates before any window") {
    // q_ewma_trend: W lag reads must share ONE window (one exchange
    // on the group key) — a per-term window would be W exchanges.
    val s = spark
    import s.implicits._
    val daily = Seq(("a", 1, 1L), ("a", 2, 2L)).toDF("g", "day", "cnt")
    val pe = plan(graft.operators.EventAnalytics.ewmaTrend(
      daily, "g", "day", "cnt"))
    assert(pe.sliding("Window".length).count(_ == "Window") >= 1 &&
      "Exchange".r.findAllIn(pe).size <= 2,
      s"ewmaTrend grew extra exchanges:\n$pe")
    // q_source_percentiles: the corpus-scale work is the combinable
    // (source, len) aggregate — a partial_count must appear BELOW the
    // windows, and the windows run over the histogram, after its own
    // aggregate, never over raw docs.
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val pp = plan(graft.operators.TextAnalysis.sourcePercentiles(
      docs, "source", "text"))
    assert(pp.contains("partial_count") || pp.contains("partial count"),
      s"histogram aggregate lost its map-side combine:\n$pp")
    spark.catalog.clearCache()
  }

  test("components: pointer jumping converges in O(log d) rounds; rounds end checkpointed") {
    // feeds q_components / q_dedup_cluster / q_dedup_canonical. A
    // 65-node chain (diameter 64) must converge in ~log2 rounds —
    // plain min-propagation would need ~64 — and the returned labels
    // plan must be a truncated scan of the last round's checkpoint:
    // if a refactor dropped the per-round localCheckpoint, the final
    // plan would embed every round's join cascade (Exchanges growing
    // with round count, analysis time growing superlinearly at scale).
    import spark.implicits._
    val edges = (0L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val res = graft.operators.Components.connectedComponentsWithStats(edges,
      localSolveMaxEdges = 0L)
    assert(res.converged, "65-node chain did not converge within maxIter")
    assert(res.iterations <= 10,
      s"${res.iterations} rounds for a diameter-64 chain — pointer jumping regressed")
    val labels = res.labels
    assert(labels.collect().forall(_.getLong(1) == 0L))
    val p = plan(labels)
    assert(!p.contains("Exchange") && p.contains("ExistingRDD"),
      s"labels plan is not a truncated checkpoint scan:\n$p")
  }

  test("unigram xent: corpus-totals scalar broadcasts; no cartesian") {
    // q_unigram_xent multiplies every (doc, term) row by a 1-row
    // corpus total — that scalar must ride a broadcast, never a flat
    // cartesian against the term table (same trap class as bm25's
    // totals and the quality threshold).
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(TextAnalysis.unigramCrossEntropy(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"),
      s"totals scalar degenerated to a cartesian product:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus totals do not broadcast:\n$p")
    spark.catalog.clearCache()
  }

  test("stripBoilerplate anti-join broadcasts the bounded boilerplate list") {
    // the 100 TB argument rests on the df>cap list being tiny ⇒ the
    // segs ⋈ boiler LeftAnti must be a BROADCAST hash join, never a
    // shuffled anti-join on the full segment table. The build side is
    // a filtered aggregate whose static size estimate is unknown, so
    // the broadcast decision is AQE's — execute first, then pin the
    // FINAL adaptive plan.
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val df = TextAnalysis.stripBoilerplate(docs, "doc_id", "text",
      sep = " ", maxDocFreq = 300L)
    df.collect()
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), s"plan not finalized:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"boilerplate anti-join is not a broadcast LeftAnti:\n$p")
  }

  test("span family: equi-joins only, and runs' islands window partitions by doc") {
    // q_dedup_spans / q_dedup_span_runs explode O(chars) rows — the
    // dup-set join back must stay a hash equi-join on the 8-byte gram
    // hash (a cartesian here is corpus²), and the gaps-and-islands
    // row_number must never collapse to a global single-partition
    // window (the trap vocab's scaladoc documents).
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val ps = plan(graft.operators.Dedup.spanProfile(docs, "doc_id", "text"))
    assert(!ps.contains("CartesianProduct"),
      s"span profile degenerated to a cartesian:\n$ps")
    val pr = plan(graft.operators.Dedup.spanRuns(docs, "doc_id", "text"))
    assert(!pr.contains("CartesianProduct"),
      s"span runs degenerated to a cartesian:\n$pr")
    // physical Window prints `Window [fns], [partition cols], [order]`
    // — a global window would show an EMPTY partition list `], []`
    assert(pr.linesIterator.exists(l =>
      l.contains("Window [") && l.contains("], [id#")),
      s"islands window lost its per-doc partitioning:\n$pr")
    spark.catalog.clearCache()
  }

  test("heavy hitters: candidate semi-join broadcasts; totals scalar adds no cartesian") {
    // pass 2's whole point is that only CANDIDATE rows aggregate: the
    // vals ⋈ candidates LeftSemi must broadcast the bounded candidate
    // set, and the 1-row N scalar must ride a broadcast nested loop.
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val toks = docs.select(explode(split(col("text"), " ")).as("term"))
    val p = plan(graft.operators.Sketch.heavyHitters(toks, "term", 0.005))
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"candidate filter is not a broadcast LeftSemi:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"totals scalar degenerated to a cartesian:\n$p")
  }

  test("bm25Search: df stats broadcast; totals scalar adds no cartesian") {
    // q_search_ranked's contract is candidate-bounded shuffles: the
    // per-term df table (≤ |query| rows) must broadcast into the tf
    // join, and the 1-row corpus totals must ride a broadcast nested
    // loop — a cartesian or shuffled df join here would re-shuffle
    // the candidate table per stage at corpus scale.
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(graft.operators.Search.bm25Search(docs, "doc_id", "text",
      Seq("spark", "hash", "window")))
    assert(p.contains("BroadcastHashJoin"),
      s"df-stats join is not a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"totals scalar degenerated to a cartesian:\n$p")
  }

  test("knnJoin: candidates come from a bucket equi-join, never a loop join") {
    // the whole point of the mask-explode design is that the
    // (query × corpus) candidate generation is ONE hash equi-join on
    // the probed bucket — a nested-loop or cartesian here is the
    // corpus² trap the operator exists to avoid.
    val e = Tables.embeddings(spark, SparkSuite.sf0001)
    val p = plan(Similarity.knnJoin(
      e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
      e, "vec_id", "embedding", dim = 64, k = 3))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"knnJoin candidate generation is not an equi-join:\n$p")
  }

  test("containment pairs: count-based gram equi-join, no cartesian, no array re-shuffle") {
    // same 100 TB contract as the exact-Jaccard audit it derives
    // from: candidates from the shared-gram equi-join, intersection
    // COUNTED in that join (never dense arrays re-shuffled per pair).
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(graft.operators.Dedup.containmentPairs(
      docs, "doc_id", "text", threshold = 0.8))
    assert(!p.contains("CartesianProduct"),
      s"containment candidate join degenerated to a cartesian:\n$p")
    assert(!p.contains("array_intersect"),
      s"containment regressed to the array-shuffling form:\n$p")
    // both directions must come from ONE pass over the joined pairs
    // (map-side explode) — a unionAll of two projections re-evaluates
    // the whole gram join (measured 2× at sf1). Pin: exactly one
    // shuffle (the pair-count aggregate); a union regression doubles
    // it. (Count exchanges, not unions: the doubled shuffle is the
    // cost a union regression adds.)
    assert(p.contains("Generate explode"),
      s"containment directions are not a map-side explode:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"containment must cost exactly one shuffle (the pair-count aggregate):\n$p")
    spark.catalog.clearCache()
  }

  test("PMI: vocabulary joins are hash equi-joins; totals scalars add no cartesian") {
    // bc ⋈ uc twice on a token key plus two 1-row totals — the totals
    // must ride broadcasts and the vocab joins must never widen to a
    // loop join (probe-side Zipf skew is absorbed by hash joins; a
    // nested loop here is vocab² traffic).
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(TextAnalysis.pmiBigrams(docs, "text", minCount = 5L))
    assert(!p.contains("CartesianProduct"),
      s"PMI totals degenerated to a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"PMI totals do not broadcast:\n$p")
  }

  test("centroid outliers: k-row moments broadcast back; single scan, no cartesian") {
    // the per-cluster moment frame is k rows — its join back to the
    // scored corpus must be a broadcast hash join, and nothing in the
    // plan may widen to a cartesian.
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val cents = Similarity.kMeans(emb, "vec_id", "embedding",
      k = 8, iters = 2, seed = 7L).centroids
    val p = plan(Similarity.centroidOutliers(emb, "vec_id", "embedding", cents))
    assert(p.contains("BroadcastHashJoin"),
      s"cluster-moment join is not a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"outlier scoring degenerated to a cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("epoch shuffle: one exchange (the shard repartition), sort stays within partitions") {
    // the permutation must cost exactly one hash-partition exchange +
    // an in-partition sort — a global Sort/range exchange here is the
    // full-sort trap the operator exists to avoid.
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val p = plan(graft.operators.Sampling.epochShuffle(
      docs.select("doc_id"), "doc_id", epoch = 1, shards = 8))
    assert("Exchange".r.findAllIn(p).size == 1,
      s"epoch shuffle must cost exactly one exchange:\n$p")
    // physical Sort prints `Sort [keys], <global>, 0` — global must
    // be false (an in-partition sort, not a range-exchange full sort)
    assert(p.linesIterator.exists(l =>
      l.contains("Sort [") && l.contains("], false, 0")),
      s"in-partition sort missing or global:\n$p")
  }

  test("funnel and retention: user-keyed equi-joins only, no cartesian") {
    // each funnel stage is a join on the user key against the shrunk
    // reached-set; retention joins (user, day) against per-user mins.
    // Neither may widen to a cartesian under optimizer changes.
    val ev = Tables.events(spark, SparkSuite.sf0001)
    val pf = plan(graft.operators.EventAnalytics.funnel(ev, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase")))
    assert(!pf.contains("CartesianProduct"),
      s"funnel stage join degenerated to a cartesian:\n$pf")
    val pr = plan(graft.operators.EventAnalytics.retention(ev, "user_id", "ts"))
    assert(!pr.contains("CartesianProduct"),
      s"retention cohort join degenerated to a cartesian:\n$pr")
  }
}
