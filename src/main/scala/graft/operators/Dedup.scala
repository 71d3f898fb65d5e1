package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication for large text corpora: exact, MinHash-LSH banded
  * near-dup (word- or character-shingled), SimHash near-dup, and
  * exact n-gram Jaccard verification.
  *
  * Beyond-reference operators (the reference dedups only metadata
  * filenames, data/maple-exe.go:132-141); designed for the 100 TB
  * path:
  *
  *  - Signatures (shingles → minhash / simhash) are computed entirely
  *    map-side as nested array expressions (`transform` / `aggregate`
  *    higher-order functions) — one narrow projection, no UDF
  *    serialization boundary — and persisted once, so the band
  *    self-join does not recompute them per side.
  *  - The band table carries ONLY (id, band, sig): the shingle-hash
  *    arrays never ride the candidate shuffle (a 16-band explode of
  *    per-doc arrays would move the corpus 16× through the exchange).
  *    Arrays are joined back for exactly the surviving candidates.
  *  - Candidate generation is banded LSH: only docs sharing a
  *    (band, signature) bucket are ever paired — O(n·bands) shuffle
  *    rows instead of O(n²) comparisons. Oversized buckets (hash
  *    skew, boilerplate texts) are capped before pairing so one hot
  *    bucket cannot quadratically explode a task.
  */
object Dedup {

  /** Distinct word-`w`-shingle hashes of `textCol`, reduced mod P, as
    * one array column — computed without exploding rows. Delegates to
    * the native codegen'd [[graft.functions.WordShingleHashes]]
    * (`graft_shingles`; register via [[graft.functions.GramHashes]],
    * done by [[signatures]] and the brute-force oracles). The
    * interpreted HOF reference it replaced lives in test scope
    * (`DedupReference`), where DedupSpec pins native == HOF
    * bit-for-bit. */
  def shingleHashes(textCol: String, w: Int = 3): Column =
    expr(s"graft_shingles($textCol, $w)")

  /** Distinct character-`n`-gram hashes of `textCol` (the n-gram
    * Jaccard similarity universe). Native codegen'd
    * [[graft.functions.CharGramHashes]] (`graft_chargrams`); the HOF
    * reference is test-scope `DedupReference.charShingleHashesHof`. */
  def charShingleHashes(textCol: String, n: Int = 5): Column =
    expr(s"graft_chargrams($textCol, $n)")

  /** k-element MinHash signature from a shingle-hash array column:
    * mh_j = min over shingles of (a_j*x + b_j) mod P. Delegates to
    * the native codegen'd [[graft.functions.MinHashSignature]]
    * (`graft_minhash`, registered by [[signatures]]). Native shipped
    * over both interpreted forms it was A/B'd against — k
    * `array_min` passes, and a single-pass `aggregate` fold carrying
    * all k minima — each an interpreted lambda dispatch per gram;
    * those timings were not kept. The k-pass form survives as the
    * test-scope reference (`DedupReference.minhashSignatureHof`). */
  def minhashSignature(hashesCol: String, k: Int = 64,
                       seed: Long = 42L): Column =
    expr(s"graft_minhash($hashesCol, $k, ${seed}L)")

  /** Spread a narrow input across the cluster before a compute-heavy
    * map stage — see [[Spread.ensureWidth]] (plan-stats check, no RDD
    * translation). No effect when the input is already wide. */
  private def spread(df: DataFrame): DataFrame = Spread.ensureWidth(df)

  /** Per-doc signature frame: (id, hashes, mh). `shingler` picks the
    * similarity universe (word shingles or char n-grams). The RAW doc
    * rows are spread before any hashing so the whole signature pass
    * parallelizes (spreading afterwards would serialize the shingle
    * hashing and shuffle the large arrays instead of small texts). */
  def signatures(docs: DataFrame, idCol: String, shingler: Column,
                 k: Int, seed: Long): DataFrame = {
    graft.functions.MinHashSignature.register(docs.sparkSession)
    graft.functions.GramHashes.register(docs.sparkSession)
    spread(docs)
      .select(col(idCol).as("id"), shingler.as("hashes"))
      .filter(size(col("hashes")) > 0)
      .withColumn("mh", minhashSignature("hashes", k, seed))
  }

  /** (id, band, sig) rows for banded LSH — deliberately WITHOUT the
    * hash arrays. Two docs collide in a band iff that band's `r`
    * consecutive minhashes agree — the classic (b,r) S-curve:
    * P(candidate) = 1 - (1 - s^r)^b for Jaccard s. */
  def bandRows(sigs: DataFrame, bands: Int, r: Int): DataFrame = {
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band"),
             xxhash64(expr(s"slice(mh, ${j * r + 1}, $r)")).as("sig"))
    }
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.sig"))
  }

  /** Distinct candidate id pairs (a < b) from bucket co-membership.
    * Buckets larger than `maxBucket` are dropped (skew guard — at
    * corpus scale these are boilerplate/empty texts that would
    * generate quadratic pairs).
    *
    * Plan shape (r21, the exactJaccardPairs exG discipline): ONE
    * materialized (band, sig)-partitioned copy of the band table
    * feeds the bucket histogram, the prune join and both sides of the
    * candidate self-join — the shared-subtree shape re-computed the
    * band explode (and its upstream signature pass against the cached
    * source) per consumer and re-shuffled it per join side, because
    * InMemoryRelation's AdaptiveSparkPlan defeats exchange-reuse
    * canonicalization. The MERGE hints keep both bucket-keyed joins
    * on the co-partitioned cache (no exchange, no per-task broadcast
    * build — at corpus scale neither side is broadcastable); the
    * partition count is pinned at defaultParallelism because the
    * self-join amplifies band rows into pairs, which AQE byte-based
    * coalescing would under-parallelize. The band table is filled in
    * the caller's `caches` scope. */
  private def candidateIdPairs(caches: Caches.Scope, bandTbl: DataFrame,
                               maxBucket: Int): DataFrame = {
    val bandG = caches.fill(bandTbl.repartition(
        bandTbl.sparkSession.sparkContext.defaultParallelism,
        col("band"), col("sig")))
    val sizes = bandG.groupBy("band", "sig").count()
    val pruned = bandG.hint("merge")
      .join(sizes.filter(col("count") <= maxBucket), Seq("band", "sig"))
      .drop("count")
    val lhs = pruned.alias("l").hint("merge")
    val rhs = pruned.alias("r")
    val pairs = lhs
      .join(rhs, col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
              col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    pairs
  }

  /** Exact Jaccard on candidates: join the (small) pair list back to
    * the per-doc arrays. Before the exact intersect/union on the full
    * (dense) shingle sets, band-collision flukes are pruned with the
    * minhash ESTIMATE — a k-element equality count, ~50× cheaper than
    * array_intersect on thousand-element gram sets. The margin keeps
    * this lossless in practice: for a true pair at jaccard s ≥ t the
    * estimate's sd is √(s(1-s)/k) ≲ 0.07 at k=32, so the probability
    * of falling ≥0.25 below s is Φ(−3.5) ≈ 2·10⁻⁴. */
  def verifyJaccard(pairs: DataFrame, sigs: DataFrame,
                    threshold: Double, estMargin: Double = 0.25): DataFrame =
    verifyJaccardAB(pairs, sigs, sigs, threshold, estMargin)

  /** [[verifyJaccard]] generalized to pairs whose two sides come from
    * DIFFERENT signature frames (doc_a from `sigsA`, doc_b from
    * `sigsB`) — the incremental-dedup shape. */
  def verifyJaccardAB(pairs: DataFrame, sigsA: DataFrame, sigsB: DataFrame,
                      threshold: Double, estMargin: Double = 0.25): DataFrame = {
    // Stage 1 — estimate-prune on the k-long signatures ONLY: the
    // dense gram arrays must not ride the join for pairs the estimate
    // will discard (at corpus scale that is the difference between
    // shuffling signatures and shuffling the corpus).
    val survivors = pairs
      .join(sigsA.select(col("id").as("doc_a"), col("mh").as("mha")), Seq("doc_a"))
      .join(sigsB.select(col("id").as("doc_b"), col("mh").as("mhb")), Seq("doc_b"))
      .withColumn("est",
        expr("size(filter(zip_with(mha, mhb, (x, y) -> x = y), b -> b)) / size(mha)"))
      .filter(col("est") >= threshold - estMargin)
      .select(col("doc_a"), col("doc_b"))
    // Stage 2 — fetch the dense arrays for survivors only and verify.
    survivors
      .join(sigsA.select(col("id").as("doc_a"), col("hashes").as("ha")), Seq("doc_a"))
      .join(sigsB.select(col("id").as("doc_b"), col("hashes").as("hb")), Seq("doc_b"))
      .withColumn("jaccard",
        expr("size(array_intersect(ha, hb)) / size(array_union(ha, hb))"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** End-to-end banded-LSH near-dup pairs over an arbitrary shingler:
    * sign → band → bucket-join → exact-Jaccard verify. The signature
    * frame is persisted for the duration of the job — it is read by
    * the band explode, both self-join sides, and the verify join, and
    * recomputing 64 minhash passes per consumer would dominate the
    * runtime. Its caches follow the [[Caches]] lifecycle. */
  def lshNearDups(docs: DataFrame, idCol: String, shingler: Column,
                  threshold: Double, k: Int, bands: Int,
                  seed: Long = 42L, maxBucket: Int = 64): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    Caches.scoped { caches =>
      val sigs = caches.persist(signatures(docs, idCol, shingler, k, seed))
      val pairs = candidateIdPairs(caches, bandRows(sigs, bands, k / bands), maxBucket)
      verifyJaccard(pairs, sigs, threshold)
    }
  }

  /** Word-shingle MinHash-LSH near-dups (the classic document dedup). */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, w: Int = 3, k: Int = 64,
                      bands: Int = 16, seed: Long = 42L): DataFrame =
    lshNearDups(docs, idCol, shingleHashes(textCol, w), threshold, k, bands, seed)

  /** Character-n-gram Jaccard near-dups, LSH-accelerated: same banded
    * pipeline over the char-gram universe. k=64 in 16 bands of 4:
    * with the signature pass native (graft_chargrams + graft_minhash)
    * the doubled k costs little, and r=4 bands give a sharper S-curve
    * — fewer fluke candidates into the verify join, the stage that
    * dominates at corpus scale. An interleaved A/B at sf0.1 measured
    * k64/r4 ≥ k32/r2 end-to-end with identical pair output; the
    * estimate pre-filter is worth 5-13× on its own there. */
  def ngramNearDups(docs: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.8, n: Int = 5, k: Int = 64,
                    bands: Int = 16, seed: Long = 42L): DataFrame =
    lshNearDups(docs, idCol, charShingleHashes(textCol, n), threshold, k, bands, seed)

  /** Incremental near-dup: candidates between NEW docs and an
    * EXISTING corpus — the shape a 100 TB pipeline actually runs.
    * A standing corpus is deduped ONCE and its signature frame
    * ([[signatures]]: id, hashes, mh) kept as a table; each incoming
    * batch is then signed and band-joined against the corpus bands —
    * new×corpus candidates only, never corpus×corpus again, so
    * per-batch cost scales with the BATCH, not the corpus. New-vs-new
    * pairs within the batch are the caller's [[lshNearDups]] on the
    * batch alone (orders of magnitude smaller). Ids of the two sides
    * must be disjoint. Returns (doc_a = new id, doc_b = corpus id,
    * jaccard). The corpus-side bucket cap guards the same skew
    * (boilerplate texts) the self-join path caps. */
  def incrementalNearDups(newDocs: DataFrame, corpusSigs: DataFrame,
                          idCol: String, shingler: Column,
                          threshold: Double, k: Int, bands: Int,
                          seed: Long = 42L, maxBucket: Int = 64): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    Caches.scoped { caches =>
      val newSigs = caches.persist(signatures(newDocs, idCol, shingler, k, seed))
      // The corpus signature frame is consumed four times (band table ×2,
      // estimate join, verify join); a COMPUTED-but-uncached frame would
      // re-run its whole signature pass per consumer, so it is filled
      // here before the fan-out, so the consumers below can't race to
      // fill the same cache partitions inside one stage and re-run the
      // upstream anyway (the lazy-persist hazard Components documents).
      // It is released with the batch cache. A per-batch driver that
      // reuses one corpus across batches persists it itself; a frame
      // already persisted is left alone.
      val corpus = caches.fill(corpusSigs)
      val corpusBand = bandRows(corpus, bands, r)
      val sizes = corpusBand.groupBy("band", "sig").count()
      val prunedCorpus = corpusBand
        .join(sizes.filter(col("count") <= maxBucket), Seq("band", "sig"))
        .drop("count")
      val pairs = bandRows(newSigs, bands, r).alias("l")
        .join(prunedCorpus.alias("r"),
          col("l.band") === col("r.band") && col("l.sig") === col("r.sig"))
        .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      verifyJaccardAB(pairs, newSigs, corpus, threshold)
    }
  }

  /** Apply near-dup `pairs` (doc_a < doc_b) as a dedup filter: drop
    * every doc that has a SMALLER near-dup neighbor (anti-join on
    * doc_b). Each near-dup cluster keeps at least its minimum id;
    * docs whose neighbors are all larger also survive — the standard
    * greedy pairwise rule, avoiding an iterative connected-components
    * pass that a full transitive clustering would need. */
  def dropNearDups(docs: DataFrame, idCol: String,
                   pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** All four dedup-application frames derived from ONE materialized
    * pair set — see [[Dedup.bundle]]. `release()` drops the two
    * internal caches (the pair set and the clustering); call it after
    * the last action on any of the frames. */
  final case class DedupBundle(pairs: DataFrame, clusters: DataFrame,
                               canonical: DataFrame, deduped: DataFrame) {
    def release(): Unit =
      Seq(pairs, clusters).foreach(_.unpersist(false))
  }

  /** The production dedup-application pass: persist the near-dup
    * `pairsIn` ONCE and derive every downstream frame — the transitive
    * clustering, the canonical (one-per-cluster) doc set, and the
    * greedy-filtered corpus — from that single materialization.
    * Calling [[Components.clusters]] / [[Components.canonicalDocs]] /
    * [[dropNearDups]] separately re-runs the pair GENERATION (the
    * minhash or gram join — the dominant cost at corpus scale) once
    * per consumer; at 100 TB that triples the most expensive stage of
    * the pipeline. The clustering is also persisted (it feeds both
    * `clusters` and `canonical`); `canonical` keeps exactly the docs
    * whose cluster label is their own id (min-id per cluster +
    * singletons — same rule as [[Components.canonicalDocs]]), and
    * `deduped` applies the greedy pairwise rule of [[dropNearDups]].
    * Caller owns release: [[DedupBundle.release]] after the last
    * action (an automatic first-action hook would be wrong here — the
    * bundle exists precisely for multi-action consumers). If the
    * clustering throws (its edge checkpoint evaluates `pairsIn`), there
    * is no bundle to release, so the pair frame is unpersisted before
    * the rethrow, unless the caller had persisted it already. */
  def bundle(docs: DataFrame, idCol: String,
             pairsIn: DataFrame): DedupBundle = {
    val callerPersisted = pairsIn.storageLevel != StorageLevel.NONE
    val pairs = pairsIn.persist(StorageLevel.MEMORY_AND_DISK)
    val cl = try Components.clusters(docs, idCol, pairs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    catch { case e: Throwable =>
      if (!callerPersisted) pairs.unpersist(false)
      throw e
    }
    val canonical = docs.join(
      cl.filter(col("cluster_id") === col(idCol)).select(col(idCol)),
      Seq(idCol), "left_semi")
    DedupBundle(pairs, cl, canonical, dropNearDups(docs, idCol, pairs))
  }

  /** EXACT near-dup pairs by word-n-gram Jaccard — no LSH, no
    * sampling: candidates are the doc pairs sharing at least one
    * gram (a pair with Jaccard ≥ any positive threshold must share a
    * gram, so candidate generation loses nothing), verified with the
    * exact set Jaccard on the distinct STRING gram arrays. This is
    * the DuckDB-replayable input for the hash-gated destructive
    * dedup steps (q_dedup_drop/cluster/canonical_exact) — unlike the
    * minhash path, every number here is plain string/set arithmetic
    * an external SQL engine reproduces bit-for-bit.
    *
    * Scale shape: the candidate join is GRAM-keyed (explode → equi-
    * join → distinct pair), so cost is Σ_gram freq² — fine while no
    * gram is shared by a large fraction of the corpus, quadratic in
    * the hot gram's frequency when one is (boilerplate). That skew is
    * inherent to exactness (those docs really are pairwise
    * candidates); `maxGramFreq > 0` caps it by DROPPING grams shared
    * by more than that many docs — pairs overlapping ONLY in ultra-
    * common grams are then missed, so the cap trades exactness for
    * a bound, exactly like the LSH path's bucket cap. DEFAULT
    * GUIDANCE: the uncapped default exists for the GATE/oracle path,
    * which must be exact to be an oracle — production callers should
    * pass a cap (the q_dedup_pairs_exact bench runs maxGramFreq = 64;
    * one stop-gram shared by a large corpus fraction makes an
    * uncapped bucket quadratic). For corpus-scale near-dup the LSH
    * path ([[minhashNearDups]]) remains the production choice; this
    * is the exact mode for modest corpora and for auditing it.
    *
    * The trade is MEASURED in DedupSpec: on the sf0.01 synthetic
    * corpus (max 3-gram doc-frequency 7) caps of 16/64/256 change
    * nothing — the valve is free until a gram's sharing exceeds the
    * cap. On a constructed boilerplate-heavy corpus, pair recall at
    * cap {2, 4, 8} is {0.023, 0.038, 0.108} vs uncapped — monotone in
    * the cap, each step one boilerplate tier crossing its threshold —
    * so before capping a real corpus, check its gram doc-frequency
    * tail the same way. */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, n: Int = 3,
                        maxGramFreq: Int = 0): DataFrame = {
    require(threshold > 0, "exactJaccardPairs needs threshold > 0 " +
      "(candidate generation by shared gram is only exact above 0)")
    Caches.scoped { caches =>
      val grams = caches.persist(gramSets(docs, idCol, textCol, n))
      val result =
        if (maxGramFreq > 0) cappedJaccard(caches, grams, maxGramFreq, threshold)
        else
          // uncapped (the default and the gate path): the shared
          // count-based machinery — see [[gramIntersections]]
          gramIntersections(grams).withColumn("jaccard",
            expr("cast(inter as double) / (na + nb - inter)"))
      result
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    }
  }

  /** Per-doc distinct word-`n`-gram STRING arrays (id, g): the input of
    * the exact gram-pair family. The docs are spread BEFORE shingling
    * (the signatures() discipline): a small parquet file arrives as ONE
    * scan partition, which would serialize the gram build AND
    * everything narrow downstream of the persisted frame — the explode,
    * the candidate-join probe and its partial aggregation all inherit
    * the cache's single partition (measured at sf0.1: a 1.8 s
    * single-task stage on a 32-core host). */
  private def gramSets(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    spread(docs).select(col(idCol).as("id"),
      TextAnalysis.stringShingles(textCol, n).as("g"))

  /** [[exactJaccardPairs]]' capped path: (doc_a, doc_b, jaccard) over
    * the persisted gram sets, candidates from the grams shared by at
    * most `maxGramFreq` docs, jaccard over the FULL gram sets. */
  private def cappedJaccard(caches: Caches.Scope, grams: DataFrame,
                            maxGramFreq: Int, threshold: Double): DataFrame = {
    val ex = grams.select(col("id"), explode(col("g")).as("gram"))
    // capped: candidates come from the capped grams but jaccard is
    // defined over the FULL gram sets. Shape: ONE capped-gram
    // self-join counts per-pair CAPPED intersections (the
    // gramIntersections one-pass discipline — a naive
    // candidates-then-recount plan re-exploded every candidate's
    // full gram set and cost 15× the uncapped scan at sf1), then
    // a SOUND upper bound closes almost every pair without a
    // second pass: a shared gram is capped or hot, so
    // inter ≤ inter_c + min(h_a, h_b) with h = the doc's hot-gram
    // count, and union ≥ na + nb − that bound — pairs whose bound
    // can't reach the threshold are pruned (never a qualifying
    // pair), pairs sharing NO hot gram have inter == inter_c and
    // emit their EXACT jaccard directly, and only hot-involved
    // survivors (the boilerplate cluster the cap exists for) pay
    // the full-set recount.
    //
    // Plan shape (r21): every gram-keyed consumer — the doc-freq
    // aggregate, the capped filter join, the hot-per-doc counts
    // and both sides of the candidate self-join — reads ONE
    // materialized, gram-partitioned copy of the exploded relation
    // (`exG`). Hanging them off a shared Exchange and trusting
    // ReusedExchange does NOT work here: the exchange's child scans
    // an InMemoryRelation whose cached plan is an AdaptiveSparkPlan,
    // which defeats subtree canonicalization, so every consumer
    // re-computed AND re-shuffled the explode (measured at sf0.1:
    // 4 identical 5 MB map stages, ~6 s of task time each).
    // Persisting the repartitioned frame keeps its hash
    // partitioning visible to the planner (InMemoryRelation
    // preserves child output partitioning), so the gram-keyed
    // aggregates and the self-join plan with NO further exchange.
    // The partition count is pinned at defaultParallelism rather
    // than left to AQE: the self-join AMPLIFIES — a few MB of gram
    // rows explode into millions of pair rows — and AQE's
    // byte-based coalescing would fold the probe stage onto a
    // handful of cores. The count materializes grams and exG in
    // one pass (no cache-fill races across AQE's concurrent jobs).
    val exG = caches.fill(ex.repartition(
      grams.sparkSession.sparkContext.defaultParallelism, col("gram")))
    val freqAll = exG.groupBy("gram").agg(count(lit(1)).as("df"))
    val hotGrams = freqAll.filter(col("df") > maxGramFreq).select("gram")
    val keyed = exG.join(
      freqAll.filter(col("df") <= maxGramFreq).select("gram"), Seq("gram"))
    val hotPerDoc = exG.join(hotGrams, Seq("gram"))
      .groupBy("id").agg(count(lit(1)).as("h"))
    val docStats = grams.select(col("id"), size(col("g")).as("nn"))
      .join(hotPerDoc, Seq("id"), "left")
      .select(col("id"), col("nn"), coalesce(col("h"), lit(0L)).as("h"))
    // the bound-filtered pair frame feeds THREE consumers (the
    // no-hot emit, the recount's pair list, and the recount's
    // doc-id prune) — persist and MATERIALIZE it so the whole
    // candidate pipeline above runs once, not once per branch
    // MERGE hint: both sides are the same gram-partitioned cached
    // frame, so sort-merge joins them with NO exchange and no
    // broadcast build — the planner's size estimate would instead
    // broadcast one whole side (a ~12 MB HashedRelation built and
    // deserialized per task at sf0.1, and at corpus scale the side
    // is the corpus: never broadcastable)
    val interB = caches.fill(keyed.alias("l").hint("merge")
      .join(keyed.alias("r"),
        col("l.gram") === col("r.gram") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .agg(count(lit(1)).as("inter_c"))
      .join(docStats.select(col("id").as("doc_a"),
        col("nn").as("na"), col("h").as("ha")), Seq("doc_a"))
      .join(docStats.select(col("id").as("doc_b"),
        col("nn").as("nb"), col("h").as("hb")), Seq("doc_b"))
      .withColumn("hmin", least(col("ha"), col("hb")))
      .filter((col("inter_c") + col("hmin")).cast("double")
        / greatest(lit(1L),
            col("na") + col("nb") - col("inter_c") - col("hmin"))
        >= threshold))
    val noHot = interB.filter(col("hmin") === 0L)
      .withColumn("jaccard",
        expr("cast(inter_c as double) / (na + nb - inter_c)"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // recount input pruned to the docs of hot-involved survivors
    // BEFORE anything shuffles: the survivors are the boilerplate
    // cluster the cap exists for — small relative to the corpus by
    // construction — so their doc-id set broadcasts, the semi-join
    // prunes the exploded relation map-side, and when no pair
    // involves a hot gram (the common case on clean corpora) the
    // recount's joins move zero rows instead of shuffling the full
    // gram relation twice (measured ~25 s of task time at sf0.1
    // for joins whose left side was empty).
    val svDocs = interB.filter(col("hmin") > 0L)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .distinct()
    val exSv = exG.join(broadcast(svDocs), Seq("id"), "left_semi")
    val verified = interB.filter(col("hmin") > 0L)
      .select(col("doc_a"), col("doc_b"))
      .join(exSv.select(col("id").as("doc_a"), col("gram")), Seq("doc_a"))
      .join(exSv.select(col("id").as("doc_b"), col("gram")),
        Seq("doc_b", "gram"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(grams.select(col("id").as("doc_a"), size(col("g")).as("na")),
        Seq("doc_a"))
      .join(grams.select(col("id").as("doc_b"), size(col("g")).as("nb")),
        Seq("doc_b"))
      .withColumn("jaccard",
        expr("cast(inter as double) / (na + nb - inter)"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    noHot.unionByName(verified)
  }

  /** The shared count-based gram-intersection machinery behind
    * [[exactJaccardPairs]]'s uncapped path and [[containmentPairs]]:
    * |A∩B| is COUNTED in the same shared-gram equi-join that
    * generates the candidates — each (a, b, gram) row is unique
    * because the per-doc gram arrays are distinct, so count(*) per
    * pair IS the intersection size, and the per-doc set sizes join
    * back as na/nb. Nothing wider than (gram, id, id) and integer
    * counts ever shuffles; re-shuffling the dense gram ARRAYS per
    * candidate pair (array_intersect per pair) measured 1.7× slower
    * at sf0.1 and is strictly worse at corpus scale, where the
    * arrays are the corpus. Input is the persisted (id, g) gram
    * frame; output: (doc_a, doc_b, inter, na, nb) with doc_a < doc_b. */
  private def gramIntersections(grams: DataFrame): DataFrame = {
    // Plan shape, MEASURED both ways this round (r21): the self-join's
    // build side is left to the planner, which BROADCASTS one side of
    // the exploded relation — at these gate corpora the whole gram
    // relation fits a HashedRelation, so the join runs with ZERO
    // exchanges and the explode recomputes cheaply from the `grams`
    // cache per side. The capped path's exG shape (materialize one
    // gram-partitioned copy + MERGE self-join) was tried here too and
    // measured ~35% SLOWER at sf0.1 (pairs_exact min 2.16 → 2.98 s
    // same-window A/B): the upfront exchange + cache fill + two sorts
    // cost more than the saved recompute when broadcast is available.
    // This stays scale-sound because the UNCAPPED scan is the
    // gate/oracle twin by contract — production corpora run the
    // maxGramFreq path, which already has the materialized-exchange
    // shape (its relation is capped, the planner's broadcast estimate
    // is not trustworthy there, and at 100 TB neither side broadcasts).
    val ex = grams.select(col("id"), explode(col("g")).as("gram"))
    ex.alias("l")
      .join(ex.alias("r"),
        col("l.gram") === col("r.gram") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("doc_a"), col("r.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(grams.select(col("id").as("doc_a"), size(col("g")).as("na")),
        Seq("doc_a"))
      .join(grams.select(col("id").as("doc_b"), size(col("g")).as("nb")),
        Seq("doc_b"))
  }

  /** Gram-OVERLAP pairs: (doc_a, doc_b, shared) for every pair of
    * docs sharing at least `minShared` distinct word n-grams — the
    * COUNT-thresholded sibling of [[exactJaccardPairs]]'s ratio
    * threshold. The overlap graph is the natural input for structure
    * analytics ([[Components.kCore]] hub peeling, degree histograms):
    * a boilerplate hub shares a fixed header with thousands of docs —
    * high absolute overlap, near-zero Jaccard per pair (each union is
    * huge), so a ratio threshold is blind to exactly the docs a hub
    * analysis is after. Same count-based machinery: nothing wider
    * than (gram, id, id) shuffles, |A∩B| is counted inside the
    * candidate join itself. minShared ≥ 2 required — 1 would emit
    * every candidate the gram join touches (Σ freq² rows), which is a
    * scan of the candidate space, not a thresholded graph. */
  def sharedGramPairs(docs: DataFrame, idCol: String, textCol: String,
                      minShared: Int, n: Int = 3): DataFrame = {
    require(minShared >= 2, "sharedGramPairs needs minShared >= 2")
    Caches.scoped { caches =>
      gramIntersections(caches.persist(gramSets(docs, idCol, textCol, n)))
        .filter(col("inter") >= minShared)
        .select(col("doc_a"), col("doc_b"), col("inter").as("shared"))
    }
  }

  /** Asymmetric CONTAINMENT pairs — the quote/subset detector exact
    * Jaccard cannot express: containment(A→B) = |A∩B| / |A| over
    * distinct word n-grams. A 100-word passage lifted verbatim into
    * a 10k-word page has near-zero Jaccard (the union is huge) but
    * containment ≈ 1.0 from the quote's side — exactly the shape of
    * license boilerplate, press-release reprints, and train→eval
    * quote leakage. Output is DIRECTED: (doc_inner, doc_outer,
    * containment) with containment ≥ threshold, one row per
    * direction that qualifies (mutual near-copies emit both).
    *
    * Same count-based gram equi-join as [[exactJaccardPairs]]'s
    * uncapped path — |A∩B| is counted in the candidate join itself
    * (gram arrays are distinct, so count(*) per pair IS the
    * intersection; nothing wider than (gram, id, id) shuffles), and
    * each direction divides by ITS side's set size. Both directions
    * are emitted from ONE pass over the joined pairs via a map-side
    * explode — a unionAll of two projections re-evaluates the gram
    * join (Spark does not reuse the exchange across the branches;
    * measured 2× at sf1), so the pair join runs exactly once. Cost
    * is Σ_gram freq² like the exact-Jaccard audit; at corpus scale
    * screen with the LSH path first and run this on survivors.
    * threshold > 0 keeps candidate generation by shared gram
    * exact. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0, "containmentPairs needs threshold > 0 " +
      "(candidate generation by shared gram is only exact above 0)")
    Caches.scoped { caches =>
      val inter = gramIntersections(caches.persist(gramSets(docs, idCol, textCol, n)))
      val dirs = inter.select(explode(array(
          struct(col("doc_a").as("doc_inner"), col("doc_b").as("doc_outer"),
            (col("inter").cast("double") / col("na")).as("containment")),
          struct(col("doc_b").as("doc_inner"), col("doc_a").as("doc_outer"),
            (col("inter").cast("double") / col("nb")).as("containment"))))
          .as("d"))
        .select(col("d.doc_inner"), col("d.doc_outer"), col("d.containment"))
      dirs.filter(col("containment") >= threshold)
        .select(col("doc_inner"), col("doc_outer"),
          round(col("containment"), 4).as("containment"))
    }
  }

  /** Brute-force exact Jaccard pairs over an arbitrary shingler
    * (all-pairs — test oracle for LSH recall at small scale; never
    * the production path). */
  def bruteForceJaccardBy(docs: DataFrame, idCol: String,
                          shingler: Column, threshold: Double): DataFrame = {
    graft.functions.GramHashes.register(docs.sparkSession)
    val h = docs.select(col(idCol).as("id"), shingler.as("h"))
      .filter(size(col("h")) > 0)
    val lhs = h.alias("l")
    val rhs = h.alias("r")
    lhs.join(rhs, col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"),
        expr("size(array_intersect(l.h, r.h)) / size(array_union(l.h, r.h))")
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Brute-force exact n-gram Jaccard pairs (all-pairs — test oracle
    * for LSH recall at small scale; never the production path). */
  def bruteForceJaccard(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, w: Int = 3): DataFrame = {
    graft.functions.GramHashes.register(docs.sparkSession)
    val h = docs.select(col(idCol).as("id"), shingleHashes(textCol, w).as("h"))
    val lhs = h.alias("l")
    val rhs = h.alias("r")
    lhs.join(rhs, col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"),
        expr("size(array_intersect(l.h, r.h)) / size(array_union(l.h, r.h))")
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact dedup: one surviving row id per distinct text. Grouping on
    * the 64-bit content hash keeps shuffle keys small; min(id) makes
    * the survivor deterministic. (Colliding texts under xxhash64 would
    * merge — at 2^-64 per pair this is the standard trade; swap in
    * sha2(text, 256) where cryptographic certainty is required.) */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol))
      .drop("content_hash")

  /** Positional char-`k`-gram hashes of `textCol` — one hash per
    * window START position (NO dedup, document order preserved),
    * sampled every `stride`-th position. Same short-text clamp as
    * [[charShingleHashes]] (texts shorter than `k` yield ONE
    * truncated gram), but the FULL 64-bit xxhash64 — NOT reduced mod
    * P: the mod-P universe exists for minhash permutation arithmetic,
    * which span profiling never does, and at 31 bits the global
    * distinct-gram population collides by birthday already at ~10⁵
    * grams (measured: 2 collisions on the sf0.01 corpus — the
    * SpanProfileSpec canary caught exactly this). 64 bits puts the
    * expected corpus-wide collision count at n²/2⁶⁵. Not distinct on
    * purpose: span PROFILING needs the per-position multiset (how
    * MUCH of the doc sits under a duplicated window), not the set. */
  private[graft] def positionalGramHashes(textCol: String, k: Int,
                                          stride: Int = 1): Column =
    expr(
      s"""transform(
         |  sequence(1, greatest(length($textCol) - ${k - 1}, 1), $stride),
         |  i -> xxhash64(substring($textCol, i, $k)))""".stripMargin)

  /** Substring-level duplication profile — exact-substring dedup in
    * the sense of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2021): the pass that catches templated /
    * mid-line overlap that BOTH doc-level dedup ([[exact]] /
    * [[minhashNearDups]]) and segment-level dedup
    * ([[TextAnalysis.stripBoilerplate]], which keys on whole `\n`
    * segments) miss, because the repeated region starts at an
    * arbitrary character offset.
    *
    * For every doc: `n_spans` = number of positional char-`k`-gram
    * windows (every `stride`-th start position), `n_dup_spans` = how
    * many of those windows' grams occur in ≥ `minDocs` DISTINCT docs
    * corpus-wide, `dup_frac` = their ratio (round 6), `flagged` = 1
    * iff `dup_frac >= flagFrac` (the drop-candidate predicate).
    * A gram repeated only WITHIN one doc is NOT a dup here (distinct
    * docs = 1) — within-doc repetition is [[TextAnalysis
    * .repetitionScore]]'s job; this operator measures CROSS-doc
    * contamination.
    *
    * Scale shape (the suffix-array algorithm of the paper is
    * single-machine; this is its shuffle-native approximation):
    *  - The exploded relation is O(total_chars / stride) rows but
    *    each row is two longs — the 8-byte gram hash rides the
    *    shuffle, never the substring.
    *  - Distinct-docs-per-gram is two-phase: the per-doc
    *    `dropDuplicates` prunes map-side (a doc repeating one gram
    *    1000× contributes ONE row to the count shuffle), then a
    *    plain count is exact.
    *  - `dup` keeps only grams in ≥ `minDocs` docs — the boilerplate
    *    tail, typically ≪ corpus; AQE converts the count-back join
    *    to broadcast when it fits.
    *  - `stride` is the 100 TB knob: cost divides by `stride` while
    *    any duplicated region of length ≥ k + stride − 1 still
    *    intersects a sampled window on BOTH sides (stride 1 = exact,
    *    the gate setting and the shipped default). Strides 1/2/4/8
    *    were timed with their flagged-doc and dup-window counts at
    *    sf0.1; those numbers were not kept.
    * The per-doc gram arrays follow the [[Caches]] lifecycle. */
  /** Shared first half of the span family: the persisted per-doc gram
    * arrays, the position-indexed explode (`p` = 0-based sample
    * index), and the corpus-wide duplicated-gram set — each dup gram
    * carrying its `owner`, the MIN doc id containing it (the copy
    * [[spanStrip]] preserves; profile/runs ignore it). */
  private def spanFrames(caches: Caches.Scope, docs: DataFrame, idCol: String,
                         textCol: String, k: Int, stride: Int, minDocs: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(k >= 1, s"span ops need k >= 1, got $k")
    require(stride >= 1, s"span ops need stride >= 1, got $stride")
    require(minDocs >= 2,
      s"span ops need minDocs >= 2 (1 would mark every span), got $minDocs")
    val spans = caches.persist(spread(docs)
      .select(col(idCol).as("id"),
        positionalGramHashes(textCol, k, stride).as("h")))
    val pos = spans.select(col("id"), posexplode(col("h")).as(Seq("p", "g")))
    val dup = pos.dropDuplicates("id", "g")
      .groupBy("g").agg(count(lit(1)).as("n_docs"), min(col("id")).as("owner"))
      .filter(col("n_docs") >= minDocs)
      .select("g", "owner")
    (spans, pos, dup)
  }

  def spanProfile(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 20, stride: Int = 1, minDocs: Int = 2,
                  flagFrac: Double = 0.5): DataFrame = Caches.scoped { caches =>
    val (spans, pos, dup) = spanFrames(caches, docs, idCol, textCol, k, stride, minDocs)
    val dupCounts = pos.join(dup, "g")
      .groupBy("id").agg(count(lit(1)).as("n_dup"))
    spans.select(col("id"), size(col("h")).as("n_raw"))
      .join(dupCounts, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_raw"), lit(0)).cast("long").as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          round(col("n_dup_spans") / col("n_spans"), 6))
          .otherwise(lit(0.0)))
      .withColumn("flagged", (col("dup_frac") >= flagFrac).cast("int"))
  }

  /** Longest duplicated RUN per doc — the gaps-and-islands reading of
    * the same window universe as [[spanProfile]]: consecutive sample
    * positions whose grams are corpus-duplicated form islands, the
    * longest island approximates the doc's longest substring shared
    * with another doc (`max_run_chars` = (run−1)·stride + k — exact
    * at stride 1 up to window granularity). `dup_frac` tells you HOW
    * MUCH of a doc is duplicated; this tells you whether it is one
    * long lifted passage (remove the span) or scattered boilerplate
    * (score, don't cut) — the distinction Lee et al. act on.
    *
    * The islands window partitions BY DOC and only over that doc's
    * DUPLICATED positions — per-doc-sized partitions, never a global
    * window. Docs with no duplicated window report (0, 0). */
  def spanRuns(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 20, stride: Int = 1,
               minDocs: Int = 2): DataFrame = Caches.scoped { caches =>
    import org.apache.spark.sql.expressions.Window
    val (spans, pos, dup) = spanFrames(caches, docs, idCol, textCol, k, stride, minDocs)
    val w = Window.partitionBy("id").orderBy("p")
    val runs = pos.join(dup, "g")
      .select(col("id"), col("p"))
      .withColumn("grp", col("p") - row_number().over(w))
      .groupBy("id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("id").agg(max(col("run")).as("mx"))
    spans.select(col("id"))
      .join(runs, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("mx"), lit(0L)).as("max_run_spans"),
        coalesce((col("mx") - 1) * stride + k, lit(0L))
          .cast("long").as("max_run_chars"))
  }

  /** The standing corpus's side of incremental span dedup: its
    * DISTINCT positional-gram hashes, one `g` column — persist this
    * via the catalog once, reuse per batch ([[spanProfileIncremental]]).
    * Distinct keeps the index at vocabulary size, not corpus size. */
  def spanGramIndex(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 20, stride: Int = 1): DataFrame = {
    require(k >= 1 && stride >= 1, s"spanGramIndex needs k, stride >= 1")
    spread(docs)
      .select(explode(positionalGramHashes(textCol, k, stride)).as("g"))
      .distinct()
  }

  /** Incremental [[spanProfile]]: profile only an incoming BATCH
    * against a standing corpus's gram index ([[spanGramIndex]]) — a
    * batch window is duplicated iff its gram already exists in the
    * corpus. Per-batch cost scales with the batch (the corpus
    * contributes a build side the join can broadcast or shuffle by
    * hash); within-batch duplication is deliberately NOT counted —
    * that is the full [[spanProfile]]'s job on the batch alone, and
    * conflating the two would double-count when both passes run (the
    * same batch-vs-corpus split as [[incrementalNearDups]]). */
  def spanProfileIncremental(batch: DataFrame, corpusGrams: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 20, stride: Int = 1,
                             flagFrac: Double = 0.5): DataFrame = Caches.scoped { caches =>
    require(k >= 1 && stride >= 1, s"spanProfileIncremental needs k, stride >= 1")
    val spans = caches.persist(spread(batch)
      .select(col(idCol).as("id"),
        positionalGramHashes(textCol, k, stride).as("h")))
    val pos = spans.select(col("id"), explode(col("h")).as("g"))
    val dupCounts = pos.join(corpusGrams.select(col("g")).distinct(), "g")
      .groupBy("id").agg(count(lit(1)).as("n_dup"))
    spans.select(col("id"), size(col("h")).as("n_raw"))
      .join(dupCounts, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_raw"), lit(0)).cast("long").as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          round(col("n_dup_spans") / col("n_spans"), 6))
          .otherwise(lit(0.0)))
      .withColumn("flagged", (col("dup_frac") >= flagFrac).cast("int"))
  }

  /** DESTRUCTIVE span dedup — the remove-all-but-one-copy pass of Lee
    * et al. 2021, keyed deterministically: every corpus-duplicated
    * window has an OWNER (the min doc id containing its gram); every
    * OTHER doc loses the characters that window covers. Exactly one
    * copy of each duplicated region survives corpus-wide, in the
    * owner, and unshared text is untouched. Output: (id, stripped
    * text, `dropped_chars`).
    *
    * Exact form only (`stride` is pinned at 1 — a strided strip would
    * cut sampled windows but leave the gap chars between them, a
    * half-measure with no published semantics; subsample with
    * [[spanProfile]] + a flag-and-drop policy instead).
    *
    * Shape: the per-doc drop-start lists ride one groupBy (sorted
    * arrays of int starts, bounded by doc length), joined back LEFT to
    * the docs so untouched docs keep their text without rewriting.
    * The rebuild is a per-row array expression — O(len · |starts|)
    * interpreted HOF work only for docs that actually lose text. */
  def spanStrip(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 20, minDocs: Int = 2): DataFrame = Caches.scoped { caches =>
    val (spans, pos, dup) = spanFrames(caches, docs, idCol, textCol, k, 1, minDocs)
    val dropStarts = pos.join(dup, "g")
      .filter(col("id") =!= col("owner"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("p") + 1)).as("starts")) // 1-based char starts
    val rebuilt = expr(
      s"""concat_ws('', filter(
         |  transform(sequence(1, length($textCol)),
         |    i -> CASE WHEN exists(starts, s -> s <= i AND i < s + $k)
         |              THEN NULL ELSE substring($textCol, i, 1) END),
         |  x -> x IS NOT NULL))""".stripMargin)
    docs.select(col(idCol).as("id"), col(textCol))
      .join(dropStarts, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("starts").isNull, col(textCol)).otherwise(rebuilt)
          .as(textCol),
        length(col(textCol)).as("__orig_len"))
      .withColumn("dropped_chars",
        (col("__orig_len") - length(col(textCol))).cast("long"))
      .drop("__orig_len")
  }

  /** 64-bit SimHash from a precomputed token-hash array column: bit i
    * is the sign of the sum over tokens of ±1 according to bit i of
    * the token's hash. Near-identical texts differ in few bits. */
  def simhashFromHashes(hashesCol: String): Column =
    // native one-pass fold (graft_simhash, registered by
    // simhashNearDups); the semantic reference is the test-scope
    // DedupReference.simhashFromHashesHof
    expr(s"graft_simhash($hashesCol)")

  /** Token-hash array for [[simhashFromHashes]]. Kept separate so the
    * tokenize+hash pass runs ONCE per row — inlining it under the
    * per-bit aggregate would re-split and re-hash the text 64×.
    * Tokenizes via [[TextAnalysis.tokensSql]] (the shared single-space
    * tokenizer), so simhash's token universe matches the gram/stopword
    * consumers'.
    *
    * The per-token hash is the md5-derived 60-bit mix
    * ([[Sketch.md5Hash60Sql]], NOT xxhash64, which has no DuckDB
    * twin): it makes the WHOLE simhash pipeline — per-bit majority,
    * 16-bit banding, hamming verify — replayable by the
    * q_dedup_simhash oracle. SimHash needs i.i.d. hash bits, which
    * md5's avalanche provides; the faster 2^61−1 rolling hash was
    * tried first and collapsed precision to 0.03 (short tokens hash
    * to SMALL values, zeroing the high bits of every fingerprint).
    * One consequence: hashes live in [0, 2^60), so fingerprint bits
    * 60–63 are majority-of-negatives ⇒ always 0 — a 60-bit effective
    * simhash, which changes nothing structural (banding and pigeonhole
    * bounds are per-chunk; chunk 3 simply carries 12 live bits). */
  def tokenHashes(textCol: String): Column =
    expr(s"transform(${TextAnalysis.tokensSql(textCol)}, t -> ${Sketch.md5Hash60Sql("t")})")

  /** One-expression convenience form: tokenize+hash feeds the native
    * one-pass fold directly (the old per-bit HOF re-tokenized 64×). */
  def simhash(textCol: String): Column =
    expr(s"graft_simhash(transform(${TextAnalysis.tokensSql(textCol)}, t -> ${Sketch.md5Hash60Sql("t")}))")

  /** SimHash near-dup pairs: band the 64-bit fingerprint into four
    * 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at least one chunk
    * equal), bucket-join on chunks, verify hamming ≤ `maxHamming`.
    * `maxHamming` must be ≤ 3: with 4 chunks the pigeonhole guarantee
    * stops there — a pair at hamming 4 can differ in every chunk and
    * never collide, silently losing pairs. (A wider radius needs more
    * chunks: maxHamming+1 bands guarantee a collision in general.) */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    graft.functions.SimHash64.register(docs.sparkSession)
    hammingNearDups(
      spread(docs)
        .select(col(idCol).as("id"), tokenHashes(textCol).as("th"))
        .select(col("id"), simhashFromHashes("th").as("fp")),
      maxHamming, maxBucket)
  }

  /** The 64-bit-fingerprint near-dup CORE — 16-bit chunk banding,
    * bucket-size cap, bounded hamming verify — over ANY (id, fp)
    * frame, so every fingerprint family shares one copy of the
    * pigeonhole machinery: [[simhashNearDups]] feeds it text
    * SimHashes; [[graft.operators.Multimodal.imageNearDups]] feeds it
    * dHash perceptual image fingerprints. Output
    * (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ `maxHamming`.
    * Completeness: hamming ≤ 3 ⇒ at least one of the four 16-bit
    * chunks is equal, so the chunk equi-join generates every
    * qualifying candidate (pairs can additionally be LOST only to the
    * `maxBucket` cap, the documented hot-bucket guard). */
  def hammingNearDups(fps: DataFrame, maxHamming: Int = 3,
                      maxBucket: Int = 64): DataFrame = Caches.scoped { caches =>
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming: 4-chunk banding only guarantees candidates for hamming <= 3")
    // The fingerprint persist is deliberately LAZY (unlike the other
    // fan-out caches): an eager count() was A/B'd in r22 and REVERTED
    // — it serializes the fingerprint pass ahead of the join stages
    // instead of letting the scheduler overlap them, and the driver-
    // style bench showed q_image_neardup (dHash decode — the heaviest
    // fingerprint this core serves) regressing ~2× median AND min.
    // The concurrent-fill race only duplicates partition compute, it
    // never corrupts the cache.
    val withFp = caches.persist(fps.select(col("id"), col("fp")))
    val chunks = fpChunks(withFp)
    val sizes = chunks.groupBy("band", "sig").count()
    val pruned = chunks
      .join(sizes.filter(col("count") <= maxBucket), Seq("band", "sig"))
      .drop("count")
    val lhs = pruned.alias("l")
    val rhs = pruned.alias("r")
    lhs
      .join(rhs, col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
              col("l.id") < col("r.id"))
      .select(col("l.id").as("doc_a"), col("r.id").as("doc_b"),
              expr("bit_count(l.fp ^ r.fp)").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** The four 16-bit chunk rows of each 64-bit fingerprint — the
    * banding table both hamming joins build on. */
  private def fpChunks(fps: DataFrame): DataFrame =
    fps.select(col("id"), col("fp"),
      explode(expr(
        "transform(sequence(0, 3), j -> named_struct('band', j, 'sig', pmod(shiftright(fp, cast(j * 16 as int)), 65536)))"))
        .as("bs"))
      .select(col("id"), col("fp"), col("bs.band"), col("bs.sig"))

  /** INCREMENTAL form of [[hammingNearDups]] — new fingerprints ×
    * a STANDING fingerprint table (the production ingest shape the
    * text family covers with [[incrementalNearDups]]): candidates
    * come from the chunk equi-join of the new batch's bands against
    * the corpus's, with the bucket cap applied to the CORPUS side
    * (a hot corpus chunk is what explodes a batch join; the batch
    * side is presumed small). Same pigeonhole completeness (hamming
    * ≤ 3 ⇒ a shared chunk). Ids present on BOTH sides never
    * self-pair. Output (doc_new, doc_corpus, hamming), each
    * qualifying cross pair once.
    *
    * `corpusFps` is typically a stored (id, fp) parquet table —
    * fingerprints are 8 bytes/image, so the standing store rescans
    * cheaply and per-batch memory stays proportional to the batch. */
  def hammingNearDupsAB(newFps: DataFrame, corpusFps: DataFrame,
                        maxHamming: Int = 3,
                        maxBucket: Int = 64): DataFrame = Caches.scoped { caches =>
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming: 4-chunk banding only guarantees candidates for hamming <= 3")
    val nf = caches.persist(newFps.select(col("id"), col("fp")))
    val corpusChunks = fpChunks(corpusFps.select(col("id"), col("fp")))
    val sizes = corpusChunks.groupBy("band", "sig").count()
    val pruned = corpusChunks
      .join(sizes.filter(col("count") <= maxBucket), Seq("band", "sig"))
      .drop("count")
    fpChunks(nf).alias("l")
      .join(pruned.alias("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.id") =!= col("r.id"))
      .select(col("l.id").as("doc_new"), col("r.id").as("doc_corpus"),
        expr("bit_count(l.fp ^ r.fp)").as("hamming"))
      .dropDuplicates("doc_new", "doc_corpus")
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT edit-distance similarity self-join — the record-linkage /
    * fuzzy-dedup primitive the shingle families approximate: every
    * pair of rows whose `strCol` values are within Levenshtein
    * distance `maxDist`, with the exact distance. Output
    * (id_a, id_b, dist), id_a < id_b, each qualifying pair exactly
    * once. Semantically exact — the blocking below is COMPLETE (no
    * false negatives), so the gate oracle verifies with a plain
    * brute-force `levenshtein` join; no replay of the blocking is
    * needed.
    *
    * Blocking is the published segment-signature (pigeonhole) scheme
    * of partition-based edit-distance joins: split each string into
    * `maxDist + 1` contiguous even segments — if ed(A, B) ≤ k, at
    * least one of A's k+1 segments survives UNEDITED in B, shifted by
    * at most k positions. The shorter side of every pair indexes its
    * segments keyed by (length, segment#, segment text, position);
    * each string probes for partners of every length in
    * [len − k, len] by extracting the ≤ 2k+1 window substrings per
    * (length, segment) — O(k²) probe keys per string, so candidate
    * generation is ONE equi-join on exact keys, never an O(n²)
    * comparison. Equal-length pairs arise from both directions and
    * are canonicalized by id before the verify.
    *
    * Scale shape: two map-side explodes (k+1 index rows, ≤
    * (k+1)²(2k+1) probe rows per string), one equi-join whose bucket
    * width is the count of SAME-LENGTH strings sharing an exact
    * segment (tight for natural text; degenerate only for tiny
    * strings, whose buckets are bounded by the length-window
    * population), a distinct on candidate id pairs, then one
    * codegen'd `levenshtein(a, b, k)` per surviving candidate — the
    * threshold form bails out of the DP early past k. Verification
    * cost is per CANDIDATE, not per pair of rows.
    *
    * `maxDist` ≤ 8: beyond that the probe fan-out ((k+1)²(2k+1)) and
    * the shrinking segment length defeat the blocking — use the
    * shingle/minhash family for loose similarity. Null strings drop. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 2): DataFrame = Caches.scoped { caches =>
    require(maxDist >= 1 && maxDist <= 8,
      s"editDistancePairs needs maxDist in [1, 8], got $maxDist")
    val t = caches.persist(df.select(col(idCol).as("id"),
        col(strCol).cast("string").as("s"), lit(0).as("side"))
      .filter(col("s").isNotNull))
    // canonical pair by id; equal-length pairs arrive in both
    // orientations, unequal-length in one — distinct unifies both
    // with the multi-segment duplicates
    val cands = edCandidates(t, maxDist)
      .select(least(col("id_a"), col("id_b")).as("pid_a"),
        greatest(col("id_a"), col("id_b")).as("pid_b"),
        when(col("id_a") <= col("id_b"), col("sa")).otherwise(col("sb")).as("ca"),
        when(col("id_a") <= col("id_b"), col("sb")).otherwise(col("sa")).as("cb"))
      .distinct()
    cands
      .select(col("pid_a").as("id_a"), col("pid_b").as("id_b"),
        expr(s"levenshtein(ca, cb, $maxDist)").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Two-corpus (A×B) exact edit-distance join — the record-linkage
    * form of [[editDistancePairs]]: every (a, b) pair across the two
    * frames within Levenshtein `maxDist`, with the exact distance.
    * Output (a_id, b_id, dist), one row per qualifying cross pair;
    * within-corpus pairs are never emitted (dropped at the CANDIDATE
    * stage, before any verification work). Same complete blocking —
    * the union rides the shared core with a side tag, so whichever
    * side of a pair is shorter indexes its segments and the other
    * probes, regardless of corpus — and therefore the same
    * brute-force-verifiable exactness. */
  def editDistanceJoinAB(a: DataFrame, idA: String, strA: String,
                         b: DataFrame, idB: String, strB: String,
                         maxDist: Int = 2): DataFrame = Caches.scoped { caches =>
    require(maxDist >= 1 && maxDist <= 8,
      s"editDistanceJoinAB needs maxDist in [1, 8], got $maxDist")
    val t = caches.persist(a.select(col(idA).as("id"),
        col(strA).cast("string").as("s"), lit(0).as("side"))
      .unionByName(b.select(col(idB).as("id"),
        col(strB).cast("string").as("s"), lit(1).as("side")))
      .filter(col("s").isNotNull))
    // cross-side only, re-oriented so the A row leads; equal-length
    // cross pairs arrive in both index/probe orientations and
    // re-orient to the SAME row — distinct unifies them
    val cands = edCandidates(t, maxDist)
      .filter(col("side_a") =!= col("side_b"))
      .select(
        when(col("side_a") === 0, col("id_a")).otherwise(col("id_b")).as("a_id"),
        when(col("side_a") === 0, col("id_b")).otherwise(col("id_a")).as("b_id"),
        when(col("side_a") === 0, col("sa")).otherwise(col("sb")).as("ca"),
        when(col("side_a") === 0, col("sb")).otherwise(col("sa")).as("cb"))
      .distinct()
    cands
      .select(col("a_id"), col("b_id"),
        expr(s"levenshtein(ca, cb, $maxDist)").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** The shared candidate core of the edit-distance joins: `t` is
    * (id, s, side), output is every blocked candidate pair
    * (id_a, sa, side_a, id_b, sb, side_b) with len(sa) ≤ len(sb)
    * (canonical shorter-left) — COMPLETE for ed ≤ k by the segment
    * pigeonhole, minus only the identical (side, id) row itself. */
  private def edCandidates(t: DataFrame, k: Int): DataFrame = {
    val nSeg = k + 1
    // index side: the string's OWN k+1 even segments (integral `div` —
    // deterministic split; segment i of length-L covers
    // [i·L div (k+1), (i+1)·L div (k+1)), possibly empty for L ≤ k)
    val idx = t.select(col("id").as("id_a"), col("s").as("sa"),
        col("side").as("side_a"), length(col("s")).as("la"),
        explode(expr(
          s"""transform(sequence(0, $k), i -> named_struct(
             |  'seg', i,
             |  'p', cast((i * length(s)) div $nSeg as int),
             |  'str', substring(s, cast((i * length(s)) div $nSeg as int) + 1,
             |    cast(((i + 1) * length(s)) div $nSeg
             |      - (i * length(s)) div $nSeg as int))))""".stripMargin))
          .as("g"))
      .select(col("id_a"), col("sa"), col("side_a"), col("la"),
        col("g.seg").as("seg"), col("g.p").as("p"), col("g.str").as("str"))
    // probe side: for every candidate partner length L in [len−k, len]
    // (canonical shorter-left) and every segment of THAT length's
    // split, the window substrings shifted by −k..k
    val probe = t.select(col("id").as("id_b"), col("s").as("sb"),
        col("side").as("side_b"), length(col("s")).as("lb"),
        explode(expr(
          s"""filter(
             |  flatten(transform(sequence(greatest(length(s) - $k, 0), length(s)), L ->
             |    flatten(transform(sequence(0, $k), i ->
             |      transform(sequence(-$k, $k), d -> named_struct(
             |        'L', cast(L as int),
             |        'seg', cast(i as int),
             |        'pp', cast((i * L) div $nSeg + d as int),
             |        'len', cast(((i + 1) * L) div $nSeg
             |          - (i * L) div $nSeg as int))))))),
             |  x -> x.pp >= 0 AND x.pp + x.len <= length(s))""".stripMargin))
          .as("w"))
      .select(col("id_b"), col("sb"), col("side_b"), col("lb"),
        col("w.L").as("L"), col("w.seg").as("pseg"),
        expr("substring(sb, w.pp + 1, w.len)").as("pstr"))
    idx.join(probe,
      col("la") === col("L") && col("seg") === col("pseg") &&
        col("str") === col("pstr") &&
        !(col("id_a") === col("id_b") && col("side_a") === col("side_b")))
  }
}
