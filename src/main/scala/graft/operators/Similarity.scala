package graft.operators

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Beyond-reference operator set for training-data pipelines:
  *
  *  - [[cosine]] — codegen'd dot product via `zip_with`/`aggregate`
  *    higher-order functions (no UDF); inputs are cast to double so
  *    accumulation order and width match the DuckDB oracle exactly.
  *  - [[bruteForceTopK]] — the correctness baseline: score all rows,
  *    `TakeOrderedAndProject` keeps k per partition, driver merges
  *    n_partitions·k rows. Exact, one scan, no shuffle.
  *  - [[ivfTopK]] — the scale path: a coarse quantizer (centroid per
  *    cluster) prunes the scan to the `nprobe` nearest inverted
  *    lists. At 100 TB the clustered layout is the difference between
  *    scanning everything and scanning nprobe/nlist of it; recall is
  *    governed by nprobe exactly as in published IVF-flat designs.
  *  - [[nearDupPairs]] — embedding near-dup: random-hyperplane LSH
  *    signs bucket the vectors (map-side, literal hyperplanes),
  *    banded like MinHash; only bucket-colliding pairs are scored
  *    with exact cosine.
  */
object Similarity {

  /** Dot product of an array<float/double> column with either another
    * column or a literal query vector, accumulated in double. For
    * unit-normalized embeddings this IS the cosine similarity.
    * Registration-free HOF formulation — the operators below use the
    * bit-identical native [[graft.functions.DotProduct]] (codegen'd;
    * registered per session as `graft_dot`) in their hot loops. */
  def dot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)")

  def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private[graft] def vecLiteral(v: Seq[Double]): String =
    v.map(x => s"${x}D").mkString("array(", ", ", ")")

  /** Deterministic unit query vector (seeded), shared by Spark and
    * oracle SQL so ANN queries are scale-factor independent. */
  def seededUnitVector(dim: Int, seed: Long): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    val raw = Seq.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(_ / n)
  }

  /** Exact top-k by cosine against a literal query vector. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    emb.select(col(idCol),
        expr(s"graft_dot($vecCol, ${vecLiteral(query)})").as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("sim"), 4).as("sim"))
  }

  /** IVF-flat: centroids = per-cluster mean vectors (the inverted
    * lists); probe the `nprobe` centroids nearest the query, scan only
    * their lists. `clusterCol` is the coarse assignment (a k-means
    * label in a full pipeline; any clustering column works).
    *
    * The default `nprobe` is MEASURED, not guessed (RECALL.json (history r12),
    * RecallBench): on a clustered corpus — the shape real embeddings
    * take, and the reason this index exists — recall@10 is already
    * 0.99 at nprobe=1 and 1.00 at nprobe=2 with 32 lists, so the
    * default of 3 sits past the knee with margin while scanning
    * ~3/32 of the corpus. On a structureless (uniform-sphere) corpus
    * recall ≈ the scanned fraction (0.10/0.20/0.41/0.61 at
    * nprobe 1/2/4/8) — there, raise nprobe toward your scan budget
    * or skip the index. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, clusterCol: String,
              query: Seq[Double], k: Int, nprobe: Int = 3): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val dim = query.size
    // centroid per cluster: element-wise mean via posexplode-free agg
    val centroids = emb
      .select(col(clusterCol).as("cluster"), col(vecCol).cast("array<double>").as("v"))
      .groupBy("cluster")
      .agg(array((0 until dim).map(i => avg(element_at(col("v"), i + 1))): _*)
        .as("centroid"))
    val q = vecLiteral(query)
    val probed = centroids
      .select(col("cluster"), expr(s"graft_dot(centroid, $q)").as("csim"))
      .orderBy(col("csim").desc)
      .limit(nprobe)
    emb.join(broadcast(probed), col(clusterCol) === probed("cluster"))
      .select(col(idCol), expr(s"graft_dot($vecCol, $q)").as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("sim"), 4).as("sim"))
  }

  /** Map-side nearest-centroid assignment: score_j = ⟨v, c_j⟩ −
    * |c_j|²/2 (the argmax of which equals the argmin of squared
    * distance — the shared |v|² term cancels), each centroid riding
    * as ONE typedLit literal into the codegen'd native dot product;
    * argmax via array_position(·, array_max(·)), first index on ties
    * so assignment is deterministic. */
  private[graft] def kMeansAssign(vecCol: String,
      centroids: IndexedSeq[IndexedSeq[Double]]): Column = {
    val scores = centroids.map { c =>
      val half = c.map(x => x * x).sum / 2
      call_function("graft_dot", col(vecCol), typedLit(c)) - lit(half)
    }
    val arr = array(scores: _*)
    (call_function("array_position", arr, array_max(arr)) - 1).cast("int")
  }

  /** Attach the nearest-centroid assignment as a `cluster` column —
    * map-side ([[kMeansAssign]]: centroids ride as literals in the
    * codegen'd dot product), the serving-side way to co-partition a
    * float frame with an EXISTING kMeans layout (e.g. the IVF+PQ
    * rerank's float side) without refitting or joining the stored
    * assignments. Null / wrong-dim vectors are dropped, matching the
    * fit population. */
  def assignedToCentroids(emb: DataFrame, vecCol: String,
      centroids: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "assignedToCentroids needs >= 1 centroid")
    graft.functions.DotProduct.register(emb.sparkSession)
    val dim = centroids.head.size
    // every other column passes through UNCHANGED (including the
    // vector's own float/double type) so the output can append
    // directly into an existing store's schema; the dot upcasts
    // per-element, so the assignment equals the fit-time one computed
    // over the cast copy
    emb.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .withColumn("cluster", kMeansAssign(vecCol, centroids))
  }

  /** Final centroids plus the (id, cluster) assignment frame. */
  case class KMeansResult(centroids: IndexedSeq[IndexedSeq[Double]],
                          assignments: DataFrame)

  /** DataFrame-native k-means (Lloyd's) over an embedding column —
    * the in-library producer of [[ivfTopK]]'s cluster column, so the
    * whole IVF layout (cluster → partition → probe) can be built
    * without any external clustering dependency.
    *
    * Shape per iteration: assignment is MAP-SIDE ([[kMeansAssign]] —
    * k centroids as literals inside a codegen'd argmin, no join, no
    * shuffle), and the recompute is ONE partial-aggregated shuffle
    * (groupBy cluster, per-dimension avg) whose k-row result is
    * collected to the driver — k·dim doubles, tiny by definition, the
    * one legitimate driver-side loop in this file. Init picks the k
    * hash-smallest ids (seeded — deterministic and independent of
    * scan order). Empty clusters keep their previous centroid.
    * Determinism caveat: the recompute's `avg` merges partial sums in
    * partition order, so centroids are bit-reproducible for a given
    * seed AND input layout (pinned in SimilaritySpec); a different
    * partitioning can move a centroid by an ulp and flip near-tie
    * assignments — inherent to any distributed float mean.
    *
    * The projected (id, v) frame is persisted for the fit
    * (MEMORY_AND_DISK — a persist changes neither seed nor layout, so
    * the determinism pin above is unaffected): the source is scanned
    * ONCE (the init sample populates the cache) and each Lloyd's
    * iteration reads the cache, not the source — at corpus scale the
    * per-iteration cost drops from a full re-scan to a cached-column
    * pass plus the k-row shuffle. The cache is unpersisted before
    * kMeans returns, successful or not: the centroids are local, and
    * the returned `assignments` re-read the input.
    *
    * Null embeddings and vectors whose length differs from the init
    * sample's dimension are EXCLUDED — from the fit and from the
    * returned assignments (a null vector would otherwise assign a
    * NULL cluster and NPE the stats loop; a short vector makes
    * `element_at` throw under ANSI mode). A mixed-dim init sample
    * fails fast instead of fitting garbage.
    *
    * Iterative float arithmetic is not SQL-replayable, so q_kmeans is
    * a rows-only gate entry; SimilaritySpec pins the semantics
    * (nearest-centroid invariant, determinism, exact recovery of
    * separated synthetic clusters, IVF recall over the produced
    * clustering). */
  def kMeans(emb: DataFrame, idCol: String, vecCol: String, k: Int,
             iters: Int = 10, seed: Long = 7L): KMeansResult = {
    graft.functions.DotProduct.register(emb.sparkSession)
    require(k >= 1 && iters >= 0, "kMeans needs k >= 1 and iters >= 0")
    val raw = emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the init sample's TakeOrdered computes every partition, so this
      // one action both seeds the centroids AND fills the cache — the
      // source is never scanned again
      val init = raw
        .orderBy(xxhash64(col("id"), lit(seed)).asc, col("id").asc)
        .limit(k).collect()
      require(init.length == k, s"kMeans: need at least k=$k non-null rows")
      var centroids: IndexedSeq[IndexedSeq[Double]] =
        init.map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
      val dim = centroids.head.length
      require(centroids.forall(_.length == dim),
        s"kMeans: init sample mixes vector dimensions (expected $dim); " +
          "the input must be fixed-dim")
      val base = raw.filter(size(col("v")) === dim)
      for (_ <- 0 until iters) {
        val aggs = count(lit(1)).as("n") +:
          (0 until dim).map(i => avg(element_at(col("v"), i + 1)).as(s"c$i"))
        val stats = base.withColumn("cluster", kMeansAssign("v", centroids))
          .groupBy("cluster").agg(aggs.head, aggs.tail: _*)
          .collect()
        val next = centroids.toArray
        stats.foreach { r =>
          next(r.getInt(0)) = (0 until dim).map(i => r.getDouble(i + 2)).toIndexedSeq
        }
        centroids = next.toIndexedSeq
      }
      KMeansResult(centroids, base.withColumn("cluster", kMeansAssign("v", centroids))
        .select(col("id").as(idCol), col("cluster")))
    } finally raw.unpersist(false)
  }

  /** Per-vector (id, nearest cluster, FIXED-POINT squared distance
    * d2f = round(d2 * 1e6)) under a standing centroid set — the shared
    * scoring pass of [[centroidOutliers]] and [[assignmentDrift]].
    * Same argmax/score expressions as [[kMeansAssign]]; the 1e-6
    * fixed point is what lets downstream moments hash-pin
    * cross-engine (sums of longs are exact; one final double
    * division per output). Package-private: [[graft.streaming
    * .EventStream.driftStream]] reuses the exact expressions so the
    * streaming monitor cannot drift from the batch one. */
  private[graft] def scoredDistances(emb: DataFrame, idCol: String, vecCol: String,
      centroids: IndexedSeq[IndexedSeq[Double]], caller: String): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    require(centroids.nonEmpty, s"$caller needs >= 1 centroid")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      s"$caller: centroids mix dimensions")
    val base = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
    val scores = centroids.map { c =>
      val half = c.map(x => x * x).sum / 2
      call_function("graft_dot", col("v"), typedLit(c)) - lit(half)
    }
    val arr = array(scores: _*)
    base.select(col(idCol),
        (call_function("array_position", arr, array_max(arr)) - 1)
          .cast("int").as("cluster"),
        (call_function("graft_dot", col("v"), col("v"))
          - lit(2.0) * array_max(arr)).as("d2"))
      .withColumn("d2f", round(col("d2") * lit(1e6), 0).cast("long"))
  }

  /** Assignment-distance DRIFT between a base slice and an appended
    * slice under a standing (base-fit) clustering — the REFIT TRIGGER
    * the no-refit append path ([[assignedToCentroids]] +
    * `Catalog.appendPartitioned`) needs: RECALL.json's append sweep
    * measured that recall survives any volume of IN-distribution
    * growth (clustered IVF stays 1.00 at +50%) but craters when the
    * appended slice carries modes the quantizer never saw (0.99 →
    * 0.27 at nprobe 1, frozen base-fit routing) — so the thing to monitor is the appended
    * slice's assignment-distance profile, not its size.
    *
    * Per cluster: counts and mean squared assignment distance of each
    * side, their ratio, and `drift_flag` = 1 when appended vectors
    * land in a cluster either absent from the base (n_base = 0 — a
    * brand-new mode crowded into the nearest old cell) or with mean
    * distance over `ratioThreshold`× the base's (the cell is
    * absorbing vectors it doesn't model). Flags → refit offline;
    * DriftSpec pins exactly the RECALL scenario (new-mode slice
    * flags, in-distribution slice doesn't).
    *
    * Scale shape: two map-side scoring passes (centroids ride as
    * literals in codegen — no join, no shuffle beyond the k-row
    * per-cluster aggregates), one k-row full-outer join. Distances
    * are 1e-6 fixed point so the whole profile hash-pins; the gate
    * oracle replays scoring + moments from the persisted centroid
    * artifact (the q_embed_outliers idiom). */
  def assignmentDrift(base: DataFrame, appended: DataFrame, vecCol: String,
                      centroids: IndexedSeq[IndexedSeq[Double]],
                      ratioThreshold: Double = 2.0): DataFrame = {
    require(ratioThreshold > 0, "assignmentDrift needs ratioThreshold > 0")
    def side(df: DataFrame, nCol: String, sCol: String) =
      scoredDistances(df.withColumn("__did", lit(0L)), "__did", vecCol,
          centroids, "assignmentDrift")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as(nCol),
          sum(col("d2f").cast("decimal(38,0)")).as(sCol))
    val joined = side(base, "nb", "sb")
      .join(side(appended, "nn", "sn"), Seq("cluster"), "full_outer")
      .select(col("cluster"),
        coalesce(col("nb"), lit(0L)).as("n_base"),
        coalesce(col("nn"), lit(0L)).as("n_new"),
        when(col("nb") > 0,
          round(col("sb").cast("double") / col("nb") / lit(1e6), 6))
          .as("mean_d2_base"),
        when(col("nn") > 0,
          round(col("sn").cast("double") / col("nn") / lit(1e6), 6))
          .as("mean_d2_new"))
    joined
      .withColumn("drift_ratio",
        when(col("n_base") > 0 && col("n_new") > 0
            && col("mean_d2_base") > 0,
          round(col("mean_d2_new") / col("mean_d2_base"), 6)))
      .withColumn("drift_flag",
        (col("n_new") > 0 && (col("n_base") === 0
          || coalesce(col("drift_ratio") > lit(ratioThreshold), lit(false))))
          .cast("int"))
  }

  /** Embedding-space outlier scoring against a fitted centroid set —
    * the curation pass that prunes mislabeled / off-distribution
    * documents before training (the distance-to-centroid filter of
    * SemDeDup-adjacent pipelines): each vector is assigned its
    * nearest centroid ([[kMeansAssign]] — map-side, centroid
    * literals inside codegen, no join), scored with its squared
    * distance, and flagged when that distance sits more than
    * `zThreshold` standard deviations above its CLUSTER's mean — the
    * per-cluster normalization is what makes one tight and one
    * diffuse cluster comparable.
    *
    * dist² folds out of the assignment for free: kMeansAssign's
    * score is s_j = v·c_j − |c_j|²/2, so
    * dist²(v, c_best) = |v|² − 2·max_j s_j — one extra |v|² dot, no
    * second pass over the centroid array.
    *
    * Scale shape: one map-side projection + ONE k-row partial-agg
    * shuffle for the cluster moments + a broadcast join of those k
    * rows back — the corpus is scanned once and never re-shuffled.
    * Mean/std come from EXACT fixed-point sums (dist² rounded to
    * 1e-6 and summed as decimals — sums of doubles would be
    * partition-order dependent, the q_unigram_xent discipline), so
    * the output is bit-deterministic under any partitioning and the
    * gate oracle replays it from persisted centroids.
    *
    * Output: (idCol, cluster, dist2 round-6, z round-4, is_outlier
    * 0/1). Null vectors and dim mismatches are excluded, matching
    * [[kMeans]]'s base frame. A singleton or zero-variance cluster
    * has std = 0: its members get z = 0 and are never outliers. */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       centroids: IndexedSeq[IndexedSeq[Double]],
                       zThreshold: Double = 2.0): DataFrame = {
    val scored = scoredDistances(emb, idCol, vecCol, centroids,
      "centroidOutliers")
    val dec = col("d2f").cast("decimal(38,0)")
    // mean materialized before the variance so both engines square it
    // by plain multiplication (cross-engine pow() is not bit-pinned)
    val stats = scored.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(dec).as("s1"),
        sum(dec * dec).as("s2"))
      .select(col("cluster"),
        (col("s1").cast("double") / col("n") / lit(1e6)).as("mean_d2"),
        (col("s2").cast("double") / col("n") / lit(1e12)).as("ex2_d2"))
      .select(col("cluster"), col("mean_d2"),
        sqrt(greatest(lit(0.0),
          col("ex2_d2") - col("mean_d2") * col("mean_d2"))).as("std_d2"))
    scored.join(broadcast(stats), Seq("cluster"))
      .select(col(idCol), col("cluster"),
        round(col("d2f") / lit(1e6), 6).as("dist2"),
        round(when(col("std_d2") > 0.0,
            (col("d2f") / lit(1e6) - col("mean_d2")) / col("std_d2"))
          .otherwise(lit(0.0)), 4).as("z"))
      .withColumn("is_outlier",
        (col("z") > lit(zThreshold)).cast("int"))
  }

  /** IVF probe over the STORED layout — the true corpus-scale shape:
    * the table is written partitioned by its (kMeans) cluster column
    * and the probe reads ONLY the `nprobe` nearest clusters'
    * partition directories, a planning-time-pruned scan —
    * vs [[ivfTopK]]'s full scan + broadcast filter (fine for ad-hoc
    * clusterings, wrong for a standing index at 100 TB). Centroids
    * come in precomputed ([[kMeans]]'s result — recomputing them here
    * would re-scan everything the layout exists to avoid); picking
    * the probe set is driver-side arithmetic over k·dim doubles, no
    * data touched, deterministic (index tie-break). SimilaritySpec
    * pins the PartitionFilters pruning, exact equality with a
    * brute-force scan restricted to the same probed clusters, and
    * recall against the global exact top-k. */
  def ivfTopKStored(stored: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String,
                    centroids: IndexedSeq[IndexedSeq[Double]],
                    query: Seq[Double], k: Int, nprobe: Int = 3): DataFrame = {
    graft.functions.DotProduct.register(stored.sparkSession)
    require(nprobe >= 1 && centroids.nonEmpty,
      "ivfTopKStored needs nprobe >= 1 and at least one centroid")
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    val probes = centroids.indices
      .sortBy(j => (-dot(centroids(j), query), j)).take(nprobe)
    stored
      .filter(col(clusterCol).isin(probes: _*))
      .select(col(idCol),
        expr(s"graft_dot($vecCol, ${vecLiteral(query)})").as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("sim"), 4).as("sim"))
  }

  /** The seeded random hyperplanes behind every LSH signature here —
    * exposed so an external oracle (DuckDB SQL in the driver gate)
    * can replay the exact same bucketing. */
  private[graft] def hyperplanes(dim: Int, numBits: Int,
                                 seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane bit signature: bit h = sign of ⟨v, plane_h⟩.
    * One CASE + native `graft_dot` per plane, assembled with a plain
    * `array(...)` — every bit is an independent codegen'd tight loop,
    * where the previous `transform(planes, p -> aggregate(...))` shape
    * evaluated interpreted lambdas per element per plane per row.
    * Each plane rides in as ONE `typedLit` Literal node — the earlier
    * SQL-text formulation parsed dim×numBits literal nodes (2048 at
    * the near-dup pool size), and that parse/analysis cost was a
    * visible share of the operator's wall time at small scale.
    * Callers must have registered [[graft.functions.DotProduct]] on
    * the session (every DataFrame-taking operator here does). */
  def hyperplaneBits(vecCol: String, dim: Int, numBits: Int,
                     seed: Long = 7L): Column = {
    val bits = hyperplanes(dim, numBits, seed).map { p =>
      when(call_function("graft_dot", col(vecCol), typedLit(p)) >= 0d, 1)
        .otherwise(0)
    }
    array(bits: _*)
  }

  /** The multi-probe bucket set for a query vector: its own signature
    * plus every signature within `probeFlips` bit flips. Driver-side
    * arithmetic on the same seeded planes — no data touched. */
  private[graft] def probeBuckets(query: Seq[Double], numBits: Int,
                                  seed: Long, probeFlips: Int): Seq[Long] = {
    val qSig = hyperplanes(query.size, numBits, seed).zipWithIndex.map {
      case (p, i) =>
        val d = p.lazyZip(query).map(_ * _).sum
        if (d >= 0) 1L << i else 0L
    }.sum
    val flips1 = (0 until numBits).map(i => qSig ^ (1L << i))
    val flips2 = for {
      i <- 0 until numBits; j <- (i + 1) until numBits
    } yield qSig ^ (1L << i) ^ (1L << j)
    (Seq(qSig) ++ (if (probeFlips >= 1) flips1 else Nil)
      ++ (if (probeFlips >= 2) flips2 else Nil)).distinct
  }

  /** LSH-bucketed ANN top-k — the scale path for similarity search
    * when the corpus has NO precomputed clustering column (the
    * [[ivfTopK]] precondition): hyperplane signs bucket every vector
    * map-side, and the query's own signature — computed driver-side
    * from the same seeded planes — selects which buckets to scan: the
    * exact bucket plus everything within `probeFlips` bit flips
    * (multi-probe LSH). The scan is pruned to ~probes/2^bits of the
    * corpus before any exact scoring; recall is governed by the bit
    * count and probe radius exactly as in published multi-probe LSH
    * designs. At 100 TB the bucket column is what you'd bucket/
    * partition the table BY, making the probe a partition-pruned read.
    * `numBits` is explicit (not adaptive) because the probe set must
    * be computable without touching the data.
    *
    * The default `probeFlips` is MEASURED (RECALL.json (history r12),
    * RecallBench): recall@10 at flips 0/1/2 is 0.10/0.37/0.75 on a
    * uniform corpus and 0.10/0.62/0.91 on a clustered one — random
    * hyperplanes are data-OBLIVIOUS, so unlike [[ivfTopK]] this path
    * gains no flips-0 knee from cluster structure (mixture components
    * straddle the sign-cells), and the default of 2 flips buys most
    * of the recoverable recall at ~11/16 of the buckets scanned.
    * When a clustering column is available, prefer the IVF path. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, numBits: Int = 4,
              probeFlips: Int = 2, seed: Long = 7L): DataFrame =
    lshTopKBucketed(withLshBucket(emb, vecCol, query.size, numBits, seed),
      idCol, vecCol, query, k, numBits, probeFlips, seed)

  /** Batch kNN JOIN: for EVERY query row, its top-`k` corpus
    * neighbors by dot product — the retrieval shape of RAG indexing,
    * label propagation, and eval-set contamination scoring, where
    * [[lshTopKBucketed]]'s one-vector-at-a-time probe would mean one
    * job per query row.
    *
    * Plan: both sides get the SAME seeded hyperplane bucket
    * ([[withLshBucket]]'s signature); the query side explodes to its
    * multi-probe set — bucket XOR mask for every mask of popcount
    * ≤ `probeFlips` (the literal mask list is tiny: C(numBits,≤f)) —
    * and candidates come from ONE hash equi-join on the probed
    * bucket, exact-scored and cut to k per query via
    * [[Skew.saltedTopK]] (WindowGroupLimit bounds the exchange for
    * small k). Each (query, corpus) candidate pair arises from
    * exactly one mask (mask = qBucket XOR cBucket), so no dedup pass
    * is needed. Probe fan-out is the mask count, never the corpus;
    * the join shuffles on the bucket key — the same distribution the
    * partitioned ANN layout already stores. Candidates only — never
    * all-pairs; recall is the multi-probe recall of [[lshTopK]] with
    * the same (numBits, probeFlips).
    *
    * Deterministic end-to-end (seeded planes, `graft_dot`, c-id
    * tiebreak), so q_knn_join replays the bucketing, the mask
    * expansion, and the per-query rank in DuckDB. */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
              corpus: DataFrame, cIdCol: String, cVecCol: String,
              dim: Int, k: Int, numBits: Int = 4, probeFlips: Int = 2,
              seed: Long = 7L): DataFrame = {
    require(k >= 1, s"knnJoin needs k >= 1, got $k")
    require(numBits >= 1 && numBits <= 62 && probeFlips >= 0,
      s"bad numBits=$numBits / probeFlips=$probeFlips")
    graft.functions.DotProduct.register(queries.sparkSession)
    val masks: List[Long] = (0L until (1L << numBits))
      .filter(m => java.lang.Long.bitCount(m) <= probeFlips).toList
    val q = withLshBucket(
        queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("__qv")),
        "__qv", dim, numBits, seed)
      .withColumn("__mask", explode(typedlit(masks)))
      .select(col("q_id"), col("__qv"),
        (col("bucket").bitwiseXOR(col("__mask"))).as("bucket"))
    val c = withLshBucket(
      corpus.select(col(cIdCol).as("c_id"), col(cVecCol).as("__cv")),
      "__cv", dim, numBits, seed)
    val scored = q.join(c, Seq("bucket"))
      .select(col("q_id"), col("c_id"),
        call_function("graft_dot", col("__qv"), col("__cv")).as("__sim"))
    Skew.saltedTopK(scored, Seq("q_id"),
        Seq(col("__sim").desc, col("c_id").asc), k, rankCol = "rn",
        saltCols = Seq(col("q_id"), col("c_id")))
      .select(col("q_id"), col("c_id"), round(col("__sim"), 4).as("sim"),
        col("rn"))
  }

  /** Dense random projection to `outDim` dimensions — the
    * Johnson–Lindenstrauss dimensionality-reduction step of an
    * embedding pipeline (shrink 1024-dim vectors to a cheap sketch
    * before clustering / coarse search, keeping pairwise geometry to
    * within the JL distortion bound): component j = ⟨v, plane_j⟩ over
    * the SAME seeded Gaussian planes as the LSH family here
    * ([[hyperplanes]] — the signs of these components ARE
    * [[hyperplaneBits]]), so an external engine can replay the exact
    * projection from (dim, outDim, seed) alone. Components are
    * rounded to 6 decimals — each is ONE deterministic dot product
    * (the native `graft_dot` left fold, bit-identical to DuckDB's
    * list_dot_product — the q_ann_brute oracle pins that), no
    * cross-row arithmetic. Pure map-side projection: no shuffle, one
    * codegen'd pass, embarrassingly parallel at any scale. The usual
    * 1/√outDim distance rescale is left to the caller — it is a
    * constant factor that would only blur the replayability. */
  def projectDense(emb: DataFrame, idCol: String, vecCol: String,
                   dim: Int, outDim: Int, seed: Long = 7L): DataFrame = {
    require(dim >= 1 && outDim >= 1,
      s"projectDense needs dim >= 1 and outDim >= 1, got $dim/$outDim")
    graft.functions.DotProduct.register(emb.sparkSession)
    val comps = hyperplanes(dim, outDim, seed).map { p =>
      round(call_function("graft_dot", col(vecCol), typedLit(p)), 6)
    }
    emb.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** Materialize the LSH `bucket` column (the hyperplane-sign
    * signature as one bigint). This IS the storage layout for ANN at
    * scale: write the table `putPartitioned(..., "bucket")` (or
    * bucketed BY it) once, and every probe becomes a partition-pruned
    * read — [[lshTopKBucketed]] over the re-read table never touches
    * the non-probed directories (PartitionFilters; pinned in
    * SimilaritySpec). */
  def withLshBucket(emb: DataFrame, vecCol: String, dim: Int,
                    numBits: Int = 4, seed: Long = 7L): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val sig = (0 until numBits).map(i =>
      s"shiftleft(cast(element_at(bits, ${i + 1}) as bigint), $i)")
      .mkString(" + ")
    emb.withColumn("bits", hyperplaneBits(vecCol, dim, numBits, seed))
      .withColumn("bucket", expr(sig))
      .drop("bits")
  }

  /** Multi-probe top-k over a table that already carries the `bucket`
    * column from [[withLshBucket]] — typically re-read from a
    * bucket-partitioned layout, where the `isin(probes)` filter prunes
    * whole partitions at planning time. The probe set is computed
    * driver-side from the seeded planes (same `numBits`/`seed` as the
    * bucketing); no data is touched to plan the probe. */
  def lshTopKBucketed(bucketed: DataFrame, idCol: String, vecCol: String,
                      query: Seq[Double], k: Int, numBits: Int = 4,
                      probeFlips: Int = 2, seed: Long = 7L): DataFrame = {
    graft.functions.DotProduct.register(bucketed.sparkSession)
    val probes = probeBuckets(query, numBits, seed, probeFlips)
    bucketed
      .filter(col("bucket").isin(probes: _*))
      .select(col(idCol),
        expr(s"graft_dot($vecCol, ${vecLiteral(query)})").as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("sim"), 4).as("sim"))
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Embedding near-dup pairs above a cosine threshold. Banded
    * hyperplane LSH: `bands` bands, each `bitsPerBand` bits drawn
    * from a shared pool of `numBits` sign bits; bucket-join per band,
    * exact-cosine verify on candidates only. Recall per pair with
    * angle θ: 1-(1-(1-θ/π)^r)^b — tune (b, r) to the threshold.
    *
    * Band space must GROW with the corpus: a fixed `bitsPerBand` of r
    * gives 2^r buckets per band, so mean bucket size grows as n/2^r —
    * candidates explode quadratically, and once typical buckets cross
    * `maxBucket` the skew cap starts silently deleting true pairs.
    * Defaults are therefore adaptive: `bitsPerBand = 0` sizes r ≈
    * log2(n / targetBucket) from a metadata-only count of the input
    * (expected bucket ≈ `targetBucket` at ANY corpus size), the sign
    * pool scales with it, and the skew cap only trims far-outlier
    * buckets — with every dropped bucket COUNTED AND LOGGED, never
    * silent. Pass explicit values to pin any of them.
    *
    * The dropped-bucket count is observed (a Spark `Observation`) in
    * the one action that fills the band table and its histogram, so
    * it costs no extra job and does not depend on what the caller
    * does with the result; a call that drops buckets logs one warning.
    *
    * The three internal caches (vectors, the bucket-partitioned band
    * table, bucket histogram) follow the [[Caches]] lifecycle. */
  /** The seeded band → bit-index assignment: each band reads `r`
    * distinct bit positions from the shared `pool`. Deterministic in
    * (bands, pool, r, seed); shared by [[nearDupPairs]] and its DuckDB
    * oracle replay (SimilarityPack builds the oracle SQL from this
    * same call, so the two can never drift apart). */
  private[graft] def bandIndexSets(bands: Int, pool: Int, r: Int,
                                   seed: Long): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed + 1)
    Seq.fill(bands)(rnd.shuffle((0 until pool).toList).take(r))
  }

  /** The adaptive (bitsPerBand, pool, maxBucket) for corpus size `n`:
    * r ≈ log2(n / targetBucket) keeps the expected bucket near
    * `targetBucket` at any corpus size (see [[nearDupPairs]]'s doc).
    * Extracted so the q_embed_neardup oracle's hardcoded gate
    * constants can be PINNED against this formula in SimilaritySpec —
    * if the driver ever regrows sf0.01 past the r = 8 envelope
    * (n > 8192), the pin fails in sbt test instead of the oracle
    * silently replaying the wrong band geometry at the gate. */
  private[graft] def adaptiveBandParams(n: Long, targetBucket: Int)
      : (Int, Int, Int) = {
    val r = math.max(8, math.ceil(
      math.log(math.max(n, 1L).toDouble / targetBucket) / math.log(2.0)).toInt)
    (r, math.max(32, 2 * r), math.max(256, 32 * targetBucket))
  }

  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, dim: Int = 64, numBits: Int = 0,
                   bands: Int = 16, bitsPerBand: Int = 0,
                   seed: Long = 7L, maxBucket: Int = 0,
                   targetBucket: Int = 32): DataFrame = Caches.scoped { caches =>
    graft.functions.DotProduct.register(emb.sparkSession)
    // Pool size depends on n, and n needs a count — so persist the raw
    // (id, vec) projection FIRST and count THAT: the input is scanned
    // exactly once, the count job populates the cache, and the same
    // cached frame later serves the candidate-verify vector lookups.
    val wide = Spread.ensureWidth(emb)
    val base = caches.persist(wide.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")))
    val n = base.count()
    val (adaptR, adaptPool, adaptMaxB) = adaptiveBandParams(n, targetBucket)
    val r = if (bitsPerBand > 0) bitsPerBand else adaptR
    val pool = if (numBits > 0) numBits else adaptPool
    val maxB = if (maxBucket > 0) maxBucket else adaptMaxB
    log.info(s"nearDupPairs: n=$n bands=$bands bitsPerBand=$r pool=$pool maxBucket=$maxB")
    val bandIdx = bandIndexSets(bands, pool, r, seed)
    // band rows carry ONLY (id, band, sig) so the vectors never ride
    // the 16-way band explode — they are joined back for exactly the
    // candidate pairs. The bit projection itself is NOT persisted: its
    // single consumer is the band table below (r21 — the old cache
    // existed when the band explode was recomputed per consumer).
    val withBits = base.select(col("id"),
      hyperplaneBits("v", dim, pool, seed).as("bits"))
    val bandStructs = bandIdx.zipWithIndex.map { case (idx, j) =>
      val sig = idx.map(i => s"element_at(bits, ${i + 1})").zipWithIndex
        .map { case (b, pos) => s"shiftleft(cast($b as bigint), $pos)" }
        .mkString(" + ")
      struct(lit(j).as("band"), expr(sig).as("sig"))
    }
    // ONE materialized (band, sig)-partitioned copy of the band table
    // feeds every bucket-keyed consumer — the histogram aggregate, the
    // prune join and both sides of the candidate self-join (r21, the
    // exactJaccardPairs exG discipline): hanging them off the shared
    // subtree re-computed the hyperplane projection + explode per
    // consumer and re-shuffled it per join side, because
    // InMemoryRelation's AdaptiveSparkPlan defeats exchange-reuse
    // canonicalization. Persisting the repartitioned frame keeps its
    // hash partitioning visible to the planner, so the aggregate and
    // both joins below plan with NO further exchange; one count below
    // fills chunks and sizes in one pass (no cache-fill races).
    // Partition count pinned at defaultParallelism — the self-join
    // amplifies band rows into candidate pairs, so AQE byte-based
    // coalescing would under-parallelize the probe stage.
    val chunks = caches.persist(withBits
      .select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.sig"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism,
        col("band"), col("sig")))
    // bucket histogram: aggregates the cache in place (co-partitioned,
    // no exchange)
    val sizes = caches.persist(chunks.groupBy("band", "sig").count())
    // Skew-cap accounting: dropping a bucket drops its pairs from the
    // output, so it is counted and logged, never silent. One count of
    // the observed histogram fills chunks and sizes together, and the
    // skew count is observed in that same pass — the action the band
    // table's fill needs anyway, so the accounting costs no job. Its
    // Observation sits at the top of its own action, outside the
    // result's plan: no consumer filter or empty-relation rewrite of
    // the result can prune it.
    val skew = Observation(s"graft_neardup_skew_${java.util.UUID.randomUUID}")
    sizes.observe(skew,
      coalesce(sum(when(col("count") > maxB, col("count"))), lit(0L))
        .as("dropped_band_rows"),
      count(when(col("count") > maxB, lit(1))).as("dropped_buckets"),
      coalesce(max(lit(maxB.toLong)), lit(maxB.toLong)).as("cap")).count()
    try {
      val row = Await.result(skew.future, Components.observeDeadline)
      val buckets = row.getAs[Long]("dropped_buckets")
      if (buckets > 0)
        log.warn(s"nearDupPairs: dropped $buckets oversized buckets " +
          s"(${row.getAs[Long]("dropped_band_rows")} band-rows, cap=$maxB) — " +
          "pairs within them are NOT examined; raise maxBucket or bands to recover them")
    } catch {
      case _: TimeoutException =>
        log.warn("nearDupPairs: the skew-cap count was not delivered; " +
          "buckets over the cap may have been dropped unreported")
    }
    // MERGE hints: both joins read the (band, sig)-partitioned cache,
    // so sort-merge joins them with no exchange and no per-task
    // broadcast build (the planner's size estimate would broadcast the
    // histogram — at corpus scale that side is ~n/targetBucket rows,
    // never broadcastable)
    val pruned = chunks.hint("merge")
      .join(sizes.filter(col("count") <= maxB), Seq("band", "sig"))
      .drop("count")
    val lhs = pruned.alias("l").hint("merge")
    val rhs = pruned.alias("r")
    val vecs = base.select(col("id"), col("v"))
    lhs
      .join(rhs, col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
              col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos", expr("graft_dot(va, vb)"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Symmetric per-vector int8 quantization: scale = max |v_i|,
    * q_i = round(v_i · 127 / scale) ∈ [-127, 127] as tinyint, so the
    * vector store shrinks 4× (float32 → int8 + one double scale per
    * row) — the standard memory lever for ANN at corpus scale, where
    * the working set is what decides whether the index fits executor
    * memory. Reconstruction v̂_i = q_i · scale / 127 has elementwise
    * error ≤ scale/254; SimilaritySpec pins the top-k recall of the
    * dequantized search against the float baseline. All arithmetic is
    * in double (float inputs widened first) so results are
    * bit-reproducible against the DuckDB oracle. Zero vectors get
    * scale=1e-30 (all-zero qvec) rather than a division blow-up. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb
      .withColumn("scale", greatest(
        expr(s"array_max(transform($vecCol, x -> abs(cast(x as double))))"),
        lit(1e-30)))
      .withColumn("qvec",
        expr(s"transform($vecCol, x -> cast(round(cast(x as double) * 127D / scale) as tinyint))"))
      .drop(vecCol)

  /** Inverse of [[quantizeInt8]]: array<double> reconstruction. */
  def dequantize(qvecCol: String, scaleCol: String): Column =
    expr(s"transform($qvecCol, q -> cast(q as double) * $scaleCol / 127D)")

  /** Fitted product-quantization model: `codebooks(j)(c)` is codeword
    * c of subspace j (subDim doubles each); a vector's code is the
    * per-subspace nearest codeword, and distances are approximated
    * from the m codeword distances alone. */
  case class PqModel(m: Int, k: Int, subDim: Int,
                     codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])

  /** Driver-side sequential dot — the same left-to-right fold as the
    * native graft_dot (and DuckDB's list_dot_product), so driver-built
    * PQ tables agree bit-for-bit with engine-evaluated dots. */
  private[graft] def seqDot(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** PRODUCT quantization fit — the codebook compressor that takes
    * ANN memory DOWN 32× where [[quantizeInt8]] stops at 4×: the
    * vector splits into `m` contiguous subvectors and each subspace
    * gets its own k-codeword [[kMeans]] fit (seed offset by subspace
    * — deterministic, and the m fits are independent by
    * construction). A 64-d float vector becomes m=8 one-byte codes.
    * Composes the existing clustering machinery rather than a new
    * trainer: m small fits, each the documented one-partial-agg-per-
    * iteration shape; at corpus scale fit on a sample — the codebook
    * is a model, not a per-row artifact. */
  def pqFit(emb: DataFrame, idCol: String, vecCol: String,
            m: Int = 8, k: Int = 16, iters: Int = 5,
            seed: Long = 7L): PqModel = {
    // persist BEFORE the dim probe: the probe's action fills the
    // cache, so the m per-subspace fits re-read this projection, not
    // the source — without it the embeddings scan runs m+1 times
    val base = emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // MODAL dimension, not take(1): a first-row probe follows
      // partition order, so mixed-dimension input would silently fit
      // whichever population happened to come first (r15 advice).
      // The (count desc, dim asc) sort is deterministic; the distinct
      // dimension list is tiny by construction.
      val dims = base.groupBy(size(col("v")).as("d"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getInt(0), r.getLong(1)))
        .sortBy { case (d, n) => (-n, d) }
      require(dims.nonEmpty,
        "pqFit: input has no non-null vectors — nothing to fit")
      val (dim, kept) = dims.head
      val excluded = dims.iterator.map(_._2).sum - kept
      if (excluded > 0)
        log.warn(s"pqFit: $excluded rows excluded — vector dim != modal " +
          s"dim $dim ($kept rows); they will also be absent from pqEncode")
      require(dim % m == 0, s"pqFit: dim $dim must divide by m=$m")
      val subDim = dim / m
      // dim mismatches are EXCLUDED from the fit, matching pqEncode's
      // population — without this, a stray short vector would slice
      // to short subvectors and corrupt the codebooks
      val fixed = base.filter(size(col("v")) === dim)
      val books = (0 until m).map { j =>
        kMeans(fixed.select(col("id"),
            slice(col("v"), j * subDim + 1, subDim).as("sub")),
          "id", "sub", k, iters, seed + j).centroids
      }
      PqModel(m, k, subDim, books)
    } finally base.unpersist(false)
  }

  /** Per-subspace nearest-codeword id — [[kMeansAssign]]'s argmax
    * (dot − |c|²/2, first max wins ties) over a vector SLICE. */
  private def pqAssign(sub: Column,
                       codebook: IndexedSeq[IndexedSeq[Double]]): Column = {
    val scores = codebook.map { c =>
      val half = c.map(x => x * x).sum / 2
      call_function("graft_dot", sub, typedLit(c)) - lit(half)
    }
    val arr = array(scores: _*)
    (call_function("array_position", arr, array_max(arr)) - 1).cast("int")
  }

  /** Encode every vector to its m codes — map-side only (codebooks
    * ride as literals inside codegen; no join, no shuffle), the same
    * plan shape as [[kMeansAssign]] repeated per subspace. Output:
    * (idCol, code_0 … code_{m−1}) int columns. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               model: PqModel): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val base = emb.select(col(idCol),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull &&
        size(col("__v")) === model.m * model.subDim)
    val codes = (0 until model.m).map { j =>
      pqAssign(slice(col("__v"), j * model.subDim + 1, model.subDim),
        model.codebooks(j)).as(s"code_$j")
    }
    base.select(col(idCol) +: codes: _*)
  }

  /** The ADC lookup table for `query`, in 1e-6 FIXED POINT:
    * t(j)(c) = ⌊round(1e6 · ‖q_j − c‖²)⌉ with
    * ‖q_j − c‖² = (q_j·q_j − 2·q_j·c) + c·c, every dot the shared
    * sequential fold. Fixed point is what makes the per-row ADC sum
    * an INTEGER add — order-free, so the engine-side Σ over m table
    * reads hash-pins (a float Σ would be safe per-row too, but the
    * oracle's replay aggregates across join rows, where float order
    * is not guaranteed). HALF_UP on a positive value matches both
    * engines' round(). */
  private[graft] def pqTableFp(query: Seq[Double],
                               model: PqModel): IndexedSeq[IndexedSeq[Long]] = {
    require(query.length == model.m * model.subDim,
      s"query dim ${query.length} != ${model.m * model.subDim}")
    (0 until model.m).map { j =>
      val qj = query.slice(j * model.subDim, (j + 1) * model.subDim).toIndexedSeq
      val qq = seqDot(qj, qj)
      model.codebooks(j).map { c =>
        val t = (qq - 2 * seqDot(qj, c)) + seqDot(c, c)
        BigDecimal(t * 1e6)
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
      }
    }
  }

  /** Asymmetric-distance top-k over an ENCODED frame: approximate
    * dist² = Σ_j table(j)(code_j), m integer table reads per row —
    * no vector is touched at query time, which is the entire PQ
    * serving win (the codes are 32× smaller than the floats and the
    * scan is codegen'd lookups + adds). Exact in fixed point given
    * the codes, so the whole probe sits under the hash gate via the
    * codebook-artifact replay (q_ann_pq). Output: (idCol, adc_fp) —
    * adc_fp/1e6 ≈ squared distance; ties break on id. */
  def pqTopK(codes: DataFrame, idCol: String, query: Seq[Double],
             model: PqModel, topK: Int): DataFrame = {
    val table = pqTableFp(query, model)
    val dist = (0 until model.m).map { j =>
      element_at(typedLit(table(j)), col(s"code_$j") + 1)
    }.reduce(_ + _)
    codes.select(col(idCol), dist.as("adc_fp"))
      .orderBy(col("adc_fp").asc, col(idCol).asc)
      .limit(topK)
  }

  /** IVF+PQ composite probe — THE production ANN shape at corpus
    * scale, composing the two layers this file already serves
    * separately: a coarse [[kMeans]] quantizer prunes WHICH rows are
    * read (the stored frame is written
    * `putPartitioned(..., clusterCol)`, so the nprobe-nearest-cluster
    * filter resolves to PartitionFilters at planning time — the
    * [[ivfTopKStored]] discipline), and product-quantized codes
    * decide HOW CHEAPLY each read row is scored (m integer table
    * lookups + adds per row, no float vector touched — the [[pqTopK]]
    * discipline). [[pqTopK]] alone scans every code row; [[ivfTopKStored]]
    * alone rescans full float vectors inside the probed clusters;
    * the composite reads nprobe/k of the corpus at 32× fewer bytes
    * per row.
    *
    * `stored` carries (idCol, clusterCol, code_0 … code_{m−1}) — the
    * output of [[pqEncode]] joined to the coarse assignment and
    * written partitioned by cluster. Probe selection is the
    * driver-side argmax of the L2 PROXY centroid·q − |centroid|²/2
    * (index tie-break) — i.e. the nprobe L2-NEAREST centroids, the
    * [[kMeansAssign]] score — NOT [[ivfTopKStored]]'s bare max-dot:
    * this composite ranks rows by L2 ADC distance, and k-means
    * centroids are not comparable-norm (a spread cluster's mean is
    * shorter), so a max-dot probe could rank a far-but-long centroid
    * above the true L2-nearest and silently cost recall (r16 advice).
    * [[ivfTopKStored]] keeps max-dot because ITS ranker is the dot
    * product. Scoring is the same 1e-6 fixed-point ADC as
    * [[pqTopK]], so the whole probe sits under the hash gate via the
    * artifact replay (q_ann_ivfpq — the oracle replays the same L2
    * proxy). Codes are raw-vector PQ (one
    * global codebook), not residual-encoded: residuals would need a
    * per-cluster table build per query for a fine-ranking gain the
    * shortlist's float rerank recovers anyway, and raw codes keep
    * encode map-side and cluster-independent.
    * Output: (idCol, adc_fp) — adc_fp/1e6 ≈ squared distance. */
  def ivfPqTopK(stored: DataFrame, idCol: String,
                centroids: IndexedSeq[IndexedSeq[Double]],
                model: PqModel, query: Seq[Double], topK: Int,
                nprobe: Int = 3, clusterCol: String = "cluster"): DataFrame = {
    require(nprobe >= 1 && centroids.nonEmpty,
      "ivfPqTopK needs nprobe >= 1 and at least one centroid")
    val probes = centroids.indices
      .sortBy { j =>
        val c = centroids(j).toIndexedSeq
        (-(seqDot(c, query.toIndexedSeq) - seqDot(c, c) / 2), j)
      }
      .take(nprobe)
    val table = pqTableFp(query, model)
    val dist = (0 until model.m).map { j =>
      element_at(typedLit(table(j)), col(s"code_$j") + 1)
    }.reduce(_ + _)
    stored
      .filter(col(clusterCol).isin(probes: _*))
      .select(col(idCol), dist.as("adc_fp"))
      .orderBy(col("adc_fp").asc, col(idCol).asc)
      .limit(topK)
  }

  /** [[ivfPqTopK]] + the float RERANK stage — the full production
    * serving pipeline (coarse probe → cheap ADC shortlist → exact
    * rescore of ONLY the shortlist). Plain ADC top-k is capped by PQ
    * quantization resolution (RECALL.json: the clustered corpus
    * saturates at 0.38/0.50 recall@10 for m=8/16 however many cells
    * are probed, while the coarse probe itself is near-perfect);
    * reranking a `shortlistFactor`·k ADC shortlist against the true
    * float vectors washes that error out — the true neighbors only
    * need to SURVIVE the shortlist, not win it.
    *
    * `floats` carries (idCol, vecCol) and, when it also carries
    * `clusterCol`, is pruned to the SAME probed cells before the
    * shortlist semi-join — at corpus scale pass the cluster-partitioned
    * float store so the rerank reads nprobe partitions, never the
    * corpus; the shortlist itself is topK·shortlistFactor rows and
    * broadcasts. Rerank score is the dot product (= L2 rank on
    * unit-norm vectors, matching [[bruteForceTopK]]'s truth).
    * Output: (idCol, sim) — sim rounded to 4 decimals AFTER the
    * ordering, the [[lshTopKQuantized]] convention. */
  def ivfPqTopKReranked(stored: DataFrame, floats: DataFrame, idCol: String,
                        vecCol: String,
                        centroids: IndexedSeq[IndexedSeq[Double]],
                        model: PqModel, query: Seq[Double], topK: Int,
                        nprobe: Int = 3, shortlistFactor: Int = 4,
                        clusterCol: String = "cluster"): DataFrame = {
    require(shortlistFactor >= 1, "ivfPqTopKReranked needs shortlistFactor >= 1")
    graft.functions.DotProduct.register(stored.sparkSession)
    val short = ivfPqTopK(stored, idCol, centroids, model, query,
      topK * shortlistFactor, nprobe, clusterCol)
    val pruned =
      if (floats.columns.contains(clusterCol)) {
        val probes = centroids.indices
          .sortBy { j =>
            val c = centroids(j).toIndexedSeq
            (-(seqDot(c, query.toIndexedSeq) - seqDot(c, c) / 2), j)
          }
          .take(nprobe)
        floats.filter(col(clusterCol).isin(probes: _*))
      } else floats
    pruned
      .join(broadcast(short.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol),
        expr(s"graft_dot(cast($vecCol as array<double>), " +
          s"${vecLiteral(query)})").as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), round(col("sim"), 4).as("sim"))
  }

  /** Multi-probe top-k over the FULL production ANN layout:
    * [[withLshBucket]] + [[quantizeInt8]] written
    * `putPartitioned(..., "bucket")` — so `stored` carries (idCol,
    * scale, qvec, bucket), the probe filter prunes whole partitions
    * at planning time, and the scanned bytes are int8, 4× less than
    * float32. Scoring uses linearity — dot(q·scale/127, v) =
    * dot(q, v)·scale/127 — so the native `graft_dot` runs on the
    * cast int8 array directly and the dequantization collapses to
    * one multiply per ROW, not per element. */
  def lshTopKQuantized(stored: DataFrame, idCol: String,
                       query: Seq[Double], k: Int, numBits: Int = 4,
                       probeFlips: Int = 2, seed: Long = 7L): DataFrame = {
    graft.functions.DotProduct.register(stored.sparkSession)
    val probes = probeBuckets(query, numBits, seed, probeFlips)
    stored
      .filter(col("bucket").isin(probes: _*))
      .select(col(idCol),
        (expr(s"graft_dot(cast(qvec as array<double>), ${vecLiteral(query)})")
          * col("scale") / lit(127d)).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("sim"), 4).as("sim"))
  }
}
