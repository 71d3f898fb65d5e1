package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{QueryPack, Tables}
import graft.operators.Similarity

/** Similarity search over `embeddings` (64-dim unit vectors).
  * Brute-force top-k is exact and DuckDB-oracle-able via
  * list_dot_product on the same literal query vector; IVF and
  * near-dup-pairs are the scale paths with rows-only checks plus
  * ScalaTest recall assertions against the exact baseline.
  */
object SimilarityPack extends QueryPack {

  /** Shared deterministic unit query vector (dim 64, seeded). */
  val queryVec: Seq[Double] = Similarity.seededUnitVector(64, seed = 1234L)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryVec, k = 10)),

    "q_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", queryVec, k = 10, nprobe = 3)),

    // multi-probe LSH variant (no clustering column needed); numBits
    // pinned so the oracle can replay the identical bucket space
    "q_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryVec, k = 10, numBits = 4, probeFlips = 2)),

    // late-interaction (MaxSim) retrieval: a "document" is its GROUP
    // of vectors (label stands in for doc here), scored by the max
    // per-vector dot with the query — one map-side dot + one grouped
    // max, no per-doc vector list ever materializes
    "q_maxsim" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, expr, lit, max, round}
      graft.functions.DotProduct.register(s)
      Tables.embeddings(s, d)
        .select(col("label"),
          expr(s"graft_dot(embedding, ${Similarity.vecLiteral(queryVec)})")
            .as("sim"))
        .groupBy(col("label"))
        .agg(round(max(col("sim")), 4).as("maxsim"),
             count(lit(1)).as("n_vecs"))
    }),

    // batch kNN JOIN: every 50th vector retrieves its top-3 corpus
    // neighbors in ONE bucket equi-join (mask-exploded multi-probe,
    // per-query top-k) — the RAG/batch-retrieval shape, vs the
    // one-vector probes above
    "q_knn_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoin(
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        emb, "vec_id", "embedding",
        dim = 64, k = 3, numBits = 4, probeFlips = 2)
    }),

    // same probe, but THROUGH the storage layout: the bucketed table
    // is written partitioned by the LSH bucket and re-read, so the
    // probe is a partition-pruned scan — identical results to
    // q_ann_lsh by construction, which the shared oracle checks
    "q_ann_lsh_pruned" -> ((s, d) => {
      val cat = new graft.catalog.Catalog(s, storeRoot("annstore", d))
      cat.putPartitioned("ann_lsh_store",
        Similarity.withLshBucket(Tables.embeddings(s, d), "embedding",
          dim = 64, numBits = 4, seed = 7L), "bucket")
      // hand the root to the NEXT invocation's writer (the enforced
      // one-writer contract; the probe below is a pure read)
      val out = Similarity.lshTopKBucketed(cat.get("ann_lsh_store"), "vec_id",
        "embedding", queryVec, k = 10, numBits = 4, probeFlips = 2, seed = 7L)
      cat.close()
      out
    }),

    "q_embed_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.40)),

    // SemDeDup-shaped semantic dedup: embedding near-dup pairs →
    // transitive closure → one survivor (min vec_id) per semantic
    // cluster. Same pair generation as q_embed_neardup (so the
    // adaptive-param envelope pin covers both); the closure +
    // survivor filter ride Components' pointer-jumping kernel, and
    // the oracle replays pairs AND closure (nd CTEs + recursive walk)
    "q_semdedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.40)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      graft.operators.Components.canonicalDocs(
        emb.select("vec_id"), "vec_id", pairs)
    }),

    // DataFrame-native k-means (Lloyd's): the in-library producer of
    // ivfTopK's cluster column. The ITERATION's float arithmetic is
    // not SQL-replayable, but the returned assignment IS a pure
    // function of the FINAL centroids (kMeansAssign: argmax of
    // dot(v,c) − |c|²/2, first index on ties) — so persisting the
    // fitted centroids (k·dim doubles, driver-side, no data scanned)
    // lets the oracle replay the assignment exactly, the same
    // artifact trick as q_ann_ivf_stored. Nearest-centroid
    // invariant, determinism, and synthetic-cluster recovery stay
    // pinned in SimilaritySpec; only the fit itself is un-replayed
    // (its OUTPUT is what this hash now checks).
    "q_kmeans" -> ((s, d) => {
      val km = Similarity.kMeans(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L)
      writeKmeansGateArtifact(s, km.centroids)
      km.assignments
    }),

    // the full IVF index lifecycle end-to-end: kMeans the corpus,
    // write it partitioned BY cluster, probe the re-read store — the
    // nprobe nearest clusters resolve to a partition-pruned scan
    // (pinned in SimilaritySpec). The kMeans ITERATION is not
    // SQL-replayable (q_kmeans stays rows-only), but the probe over
    // its OUTPUT is: the fitted centroids and the stored layout's
    // per-vector cluster are persisted to [[gateStoreRoot]], and the
    // oracle replays probe selection (centroid·q, index tie-break)
    // plus the in-cluster brute force from those artifacts — so this
    // entry hash-checks everything downstream of the fit.
    "q_ann_ivf_stored" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val km = Similarity.kMeans(emb, "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L)
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfstore", d))
      cat.putPartitioned("ann_ivf_store",
        emb.join(km.assignments, "vec_id"), "cluster")
      val stored = cat.get("ann_ivf_store")
      writeIvfGateArtifacts(s, stored, km.centroids)
      val out = Similarity.ivfTopKStored(stored, "vec_id",
        "embedding", "cluster", km.centroids, queryVec, k = 10, nprobe = 3)
      cat.close()
      out
    }),

    // INCREMENTAL index maintenance end-to-end: fit + store on the
    // even half of the corpus, then absorb the odd half the way a
    // standing index absorbs a new crawl slice — assigned to the
    // EXISTING centroids map-side ([[Similarity.assignedToCentroids]],
    // no refit) and appended via [[graft.catalog.Catalog
    // .appendPartitioned]] (only touched cluster partitions gain
    // files; nothing is rewritten). The probe then runs over the
    // combined store — partition-pruned exactly like q_ann_ivf_stored
    // — and the oracle replays probe + membership from the APPENDED
    // layout's own artifacts, so the hash certifies the append
    // produced a correct, probeable index. (Centroid drift is the
    // documented trade: refit offline when recall decays.)
    "q_ann_ivf_append" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") % 2 === 0)
      val km = Similarity.kMeans(base, "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L)
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfappend", d))
      cat.putPartitioned("ann_ivf_append",
        base.join(km.assignments, "vec_id"), "cluster")
      cat.appendPartitioned("ann_ivf_append",
        Similarity.assignedToCentroids(
          emb.filter(col("vec_id") % 2 =!= 0), "embedding", km.centroids),
        "cluster")
      val stored = cat.get("ann_ivf_append")
      writeIvfAppendGateArtifacts(s, stored, km.centroids)
      val out = Similarity.ivfTopKStored(stored, "vec_id",
        "embedding", "cluster", km.centroids, queryVec, k = 10, nprobe = 3)
      cat.close()
      out
    }),

    // the REFIT TRIGGER for the no-refit append path: per-cluster
    // assignment-distance drift of the appended (odd) half against
    // the even-half-fit base — RECALL.json's append sweep showed
    // recall decays with NEW MODES, not volume, so this profile (not
    // a growth percentage) is what a maintenance loop should watch.
    // Whole profile in 1e-6 fixed point; the oracle replays scoring
    // + moments from the persisted centroids (q_embed_outliers idiom)
    "q_ann_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") % 2 === 0)
      val km = Similarity.kMeans(base, "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L)
      writeDriftGateArtifact(s, km.centroids)
      Similarity.assignmentDrift(base,
        emb.filter(col("vec_id") % 2 =!= 0), "embedding", km.centroids)
    }),

    // the full production layout end-to-end: bucket + int8-quantize,
    // write partitioned by bucket, probe the re-read store — pruned
    // scan over 4×-smaller vectors, one rescale multiply per row
    "q_ann_quantized" -> ((s, d) => {
      val cat = new graft.catalog.Catalog(s, storeRoot("annqstore", d))
      cat.putPartitioned("ann_q_store",
        Similarity.quantizeInt8(
          Similarity.withLshBucket(Tables.embeddings(s, d), "embedding",
            dim = 64, numBits = 4, seed = 7L),
          "vec_id", "embedding"),
        "bucket")
      val out = Similarity.lshTopKQuantized(cat.get("ann_q_store"), "vec_id",
        queryVec, k = 10, numBits = 4, probeFlips = 2, seed = 7L)
      cat.close()
      out
    }),

    // product quantization end-to-end: per-subspace codebooks (m=8,
    // k=16, 64-d → 8 one-byte codes, 32× down where int8 stops at
    // 4×) fit with the kMeans machinery, map-side encode, ADC top-k
    // in 1e-6 fixed point. The FIT is not SQL-replayable (q_kmeans
    // precedent) but everything downstream is: the codebooks (+
    // half-norms) persist to [[pqGateRoot]] and the oracle replays
    // the encode argmax AND the integer ADC probe from them.
    "q_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = Similarity.pqFit(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 5, seed = 7L)
      writePqGateArtifact(s, model)
      Similarity.pqTopK(
        Similarity.pqEncode(emb, "vec_id", "embedding", model),
        "vec_id", queryVec, model, topK = 10)
    }),

    // IVF+PQ composite — the production ANN shape: the coarse kMeans
    // quantizer prunes WHICH partitions are read (the codes store is
    // written partitioned by cluster; the nprobe filter resolves to
    // PartitionFilters), PQ codes make each read row m integer table
    // lookups (no float vector touched). q_ann_pq scans every code
    // row and q_ann_ivf_stored rescans floats — this entry is their
    // composition and fixes both. Centroids + codebooks + the stored
    // layout's assignment persist to [[ivfPqGateRoot]]; the oracle
    // replays probe selection, the ENCODE argmax, and the integer
    // ADC — only the two fits stay unreplayed (q_kmeans precedent).
    "q_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val km = Similarity.kMeans(emb, "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L)
      val model = Similarity.pqFit(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 5, seed = 7L)
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfpqstore", d))
      cat.putPartitioned("ann_ivfpq_store",
        Similarity.pqEncode(emb, "vec_id", "embedding", model)
          .join(km.assignments, "vec_id"),
        "cluster")
      val stored = cat.get("ann_ivfpq_store")
      writeIvfPqGateArtifacts(s, stored, km.centroids, model)
      val out = Similarity.ivfPqTopK(stored, "vec_id", km.centroids,
        model, queryVec, topK = 10, nprobe = 3)
      cat.close()
      out
    }),

    // the composite + the float RERANK stage — the full serving
    // pipeline (probe → ADC shortlist → exact rescore of only the
    // shortlist), closing the PQ quantization ceiling RECALL.json
    // measures (clustered recall saturates at 0.38/0.50 without it).
    // Re-derives the same deterministic fits as q_ann_ivfpq; its
    // oracle READS q_ann_ivfpq's gate artifacts (identical by
    // determinism — the single-writer contract on [[ivfPqGateRoot]]
    // is untouched) plus the embeddings table for the rescore.
    "q_ann_ivfpq_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val km = Similarity.kMeans(emb, "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L)
      val model = Similarity.pqFit(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 5, seed = 7L)
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfpqrstore", d))
      cat.putPartitioned("ann_ivfpqr_store",
        Similarity.pqEncode(emb, "vec_id", "embedding", model)
          .join(km.assignments, "vec_id"),
        "cluster")
      val stored = cat.get("ann_ivfpqr_store")
      // refresh the shared gate artifacts from THIS run's fits: the
      // oracle replays [[ivfPqGateRoot]], and before this write the
      // replay silently depended on q_ann_ivfpq having verified
      // earlier in the same run (round-17 ADVICE) — the fits are
      // deterministic and identical, so the single-writer contract
      // holds (both writers emit the same artifact)
      writeIvfPqGateArtifacts(s, stored, km.centroids, model)
      // floats carry the cluster column, so the rescore read is
      // pruned to the same probed cells as the shortlist
      val out = Similarity.ivfPqTopKReranked(stored,
        emb.join(km.assignments, "vec_id"), "vec_id", "embedding",
        km.centroids, model, queryVec, topK = 10, nprobe = 3,
        shortlistFactor = 4)
      cat.close()
      out
    }),

    // JL dimensionality reduction: 64-dim embeddings down to 8 dense
    // components over the seeded plane family — the oracle replays the
    // exact projection from the interpolated plane literals. Exploded
    // (vec_id, pos, p) like q_embed_quantize: the gate's canonicalizer
    // sorts by every column, which an array column cannot do
    "q_project_dense" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode}
      Similarity.projectDense(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, outDim = 8, seed = 7L)
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos"), col("col").as("p"))
    }),

    // dataset integrity audit: docs ⟷ embeddings coverage via ONE
    // co-partitioned full-outer join on the id — the join-coverage
    // report every multi-table pipeline runs before training
    // (missing embeddings starve the doc; orphan embeddings signal a
    // stale index). The gate induces asymmetry (drop doc_id % 7 == 0
    // docs, vec_id % 5 == 0 vectors) so all three statuses appear.
    "q_integrity" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 7 =!= 0).select(col("doc_id").as("id"))
        .withColumn("has_doc", lit(1))
      val embs = Tables.embeddings(s, d)
        .filter(col("vec_id") % 5 =!= 0).select(col("vec_id").as("id"))
        .withColumn("has_emb", lit(1))
      docs.join(embs, Seq("id"), "full_outer")
        .select(col("id"),
          when(col("has_doc").isNotNull && col("has_emb").isNotNull, "matched")
            .when(col("has_doc").isNotNull, "doc_only")
            .otherwise("emb_only").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("cnt"), min("id").as("min_id"),
          max("id").as("max_id"))
    }),

    // embedding-space curation: per-cluster z-score of squared
    // distance to the fitted centroid — flags off-distribution
    // vectors before training. The fit is q_kmeans's (k=8, 5 iters,
    // seed 7); the FINAL centroids are persisted to a dedicated gate
    // root, and the oracle replays assignment, dist², and the exact
    // fixed-point cluster moments from them (the q_kmeans artifact
    // trick + the q_unigram_xent fixed-point discipline)
    "q_embed_outliers" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val km = Similarity.kMeans(emb, "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L)
      writeOutlierGateArtifact(s, km.centroids)
      Similarity.centroidOutliers(emb, "vec_id", "embedding",
        km.centroids, zThreshold = 2.0)
    }),

    // int8 quantization, element-wise under the hash oracle: the
    // (vec_id, pos, q, scale) explosion pins every quantized byte
    // against DuckDB's replay of the same double arithmetic
    "q_embed_quantize" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode, round}
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          posexplode(col("qvec")))
        .select(col("vec_id"), col("pos"), col("col").as("q"), col("scale"))
    }),
  )

  /** q_embed_quantize's Verify form explodes every vector element-wise
    * (~rows×64 output) so DuckDB can pin each byte — right for the
    * correctness gate, wrong to TIME: the bench would forever carry
    * ~13 s of test scaffolding (round-7 verdict item 3). The bench
    * times the production shape instead: quantize + a corpus digest.
    * The digest must be an AGGREGATE over the quantized bytes — a
    * bare per-row projection would be column-pruned away under the
    * bench's `.count()` and the timing would measure an empty scan,
    * not the quantization. */
  /** Warm the three memoized ANN layouts (stored-IVF, PQ codebooks,
    * IVF+PQ codes store) off the clock: invoking each override runs
    * its build-once memo and returns only a lazy probe frame,
    * so this is exactly the memo construction and nothing else. */
  override def benchWarm(spark: SparkSession, sfDir: String): Unit = {
    benchOverrides("q_ann_ivf_stored")(spark, sfDir)
    benchOverrides("q_ann_pq")(spark, sfDir)
    benchOverrides("q_ann_ivfpq")(spark, sfDir)
    benchOverrides("q_embed_outliers")(spark, sfDir)
    benchOverrides("q_ann_ivf_append")(spark, sfDir)
    benchOverrides("q_ann_drift")(spark, sfDir)
    ()
  }

  override def benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_quantize" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .agg(sum(xxhash64(col("qvec"), col("scale"))).as("digest"),
          count(lit(1)).as("n"))
    }),

    // The Verify form times the whole index LIFECYCLE (kMeans build +
    // partitioned write + probe) in one number — right for the gate,
    // wrong to TIME: a serving user pays the build once and the probe
    // per query (round-11 verdict #3). The bench builds the store on
    // the FIRST invocation only (memoized per data dir; the temp
    // store outlives clearCache) and times the probe alone — with
    // the default 3 bench runs the median is a pure probe, and the
    // build-contaminated first run is visible in `runs` rather than
    // hidden. The probe is the partition-pruned scan SimilaritySpec
    // pins.
    // gate-artifact write is Verify-only (single-writer contract on
    // [[kmeansGateRoot]] — the bench must not overwrite the sf0.01
    // artifact the oracle replays); the bench times the plain fit
    "q_kmeans" -> ((s, d) =>
      Similarity.kMeans(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L).assignments),

    // gate-artifact write is Verify-only (single-writer contract on
    // [[outlierGateRoot]] — the bench must not overwrite the sf0.01
    // centroids the oracle replays); the bench pays the k-means fit
    // once per data dir (the q_ann_ivf_stored memo pattern — a
    // serving user fits offline and scores per batch) and times the
    // SCORING alone: map-side centroid-literal assignment + one k-row
    // moment shuffle. The fit is already timed on its own as
    // q_kmeans; timing it again here double-counted it AND made this
    // the suite's most environment-sensitive query (~20
    // driver-coordinated actions per run — the round-16 driver bench
    // medianed it 39.7 s under co-scheduled load vs 1.5 s clean).
    "q_embed_outliers" -> ((s, d) => {
      val centroids = once("outlier-centroids", d)(
        Similarity.kMeans(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 8, iters = 5, seed = 7L).centroids)
      Similarity.centroidOutliers(Tables.embeddings(s, d), "vec_id",
        "embedding", centroids, zThreshold = 2.0)
    }),

    // same discipline for the drift monitor: the maintenance loop
    // fits once and profiles every append slice, so the bench
    // memoizes the even-half fit and times the two map-side scoring
    // passes + k-row join (the Verify form re-fits per run — right
    // for the gate, double-counts q_kmeans to TIME)
    "q_ann_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val centroids = once("drift-centroids", d)(
        Similarity.kMeans(
          Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", k = 8, iters = 5, seed = 7L).centroids)
      val emb = Tables.embeddings(s, d)
      Similarity.assignmentDrift(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 =!= 0), "embedding", centroids)
    }),

    "q_ann_ivf_stored" -> ((s, d) => {
      // the store lives under storeRoot; the memo keeps the centroids
      val centroids = once("ivf-centroids", d) {
        val emb = Tables.embeddings(s, d)
        val km = Similarity.kMeans(emb, "vec_id", "embedding",
          k = 8, iters = 5, seed = 7L)
        val cat = new graft.catalog.Catalog(s, storeRoot("ivfstore", d))
        cat.putPartitioned("ann_ivf_store",
          emb.join(km.assignments, "vec_id"), "cluster")
        cat.close()
        km.centroids
      }
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfstore", d))
      Similarity.ivfTopKStored(cat.get("ann_ivf_store"), "vec_id",
        "embedding", "cluster", centroids, queryVec, k = 10, nprobe = 3)
    }),

    // gate-artifact write is Verify-only ([[ivfPqGateRoot]]
    // single-writer contract); the bench builds the whole layout
    // (two fits + partitioned codes store) once per data dir and
    // times the probe alone — the partition-pruned integer-ADC scan
    // that IS the per-query serving cost
    "q_ann_ivfpq" -> ((s, d) => {
      val (centroids, model) = ivfPqBenchLayout(s, d)
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfpqstore", d))
      Similarity.ivfPqTopK(cat.get("ann_ivfpq_store"), "vec_id",
        centroids, model, queryVec, topK = 10, nprobe = 3)
    }),

    // the rerank's Verify form rebuilds both fits + the partitioned
    // store every run (right for the gate, 13 s to TIME); the bench
    // reuses the q_ann_ivfpq memoized layout and times the serving
    // pipeline alone — ADC shortlist over the pruned store + exact
    // rescore from the STORED float layout, which carries the
    // fit-time km.assignments (a map-side re-assignment here could
    // silently disagree with the stored shortlist clusters on upcast
    // edge cases and drop shortlist ids — round-17 ADVICE)
    "q_ann_ivfpq_rerank" -> ((s, d) => {
      val (centroids, model) = ivfPqBenchLayout(s, d)
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfpqstore", d))
      Similarity.ivfPqTopKReranked(cat.get("ann_ivfpq_store"),
        cat.get("ann_ivfpq_floats"),
        "vec_id", "embedding", centroids, model, queryVec, topK = 10,
        nprobe = 3, shortlistFactor = 4)
    }),

    // Verify's q_ann_ivf_append times the whole maintenance LIFECYCLE
    // (fit + base store build + append + probe, ~2.3 s/run re-fitting
    // every run — round-17 verdict #6); the bench memoizes the fit +
    // base store once per data dir and times the serving/maintenance
    // unit: map-side assign of a ~1% incremental slice + dynamic
    // partition append + the pruned probe over the combined store.
    // The slice is appended once per RUN (the store grows ~1% per
    // run — bounded drift, and exactly what a standing index does
    // between compactions).
    "q_ann_ivf_append" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val centroids = once("ivfappend-centroids", d) {
        val emb = Tables.embeddings(s, d)
        val base = emb.filter(col("vec_id") % 2 === 0)
        val km = Similarity.kMeans(base, "vec_id", "embedding",
          k = 8, iters = 5, seed = 7L)
        val cat = new graft.catalog.Catalog(s, storeRoot("ivfappendbench", d))
        cat.putPartitioned("ann_ivf_append_b",
          base.join(km.assignments, "vec_id"), "cluster")
        cat.close()
        km.centroids
      }
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfappendbench", d))
      cat.appendPartitioned("ann_ivf_append_b",
        Similarity.assignedToCentroids(
          Tables.embeddings(s, d)
            .filter(col("vec_id") % 101 === 1), "embedding", centroids),
        "cluster")
      val out = Similarity.ivfTopKStored(cat.get("ann_ivf_append_b"),
        "vec_id", "embedding", "cluster", centroids, queryVec,
        k = 10, nprobe = 3)
      cat.close()
      out
    }),

    // gate-artifact write is Verify-only ([[pqGateRoot]] single-writer
    // contract); the bench pays the codebook fit once per data dir
    // and times encode + ADC — the per-query serving cost
    "q_ann_pq" -> ((s, d) => {
      val model = once("pq-model", d)(
        Similarity.pqFit(Tables.embeddings(s, d), "vec_id", "embedding",
          m = 8, k = 16, iters = 5, seed = 7L))
      Similarity.pqTopK(
        Similarity.pqEncode(Tables.embeddings(s, d), "vec_id", "embedding",
          model),
        "vec_id", queryVec, model, topK = 10)
    }),
  )

  /** The one memoized IVF+PQ bench layout (shared by q_ann_ivfpq and
    * its rerank): codes store partitioned by cluster, PLUS the float
    * vectors stored under the SAME fit-time assignments — the rerank
    * joins shortlist to floats by cluster, and deriving the float
    * side's cluster by re-assignment could disagree on upcast edges
    * and silently drop shortlist ids (round-17 ADVICE). Returns
    * (coarse centroids, pq model); the stores live under
    * [[storeRoot]]. */
  private def ivfPqBenchLayout(s: SparkSession, d: String)
      : (IndexedSeq[IndexedSeq[Double]], Similarity.PqModel) =
    once("ivfpq-layout", d) {
      val emb = Tables.embeddings(s, d)
      val km = Similarity.kMeans(emb, "vec_id", "embedding",
        k = 8, iters = 5, seed = 7L)
      val m = Similarity.pqFit(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 5, seed = 7L)
      val cat = new graft.catalog.Catalog(s, storeRoot("ivfpqstore", d))
      cat.putPartitioned("ann_ivfpq_store",
        Similarity.pqEncode(emb, "vec_id", "embedding", m)
          .join(km.assignments, "vec_id"),
        "cluster")
      cat.putPartitioned("ann_ivfpq_floats",
        emb.join(km.assignments, "vec_id"), "cluster")
      cat.close()
      (km.centroids, m)
    }

  /** Fixed root for the q_ann_ivfpq oracle-replay artifacts (the
    * [[gateStoreRoot]] contract: non-temp, overwrite-in-place,
    * single-writer; its own root so gate entries never couple). */
  private val ivfPqGateRoot = "/tmp/graft-gate-store/ivfpq"

  /** Persist everything the q_ann_ivfpq oracle replays from: coarse
    * centroids (probe selection), PQ codebooks + half-norms (encode
    * argmax + ADC table), and the stored layout's (vec_id, cluster)
    * — read back from the STORE so the artifact is exactly what the
    * probe prunes over. */
  private def writeIvfPqGateArtifacts(s: SparkSession, stored: DataFrame,
      centroids: IndexedSeq[IndexedSeq[Double]],
      model: Similarity.PqModel): Unit = {
    import org.apache.spark.sql.functions.col
    import s.implicits._
    centroids.zipWithIndex
      .map { case (c, j) => (j, c.toArray) }.toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$ivfPqGateRoot/centroids.parquet")
    (for { j <- 0 until model.m; c <- 0 until model.k } yield {
      val cb = model.codebooks(j)(c)
      (j, c, cb.toArray, cb.map(x => x * x).sum / 2)
    }).toDF("subspace", "code", "centroid", "half")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$ivfPqGateRoot/codebooks.parquet")
    stored.select(col("vec_id"), col("cluster"))
      .write.mode("overwrite").parquet(s"$ivfPqGateRoot/assignments.parquet")
  }

  /** Fixed root for the q_ann_pq oracle-replay artifact (same
    * non-temp, overwrite-in-place, single-writer contract as
    * [[gateStoreRoot]]): the fitted per-subspace codebooks with
    * their half-norms — m·k small rows, driver-side values only. */
  private val pqGateRoot = "/tmp/graft-gate-store/pq"

  private def writePqGateArtifact(s: SparkSession,
                                  model: Similarity.PqModel): Unit = {
    import s.implicits._
    (for { j <- 0 until model.m; c <- 0 until model.k } yield {
      val cb = model.codebooks(j)(c)
      (j, c, cb.toArray, cb.map(x => x * x).sum / 2)
    }).toDF("subspace", "code", "centroid", "half")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$pqGateRoot/codebooks.parquet")
  }

  /** Fixed root for the q_embed_outliers oracle-replay artifact
    * (same non-temp, overwrite-in-place, single-writer contract as
    * [[kmeansGateRoot]] — a separate root so the two gate entries
    * never couple: either replays alone). */
  private val outlierGateRoot = "/tmp/graft-gate-store/outliers"

  /** Fixed root for the q_ann_drift oracle-replay artifact (the
    * even-half-fit centroids; own root — single-writer, no coupling). */
  private val driftGateRoot = "/tmp/graft-gate-store/drift"

  private def writeDriftGateArtifact(s: SparkSession,
      centroids: IndexedSeq[IndexedSeq[Double]]): Unit = {
    import s.implicits._
    centroids.zipWithIndex
      .map { case (c, j) => (j, c.toArray) }.toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$driftGateRoot/centroids.parquet")
  }

  private def writeOutlierGateArtifact(s: SparkSession,
      centroids: IndexedSeq[IndexedSeq[Double]]): Unit = {
    import s.implicits._
    centroids.zipWithIndex
      .map { case (c, j) => (j, c.toArray) }.toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outlierGateRoot/centroids.parquet")
  }

  /** Fixed root for the q_kmeans oracle-replay artifact (same
    * non-temp, overwrite-in-place contract as [[gateStoreRoot]]):
    * the FINAL fitted centroids, from which the oracle replays the
    * assignment. Driver-side values only — writing them scans no
    * data. */
  private val kmeansGateRoot = "/tmp/graft-gate-store/kmeans"

  private def writeKmeansGateArtifact(s: SparkSession,
      centroids: IndexedSeq[IndexedSeq[Double]]): Unit = {
    import s.implicits._
    centroids.zipWithIndex
      .map { case (c, j) => (j, c.toArray) }.toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$kmeansGateRoot/centroids.parquet")
  }

  /** Fixed root for the q_ann_ivf_stored oracle-replay artifacts.
    * Deliberately NOT a temp dir and NOT shutdown-deleted: the DuckDB
    * oracle reads these paths AFTER the Verify JVM has exited (the
    * temp [[storeRoot]]s are gone by then). Bounded — each run
    * overwrites the same two small parquets (k centroid rows + one
    * (vec_id, cluster) row per vector). Single-writer by the same
    * gate contract as the stores: only the Verify-form query writes
    * here, immediately before its oracle is replayed. */
  private val gateStoreRoot = "/tmp/graft-gate-store/ivf"

  /** Fixed root for the q_ann_ivf_append oracle-replay artifacts
    * (same non-temp, overwrite-in-place, single-writer contract). */
  private val ivfAppendGateRoot = "/tmp/graft-gate-store/ivfappend"

  /** The q_ann_ivf_append oracle's inputs: the even-half-fit centroids
    * and the APPENDED store's own (vec_id, cluster) — read back from
    * the store, so the artifact certifies what the append actually
    * landed (base + assigned-without-refit rows). */
  private def writeIvfAppendGateArtifacts(s: SparkSession, stored: DataFrame,
      centroids: IndexedSeq[IndexedSeq[Double]]): Unit = {
    import org.apache.spark.sql.functions.col
    import s.implicits._
    centroids.zipWithIndex
      .map { case (c, j) => (j, c.toArray) }.toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$ivfAppendGateRoot/centroids.parquet")
    stored.select(col("vec_id"), col("cluster"))
      .write.mode("overwrite").parquet(s"$ivfAppendGateRoot/assignments.parquet")
  }

  /** Persist the two data-dependent inputs the q_ann_ivf_stored
    * oracle needs: the fitted centroids and the layout's per-vector
    * cluster (read back from the STORE, so the artifact is exactly
    * what the probe scans, not a recomputation). */
  private def writeIvfGateArtifacts(s: SparkSession, stored: DataFrame,
                                    centroids: IndexedSeq[IndexedSeq[Double]]): Unit = {
    import org.apache.spark.sql.functions.col
    import s.implicits._
    centroids.zipWithIndex
      .map { case (c, j) => (j, c.toArray) }.toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$gateStoreRoot/centroids.parquet")
    stored.select(col("vec_id"), col("cluster"))
      .write.mode("overwrite").parquet(s"$gateStoreRoot/assignments.parquet")
  }

  /** The LSH probe IS SQL-expressible because the planes are seeded
    * literals: replay bit h = sign(v·plane_h) per row, assemble the
    * bucket id, and filter to the same driver-side probe set — then
    * exact top-k over the pruned rows. */
  /** The seeded-plane bucket id and probe set, replayed as SQL text
    * (shared by the plain, storage-routed, and quantized variants). */
  private def bucketSql: String =
    Similarity.hyperplanes(64, 4, 7L).zipWithIndex.map { case (p, i) =>
      val pl = p.map(_.toString).mkString("[", ", ", "]")
      s"""(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
         |                            CAST($pl AS DOUBLE[])) >= 0
         |      THEN ${1L << i} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private def probesSql: String =
    Similarity.probeBuckets(queryVec, 4, 7L, 2).mkString(", ")

  /** Full DuckDB replay of [[Similarity.nearDupPairs]]'s banded
    * pipeline at the GATE's adaptive parameters: at sf0.01 (n = 4000
    * vectors; adaptive for any n ≤ 8192 with the default
    * targetBucket = 32) the operator resolves bitsPerBand = 8,
    * pool = 32, maxBucket = 1024. The plane literals and the seeded
    * band → bit-index sets come from the SAME Scala calls the
    * operator makes ([[Similarity.hyperplanes]] /
    * [[Similarity.bandIndexSets]]), so candidate generation — sign
    * bits, per-band signature packing, bucket-size prune, bucket
    * co-membership — is replayed exactly, then candidates get the
    * same exact-cosine threshold. This was rows-only through round
    * 12 ("banding not SQL-expressible"); it is expressible — the
    * banding is deterministic given the seed, and the oracle text is
    * generated from the seeds. */
  /** CTE chain replaying [[Similarity.nearDupPairs]] end-to-end —
    * hyperplane bits, band signatures, bucket-cap prune, candidate
    * join, cosine verify — ending in nd(id_a, id_b, cos). Shared by
    * the q_embed_neardup and q_semdedup oracles; callers prepend
    * WITH [RECURSIVE]. */
  private def nearDupPairsCtes: String = {
    val (pool, r, bands, maxB, threshold) = (32, 8, 16, 1024, 0.40)
    val bitsList = Similarity.hyperplanes(64, pool, 7L).map { p =>
      val pl = p.map(_.toString).mkString("[", ", ", "]")
      s"""CASE WHEN list_dot_product(v, CAST($pl AS DOUBLE[])) >= 0
         |     THEN 1 ELSE 0 END""".stripMargin
    }.mkString("[\n", ",\n", "\n]")
    val bandSelects = Similarity.bandIndexSets(bands, pool, r, 7L)
      .zipWithIndex.map { case (idx, j) =>
        val sig = idx.zipWithIndex
          .map { case (bit, pos) => s"(CAST(b[${bit + 1}] AS BIGINT) * ${1L << pos})" }
          .mkString(" + ")
        s"  SELECT id, $j AS band, $sig AS sig FROM bits"
      }.mkString("\n  UNION ALL\n")
    s"""v0 AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |),
       |bits AS (SELECT id, v, $bitsList AS b FROM v0),
       |bandrows AS (
       |$bandSelects
       |),
       |sizes AS (SELECT band, sig, count(*) AS c FROM bandrows GROUP BY 1, 2),
       |pruned AS (
       |  SELECT br.id, br.band, br.sig FROM bandrows br
       |  JOIN sizes s ON s.band = br.band AND s.sig = br.sig
       |  WHERE s.c <= $maxB
       |),
       |cand AS (
       |  SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM pruned l JOIN pruned r
       |    ON l.band = r.band AND l.sig = r.sig AND l.id < r.id
       |),
       |nd AS (
       |  SELECT id_a, id_b, cos FROM (
       |    SELECT c.id_a, c.id_b, list_dot_product(a.v, b.v) AS cos
       |    FROM cand c
       |    JOIN v0 a ON a.id = c.id_a
       |    JOIN v0 b ON b.id = c.id_b)
       |  WHERE cos >= $threshold
       |)""".stripMargin
  }

  private def nearDupOracle: String =
    s"""WITH $nearDupPairsCtes
       |SELECT id_a, id_b, round(cos, 4) AS cos FROM nd
       |""".stripMargin

  /** The semantic-canonicalization oracle: the nd pair replay above,
    * closed transitively (recursive walk over the symmetrized pairs,
    * exactly the q_components CTE shape) — survivors are the docs
    * whose component min is themselves. */
  private def semdedupOracle: String =
    s"""WITH RECURSIVE $nearDupPairsCtes,
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM nd
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM nd
       |),
       |walk(id, comp) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT w.id, s.dst FROM walk w JOIN sym s ON w.comp = s.src
       |)
       |SELECT id AS vec_id FROM walk GROUP BY id HAVING min(comp) = id
       |""".stripMargin

  private def lshOracle(lit: String): String =
    s"""SELECT vec_id, round(sim, 4) AS sim FROM (
       |  SELECT vec_id,
       |    list_dot_product(CAST(embedding AS DOUBLE[]),
       |                     CAST($lit AS DOUBLE[])) AS sim
       |  FROM embeddings
       |  WHERE ($bucketSql) IN ($probesSql)
       |  ORDER BY sim DESC, vec_id LIMIT 10
       |)""".stripMargin

  /** Same probe set, but the score is the dequantized-int8 dot —
    * replaying quantize (round→tinyint), the per-row rescale, and the
    * bucket pruning exactly as the stored layout computes them. */
  private def lshQuantizedOracle(lit: String): String =
    s"""SELECT vec_id, round(sim, 4) AS sim FROM (
       |  SELECT vec_id,
       |    list_dot_product(
       |      list_transform(embedding,
       |        x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127 / s) AS TINYINT) AS DOUBLE)),
       |      CAST($lit AS DOUBLE[])) * s / 127 AS sim
       |  FROM (
       |    SELECT vec_id, embedding,
       |      greatest(list_max(list_transform(embedding,
       |        x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS s
       |    FROM embeddings)
       |  WHERE ($bucketSql) IN ($probesSql)
       |  ORDER BY sim DESC, vec_id LIMIT 10
       |)""".stripMargin

  override def oracleSql: Map[String, String] = {
    val lit = queryVec.map(_.toString).mkString("[", ", ", "]")
    Map(
      "q_ann_brute" ->
        s"""SELECT vec_id, round(sim, 4) AS sim FROM (
           |  SELECT vec_id,
           |    list_dot_product(CAST(embedding AS DOUBLE[]),
           |                     CAST($lit AS DOUBLE[])) AS sim
           |  FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10
           |)""".stripMargin,

      // replay the dense projection: one list_dot_product per output
      // component against the SAME seeded planes the operator loads as
      // typedLits (Double.toString round-trips, so the parsed literals
      // are bit-identical); exploded per component to match the gate
      // query's (vec_id, pos, p) shape
      "q_project_dense" -> {
        val comps = Similarity.hyperplanes(64, 8, 7L).map { p =>
          val pl = p.map(_.toString).mkString("[", ", ", "]")
          s"""round(list_dot_product(CAST(embedding AS DOUBLE[]),
             |      CAST($pl AS DOUBLE[])), 6)""".stripMargin
        }.mkString("[\n", ",\n", "\n]")
        s"""SELECT vec_id, CAST(pos AS INT) AS pos, proj[pos + 1] AS p
           |FROM (SELECT vec_id, $comps AS proj FROM embeddings),
           |     (SELECT unnest(range(0, 8)) AS pos)""".stripMargin
      },
      // IVF probe selection is SQL-expressible through linearity:
      // dot(mean(v), q) == mean(dot(v, q)), so the top-nprobe
      // clusters by centroid·q are the top-nprobe by avg(v·q) — no
      // array unnesting needed. Rescan of the probed lists is then a
      // plain filtered top-k, matching Similarity.ivfTopK row-for-row.
      "q_ann_ivf" ->
        s"""WITH probed AS (
           |  SELECT label FROM embeddings
           |  GROUP BY label
           |  ORDER BY avg(list_dot_product(CAST(embedding AS DOUBLE[]),
           |                                CAST($lit AS DOUBLE[]))) DESC
           |  LIMIT 3
           |)
           |SELECT vec_id, round(sim, 4) AS sim FROM (
           |  SELECT vec_id,
           |    list_dot_product(CAST(embedding AS DOUBLE[]),
           |                     CAST($lit AS DOUBLE[])) AS sim
           |  FROM embeddings WHERE label IN (SELECT label FROM probed)
           |  ORDER BY sim DESC, vec_id LIMIT 10
           |)""".stripMargin,
      // replay from the persisted gate artifacts (see
      // writeIvfGateArtifacts): probe = top-nprobe clusters by
      // centroid·q with the index tie-break ivfTopKStored uses, then
      // exact top-k over the members of the probed clusters — the
      // layout's own (vec_id, cluster) decides membership, the
      // registered embeddings view supplies the vectors (float →
      // double cast, as the Spark side computes). Only the kMeans FIT
      // stays unreplayed (q_kmeans, rows-only).
      "q_ann_ivf_stored" ->
        s"""WITH cent AS (
           |  SELECT cluster, centroid
           |  FROM read_parquet('$gateStoreRoot/centroids.parquet/*.parquet')
           |),
           |probed AS (
           |  SELECT cluster FROM cent
           |  ORDER BY list_dot_product(CAST(centroid AS DOUBLE[]),
           |                            CAST($lit AS DOUBLE[])) DESC, cluster
           |  LIMIT 3
           |),
           |a AS (
           |  SELECT vec_id, cluster
           |  FROM read_parquet('$gateStoreRoot/assignments.parquet/*.parquet')
           |)
           |SELECT vec_id, round(sim, 4) AS sim FROM (
           |  SELECT e.vec_id,
           |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
           |                     CAST($lit AS DOUBLE[])) AS sim
           |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id
           |  WHERE a.cluster IN (SELECT cluster FROM probed)
           |  ORDER BY sim DESC, e.vec_id LIMIT 10
           |)""".stripMargin,
      // the q_ann_ivf_stored replay over the APPENDED layout's own
      // artifacts: probe + membership come from the post-append
      // store, so the hash certifies the no-refit append (the
      // even-half centroids, EVERY row's cluster, pruned probe)
      "q_ann_ivf_append" ->
        s"""WITH cent AS (
           |  SELECT cluster, centroid
           |  FROM read_parquet('$ivfAppendGateRoot/centroids.parquet/*.parquet')
           |),
           |probed AS (
           |  SELECT cluster FROM cent
           |  ORDER BY list_dot_product(CAST(centroid AS DOUBLE[]),
           |                            CAST($lit AS DOUBLE[])) DESC, cluster
           |  LIMIT 3
           |),
           |a AS (
           |  SELECT vec_id, cluster
           |  FROM read_parquet('$ivfAppendGateRoot/assignments.parquet/*.parquet')
           |)
           |SELECT vec_id, round(sim, 4) AS sim FROM (
           |  SELECT e.vec_id,
           |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
           |                     CAST($lit AS DOUBLE[])) AS sim
           |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id
           |  WHERE a.cluster IN (SELECT cluster FROM probed)
           |  ORDER BY sim DESC, e.vec_id LIMIT 10
           |)""".stripMargin,
      // replay the WHOLE PQ probe from the persisted codebooks:
      // encode = per-subspace argmax of dot(sub, c) − half (stored
      // half, first-max tie-break ↔ ORDER BY s DESC, code ASC), ADC
      // table = round(1e6·((q_j·q_j − 2·q_j·c) + c·c)) as BIGINT —
      // q_j·q_j precomputed driver-side with the same sequential
      // fold and rendered as a round-tripping double literal — and
      // the per-vector distance is an INTEGER sum over the 8 joined
      // table rows, so aggregate order cannot perturb it. Only the
      // per-subspace kMeans FIT stays unreplayed (q_kmeans
      // precedent).
      "q_ann_pq" -> {
        val subDim = 8
        def qj(j: Int): IndexedSeq[Double] =
          queryVec.slice(j * subDim, (j + 1) * subDim).toIndexedSeq
        def qLit(j: Int): String =
          qj(j).map(_.toString).mkString("[", ", ", "]")
        val qCase = (0 until 8).map(j =>
          s"WHEN $j THEN CAST(${qLit(j)} AS DOUBLE[])").mkString(" ")
        val qqCase = (0 until 8).map(j =>
          s"WHEN $j THEN ${Similarity.seqDot(qj(j), qj(j))}").mkString(" ")
        s"""WITH cb AS (
           |  SELECT subspace, code, CAST(centroid AS DOUBLE[]) AS c, half
           |  FROM read_parquet('$pqGateRoot/codebooks.parquet/*.parquet')
           |),
           |v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings
           |  WHERE embedding IS NOT NULL AND len(embedding) = 64
           |),
           |codes AS (
           |  SELECT vec_id, subspace, code FROM (
           |    SELECT v.vec_id, cb.subspace, cb.code,
           |      row_number() OVER (PARTITION BY v.vec_id, cb.subspace
           |        ORDER BY list_dot_product(
           |            v.emb[cb.subspace * 8 + 1 : cb.subspace * 8 + 8],
           |            cb.c) - cb.half DESC,
           |          cb.code ASC) AS rn
           |    FROM v CROSS JOIN cb
           |  ) WHERE rn = 1
           |),
           |tbl AS (
           |  SELECT subspace, code,
           |    CAST(round(((CASE subspace $qqCase END)
           |      - 2 * list_dot_product(CASE subspace $qCase END, c)
           |      + list_dot_product(c, c)) * 1000000, 0) AS BIGINT) AS t_fp
           |  FROM cb
           |)
           |SELECT vec_id, CAST(sum(t_fp) AS BIGINT) AS adc_fp
           |FROM codes JOIN tbl USING (subspace, code)
           |GROUP BY 1
           |ORDER BY adc_fp, vec_id LIMIT 10""".stripMargin
      },
      // the q_ann_ivf_stored probe replay COMPOSED with the q_ann_pq
      // encode+ADC replay, all from the [[ivfPqGateRoot]] artifacts:
      // probe = top-nprobe clusters by the L2 proxy
      // centroid·q − |centroid|²/2 (index tie-break) — the composite
      // ranks by L2 ADC, so the probe metric matches the ranker
      // (ivfPqTopK's doc; unlike q_ann_ivf_stored's max-dot, whose
      // ranker IS the dot),
      // membership = the stored layout's own (vec_id, cluster),
      // codes re-derived from the codebooks (argmax tie-break ↔
      // row_number ORDER BY s DESC, code ASC), distance = integer
      // Σ over the m joined fixed-point table rows. Only the two
      // FITS stay unreplayed.
      "q_ann_ivfpq" -> {
        val subDim = 8
        def qj(j: Int): IndexedSeq[Double] =
          queryVec.slice(j * subDim, (j + 1) * subDim).toIndexedSeq
        def qLit(j: Int): String =
          qj(j).map(_.toString).mkString("[", ", ", "]")
        val qCase = (0 until 8).map(j =>
          s"WHEN $j THEN CAST(${qLit(j)} AS DOUBLE[])").mkString(" ")
        val qqCase = (0 until 8).map(j =>
          s"WHEN $j THEN ${Similarity.seqDot(qj(j), qj(j))}").mkString(" ")
        s"""WITH cent AS (
           |  SELECT cluster, centroid
           |  FROM read_parquet('$ivfPqGateRoot/centroids.parquet/*.parquet')
           |),
           |probed AS (
           |  SELECT cluster FROM cent
           |  ORDER BY list_dot_product(CAST(centroid AS DOUBLE[]),
           |                            CAST($lit AS DOUBLE[]))
           |      - list_dot_product(CAST(centroid AS DOUBLE[]),
           |                         CAST(centroid AS DOUBLE[])) / 2
           |    DESC, cluster
           |  LIMIT 3
           |),
           |a AS (
           |  SELECT vec_id, cluster
           |  FROM read_parquet('$ivfPqGateRoot/assignments.parquet/*.parquet')
           |),
           |cb AS (
           |  SELECT subspace, code, CAST(centroid AS DOUBLE[]) AS c, half
           |  FROM read_parquet('$ivfPqGateRoot/codebooks.parquet/*.parquet')
           |),
           |v AS (
           |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb
           |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id
           |  WHERE a.cluster IN (SELECT cluster FROM probed)
           |    AND e.embedding IS NOT NULL AND len(e.embedding) = 64
           |),
           |codes AS (
           |  SELECT vec_id, subspace, code FROM (
           |    SELECT v.vec_id, cb.subspace, cb.code,
           |      row_number() OVER (PARTITION BY v.vec_id, cb.subspace
           |        ORDER BY list_dot_product(
           |            v.emb[cb.subspace * 8 + 1 : cb.subspace * 8 + 8],
           |            cb.c) - cb.half DESC,
           |          cb.code ASC) AS rn
           |    FROM v CROSS JOIN cb
           |  ) WHERE rn = 1
           |),
           |tbl AS (
           |  SELECT subspace, code,
           |    CAST(round(((CASE subspace $qqCase END)
           |      - 2 * list_dot_product(CASE subspace $qCase END, c)
           |      + list_dot_product(c, c)) * 1000000, 0) AS BIGINT) AS t_fp
           |  FROM cb
           |)
           |SELECT vec_id, CAST(sum(t_fp) AS BIGINT) AS adc_fp
           |FROM codes JOIN tbl USING (subspace, code)
           |GROUP BY 1
           |ORDER BY adc_fp, vec_id LIMIT 10""".stripMargin
      },
      // the q_ann_ivfpq replay with LIMIT 40 (the 4×k ADC shortlist)
      // instead of 10, then the float rerank: exact dot against the
      // full query over ONLY the shortlist ids, the final top-10 by
      // unrounded sim (id tie-break) — identical double fold on both
      // engines, the q_ann_brute discipline
      "q_ann_ivfpq_rerank" -> {
        val subDim = 8
        def qj(j: Int): IndexedSeq[Double] =
          queryVec.slice(j * subDim, (j + 1) * subDim).toIndexedSeq
        def qLit(j: Int): String =
          qj(j).map(_.toString).mkString("[", ", ", "]")
        val qCase = (0 until 8).map(j =>
          s"WHEN $j THEN CAST(${qLit(j)} AS DOUBLE[])").mkString(" ")
        val qqCase = (0 until 8).map(j =>
          s"WHEN $j THEN ${Similarity.seqDot(qj(j), qj(j))}").mkString(" ")
        s"""WITH cent AS (
           |  SELECT cluster, centroid
           |  FROM read_parquet('$ivfPqGateRoot/centroids.parquet/*.parquet')
           |),
           |probed AS (
           |  SELECT cluster FROM cent
           |  ORDER BY list_dot_product(CAST(centroid AS DOUBLE[]),
           |                            CAST($lit AS DOUBLE[]))
           |      - list_dot_product(CAST(centroid AS DOUBLE[]),
           |                         CAST(centroid AS DOUBLE[])) / 2
           |    DESC, cluster
           |  LIMIT 3
           |),
           |a AS (
           |  SELECT vec_id, cluster
           |  FROM read_parquet('$ivfPqGateRoot/assignments.parquet/*.parquet')
           |),
           |cb AS (
           |  SELECT subspace, code, CAST(centroid AS DOUBLE[]) AS c, half
           |  FROM read_parquet('$ivfPqGateRoot/codebooks.parquet/*.parquet')
           |),
           |v AS (
           |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb
           |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id
           |  WHERE a.cluster IN (SELECT cluster FROM probed)
           |    AND e.embedding IS NOT NULL AND len(e.embedding) = 64
           |),
           |codes AS (
           |  SELECT vec_id, subspace, code FROM (
           |    SELECT v.vec_id, cb.subspace, cb.code,
           |      row_number() OVER (PARTITION BY v.vec_id, cb.subspace
           |        ORDER BY list_dot_product(
           |            v.emb[cb.subspace * 8 + 1 : cb.subspace * 8 + 8],
           |            cb.c) - cb.half DESC,
           |          cb.code ASC) AS rn
           |    FROM v CROSS JOIN cb
           |  ) WHERE rn = 1
           |),
           |tbl AS (
           |  SELECT subspace, code,
           |    CAST(round(((CASE subspace $qqCase END)
           |      - 2 * list_dot_product(CASE subspace $qCase END, c)
           |      + list_dot_product(c, c)) * 1000000, 0) AS BIGINT) AS t_fp
           |  FROM cb
           |),
           |short AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, CAST(sum(t_fp) AS BIGINT) AS adc_fp
           |    FROM codes JOIN tbl USING (subspace, code)
           |    GROUP BY 1
           |    ORDER BY adc_fp, vec_id LIMIT 40
           |  )
           |)
           |SELECT vec_id, round(sim, 4) AS sim FROM (
           |  SELECT v.vec_id,
           |    list_dot_product(v.emb, CAST($lit AS DOUBLE[])) AS sim
           |  FROM v JOIN short USING (vec_id)
           |  ORDER BY sim DESC, vec_id LIMIT 10
           |)""".stripMargin
      },
      // replay kMeansAssign from the persisted final centroids:
      // score = dot(v,c) − dot(c,c)/2 (both engines fold the arrays
      // sequentially, and the Scala-side |c|²/2 literal is the same
      // sequential Σx·x over the identical persisted doubles), argmax
      // with the FIRST-index tie-break (array_position of array_max)
      // ↔ ORDER BY score DESC, cluster ASC. The dim/null filter
      // mirrors kMeans's base frame (null vectors and dim mismatches
      // are excluded from the fit and the assignments).
      "q_kmeans" ->
        s"""WITH cent AS (
           |  SELECT cluster, CAST(centroid AS DOUBLE[]) AS c
           |  FROM read_parquet('$kmeansGateRoot/centroids.parquet/*.parquet')
           |),
           |v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           |  WHERE embedding IS NOT NULL
           |    AND len(embedding) = (SELECT len(c) FROM cent LIMIT 1)
           |),
           |scored AS (
           |  SELECT v.vec_id, cent.cluster,
           |    list_dot_product(v.v, cent.c)
           |      - list_dot_product(cent.c, cent.c) / 2 AS score
           |  FROM v CROSS JOIN cent
           |)
           |SELECT vec_id, CAST(cluster AS INT) AS cluster FROM (
           |  SELECT vec_id, cluster,
           |    row_number() OVER (PARTITION BY vec_id
           |                       ORDER BY score DESC, cluster) AS rn
           |  FROM scored)
           |WHERE rn = 1""".stripMargin,
      // the FULL OUTER JOIN coverage replay (same induced asymmetry)
      "q_integrity" ->
        """WITH d AS (
          |  SELECT doc_id AS id FROM documents WHERE doc_id % 7 <> 0
          |),
          |e AS (
          |  SELECT vec_id AS id FROM embeddings WHERE vec_id % 5 <> 0
          |),
          |j AS (
          |  SELECT coalesce(d.id, e.id) AS id,
          |    CASE WHEN d.id IS NOT NULL AND e.id IS NOT NULL THEN 'matched'
          |         WHEN d.id IS NOT NULL THEN 'doc_only'
          |         ELSE 'emb_only' END AS status
          |  FROM d FULL OUTER JOIN e ON d.id = e.id
          |)
          |SELECT status, count(*) AS cnt, min(id) AS min_id,
          |  max(id) AS max_id
          |FROM j GROUP BY status""".stripMargin,

      // replay from the persisted outlier centroids: assignment =
      // q_kmeans's argmax replay; dist² = |v|² − 2·best_score (the
      // same algebra the operator uses — identical doubles); cluster
      // moments from EXACT fixed-point HUGEINT sums of round(d2·1e6)
      // (the q_unigram_xent discipline — a float Σ would be
      // partition-order dependent); mean squared by multiplication,
      // not pow() (cross-engine pow is not bit-pinned)
      "q_embed_outliers" ->
        s"""WITH cent AS (
           |  SELECT cluster, CAST(centroid AS DOUBLE[]) AS c
           |  FROM read_parquet('$outlierGateRoot/centroids.parquet/*.parquet')
           |),
           |v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           |  WHERE embedding IS NOT NULL
           |    AND len(embedding) = (SELECT len(c) FROM cent LIMIT 1)
           |),
           |best AS (
           |  SELECT vec_id, cluster, score, v FROM (
           |    SELECT v.vec_id, cent.cluster, v.v,
           |      list_dot_product(v.v, cent.c)
           |        - list_dot_product(cent.c, cent.c) / 2 AS score,
           |      row_number() OVER (PARTITION BY v.vec_id
           |                         ORDER BY list_dot_product(v.v, cent.c)
           |                           - list_dot_product(cent.c, cent.c) / 2
           |                           DESC, cent.cluster) AS rn
           |    FROM v CROSS JOIN cent)
           |  WHERE rn = 1
           |),
           |d AS (
           |  SELECT vec_id, CAST(cluster AS INT) AS cluster,
           |    CAST(round((list_dot_product(v, v) - 2 * score) * 1000000.0)
           |      AS BIGINT) AS d2f
           |  FROM best
           |),
           |st AS (
           |  SELECT cluster, count(*) AS n,
           |    sum(CAST(d2f AS HUGEINT)) AS s1,
           |    sum(CAST(d2f AS HUGEINT) * CAST(d2f AS HUGEINT)) AS s2
           |  FROM d GROUP BY cluster
           |),
           |mom AS (
           |  SELECT cluster,
           |    CAST(s1 AS DOUBLE) / n / 1000000.0 AS mean_d2,
           |    CAST(s2 AS DOUBLE) / n / 1000000000000.0 AS ex2_d2
           |  FROM st
           |),
           |sd AS (
           |  SELECT cluster, mean_d2,
           |    sqrt(greatest(0.0, ex2_d2 - mean_d2 * mean_d2)) AS std_d2
           |  FROM mom
           |)
           |SELECT d.vec_id, d.cluster,
           |  round(d.d2f / 1000000.0, 6) AS dist2,
           |  round(CASE WHEN sd.std_d2 > 0.0
           |    THEN (d.d2f / 1000000.0 - sd.mean_d2) / sd.std_d2
           |    ELSE 0.0 END, 4) AS z,
           |  CASE WHEN round(CASE WHEN sd.std_d2 > 0.0
           |    THEN (d.d2f / 1000000.0 - sd.mean_d2) / sd.std_d2
           |    ELSE 0.0 END, 4) > 2.0 THEN 1 ELSE 0 END AS is_outlier
           |FROM d JOIN sd USING (cluster)""".stripMargin,

      // the drift profile replayed from the persisted even-half-fit
      // centroids: same argmax/score shape as q_embed_outliers, the
      // two sides split by vec_id parity, HUGEINT moment sums, means
      // rounded BEFORE the ratio exactly like the operator
      "q_ann_drift" ->
        s"""WITH cent AS (
           |  SELECT cluster, CAST(centroid AS DOUBLE[]) AS c
           |  FROM read_parquet('$driftGateRoot/centroids.parquet/*.parquet')
           |),
           |v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           |  WHERE embedding IS NOT NULL
           |    AND len(embedding) = (SELECT len(c) FROM cent LIMIT 1)
           |),
           |best AS (
           |  SELECT vec_id, cluster, score, v FROM (
           |    SELECT v.vec_id, cent.cluster, v.v,
           |      list_dot_product(v.v, cent.c)
           |        - list_dot_product(cent.c, cent.c) / 2 AS score,
           |      row_number() OVER (PARTITION BY v.vec_id
           |                         ORDER BY list_dot_product(v.v, cent.c)
           |                           - list_dot_product(cent.c, cent.c) / 2
           |                           DESC, cent.cluster) AS rn
           |    FROM v CROSS JOIN cent)
           |  WHERE rn = 1
           |),
           |d AS (
           |  SELECT vec_id, CAST(cluster AS INT) AS cluster,
           |    CAST(round((list_dot_product(v, v) - 2 * score) * 1000000.0)
           |      AS BIGINT) AS d2f
           |  FROM best
           |),
           |b AS (
           |  SELECT cluster, count(*) AS nb, sum(CAST(d2f AS HUGEINT)) AS sb
           |  FROM d WHERE vec_id % 2 = 0 GROUP BY 1
           |),
           |nw AS (
           |  SELECT cluster, count(*) AS nn, sum(CAST(d2f AS HUGEINT)) AS sn
           |  FROM d WHERE vec_id % 2 = 1 GROUP BY 1
           |),
           |m AS (
           |  SELECT coalesce(b.cluster, nw.cluster) AS cluster,
           |    CAST(coalesce(nb, 0) AS BIGINT) AS n_base,
           |    CAST(coalesce(nn, 0) AS BIGINT) AS n_new,
           |    CASE WHEN coalesce(nb, 0) > 0
           |      THEN round(CAST(sb AS DOUBLE) / nb / 1000000.0, 6) END
           |      AS mean_d2_base,
           |    CASE WHEN coalesce(nn, 0) > 0
           |      THEN round(CAST(sn AS DOUBLE) / nn / 1000000.0, 6) END
           |      AS mean_d2_new
           |  FROM b FULL OUTER JOIN nw ON b.cluster = nw.cluster
           |),
           |r AS (
           |  SELECT *, CASE WHEN n_base > 0 AND n_new > 0
           |      AND mean_d2_base > 0
           |    THEN round(mean_d2_new / mean_d2_base, 6) END AS drift_ratio
           |  FROM m
           |)
           |SELECT cluster, n_base, n_new, mean_d2_base, mean_d2_new,
           |  drift_ratio,
           |  CASE WHEN n_new > 0 AND (n_base = 0
           |      OR coalesce(drift_ratio > 2.0, false))
           |    THEN 1 ELSE 0 END AS drift_flag
           |FROM r""".stripMargin,

      // grouped max over exact per-row dots — max is order-free, so
      // no fixed-point trick is needed
      "q_maxsim" ->
        s"""SELECT label,
           |  round(max(list_dot_product(CAST(embedding AS DOUBLE[]),
           |                             CAST($lit AS DOUBLE[]))), 4)
           |    AS maxsim,
           |  count(*) AS n_vecs
           |FROM embeddings GROUP BY 1""".stripMargin,

      "q_ann_lsh" -> lshOracle(lit),

      // the kNN join replayed end-to-end: same seeded buckets on both
      // sides, same popcount<=2 mask set (every candidate pair arises
      // from exactly one mask, so the join can't double-count), same
      // dot + rank
      "q_knn_join" ->
        s"""WITH masks AS (
           |  SELECT unnest([0, 1, 2, 3, 4, 5, 6, 8, 9, 10, 12]) AS m
           |),
           |qb AS (
           |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
           |    ($bucketSql) AS qbucket
           |  FROM embeddings WHERE vec_id % 50 = 0
           |),
           |cb AS (
           |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv,
           |    ($bucketSql) AS cbucket
           |  FROM embeddings
           |),
           |scored AS (
           |  SELECT q_id, c_id, list_dot_product(qv, cv) AS sim
           |  FROM qb CROSS JOIN masks
           |  JOIN cb ON cb.cbucket = xor(qb.qbucket, CAST(m AS BIGINT))
           |),
           |ranked AS (
           |  SELECT q_id, c_id, sim, row_number() OVER (
           |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
           |  FROM scored
           |)
           |SELECT q_id, c_id, round(sim, 4) AS sim, rn
           |FROM ranked WHERE rn <= 3""".stripMargin,

      "q_ann_quantized" -> lshQuantizedOracle(lit),
      // the storage-routed variant must produce the identical result —
      // same oracle, so any divergence introduced by the partitioned
      // write/re-read (schema drift, bucket typing) hash-fails
      "q_ann_lsh_pruned" -> lshOracle(lit),
      // the banded pair-join replayed end-to-end (see nearDupOracle's
      // doc); recall vs the exact baseline stays asserted in
      // SimilaritySpec — the oracle pins WHAT the banding computes,
      // the spec pins that it computes ENOUGH
      "q_embed_neardup" -> nearDupOracle,
      "q_semdedup" -> semdedupOracle,
      // zipped unnests align (pos, q) element-wise; both sides round
      // half-away-from-zero on the identical double product
      "q_embed_quantize" ->
        """SELECT vec_id,
          |  unnest(range(len(embedding))) AS pos,
          |  unnest(list_transform(embedding,
          |    x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS TINYINT))) AS q,
          |  round(s, 6) AS scale
          |FROM (
          |  SELECT vec_id, embedding,
          |    greatest(list_max(list_transform(embedding,
          |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS s
          |  FROM embeddings)
          |""".stripMargin,
    )
  }
}
