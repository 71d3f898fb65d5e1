package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, expr, max}
import graft.operators.Similarity
import graft.queries.SimilarityPack

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private def emb = Tables.embeddings(spark, SparkSuite.sf0001)

  test("brute-force top-k is ordered and unit-normalized sims are in [-1,1]") {
    val rows = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      SimilarityPack.queryVec, 10).collect()
    assert(rows.length === 10)
    val sims = rows.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("IVF top-k with nprobe=3 recalls most of the exact top-k") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      SimilarityPack.queryVec, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", "label",
      SimilarityPack.queryVec, 10, nprobe = 3).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall with nprobe=3/10 clusters")
  }

  test("embedding near-dup pairs: all candidates truly above threshold (exact verify)") {
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.40)
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("cos") >= 0.40))
    // symmetric dedup: a<b ordering, no self-pairs
    assert(pairs.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
  }

  test("skew-cap metric is exact: one over-cap bucket per band, counted once") {
    val s = spark
    import s.implicits._
    // 50 IDENTICAL vectors: every band has exactly one bucket of size
    // 50 > maxBucket=10, so the accounting must read dropped_buckets=4
    // (bands), dropped_band_rows=200 (4×50) — and must fire/count ONCE
    // even though the observed histogram feeds both sides of the pair
    // self-join.
    val v = Array.tabulate(64)(i => math.sin(i + 1.0)).toSeq
    val df = (1L to 50L).map(id => (id, v)).toDF("vec_id", "embedding")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_neardup_skew") &&
              row.getAs[Long]("cap") == 10L) seen.add(row)
        }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9,
        bands = 4, bitsPerBand = 8, maxBucket = 10).collect()
      assert(out.isEmpty, "every candidate bucket is over cap — no pairs may surface")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!seen.isEmpty, "skew metric was never delivered to the listener")
      Thread.sleep(500) // let any double-fire land before pinning the count
      import scala.jdk.CollectionConverters._
      val rows = seen.asScala.toList
      assert(rows.size === 1, s"skew metric fired ${rows.size} times: $rows")
      assert(rows.head.getAs[Long]("dropped_buckets") === 4L,
        s"dropped_buckets: ${rows.head}")
      assert(rows.head.getAs[Long]("dropped_band_rows") === 200L,
        s"dropped_band_rows: ${rows.head}")
      // a consumer filter on the result's columns must not lose the
      // metric: it is delivered once, with the same counts
      seen.clear()
      val kept = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9,
        bands = 4, bitsPerBand = 8, maxBucket = 10)
        .filter(col("id_a") =!= col("id_b")).count()
      assert(kept === 0L)
      val deadline2 = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline2) Thread.sleep(50)
      Thread.sleep(500)
      val filtered = seen.asScala.toList
      assert(filtered.size === 1,
        s"skew metric under a consumer filter fired ${filtered.size} times: $filtered")
      assert(filtered.head.getAs[Long]("dropped_buckets") === 4L)
      assert(filtered.head.getAs[Long]("dropped_band_rows") === 200L)
    } finally spark.listenerManager.unregister(listener)
    spark.catalog.clearCache()
  }

  test("LSH-bucketed top-k prunes the scan and recalls most of the exact top-k") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      SimilarityPack.queryVec, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding",
      SimilarityPack.queryVec, 10, numBits = 4, probeFlips = 2).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"multi-probe LSH recall $recall (4 bits, 2 flips)")
    // the probe genuinely prunes: 1+4+6 = 11 of 16 buckets selected,
    // so some rows must be excluded from the scan
    val probes = Similarity.probeBuckets(SimilarityPack.queryVec, 4, 7L, 2)
    assert(probes.size === 11)
    graft.functions.DotProduct.register(spark) // hyperplaneBits emits graft_dot
    val scanned = emb.withColumn("bits",
        Similarity.hyperplaneBits("embedding", 64, 4))
      .withColumn("bucket", expr((0 until 4).map(i =>
        s"shiftleft(cast(element_at(bits, ${i + 1}) as bigint), $i)").mkString(" + ")))
      .filter(col("bucket").isin(probes: _*)).count()
    assert(scanned < emb.count(), "probe filter must exclude some buckets")
  }

  test("LSH bucket column as storage layout: probe read prunes partitions") {
    // write the table partitioned BY the bucket column, then probe the
    // RE-READ table: the isin(probes) filter must prune non-probed
    // bucket directories at planning time, and the pruned read must
    // return exactly what the direct in-memory path returns
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    val cat = new graft.catalog.Catalog(spark, dir)
    val bucketed = Similarity.withLshBucket(emb, "embedding", dim = 64)
    cat.putPartitioned("ann_store", bucketed, "bucket")
    val reread = cat.get("ann_store")
    val pruned = Similarity.lshTopKBucketed(reread, "vec_id", "embedding",
      SimilarityPack.queryVec, 10)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected bucket partition pruning in:\n$plan")
    // 11 of 16 buckets probed -> the scan must read fewer than all
    // bucket directories that exist on disk
    val allBuckets = reread.select("bucket").distinct().count()
    val probes = Similarity.probeBuckets(SimilarityPack.queryVec, 4, 7L, 2)
    assert(probes.size < allBuckets || allBuckets < 16,
      s"probe set ${probes.size} vs $allBuckets on-disk buckets")
    val direct = Similarity.lshTopK(emb, "vec_id", "embedding",
      SimilarityPack.queryVec, 10).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val viaStore = pruned.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(viaStore === direct)
  }

  test("near-dup recall vs brute force holds at 10× rows") {
    // The testdata has no larger embeddings table (sf0.01 is also 500
    // rows), so scale is synthesized: 10 deterministically perturbed
    // copies of each vector (5000 rows). Family pairs are near-dups
    // by construction; cross-family pairs keep the base distribution.
    // Ground truth is exact all-pairs cosine, so this pins BOTH
    // precision (exact-verify ⇒ subset of truth) and recall of the
    // banded hyperplane LSH at 10× the driver-query size.
    val big = emb.crossJoin(spark.range(10).select(col("id").as("k")))
      .select((col("vec_id") * 10 + col("k")).as("vec_id"),
        expr("transform(embedding, (x, i) -> cast(x + 0.02d * sin((k + 1) * (i + 1)) as float))")
          .as("embedding"))
    val v = big.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("v"))
    val lhs = v.alias("l")
    val rhs = v.alias("r")
    val truth = lhs.join(rhs, col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        expr("aggregate(zip_with(l.v, r.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
          .as("cos"))
      .filter(col("cos") >= 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.nearDupPairs(big, "vec_id", "embedding", 0.40)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got.subsetOf(truth), "exact verify must keep precision at 1.0")
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"LSH recall $recall at 10× rows (truth=${truth.size})")
  }

  test("int8 quantization: bounded reconstruction error and high top-k recall") {
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    // elementwise |v - v̂| ≤ scale/254 (half a quantization step)
    val worst = q.join(emb, "vec_id")
      .select(expr(
        """array_max(zip_with(embedding,
          |  transform(qvec, qq -> cast(qq as double) * scale / 127D),
          |  (v, vhat) -> abs(cast(v as double) - vhat))) / (scale / 254D)"""
          .stripMargin).as("relErr"))
      .agg(max("relErr")).head().getDouble(0)
    assert(worst <= 1.0 + 1e-9, s"reconstruction error $worst half-steps")
    // search over dequantized vectors recalls the float top-k
    val qv = graft.queries.SimilarityPack.queryVec
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val deq = q.select(col("vec_id"),
      Similarity.dequantize("qvec", "scale").as("embedding"))
    val viaInt8 = Similarity.bruteForceTopK(deq, "vec_id", "embedding", qv, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = exact.intersect(viaInt8).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 top-k recall $recall")
  }

  test("quantized bucketed probe matches the float probe's neighbors") {
    val q = graft.queries.SimilarityPack.queries("q_ann_quantized")(
      spark, SparkSuite.sf0001)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val fl = Similarity.lshTopK(emb, "vec_id", "embedding",
      graft.queries.SimilarityPack.queryVec, k = 10, numBits = 4,
      probeFlips = 2, seed = 7L)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // int8 scoring reorders only near-ties; the probe set is identical
    val overlap = q.intersect(fl).size.toDouble / fl.size
    assert(overlap >= 0.8, s"quantized probe overlap $overlap")
  }

  test("product quantization: codes in range, ADC table matches direct distance, high recall") {
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val q = graft.queries.SimilarityPack.queryVec
    val model = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 5, seed = 7L)
    assert(model.codebooks.length === 8)
    assert(model.codebooks.forall(b => b.length == 16 && b.forall(_.length == 8)))
    // fixed-point table entries equal the naive |q_j − c|² up to the
    // algebraic rearrangement's float noise
    val table = Similarity.pqTableFp(q, model)
    for (j <- 0 until 8; c <- 0 until 16) {
      val qj = q.slice(j * 8, (j + 1) * 8)
      val naive = qj.zip(model.codebooks(j)(c))
        .map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(table(j)(c) / 1e6 - naive) < 1e-6,
        s"table($j)($c) diverges from the direct squared distance")
    }
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", model)
    val rows = codes.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => (0 until 8).foreach { j =>
      val c = r.getAs[Int](s"code_$j"); assert(c >= 0 && c < 16)
    })
    // determinism under repartition
    val again = Similarity.pqEncode(emb.repartition(7), "vec_id",
      "embedding", model).collect().map(r => r.toSeq).toSet
    assert(again === rows.map(_.toSeq).toSet)
    // the ADC identity: Σ_j table(j)(code_j) IS ‖q − reconstruction‖²
    // in fixed point — check against a naive driver-side
    // reconstruction distance, row for row
    val adcAll = Similarity.pqTopK(codes, "vec_id", q, model, Int.MaxValue)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("adc_fp"))
      .toMap
    rows.take(50).foreach { r =>
      val recon = (0 until 8).flatMap(j =>
        model.codebooks(j)(r.getAs[Int](s"code_$j")))
      val naive = q.zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum
      val id = r.getAs[Long]("vec_id")
      assert(math.abs(adcAll(id) / 1e6 - naive) < 1e-4,
        s"ADC($id) != distance to reconstruction")
    }
  }

  test("product quantization recalls the brute-force top-k on clustered data") {
    // random 64-d unit vectors are PQ's adversarial case (pairwise
    // distances concentrate, quantization noise swamps the ranking);
    // on CLUSTERED data — what embedding corpora look like — the
    // codebooks capture the centers and recall is high. Query sits
    // on center 0 (the fixture's center c uses seed 42 + c).
    val emb = RecallBench.clusteredEmbeddings(spark, 400L, 64, 8, 0.05, 42L)
    val q = Similarity.seededUnitVector(64, 42L)
    val model = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 5, seed = 7L)
    val adc = Similarity.pqTopK(
        Similarity.pqEncode(emb, "vec_id", "embedding", model),
        "vec_id", q, model, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // the property PQ guarantees: CLUSTER-correct retrieval (every
    // ADC hit is a true cluster-0 member — the fixture labels by
    // id % 8) with the exact best hit retained. Within-cluster fine
    // ranking is below the quantizer's resolution by design — PQ is
    // a candidate generator; a float rerank over the shortlist
    // refines it.
    assert(adc.forall(_ % 8 == 0),
      s"ADC top-10 $adc strayed outside the query's cluster")
    assert(exact.forall(_ % 8 == 0), "sanity: exact top-10 is cluster 0")
    val best = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 1)
      .collect().head.getAs[Long]("vec_id")
    assert(adc.contains(best),
      s"the exact best hit $best must survive into the ADC shortlist $adc")
    spark.catalog.clearCache()
  }

  test("dot/cosine column helpers agree with manual computation") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 1.0f, 2.0f)))
      .toDF("a", "b")
    val d = df.select(Similarity.dot("a", "b").as("d")).head().getDouble(0)
    assert(d === 8.0)
    val c = df.select(Similarity.cosine("a", "b").as("c")).head().getDouble(0)
    assert(math.abs(c - 8.0 / 9.0) < 1e-12)
  }

  test("kMeans recovers separated synthetic clusters; assignments are nearest-centroid and deterministic") {
    val s = spark
    import s.implicits._
    // 90 points, 3 well-separated centers in dim 4, deterministic jitter
    val rows = (0 until 90).map { i =>
      val g = i % 3
      val base = Array.fill(4)(0.0)
      base(g) = 10.0
      val jit = Array.tabulate(4)(j => ((i * 37 + j * 11) % 10) / 100.0)
      (i.toLong, base.zip(jit).map { case (a, b) => a + b })
    }
    val df = rows.toDF("id", "vec")
    val res = Similarity.kMeans(df, "id", "vec", k = 3, iters = 8, seed = 7L)
    val got = res.assignments.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // perfect recovery up to label permutation: each true group maps
    // to exactly one label, and the three labels are distinct
    val labelOf = (0 until 3).map(g =>
      (0 until 90 by 3).map(i => got((i + g).toLong)).distinct)
    labelOf.foreach(ls => assert(ls.size === 1, s"split cluster: $labelOf"))
    assert(labelOf.map(_.head).toSet.size === 3)
    // nearest-centroid invariant, checked against the returned
    // centroids with plain scala arithmetic
    def dist2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    rows.foreach { case (id, v) =>
      val best = res.centroids.indices.minBy(j => dist2(v.toSeq, res.centroids(j)))
      assert(got(id) === best, s"row $id not nearest-centroid")
    }
    // centroid fixpoint: each centroid is the mean of its members
    val members = rows.groupBy { case (id, _) => got(id) }
    res.centroids.zipWithIndex.foreach { case (c, j) =>
      val vs = members(j).map(_._2)
      val mean = (0 until 4).map(d => vs.map(_(d)).sum / vs.size)
      assert(dist2(c, mean) < 1e-18, s"centroid $j is not its members' mean")
    }
    // determinism
    val again = Similarity.kMeans(df, "id", "vec", k = 3, iters = 8, seed = 7L)
    assert(again.centroids === res.centroids)
  }

  test("centroidOutliers flags a planted far point, not the cluster bulk; deterministic under repartition") {
    val s = spark
    import s.implicits._
    // two tight clusters in dim 4 + one far point near cluster 0's
    // axis but 5 units out — an off-distribution doc
    val rows = (0 until 60).map { i =>
      val g = i % 2
      val base = Array.fill(4)(0.0)
      base(g) = 10.0
      val jit = Array.tabulate(4)(j => ((i * 37 + j * 11) % 10) / 100.0)
      (i.toLong, base.zip(jit).map { case (a, b) => a + b })
    } :+ (999L, Array(15.0, 0.0, 0.0, 0.0))
    val df = rows.toDF("id", "vec")
    val centroids: IndexedSeq[IndexedSeq[Double]] =
      IndexedSeq(IndexedSeq(10.0, 0.0, 0.0, 0.0), IndexedSeq(0.0, 10.0, 0.0, 0.0))
    val got = Similarity.centroidOutliers(df, "id", "vec", centroids,
      zThreshold = 2.0).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(got.size === 61)
    assert(got(999L)._1 === 0, "far point assigns to the nearest centroid")
    assert(got(999L)._4 === 1, "planted far point is flagged")
    val flagged = got.filter(_._2._4 == 1).keySet
    assert(flagged === Set(999L), s"only the planted point flags, got $flagged")
    // z is a per-cluster standardization: bulk members sit within 2σ
    assert(got.filterNot(_._1 == 999L).values.forall(t => t._3 <= 2.0))
    // dist² is the honest squared distance (checked in plain scala)
    rows.foreach { case (id, v) =>
      val c = centroids(got(id)._1)
      val d2 = v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(math.abs(got(id)._2 - d2) < 1e-5, s"row $id dist2 off")
    }
    // bit-deterministic under a different partitioning (the exact
    // fixed-point moments are the thing this pins)
    val again = Similarity.centroidOutliers(df.repartition(7), "id", "vec",
      centroids, zThreshold = 2.0).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(again === got)
  }

  test("ivfTopKStored: cluster layout prunes partitions; probe equals restricted brute force") {
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val km = Similarity.kMeans(emb, "vec_id", "embedding", k = 8, iters = 5,
      seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val cat = new graft.catalog.Catalog(spark, dir)
    cat.putPartitioned("ivf_store", emb.join(km.assignments, "vec_id"), "cluster")
    val reread = cat.get("ivf_store")
    val probed = Similarity.ivfTopKStored(reread, "vec_id", "embedding",
      "cluster", km.centroids, SimilarityPack.queryVec, k = 10, nprobe = 3)
    // planning-time pruning: the isin(probe clusters) filter must reach
    // the partitioned read as PartitionFilters
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition pruning in:\n$plan")
    // exact equality with brute force restricted to the same probe set
    // (cross-checking the pruned scan misses nothing inside it)
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    val probes = km.centroids.indices
      .sortBy(j => (-dot(km.centroids(j), SimilarityPack.queryVec), j)).take(3)
    val restricted = Similarity.bruteForceTopK(
      emb.join(km.assignments, "vec_id")
        .filter(col("cluster").isin(probes: _*)),
      "vec_id", "embedding", SimilarityPack.queryVec, 10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val got = probed.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(got === restricted)
    // and useful recall against the GLOBAL exact top-k
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        SimilarityPack.queryVec, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = got.map(_._1).toSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"stored-IVF recall $recall")
  }

  test("ivfPqTopK: partition-pruned probe equals PQ ADC restricted to the probed clusters") {
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val km = Similarity.kMeans(emb, "vec_id", "embedding", k = 8, iters = 5,
      seed = 7L)
    val model = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 5, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val cat = new graft.catalog.Catalog(spark, dir)
    cat.putPartitioned("ivfpq_store",
      Similarity.pqEncode(emb, "vec_id", "embedding", model)
        .join(km.assignments, "vec_id"),
      "cluster")
    val stored = cat.get("ivfpq_store")
    val probe = Similarity.ivfPqTopK(stored, "vec_id", km.centroids, model,
      SimilarityPack.queryVec, topK = 10, nprobe = 3)
    // planning-time pruning: the cluster filter must reach the
    // partitioned read as PartitionFilters (no full-store scan)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition pruning in:\n$plan")
    // exact equality with the flat PQ ADC restricted to the same
    // probe set — the pruned scan must change WHAT is read, never a
    // surviving row's integer distance or the tie-broken order
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    // the operator's probe metric: the L2 proxy c·q − |c|²/2 (matches
    // the ADC ranker; r16 advice), not ivfTopKStored's bare max-dot
    val probes = km.centroids.indices
      .sortBy { j =>
        val c = km.centroids(j)
        (-(dot(c, SimilarityPack.queryVec) - dot(c, c) / 2), j)
      }.take(3)
    val restricted = Similarity.pqTopK(
        Similarity.pqEncode(emb, "vec_id", "embedding", model)
          .join(km.assignments.filter(col("cluster").isin(probes: _*)),
            "vec_id"),
        "vec_id", SimilarityPack.queryVec, model, 10)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_fp"))).toSeq
    val got = probe.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc_fp"))).toSeq
    assert(got === restricted)
    // NO recall pin on these near-random gate vectors — PQ's fine
    // ranking is below quantizer resolution there by design (the
    // clustered-data recall property is pinned in the pqTopK test);
    // what the composite must preserve is the integer ADC + pruning
    graft.catalog.Catalog.deleteRecursively(java.nio.file.Paths.get(dir))
    spark.catalog.clearCache()
  }

  test("ivfPqTopKReranked: exact rescore of the ADC shortlist, pruned to the probed cells") {
    // clustered corpus so the recall claim is meaningful: plain ADC
    // saturates at the PQ quantization ceiling there (RECALL.json)
    // while the rerank recovers the true neighbors — they only need
    // to SURVIVE the 4×k shortlist, not win it
    val emb = RecallBench.clusteredEmbeddings(spark, 1000L, 64, 8, 0.15, 42L)
      .select("vec_id", "embedding")
    val km = Similarity.kMeans(emb, "vec_id", "embedding", k = 8, iters = 5,
      seed = 7L)
    val model = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 5, seed = 7L)
    val stored = Similarity.pqEncode(emb, "vec_id", "embedding", model)
      .join(km.assignments, "vec_id")
    val floats = emb.join(km.assignments, "vec_id")
    val query = Similarity.seededUnitVector(64, 42L) // near center 0
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    val got = Similarity.ivfPqTopKReranked(stored, floats, "vec_id",
        "embedding", km.centroids, model, query, topK = 10, nprobe = 3,
        shortlistFactor = 4)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim")))
      .toSeq
    // reference: brute-force dot over exactly the ADC shortlist ids
    val shortIds = Similarity.ivfPqTopK(stored, "vec_id", km.centroids,
        model, query, topK = 40, nprobe = 3)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val expected = Similarity.bruteForceTopK(
        emb.filter(col("vec_id").isInCollection(shortIds)),
        "vec_id", "embedding", query, 10)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        BigDecimal(r.getAs[Double]("sim"))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSeq
    assert(got === expected)
    // and the rerank genuinely helps: recall@10 vs global brute force
    // is at least the plain ADC top-10's
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        query, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val adc10 = Similarity.ivfPqTopK(stored, "vec_id", km.centroids,
        model, query, topK = 10, nprobe = 3)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val rr = got.map(_._1).toSet.intersect(exact).size
    val plain = adc10.intersect(exact).size
    assert(rr >= plain, s"rerank recall $rr < plain ADC $plain")
    assert(rr >= 6, s"rerank recall@10 only $rr/10 on the clustered corpus")
    spark.catalog.clearCache()
  }

  test("ivfTopK over a kMeans clustering recalls the brute-force top-k") {
    val emb = Tables.embeddings(spark, SparkSuite.sf0001)
    val km = Similarity.kMeans(emb, "vec_id", "embedding", k = 8, iters = 5,
      seed = 7L)
    // ivfTopK aliases its internal centroid frame's column "cluster";
    // rename ours so the probe join is unambiguous
    val clustered = emb.join(
      km.assignments.withColumnRenamed("cluster", "km_cluster"), "vec_id")
    val ivf = Similarity.ivfTopK(clustered, "vec_id", "embedding", "km_cluster",
        SimilarityPack.queryVec, k = 10, nprobe = 3)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        SimilarityPack.queryVec, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF-over-kMeans recall $recall")
  }

  test("clusteredEmbeddings fixture: partitioning-independent, unit-norm, label-consistent") {
    def rows(parts: Int): Map[Long, (Seq[Float], Int)] =
      RecallBench.clusteredEmbeddings(spark, 200L, 16, 8, 0.15, 42L)
        .repartition(parts)
        .collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getSeq[Float](1), r.getAs[Int]("label"))))
        .toMap
    val a = rows(1)
    val b = rows(7)
    // per-row seeded RNG ⇒ the same vectors bit-for-bit no matter how
    // the range is partitioned — what makes the recall sweep replayable
    assert(a === b)
    assert(a.size === 200)
    a.foreach { case (id, (v, label)) =>
      assert(label === (id % 8).toInt)
      assert(v.length === 16)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"row $id norm $norm")
    }
    // the mixture is a real structure: the overwhelming majority of
    // rows sit nearest their OWN center (σ=0.15 jitter can push a few
    // strays in 16-dim), so a coarse quantizer can exploit it
    val centers = (0 until 8).map(c =>
      Similarity.seededUnitVector(16, 42L + c))
    val own = a.count { case (_, (v, label)) =>
      val sims = centers.map(ctr =>
        ctr.lazyZip(v.map(_.toDouble)).map(_ * _).sum)
      sims.indexOf(sims.max) == label
    }
    assert(own >= 190, s"only $own/200 rows nearest their own center")
  }

  test("semantic canonicalization keeps the min id of each embedding near-dup group") {
    val s = spark
    import s.implicits._
    // three exact-duplicate groups + one unique vector, 64-dim axis
    // vectors (cos = 1 within a group, 0 across groups): the closure
    // over nearDupPairs must keep exactly each group's min vec_id.
    // Near-identical vectors share every hyperplane bit, so banding
    // surfaces them deterministically regardless of band geometry.
    def axis(i: Int): Array[Float] = {
      val v = Array.fill(64)(0f); v(i) = 1f; v
    }
    val df = Seq(
      (1L, axis(0)), (2L, axis(0)),
      (10L, axis(1)), (11L, axis(1)), (12L, axis(1)),
      (20L, axis(2)),
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val kept = graft.operators.Components
      .canonicalDocs(df.select("vec_id"), "vec_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 10L, 20L))
    spark.catalog.clearCache()
  }

  test("q_embed_neardup oracle constants match the adaptive params at the gate corpus") {
    // the oracle SQL (SimilarityPack.nearDupOracle) hardcodes
    // (r=8, pool=32, maxBucket=1024); nearDupPairs derives them from
    // the corpus size. If the driver regrows sf0.01's embeddings past
    // the r=8 envelope (n > 8192), this fails HERE instead of the
    // oracle silently replaying the wrong band geometry at the gate.
    val n = Tables.embeddings(SparkSuite.spark, SparkSuite.sf001).count()
    assert(Similarity.adaptiveBandParams(n, targetBucket = 32) === ((8, 32, 1024)),
      s"gate corpus n=$n now resolves different adaptive band params — " +
        "update SimilarityPack.nearDupOracle to match")
  }

  test("knnJoin equals the driver-side multi-probe reference per query") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, SparkSuite.sf0001)
    val queries = e.filter(col("vec_id") % 50 === 0)
    val k = 3
    val got = Similarity.knnJoin(queries, "vec_id", "embedding",
        e, "vec_id", "embedding", dim = 64, k = k,
        numBits = 4, probeFlips = 2)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rn")) ->
        (r.getAs[Long]("c_id"), r.getAs[Double]("sim"))).toMap
    // reference: same buckets (sign of the seeded-plane dot), same
    // hamming<=2 candidate rule, same dot + (sim desc, id) rank
    val vecs = e.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](r.fieldIndex("embedding")).toSeq.map(_.toDouble)).toMap
    val planes = Similarity.hyperplanes(64, 4, 7L)
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    def sig(v: Seq[Double]): Long =
      planes.zipWithIndex.map { case (p, i) =>
        if (dot(p, v) >= 0) 1L << i else 0L }.sum
    val sigs = vecs.view.mapValues(sig).toMap
    val expect = vecs.keys.filter(_ % 50 == 0).flatMap { q =>
      val cands = vecs.keys.filter(c =>
        java.lang.Long.bitCount(sigs(q) ^ sigs(c)) <= 2)
      cands.map(c => (c, dot(vecs(q), vecs(c))))
        .toSeq.sortBy { case (c, s) => (-s, c) }.take(k)
        .zipWithIndex.map { case ((c, s), i) =>
          (q, i + 1) -> (c, BigDecimal(s).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.toMap
    assert(got.nonEmpty && got === expect)
    // a query always finds itself among the candidates (mask 0)
    val self = got.collect { case ((q, _), (c, _)) if q == c => q }.toSet
    assert(self.nonEmpty, "no query retrieved itself — probe set broken?")
  }
}
