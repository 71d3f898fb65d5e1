package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheBridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Caches, Components, Dedup, TextAnalysis}

/** Connected-components kernel pinned against a union-find reference,
  * plus the transitive-dedup application semantics. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Reference: classic union-find with path compression, min id per
    * root as the component label. */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val minOfRoot = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    nodes.map(n => n -> minOfRoot(find(n))).toMap
  }

  /** Runs the DISTRIBUTED kernel (localSolveMaxEdges = 0) — these
    * tests pin the pointer-jumping loop itself; the driver fast path
    * is pinned separately against it below. */
  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Components.connectedComponentsWithStats(edges.toDF("src", "dst"),
        localSolveMaxEdges = 0L).labels
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
  }

  private def ccLocal(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Components.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
  }

  test("connected components match union-find on chains, a ring, a star, and a bridge") {
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),        // chain
      (10L, 11L), (11L, 12L), (12L, 10L),            // ring
      (20L, 21L), (20L, 22L), (20L, 23L),            // star
      (5L, 30L), (30L, 31L),                         // bridge extending the chain
      (41L, 40L))                                    // reversed-order edge
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(ccOf(edges) === unionFind(nodes, edges))
  }

  test("a 200-link chain converges to one component (pointer jumping beats diameter)") {
    val edges = (1L until 200L).map(i => (i, i + 1))
    val got = ccOf(edges)
    assert(got.size === 200)
    assert(got.values.toSet === Set(1L), "every node must carry the chain minimum")
  }

  test("truncated fixpoint is surfaced: maxIter=1 on a long chain reports converged=false") {
    val s = spark
    import s.implicits._
    // a 64-link chain needs ~log2(64) rounds; one round cannot finish
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = Components.connectedComponentsWithStats(edges, maxIter = 1,
      localSolveMaxEdges = 0L)
    assert(!r.converged, "one round on a 64-chain must not claim convergence")
    assert(r.iterations === 1)
    // labels are still valid partial state (monotone lowering): ≤ own id
    r.labels.collect().foreach(row =>
      assert(row.getAs[Long]("comp") <= row.getAs[Long]("id")))
    // and the same graph WITH enough rounds converges, with the flag set
    val full = Components.connectedComponentsWithStats(edges,
      localSolveMaxEdges = 0L)
    assert(full.converged && full.iterations > 1)
    assert(full.labels.select("comp").distinct().count() === 1L)
  }

  test("clusters labels singletons with their own id; canonicalDocs keeps one doc per cluster") {
    val s = spark
    import s.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // non-transitive pair list: (2,3) and (1,3) — cluster {1,2,3}
    val pairs = Seq((2L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    val cl = Components.clusters(docs, "doc_id", pairs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
    val kept = Components.canonicalDocs(docs, "doc_id", pairs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L, 4L, 5L), "exactly one survivor per cluster plus singletons")
    // the greedy pairwise rule over-keeps here (2 has no smaller
    // neighbor in the PAIR list, though it is transitively a dup of 1)
    val greedy = Dedup.dropNearDups(docs, "doc_id", pairs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(greedy === Set(1L, 2L, 4L, 5L),
      "sanity: this is the exact shape where transitive clustering is required")
  }

  test("clusterWeights: weight = 1/|cluster|, singletons weigh 1.0, mass sums to cluster count") {
    val s = spark
    import s.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // chain {1,2,3} (non-transitive pair list), pair {5,6}, singleton 4
    val pairs = Seq((2L, 3L), (1L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Components.clusterWeights(docs, "doc_id", pairs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Double]("weight"))))
      .toMap
    assert(got(1L) == ((1L, 3L, 0.333333)))
    assert(got(2L) == ((1L, 3L, 0.333333)))
    assert(got(3L) == ((1L, 3L, 0.333333)))
    assert(got(4L) == ((4L, 1L, 1.0)))
    assert(got(5L) == ((5L, 2L, 0.5)))
    assert(got(6L) == ((5L, 2L, 0.5)))
    // soft-dedup invariant (up to round-6): total mass ≈ #clusters
    val mass = got.values.map(_._3).sum
    assert(math.abs(mass - 3.0) < 1e-4)
  }

  test("incrementalClusters == full recompute, including batch-induced cluster merges") {
    val s = spark
    import s.implicits._
    val docs = (1L to 60L).toDF("doc_id")
    // old corpus: {1,2,3} and {10,11} clustered; rest singletons
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val prior = Components.clusters(docs, "doc_id", oldPairs)
    // batch: extends {10,11} with 12, MERGES {1..3} with {10..12} via
    // (3,10), and forms a new pair {40,41}
    val newPairs = Seq((11L, 12L), (3L, 10L), (40L, 41L)).toDF("doc_a", "doc_b")
    val inc = Components.incrementalClusters(docs, "doc_id", prior, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Components.clusters(docs, "doc_id", oldPairs.unionAll(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full, "maintenance path must equal the one-shot closure")
    assert(inc(12L) === 1L && inc(10L) === 1L,
      "the batch merge collapses both old clusters to min id 1")
    assert(inc(41L) === 40L && inc(50L) === 50L)
    // seeded fuzz: random split of a random edge set, incremental
    // over the first half's labels + second half == full closure
    val rnd = new scala.util.Random(777)
    val edges = Seq.fill(400)((rnd.nextInt(120).toLong + 1L,
      rnd.nextInt(120).toLong + 1L)).filter(e => e._1 != e._2)
    val (h1, h2) = edges.splitAt(edges.size / 2)
    val fdocs = (1L to 120L).toDF("doc_id")
    val fprior = Components.clusters(fdocs, "doc_id", h1.toDF("doc_a", "doc_b"))
    val finc = Components.incrementalClusters(fdocs, "doc_id", fprior,
        h2.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ffull = Components.clusters(fdocs, "doc_id",
        edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finc === ffull)
  }

  test("leakageSafeSplit: clusters never straddle splits; split = hashSplit of the cluster label") {
    val s = spark
    import s.implicits._
    val docs = (1L to 400L).toDF("doc_id")
    // chains of length 3 over every third id: {1,2,3},{4,5,6},… plus
    // isolated singletons in between — plenty of multi-doc clusters
    val pairs = (1L to 398L by 3L).flatMap(a => Seq((a, a + 1), (a + 1, a + 2)))
      .toDF("doc_a", "doc_b")
    val split = Components.leakageSafeSplit(docs, "doc_id", pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[String]("split")))
    assert(split.length === 400, "every doc assigned")
    // the leakage guarantee: one split per cluster
    val perCluster = split.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(perCluster.values.forall(_.size == 1),
      "a near-dup cluster must land wholly in one split")
    // the assignment IS hashSplit keyed on the cluster label
    val expected = TextAnalysis.hashSplit(
        split.map(t => t._2).distinct.toSeq.toDF("cluster_id"), "cluster_id")
      .collect().map(r => r.getAs[Long]("cluster_id") -> r.getAs[String]("split"))
      .toMap
    assert(split.forall { case (_, cl, sp) => expected(cl) == sp })
    // all three splits are populated at this size (134 clusters)
    assert(split.map(_._3).toSet === Set("train", "val", "test"))
  }

  test("random graph: components match union-find (seeded 2000-edge fuzz)") {
    val rnd = new scala.util.Random(12345)
    val edges = Seq.fill(2000)((rnd.nextInt(800).toLong, rnd.nextInt(800).toLong))
      .filter(e => e._1 != e._2)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(ccOf(edges) === unionFind(nodes, edges))
  }

  test("driver fast path equals the distributed kernel on the fuzz graph") {
    // below localSolveMaxEdges the closure is solved driver-side; the
    // two paths must be indistinguishable in output (including the
    // min-id label convention) — only the mechanism differs
    val rnd = new scala.util.Random(54321)
    val edges = Seq.fill(1500)((rnd.nextInt(600).toLong, rnd.nextInt(600).toLong))
      .filter(e => e._1 != e._2)
    assert(ccLocal(edges) === ccOf(edges))
  }

  test("canonicalDocs survivors contain no pair from the input pair list") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val pairs = graft.operators.Dedup
      .minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
    val kept = graft.operators.Components
      .canonicalDocs(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pairRows = pairs.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairRows.nonEmpty)
    pairRows.foreach { case (a, b) =>
      assert(!(kept(a) && kept(b)),
        s"both sides of near-dup pair ($a,$b) survived canonicalization")
    }
    // and exactly the cluster minima survive: kept ∪ dropped = corpus
    assert(kept.nonEmpty && kept.size < docs.count())
  }

  test("end-to-end: minhash near-dup clusters put every brute-force pair in one cluster") {
    val docs = Tables.documents(spark, SparkSuite.sf0001)
    val truth = Dedup.bruteForceJaccard(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(truth.nonEmpty)
    val cl = graft.queries.DedupPack.queries("q_dedup_cluster")(spark, SparkSuite.sf0001)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // transitivity: with recall<1 some truth pairs may be missed by
    // LSH, but every pair the LSH DID find must share a label — and at
    // sf0.001 the recall test already pins ≥0.9 of truth found
    val found = truth.count { case (a, b) => cl(a) == cl(b) }
    assert(found.toDouble / truth.size >= 0.9,
      s"only $found/${truth.size} truth pairs share a cluster label")
    // labels are cluster minima: a label is always ≤ its member ids
    assert(cl.forall { case (id, c) => c <= id })
  }

  /** Reference peel: textbook repeated-scan k-core (no queue, no
    * incrementality — deliberately the dumbest correct form). */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var adj = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var changed = true
    while (changed) {
      val weak = adj.collect { case (n, ns) if ns.size < k => n }.toSet
      changed = weak.nonEmpty
      adj = (adj -- weak).view.mapValues(_ -- weak).toMap
    }
    adj.map { case (n, ns) => n -> ns.size.toLong }
  }

  private def kcoreOf(edges: Seq[(Long, Long)], k: Int,
                      localMax: Long): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Components.kCore(edges.toDF("doc_a", "doc_b"), k,
        localSolveMaxEdges = localMax)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("core_degree"))
      .toMap
  }

  test("kCore known graphs: triangle survives k=2, its tail peels, k=3 empties it") {
    // triangle {1,2,3} with tail 3-4-5: the 2-core is exactly the
    // triangle (4 peels once 5 goes — a genuinely iterative cascade)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val expect = Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
    assert(kcoreOf(g, 2, 0L) === expect, "distributed kernel")
    assert(kcoreOf(g, 2, Long.MaxValue) === expect, "driver fast path")
    assert(refKCore(g, 2) === expect, "reference self-check")
    // no 3-core exists here at all
    assert(kcoreOf(g, 3, 0L).isEmpty)
    assert(kcoreOf(g, 3, Long.MaxValue).isEmpty)
    // K5 minus edge (4,5): 3-core keeps all five nodes, degrees 4,4,4,3,3
    val k5m = (for (a <- 1L to 5L; b <- (a + 1) to 5L if (a, b) != ((4L, 5L)))
      yield (a, b))
    val ex5 = Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 3L, 5L -> 3L)
    assert(kcoreOf(k5m, 3, 0L) === ex5)
    assert(kcoreOf(k5m, 3, Long.MaxValue) === ex5)
  }

  test("kCore: a pure chain needs len/2 peel rounds and still empties (multi-round loop)") {
    // path 1-…-12 under k=2 peels one layer per round from both ends —
    // the multi-round shape the distributed loop must iterate through
    val chain = (1L until 12L).map(i => (i, i + 1))
    assert(kcoreOf(chain, 2, 0L).isEmpty, "chain has no 2-core")
    // duplicate pairs and self-loops must not inflate degrees
    val noisy = chain ++ chain ++ Seq((3L, 3L), (7L, 7L))
    assert(kcoreOf(noisy, 2, 0L).isEmpty)
    assert(kcoreOf(noisy, 2, Long.MaxValue).isEmpty)
  }

  test("kCore fuzz: distributed kernel == driver peel == reference (seeded)") {
    val rnd = new scala.util.Random(98765)
    val edges = Seq.fill(900)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(e => e._1 != e._2)
    for (k <- Seq(2, 3, 5)) {
      val ref = refKCore(edges, k)
      assert(ref.nonEmpty || k == 5, s"fuzz graph too sparse for k=$k to be interesting")
      assert(kcoreOf(edges, k, Long.MaxValue) === ref, s"driver path, k=$k")
      assert(kcoreOf(edges, k, 0L) === ref, s"distributed kernel, k=$k")
    }
  }

  /** Reference: the integer power iteration spelled out naively —
    * pr'(v) = base + d·Σ⌊pr(u)/deg(u)⌋ with Long floor division. */
  private def refPageRank(edges: Seq[(Long, Long)],
                          iterations: Int): Map[Long, Long] = {
    val nbrs = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var pr: Map[Long, Long] = nbrs.map { case (n, _) => n -> 1000000L }
    for (_ <- 1 to iterations) {
      val share = nbrs.map { case (n, ns) => n -> pr(n) / ns.size }
      pr = nbrs.map { case (n, ns) =>
        n -> (150000L + 17L * ns.map(share).sum / 20L)
      }
    }
    pr
  }

  private def prOf(edges: Seq[(Long, Long)], localMax: Long,
                   iterations: Int = 8): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Components.pageRank(edges.toDF("doc_a", "doc_b"),
        iterations = iterations, localSolveMaxEdges = localMax)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pr_scaled"))
      .toMap
  }

  test("pageRank: regular graphs are stationary at scale; hubs dominate a star") {
    // triangle: every node degree 2 — share = scale/2, each node
    // collects exactly scale back: 150000 + 17·1000000/20 = 1000000.
    // Stationary from round one, any iteration count
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(prOf(tri, Long.MaxValue) ===
      Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    assert(prOf(tri, 0L) === prOf(tri, Long.MaxValue))
    // star 1-{2,3,4}: the hub concentrates its spokes' whole mass
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val p = prOf(star, Long.MaxValue)
    assert(p(1L) > p(2L) && p(2L) === p(3L) && p(3L) === p(4L))
    assert(p(1L) > 2 * p(2L), "hub must dominate, not just edge out, its leaves")
    // total mass is conserved up to floor losses (strictly below
    // N·scale, within N·iterations·den of it)
    val mass = p.values.sum
    assert(mass <= 4000000L && mass > 4000000L - 4 * 8 * 20 * 4)
  }

  test("pageRank fuzz: distributed kernel == driver path == reference (seeded)") {
    val rnd = new scala.util.Random(24680)
    val edges = Seq.fill(700)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    val ref = refPageRank(edges, 8)
    assert(prOf(edges, Long.MaxValue) === ref, "driver path")
    assert(prOf(edges, 0L) === ref, "distributed kernel")
    // duplicate pairs must not double edges
    val dup = edges ++ edges
    assert(prOf(dup, Long.MaxValue) === ref)
    assert(prOf(dup, 0L) === ref)
  }

  /** Reference WEIGHTED iteration spelled out naively — share =
    * ⌊pr(u)·w(u,v)/W(u)⌋ per edge, duplicate canonical pairs collapse
    * by summing weights (the operator's documented semantics). */
  private def refPageRankWeighted(edges: Seq[(Long, Long, Long)],
                                  iterations: Int): Map[Long, Long] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map { case (a, b, w) => ((math.min(a, b), math.max(a, b)), w) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val nbrs = canon.toSeq
      .flatMap { case ((a, b), w) => Seq((a, (b, w)), (b, (a, w))) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val wsum = nbrs.view.mapValues(_.map(_._2).sum).toMap
    var pr: Map[Long, Long] = nbrs.map { case (n, _) => n -> 1000000L }
    for (_ <- 1 to iterations) {
      pr = nbrs.map { case (v, ns) =>
        v -> (150000L + 17L * ns.map { case (u, w) =>
          pr(u) * w / wsum(u)
        }.sum / 20L)
      }
    }
    pr
  }

  private def prwOf(edges: Seq[(Long, Long, Long)], localMax: Long,
                    iterations: Int = 8): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Components.pageRankWeighted(edges.toDF("doc_a", "doc_b", "shared"),
        "shared", iterations = iterations, localSolveMaxEdges = localMax)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pr_scaled"))
      .toMap
  }

  test("pageRankWeighted: uniform weights reproduce the unweighted kernel bit-for-bit") {
    val rnd = new scala.util.Random(8642)
    // CANONICAL unique edges: with both orientations present the two
    // kernels legitimately differ — unweighted `distinct`s them into
    // one edge, weighted sums them to w=2 (its documented dup rule)
    val edges = Seq.fill(500)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val uniform = edges.map { case (a, b) => (a, b, 1L) }
    val unweighted = prOf(edges, Long.MaxValue)
    assert(prwOf(uniform, Long.MaxValue) === unweighted, "driver path")
    assert(prwOf(uniform, 0L) === unweighted, "distributed kernel")
  }

  test("pageRankWeighted fuzz: distributed == driver == reference; dup pairs SUM weights") {
    val rnd = new scala.util.Random(97531)
    val edges = Seq.fill(500)((rnd.nextInt(100).toLong,
      rnd.nextInt(100).toLong, rnd.nextInt(50).toLong + 1))
      .filter(e => e._1 != e._2)
    val ref = refPageRankWeighted(edges, 8)
    assert(prwOf(edges, Long.MaxValue) === ref, "driver path")
    assert(prwOf(edges, 0L) === ref, "distributed kernel")
    // a duplicated pair list doubles every edge weight — same result
    // as doubling each w explicitly (collapse-by-sum, not distinct)
    val doubled = edges.map { case (a, b, w) => (a, b, 2 * w) }
    assert(prwOf(edges ++ edges, Long.MaxValue) ===
      refPageRankWeighted(doubled, 8))
    // weight skew actually matters: a heavy edge must outrank a
    // uniform graph's flat profile (sanity that w isn't discarded)
    val star = Seq((1L, 2L, 100L), (1L, 3L, 1L), (1L, 4L, 1L))
    val p = prwOf(star, Long.MaxValue)
    assert(p(2L) > p(3L) && p(3L) === p(4L),
      "the heavy spoke must collect more of the hub's mass")
  }

  test("kCore/kTruss surface maxIter exhaustion: throw by default, warn-superset on opt-out") {
    val s = spark
    import s.implicits._
    // 8-chain at k=2 peels one endpoint pair per round — needs 4
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val exCore = intercept[IllegalStateException] {
      Components.kCore(chain, 2, maxIter = 1, localSolveMaxEdges = 0L).count()
    }
    assert(exCore.getMessage.contains("maxIter"))
    // opting out keeps the old warn-and-return-superset behavior
    assert(Components.kCore(chain, 2, maxIter = 1, localSolveMaxEdges = 0L,
      failOnMaxIter = false).count() > 0)
    // bowtie at k=4 cascades over 2 rounds — maxIter=1 must throw
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
      .toDF("doc_a", "doc_b")
    val exTruss = intercept[IllegalStateException] {
      Components.kTruss(bowtie, 4, maxIter = 1, localSolveMaxEdges = 0L).count()
    }
    assert(exTruss.getMessage.contains("maxIter"))
    assert(Components.kTruss(bowtie, 4, maxIter = 1, localSolveMaxEdges = 0L,
      failOnMaxIter = false).count() >= 0)
  }

  /** Reference truss: recompute every edge's common-neighbor count,
    * drop the weak, repeat — the dumbest correct form. */
  private def refKTruss(edges: Seq[(Long, Long)],
                        k: Int): Map[(Long, Long), Long] = {
    var es = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct.toSet
    var sup = Map.empty[(Long, Long), Int]
    var changed = true
    while (changed) {
      val adj = es.toSeq.flatMap(e => Seq(e, e.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      sup = es.iterator.map(e => e -> (adj(e._1) & adj(e._2)).size).toMap
      val weak = es.filter(e => sup(e) < k - 2)
      changed = weak.nonEmpty
      es = es -- weak
    }
    es.iterator.map(e => e -> sup(e).toLong).toMap
  }

  private def ktrussOf(edges: Seq[(Long, Long)], k: Int,
                       localMax: Long): Map[(Long, Long), Long] = {
    val s = spark
    import s.implicits._
    Components.kTruss(edges.toDF("doc_a", "doc_b"), k,
        localSolveMaxEdges = localMax)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))
        -> r.getAs[Long]("support")).toMap
  }

  test("kTruss known graphs: K4 is a 4-truss, a shared-edge bowtie cascades to empty") {
    // K4: every edge has exactly 2 common neighbors — the smallest
    // 4-truss, nothing peels
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val ex4 = k4.map(e => e -> 2L).toMap
    assert(ktrussOf(k4, 4, 0L) === ex4, "distributed kernel")
    assert(ktrussOf(k4, 4, Long.MaxValue) === ex4, "driver fast path")
    assert(refKTruss(k4, 4) === ex4, "reference self-check")
    // two triangles sharing edge (1,2): the shared edge has support 2
    // but every other edge has 1 — round 1 peels them, round 2 then
    // peels the shared edge (its support collapsed): a genuinely
    // iterative edge cascade ending empty
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    assert(ktrussOf(bowtie, 4, 0L).isEmpty)
    assert(ktrussOf(bowtie, 4, Long.MaxValue).isEmpty)
    // but it IS a 3-truss (every edge in >= 1 triangle)
    assert(ktrussOf(bowtie, 3, 0L).keySet === bowtie.toSet)
    // truss is stricter than core: the hub-and-spoke star is a
    // 2-core under duplicate-edge noise but never a 3-truss
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    assert(ktrussOf(star, 3, Long.MaxValue).isEmpty)
  }

  test("kTruss fuzz: distributed kernel == driver peel == reference (seeded)") {
    val rnd = new scala.util.Random(1357)
    val edges = Seq.fill(600)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter(e => e._1 != e._2)
    for (k <- Seq(3, 4, 5)) {
      val ref = refKTruss(edges, k)
      assert(ktrussOf(edges, k, Long.MaxValue) === ref, s"driver path, k=$k")
      assert(ktrussOf(edges, k, 0L) === ref, s"distributed kernel, k=$k")
      // a mid bound forces >= 1 distributed round and then the
      // hybrid handoff to the driver peel once survivors fit
      assert(ktrussOf(edges, k, 100L) === ref, s"hybrid handoff, k=$k")
    }
    // duplicate pairs and reversed orientations must not double support
    val noisy = edges ++ edges.map(_.swap)
    assert(ktrussOf(noisy, 4, Long.MaxValue) === refKTruss(edges, 4))
    assert(ktrussOf(noisy, 4, 0L) === refKTruss(edges, 4))
  }

  /** The `funcName` of every action `body` runs. Query listeners are
    * called in submission order, so once a trailing marker query is
    * seen, every action of `body` has been. */
  private def actionsOf(body: => Unit): Seq[String] = {
    val names = new ConcurrentLinkedQueue[String]()
    val marker = s"graft_actions_marker_${java.util.UUID.randomUUID}"
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.observedMetrics.contains(marker)) markerSeen.countDown()
        else names.add(f)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = names.add(f)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).observe(marker, count(lit(1)).as("n")).collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker query never seen")
      names.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("convergence adds no per-round action: count actions do not grow with rounds") {
    val s = spark
    import s.implicits._
    def chain(nodes: Long) =
      (1L until nodes).map(i => (i, i + 1)).toDF("src", "dst")
    var (shortRounds, longRounds) = (0, 0)
    val short = actionsOf {
      shortRounds = Components.connectedComponentsWithStats(chain(3),
        localSolveMaxEdges = 0L).iterations
    }
    val long = actionsOf {
      longRounds = Components.connectedComponentsWithStats(chain(65),
        localSolveMaxEdges = 0L).iterations
    }
    assert(longRounds > shortRounds, s"rounds $shortRounds vs $longRounds")
    assert(long.count(_ == "count") === short.count(_ == "count"),
      s"connectedComponents: $short vs $long")
    // kTruss: K4 converges in its first round; the seeded fuzz graph
    // peels over several rounds at k = 4
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val rnd = new scala.util.Random(1357)
    val fuzz = Seq.fill(600)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter(e => e._1 != e._2)
    val one = actionsOf { ktrussOf(k4, 4, 0L) }
    val several = actionsOf { ktrussOf(fuzz, 4, 0L) }
    assert(several.count(_ == "localCheckpoint") > one.count(_ == "localCheckpoint") + 2,
      s"the fuzz graph must peel over several rounds: $one vs $several")
    assert(several.count(_ == "count") === one.count(_ == "count"),
      s"kTruss: $one vs $several")
    // kCore at k = 2: a triangle settles in its first round; the 8-chain
    // peels one endpoint pair per round over four
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val chain8 = (1L to 7L).map(i => (i, i + 1))
    val settled = actionsOf { kcoreOf(tri, 2, 0L) }
    val peeled = actionsOf { kcoreOf(chain8, 2, 0L) }
    assert(peeled.count(_ == "localCheckpoint") > settled.count(_ == "localCheckpoint") + 2,
      s"the chain must peel over several rounds: $settled vs $peeled")
    assert(peeled.count(_ == "count") === settled.count(_ == "count"),
      s"kCore: $settled vs $peeled")
  }

  test("a kernel whose input fails to evaluate leaves no cached relation behind") {
    // a range, not a local relation, so the failing row raises in a
    // task rather than while the optimizer folds the input
    def failing(a: String, b: String) = spark.range(1, 4)
      .select(col("id").as(a),
        when(col("id") === 3L, raise_error(lit("failing edge")))
          .otherwise(col("id") + 1).as(b),
        lit(1L).as("w"))
    val kernels = Seq[(String, Long => Any)](
      "connectedComponents" -> (m => Components.connectedComponentsWithStats(
        failing("src", "dst"), localSolveMaxEdges = m).labels.collect()),
      "kCore" -> (m => Components.kCore(failing("doc_a", "doc_b"), 2,
        localSolveMaxEdges = m).collect()),
      "kTruss" -> (m => Components.kTruss(failing("doc_a", "doc_b"), 3,
        localSolveMaxEdges = m).collect()),
      "pageRank" -> (m => Components.pageRank(failing("doc_a", "doc_b"),
        localSolveMaxEdges = m).collect()),
      "pageRankWeighted" -> (m => Components.pageRankWeighted(
        failing("doc_a", "doc_b"), "w", localSolveMaxEdges = m).collect()))
    for ((name, run) <- kernels;
         m <- Seq(0L, Components.defaultLocalSolveMaxEdges)) {
      // earlier tests' releases land on the listener bus; let them
      val before = Caches.residentAfter(spark, 2000)
      val ex = intercept[Exception](run(m))
      assert(ex.toString.contains("failing edge") ||
        Option(ex.getCause).exists(_.toString.contains("failing edge")),
        s"$name at localSolveMaxEdges=$m failed for another reason: $ex")
      assert(CacheBridge.cachedCount(spark) === before,
        s"$name at localSolveMaxEdges=$m left a cached relation")
    }
  }

  test("degreeHistogram and triangleCount on known graphs") {
    val spark2 = SparkSuite.spark
    import spark2.implicits._
    // triangle {1,2,3} with pendant 4: degrees 2,2,3,1
    val g1 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val hist = Components.degreeHistogram(g1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(Components.triangleCount(g1).collect()(0).getLong(0) === 1L)
    // 4-clique: C(4,3) = 4 triangles, each counted exactly once
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("doc_a", "doc_b")
    assert(Components.triangleCount(k4).collect()(0).getLong(0) === 4L)
    // edgeless graph: zero triangles, empty histogram
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Components.triangleCount(empty).collect()(0).getLong(0) === 0L)
    assert(Components.degreeHistogram(empty).count() === 0L)
  }
}
