package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Accuracy of the LSH paths against brute-force exact Jaccard at
  * sf0.001 (the only scale where all-pairs is acceptable). */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private def docs = Tables.documents(spark, SparkSuite.sf0001)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

  test("minhash-LSH candidates: perfect precision (post-verify) and high recall vs brute force") {
    val truth = pairs(Dedup.bruteForceJaccard(docs, "doc_id", "text", 0.8))
    val lsh = pairs(Dedup.minhashNearDups(docs, "doc_id", "text", 0.8))
    assert(truth.nonEmpty, "test data must contain planted near-dups")
    assert(lsh.subsetOf(truth), "verify stage must eliminate false positives")
    val recall = lsh.size.toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (found ${lsh.size}/${truth.size})")
  }

  test("simhash near-dups agree with high-jaccard truth pairs") {
    val truth = pairs(Dedup.bruteForceJaccard(docs, "doc_id", "text", 0.8))
    val sim = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
    val simPairs = sim.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(simPairs.nonEmpty)
    // hamming<=3 on 64-bit simhash is a different similarity notion
    // than jaccard>=0.8 (token multiset vs shingle set) — expect
    // strong but not perfect agreement
    val precision = simPairs.intersect(truth).size.toDouble / simPairs.size
    assert(precision >= 0.7, s"simhash precision $precision")
  }

  test("exact dedup keeps one row per distinct text with min id") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((3L, "same"), (1L, "same"), (2L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(out === Set((1L, "same"), (2L, "other")))
  }

  test("char-n-gram LSH near-dups: high recall vs brute-force char-gram Jaccard") {
    val truth = pairs(Dedup.bruteForceJaccardBy(docs, "doc_id",
      Dedup.charShingleHashes("text", 5), 0.8))
    val lsh = pairs(Dedup.ngramNearDups(docs, "doc_id", "text", 0.8))
    assert(truth.nonEmpty)
    assert(lsh.subsetOf(truth))
    val recall = lsh.size.toDouble / truth.size
    assert(recall >= 0.9, s"char-gram LSH recall $recall (${lsh.size}/${truth.size})")
  }

  test("KMV gate sketch lands within tolerance of the exact count") {
    val r = graft.queries.DedupPack.queries("q_approx_distinct")(
      spark, SparkSuite.sf0001).head()
    val approx = r.getAs[Long]("approx_docs").toDouble
    val exact = r.getAs[Long]("exact_docs").toDouble
    assert(math.abs(approx - exact) / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("KMV estimates within ~3/sqrt(k) above the exact-fallback regime") {
    val spark2 = spark
    import spark2.implicits._
    // 20k distinct values with k=256 exercises the ESTIMATOR branch
    // (m == k), not the m < k exact fallback the gate corpus hits
    val n = 20000
    val df = (1 to n).map(i => s"value-$i").toDF("v")
    val est = graft.operators.Sketch.kmvDistinct(df, "v", k = 256)
      .head().getAs[Long]("approx_docs").toDouble
    assert(math.abs(est - n) / n < 3.0 / math.sqrt(256.0),
      s"KMV estimate $est for $n distinct")
  }

  test("approx_count_distinct (HLL, the production default) lands within its rsd bound") {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, countDistinct}
    val r = docs.agg(
      approx_count_distinct(col("text"), rsd = 0.02).as("approx_docs"),
      countDistinct(col("text")).as("exact_docs")).head()
    val approx = r.getAs[Long]("approx_docs").toDouble
    val exact = r.getAs[Long]("exact_docs").toDouble
    assert(math.abs(approx - exact) / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("native graft_simhash equals the HOF per-bit fold bit-for-bit") {
    graft.functions.SimHash64.register(spark)
    val both = docs.select(Dedup.tokenHashes("text").as("th"))
      .select(Dedup.simhashFromHashes("th").as("native"),
              DedupReference.simhashFromHashesHof("th").as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("native graft_minhash equals the HOF k-pass signature bit-for-bit") {
    graft.functions.MinHashSignature.register(spark)
    // both shingle universes, both production k values
    for ((shingler, k) <- Seq(Dedup.charShingleHashes("text", 5) -> 32,
                              Dedup.shingleHashes("text", 3) -> 64)) {
      val h = docs.select(org.apache.spark.sql.functions.col("doc_id"),
          shingler.as("h"))
        .filter(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("h")) > 0)
      val both = h.select(
          Dedup.minhashSignature("h", k).as("native"),
          DedupReference.minhashSignatureHof("h", k).as("hof"))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      }
    }
  }

  test("incremental near-dup: new-vs-corpus candidates only, precision 1.0, recall high") {
    import org.apache.spark.sql.functions.col
    // corpus = even ids (deduped once, signatures stored); batch = odd
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val shingler = Dedup.shingleHashes("text", 3)
    val corpusSigs = Dedup.signatures(corpus, "doc_id", shingler, 64, 42L)
      .persist()
    val got = Dedup.incrementalNearDups(batch, corpusSigs, "doc_id",
        shingler, 0.8, k = 64, bands = 16)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // truth: brute-force pairs with one odd and one even side,
    // reoriented to (new, corpus)
    val truth = pairs(Dedup.bruteForceJaccard(docs, "doc_id", "text", 0.8))
      .collect { case (a, b) if (a % 2) != (b % 2) =>
        if (a % 2 == 1) (a, b) else (b, a)
      }
    assert(truth.nonEmpty, "test data must contain cross-side near-dups")
    assert(got.forall { case (a, b) => a % 2 == 1 && b % 2 == 0 },
      "doc_a must be the new side, doc_b the corpus side")
    assert(got.subsetOf(truth), "exact verify must keep precision 1.0")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"incremental recall $recall (${got.size}/${truth.size})")
  }

  test("dropNearDups keeps cluster minima and never keeps both sides of a pair") {
    val p = Dedup.minhashNearDups(docs, "doc_id", "text", 0.8).persist()
    val survivors = Dedup.dropNearDups(docs, "doc_id", p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val prs = p.collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(prs.nonEmpty)
    // no surviving pair: doc_b of every pair is gone
    prs.foreach { case (_, b) => assert(!survivors.contains(b)) }
    // every cluster minimum survives (a doc with no smaller neighbor)
    val dropped = prs.map(_._2).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === all -- dropped)
  }

  test("exactJaccardPairs equals the all-pairs brute force on string grams") {
    // candidate generation by shared gram must lose NOTHING vs the
    // quadratic scan (a pair above any positive threshold shares a
    // gram) — set equality, not recall
    val truth = Dedup.bruteForceJaccardBy(docs, "doc_id",
        graft.operators.TextAnalysis.stringShingles("text", 3), 0.8)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val got = Dedup.exactJaccardPairs(docs, "doc_id", "text", 0.8)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    assert(truth.nonEmpty, "test data must contain planted near-dups")
    assert(got === truth)
  }

  test("containmentPairs: a verbatim quote flags inner→outer at 1.0, not the reverse; asymmetric where Jaccard is blind") {
    val s = spark
    import s.implicits._
    val quote = "alpha beta gamma delta epsilon"
    val page = quote + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq(1L -> quote, 2L -> page, 3L -> "zeta eta theta iota kappa")
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.9)
      .collect()
      .map(r => (r.getAs[Long]("doc_inner"), r.getAs[Long]("doc_outer")) ->
        r.getAs[Double]("containment")).toMap
    // every 3-gram of the quote appears in the page → containment 1.0
    assert(got === Map((1L, 2L) -> 1.0),
      s"only the quote→page direction qualifies, got $got")
    // sanity: symmetric Jaccard misses this pair entirely at the same bar
    val jac = Dedup.exactJaccardPairs(corpus, "doc_id", "text", 0.9)
      .collect()
    assert(jac.isEmpty, "Jaccard at 0.9 is blind to the contained quote")
    // and a plain-Scala check of the non-qualifying reverse direction
    def grams(t: String) = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val rev = grams(quote).intersect(grams(page)).size.toDouble / grams(page).size
    assert(rev < 0.9)
  }

  test("exactJaccardPairs maxGramFreq cap only ever drops pairs, never invents them") {
    // compare (a, b, jaccard) TRIPLES, not just id pairs: the cap may
    // only shrink the candidate set — a surviving pair's jaccard must
    // still be computed over the FULL gram sets, so its value is
    // identical to the uncapped run's (a capped-set jaccard would
    // silently change what the number means)
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val uncapped = triples(Dedup.exactJaccardPairs(docs, "doc_id", "text", 0.8))
    val capped = triples(
      Dedup.exactJaccardPairs(docs, "doc_id", "text", 0.8, maxGramFreq = 8))
    assert(capped.subsetOf(uncapped))
  }

  test("shingle hashes: deterministic, distinct, and short-text safe") {
    val spark2 = spark
    import spark2.implicits._
    graft.functions.GramHashes.register(spark)
    val df = Seq(("a b c d", 1), ("a", 2), ("a b c d", 3)).toDF("text", "id")
    val hs = df.select(Dedup.shingleHashes("text").as("h")).collect()
      .map(_.getSeq[Long](0))
    assert(hs(0) === hs(2))          // same text → same shingles
    assert(hs(1).size === 1)         // shorter than w → whole text gram
    assert(hs(0).distinct.size === hs(0).size)
  }

  test("native graft_chargrams/graft_shingles equal the HOF twins bit-for-bit") {
    val spark2 = spark
    import spark2.implicits._
    graft.functions.GramHashes.register(spark)
    // corpus plus adversarial edges: empty, shorter-than-gram, runs of
    // spaces (empty tokens), leading/trailing spaces, multi-byte UTF-8
    val edges = Seq("", "ab", "a", "  ", "a  b   c", " lead", "trail ",
      "héllo wörld émoji 😀 texte", "日本語 テスト だよ", "x").toDF("text")
    for (df <- Seq(docs.select("text"), edges)) {
      val both = df.select(
          Dedup.charShingleHashes("text", 5).as("cn"),
          DedupReference.charShingleHashesHof("text", 5).as("ch"),
          Dedup.shingleHashes("text", 3).as("wn"),
          DedupReference.shingleHashesHof("text", 3).as("wh"))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"chargrams: $r")
        assert(r.getSeq[Long](2) === r.getSeq[Long](3), s"shingles: $r")
      }
    }
  }

  test("native gram hashing stays inside whole-stage codegen") {
    graft.functions.GramHashes.register(spark)
    val plan = docs.select(Dedup.charShingleHashes("text", 5).as("h"),
                           Dedup.shingleHashes("text", 3).as("s"))
      .queryExecution.executedPlan.toString
    // fused stages carry the *(n) prefix; a codegen fallback would
    // show the project outside any fused stage
    assert(plan.contains("*(1)"), s"expected fused stage in:\n$plan")
  }

  /** The `maxGramFreq` exactness trade, MEASURED (the round-11 verdict
    * item): the cap drops grams shared by more docs than the cap, so a
    * pair overlapping ONLY in ultra-common grams is missed — recall vs
    * the uncapped truth is monotone in the cap. Two corpora:
    *
    *  - the sf0.01 `documents` table: max 3-gram doc-frequency is 7
    *    (measured via the DuckDB replay of stringShingles), so caps
    *    16/64/256 keep every gram and capped output == uncapped
    *    BIT-FOR-BIT — on this corpus the skew valve is free, which is
    *    exactly what a user needs to know before flipping it;
    *  - a constructed boilerplate-heavy corpus where the trade BITES:
    *    pair discovery at cap {2, 4, 8, uncapped} finds {5, 8, 23,
    *    213} pairs (recall 0.023 / 0.038 / 0.108 / 1.0) — strictly
    *    monotone, and each step is attributable to one boilerplate
    *    tier crossing its doc-frequency threshold.
    */
  test("maxGramFreq recall is monotone in the cap; free on sf0.01, measurable under boilerplate") {
    val spark2 = spark
    import spark2.implicits._
    // --- sf0.01: the caps never bite (max gram df = 7) ---
    val real = Tables.documents(spark, SparkSuite.sf001)
    val uncapped = pairs(
      Dedup.exactJaccardPairs(real, "doc_id", "text", threshold = 0.8))
    val realRecalls = Seq(16, 64, 256).map { cap =>
      val capped = pairs(Dedup.exactJaccardPairs(real, "doc_id", "text",
        threshold = 0.8, maxGramFreq = cap))
      assert(capped === uncapped,
        s"cap $cap altered the pair set on sf0.01 (max gram df is 7)")
      capped.size.toDouble / uncapped.size
    }
    assert(realRecalls === Seq(1.0, 1.0, 1.0))

    // --- boilerplate tiers: df-20, df-6 and df-3 boilerplate plus
    // df-2 identical pairs, disjoint vocabularies so every pair's
    // discovery is attributable to exactly one tier ---
    def boiler(prefix: String, m: Int): String =
      (0 until m).map(i => s"$prefix$i").mkString(" ")
    def tier(prefix: String, nDocs: Int, from: Long): Seq[(Long, String)] = {
      val b = boiler(prefix, 15) // 13 shared grams; +1 unique boundary
      (0 until nDocs).map(i => (from + i, s"$b u$prefix$i"))
      // pairwise jaccard within a tier: 13 / (14+14-13) ≈ 0.867 ≥ 0.8,
      // shared ONLY through the tier's boilerplate grams
    }
    val corpus =
      tier("a", 20, 0L) ++ tier("b", 6, 100L) ++ tier("c", 3, 200L) ++
        (0 until 5).flatMap { i => // 5 identical pairs, grams of df 2
          val t = Seq.fill(15)(s"y$i").mkString(" ")
          Seq((300L + 2 * i, t), (301L + 2 * i, t))
        }
    val docsDf = corpus.toDF("doc_id", "text")
    def found(cap: Int): Set[(Long, Long)] = pairs(
      Dedup.exactJaccardPairs(docsDf, "doc_id", "text",
        threshold = 0.8, maxGramFreq = cap))
    val truth = pairs(Dedup.exactJaccardPairs(docsDf, "doc_id", "text",
      threshold = 0.8))
    assert(truth.size === 190 + 15 + 3 + 5) // C(20,2)+C(6,2)+C(3,2)+5
    val byCap = Seq(2, 4, 8).map(c => c -> found(c))
    // every capped set is a subset of truth and of the next cap up
    byCap.foreach { case (c, s) =>
      assert(s.subsetOf(truth), s"cap $c found non-truth pairs") }
    assert(byCap(0)._2.subsetOf(byCap(1)._2))
    assert(byCap(1)._2.subsetOf(byCap(2)._2))
    // and each cap admits exactly the tiers at or under it
    assert(byCap(0)._2.size === 5)       // identical pairs only (df 2)
    assert(byCap(1)._2.size === 5 + 3)   // + df-3 boilerplate tier
    assert(byCap(2)._2.size === 5 + 3 + 15) // + df-6 tier; df-20 needs uncapped
  }

  test("minhash-oracle equivalence margin holds on the gate corpus") {
    // The q_dedup_minhash / drop / cluster / canonical oracles rest on
    // minhash output == exact pairs at sf0.01, which holds because
    // every true pair sits FAR above the 0.8 threshold: at jaccard s
    // the (b=16, r=4) banding miss probability is (1 - s^4)^16 —
    // ~1e-7 at s=0.9 but 2e-4 at s=0.8. This canary fails BEFORE the
    // gate can flake if a regenerated corpus ever introduces
    // borderline pairs; on failure, demote those four oracles to
    // rows-only (DedupPack) rather than gambling the gate on a coin
    // with these odds.
    val pairs = graft.operators.Dedup.exactJaccardPairs(
        Tables.documents(SparkSuite.spark, SparkSuite.sf001),
        "doc_id", "text", threshold = 0.8)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(pairs.nonEmpty, "gate corpus lost its near-dup pairs entirely")
    val minJ = pairs.min
    assert(minJ >= 0.85,
      f"weakest exact pair at jaccard $minJ%.3f — banding miss odds are no " +
        "longer negligible; demote the minhash-family oracles to rows-only")
    assert(pairs.length < 1000,
      s"${pairs.length} pairs — union-bound on a banding miss is no longer tiny")
  }

  test("LSH bucket occupancy on the gate corpus stays far below the maxBucket cap") {
    // Second leg of the minhash-oracle equivalence argument: besides
    // banding recall (margin canary above), lshNearDups/
    // incrementalNearDups PRUNE any (band, sig) bucket with more than
    // maxBucket=64 members — an over-cap bucket would silently drop
    // true pairs on the Spark side while the DuckDB exact-pair oracle
    // keeps them, hash-failing the gate without a code regression.
    // This canary asserts the gate corpus keeps every bucket (both
    // shingle universes, the exact lshNearDups/ngramNearDups params)
    // at <= half the cap, so a regenerated corpus drifting toward
    // boilerplate-heavy bucket skew trips a spec before the gate.
    // On failure: demote the minhash-family oracles to rows-only.
    val docs = Tables.documents(SparkSuite.spark, SparkSuite.sf001)
    def maxOccupancy(shingler: org.apache.spark.sql.Column): Long = {
      val sigs = Dedup.signatures(docs, "doc_id", shingler, 64, 42L)
      Dedup.bandRows(sigs, 16, 4).groupBy("band", "sig").count()
        .agg(org.apache.spark.sql.functions.max("count")).first().getLong(0)
    }
    val wordMax = maxOccupancy(Dedup.shingleHashes("text", 3))
    val gramMax = maxOccupancy(Dedup.charShingleHashes("text", 5))
    assert(wordMax <= 32, s"hottest word-shingle band bucket has $wordMax " +
      "members — within 2x of the maxBucket=64 prune; the minhash/drop/" +
      "cluster/canonical/incremental oracles can no longer assume no bucket " +
      "is pruned")
    assert(gramMax <= 32, s"hottest char-gram band bucket has $gramMax " +
      "members — within 2x of the maxBucket=64 prune; demote the ngram " +
      "oracle to rows-only")
  }
}
