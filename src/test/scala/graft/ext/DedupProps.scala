package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized invariants over the dedup stages (fixed seeds —
  * deterministic CI): the round-2 df-cap/banding/verify rework must hold
  * structural properties for ANY input, not just the planted testdata. */
class DedupProps extends SparkSpec {

  import spark.implicits._

  /** Random (doc_id, shingle) posting lists with planted near-dups and a
    * few boilerplate (high-df) shingles. */
  private def randomPostings(seed: Long, nDocs: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 40).map(i => s"sh_$i")
    val hot = Seq("boilerplate a", "boilerplate b")
    val own = Array.fill(nDocs)(Seq.empty[String])
    (0 until nDocs).foreach { d =>
      own(d) =
        // planted near-dup: doc 2k+1 copies doc 2k's shingles with one
        // substituted — real high-jaccard structure for the properties
        if (d % 2 == 1) own(d - 1).drop(1) :+ vocab(rnd.nextInt(vocab.length))
        else (0 until 3 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.length)))
    }
    val rows = (0 until nDocs).flatMap { d =>
      // ~half the docs carry the boilerplate shingles
      val extra = if (rnd.nextBoolean()) hot else Nil
      (own(d) ++ extra).distinct.map(sh => (d.toLong, sh))
    }
    rows.toDF("doc_id", "shingle").distinct()
  }

  test("jaccard output invariants: ordering, bounds, common ≤ sizes") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val sh = randomPostings(seed, 60).cache()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n")).as[(Long, Long)]
        .collect().toMap
      val pairs = Dedup.jaccardPairs(sh, 0.3, maxDf = 25)
        .as[(Long, Long, Long, Double)].collect()
      pairs.foreach { case (d1, d2, common, j) =>
        assert(d1 < d2, "pairs must be canonically ordered")
        assert(j >= 0.3 && j <= 1.0, s"jaccard out of range: $j")
        assert(common >= 1 && common <= math.min(sizes(d1), sizes(d2)),
          s"common=$common exceeds set sizes for ($d1,$d2)")
      }
      // the planted (2k, 2k+1) near-dups must actually surface — they
      // are the high-jaccard structure these properties exercise
      val found = pairs.map(p => (p._1, p._2)).toSet
      val planted = (0L until 60L by 2).map(k => (k, k + 1))
      assert(planted.count(found.contains) >= planted.size / 2,
        s"planted near-dups mostly missing: ${planted.count(found.contains)}/${planted.size}")
      sh.unpersist()
    }
  }

  test("df cap only shrinks the candidate-generation index, never grows it") {
    for (seed <- Seq(3L, 11L)) {
      val sh = randomPostings(seed, 50).cache()
      val total = sh.count()
      val capped10 = Dedup.capShingles(sh, 10).count()
      val capped1000 = Dedup.capShingles(sh, 1000).count()
      assert(capped10 <= capped1000 && capped1000 <= total)
      // a generous cap is the identity
      assert(capped1000 == total)
      sh.unpersist()
    }
  }

  test("band candidates ⊆ pairs sharing ≥1 shingle; verify ⊆ candidates") {
    for (seed <- Seq(5L, 13L)) {
      val sh = randomPostings(seed, 50).cache()
      val sharing = sh.as("a").join(sh.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct().as[(Long, Long)].collect().toSet
      val cands = Dedup.bandCandidatesOf(sh).as[(Long, Long)].collect().toSet
      assert(cands.subsetOf(sharing),
        s"banding invented candidates: ${cands -- sharing}")
      val verified = Dedup.verifyJaccard(sh, Dedup.bandCandidatesOf(sh), 0.2)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(verified.subsetOf(cands))
      sh.unpersist()
    }
  }

  test("connected components: chains merge, labels are component minima, caches drop") {
    // 1-2-3 chain (diameter 2, needs propagation), isolated 5-6, and a
    // 4-cycle 10-11-12-13 — fixpoint must label every node with its
    // component's minimum regardless of shape
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L)).toDF("d1", "d2")
    spark.catalog.clearCache()
    val before = pins
    val labels = Dedup.withComponents(pairs)(
      _.as[(Long, Long)].collect().toMap)
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
    // the loan unpersists every per-round cache
    assertNoNewPins(before)
  }

  test("connected components: diameter-5000 chain converges in O(log d) rounds") {
    // a 5001-node path is the adversarial long-chain shape (paged
    // documents, serial boilerplate): pure min-label propagation would
    // need 5000 rounds — converging under maxIter=30 at all PROVES the
    // pointer-jumping compress step squares reach per round
    // (⌈log₂ 5000⌉ ≈ 13 hook+compress rounds), under the per-round
    // localCheckpoint lineage truncation that keeps planning flat
    val pairs = (0L until 5000L).map(i => (i, i + 1)).toDF("d1", "d2")
    spark.catalog.clearCache()
    val before = pins
    val t0 = System.nanoTime()
    val labels = Dedup.withComponents(pairs, maxIter = 30)(
      _.as[(Long, Long)].collect().toMap)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(labels.size == 5001 && labels.values.forall(_ == 0L))
    // log-diameter rounds + truncation keep the loop interactive
    assert(sec < 120.0, s"diameter-5000 CC took ${sec}s")
    // the loan releases every per-round cache AND checkpoint RDD
    assertNoNewPins(before)
  }

  test("clusterSummary stays distributed at 10^4 clusters (no driver array)") {
    // 10^4 disjoint 2-cliques → 10^4 clusters: the many-cluster regime
    // where a driver-side summary collect would be corpus-bounded at
    // scale. The returned frame must be a lazy FILE SCAN of the
    // loan-scope materialization — not a LocalRelation/LogicalRDD built
    // from driver rows — and the loan must still release every cache.
    val pairs = (0L until 10000L).map(i => (2 * i, 2 * i + 1)).toDF("d1", "d2")
    spark.catalog.clearCache()
    val before = pins
    val summary = Dedup.clusterSummary(spark, pairs, maxIter = 30)
    val plan = summary.queryExecution.optimizedPlan.collectLeaves()
    assert(plan.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
      s"summary must scan the distributed materialization, got: $plan")
    assert(summary.count() == 10000L)
    assert(summary.filter($"n_docs" =!= 2L).count() == 0L)
    // min-label convention: cluster_id = even member of each pair
    assert(summary.filter($"cluster_id" % 2 =!= 0L).count() == 0L)
    assertNoNewPins(before)
  }

  test("connected components agree with union-find ground truth on random graphs") {
    // hook+compress must produce exactly the per-component minimum for
    // ANY topology, not just the planted chains/cycles — random sparse
    // graphs exercise mixed shapes (stars, trees, multi-cycles,
    // isolated pairs) where pointer-jumping bugs (stale jumps, missed
    // fixpoints) would surface as split or mislabeled components
    for (seed <- Seq(11L, 23L, 57L)) {
      val rnd = new scala.util.Random(seed)
      val n = 400
      val edges = (0 until 300).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // driver-side union-find ground truth
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> {
          // component min = min node id reachable; root of union-find
          // with min-merge IS the component minimum among TOUCHED nodes
          find(v.toInt).toLong
        }).toMap
      val got = Dedup.withComponents(edges.toDF("d1", "d2"))(
        _.as[(Long, Long)].collect().toMap)
      assert(got == expected, s"seed $seed: CC disagrees with union-find")
    }
  }

  test("identical posting sets always band together and verify at 1.0") {
    // doc 100 and 101 share an identical 6-shingle set → every band key
    // matches → candidate with jaccard exactly 1.0
    val base = (0 until 6).map(i => s"dup_sh_$i")
    val sh = (base.map(s => (100L, s)) ++ base.map(s => (101L, s)) ++
      Seq((102L, "other"))).toDF("doc_id", "shingle")
    val out = Dedup.verifyJaccard(sh, Dedup.bandCandidatesOf(sh), 0.5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((100L, 101L, 6L, 1.0)))
  }
}
