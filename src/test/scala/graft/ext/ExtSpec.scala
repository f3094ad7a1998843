package graft.ext

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** North-star operator properties that the SQL oracle can't express:
  * LSH recall vs brute force, MinHash candidate containment, hash
  * parity, multimodal decode plumbing. */
class ExtSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, Sf)

  test("fuzzy match: pigeonhole blocking finds single-edit pairs via either half") {
    import spark.implicits._
    // 1↔2: edit in the PREFIX half ("helloxdo" vs "helloydo"... actually
    // differs at pos 6) → found via the SHARED SUFFIX block; 1↔3: edit
    // in the suffix half → found via the shared prefix block; 4 shares
    // neither block with 1 (both halves differ) and stays unmatched
    // even though its true distance is 2 — the documented best-effort
    // bound above distance 1. 5 is < 16 chars → excluded.
    val d = Seq(
      (1L, "hello docs aaaa zz tail"),
      (2L, "hullo docs aaaa zz tail"),   // prefix-half edit, same suffix
      (3L, "hello docs abaa zz tail"),   // suffix-half edit, same prefix
      (4L, "hullo docs abaa zz tail"),   // one edit in EACH half vs 1
      (5L, "short")).toDF("doc_id", "text")
    val out = TextAnalytics.fuzzyMatch(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L)))
  }

  test("containment flags a doc-in-doc paste that Jaccard structurally misses") {
    import spark.implicits._
    // doc 1's 2 shingles are a strict prefix of doc 2's 8 → containment
    // (1 in 2) = 1.0 while jaccard = 2/8 = 0.25: the asymmetric signal
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta xx1 xx2 xx3 xx4 xx5 xx6"),
      (3L, "zz1 zz2 zz3")).toDF("doc_id", "text")
    val sh = Dedup.shingleRowsOf(d)
    val cont = Dedup.containmentPairs(sh, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(cont.toSeq == Seq((1L, 2L, 2L, 1.0)))
    assert(Dedup.jaccardPairs(sh, 0.5).isEmpty) // symmetric rule is blind here
  }

  test("RAKE keyphrases: hand-computed deg/freq scores on a planted corpus") {
    import spark.implicits._
    // doc 1: "red apple juice and red wine to cheese" (stops: and, to)
    //   phrases [red apple juice] [red wine] [cheese]
    // doc 2: "red wine" → the phrase repeats corpus-wide
    // word stats over the PHRASE table:
    //   red f=3 deg=3+2+2=7 → 7/3; apple f=1 deg=3 → 3; juice → 3;
    //   wine f=2 deg=4 → 2; cheese f=1 deg=1 → 1
    // phrase scores (position-ordered folds, round 4):
    //   red apple juice = 7/3+3+3 = 8.3333; red wine = 7/3+2 = 4.3333
    val d = Seq((1L, "red apple juice and red wine to cheese"),
      (2L, "red wine")).toDF("doc_id", "text")
    val out = TextAnalytics.rakeKeyphrases(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("red apple juice", 1L, 8.3333),
      ("red wine", 2L, 4.3333),
      ("cheese", 1L, 1.0)))
  }

  test("semantic dedup: partition invariants, min-id survivor per cluster") {
    val rows = run("sim_semdedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 8, "one row per seed cluster")
    val corpus = graft.Tables.embeddings(spark, Sf).count()
    assert(rows.map(_._2).sum == corpus, "every vector assigned exactly once")
    rows.foreach { case (c, n, pairs, dropped, kept) =>
      assert(kept + dropped == n, s"cluster $c: kept+dropped must partition")
      assert(kept >= 1, s"cluster $c: the min-id member always survives")
      assert(dropped <= pairs, "each drop needs at least one witnessing pair")
    }
    // the synthetic corpus has SOME near-dups (sim_neardup_pairs is
    // non-empty), so semantic dedup must fire somewhere
    assert(rows.map(_._4).sum > 0, "expected at least one semantic duplicate")
  }

  test("semdedup pair stage: md5 cap bounds fan-out under a 90% mega-cluster") {
    import spark.implicits._
    val dims = 64
    // 90 vectors hugging axis 0 (one mega-cluster after assignment),
    // 10 hugging axis 2 — the adversarial seed-geometry collapse the
    // SemDedupMaxMembers cap exists for
    val rows =
      (0L until 90L).map(i => (i, Array.tabulate(dims)(d =>
        if (d == 0) 1.0 else if (d == 1) 0.001 * i else 0.0))) ++
      (90L until 100L).map(i => (i, Array.tabulate(dims)(d =>
        if (d == 2) 1.0 else if (d == 3) 0.001 * i else 0.0)))
    val e = rows.toDF("vec_id", "v")
    val seeds = Seq(
      (0L, Array.tabulate(dims)(d => if (d == 0) 1.0 else 0.0)),
      (1L, Array.tabulate(dims)(d => if (d == 2) 1.0 else 0.0)))
      .toDF("cluster_id", "sv")
    val asg = Similarity.assignToSeeds(e, seeds)
      .select(col("vec_id"), col("cluster_id"), col("v"))
    val sizes = asg.groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(0L -> 90L, 1L -> 10L), s"unexpected geometry: $sizes")
    val cap = 5
    val capped = Similarity.cappedClusterMembers(asg, cap)
    assert(capped.groupBy("cluster_id").count().collect()
      .forall(_.getLong(1) <= cap))
    // candidate fan-out with the threshold fully open: ≤ C(cap, 2) per
    // cluster — never C(90, 2) ≈ 4000 from the mega-cluster
    val nPairs = Similarity.semdedupPairs(capped, -1.0).count()
    assert(nPairs == 2L * cap * (cap - 1) / 2, s"pair fan-out $nPairs not capped")
    // and the cap is deterministic: same input, same surviving members
    val m1 = capped.select("vec_id").as[Long].collect().sorted
    val m2 = Similarity.cappedClusterMembers(asg, cap)
      .select("vec_id").as[Long].collect().sorted
    assert(m1.sameElements(m2))
  }

  test("BM25: more term hits outrank fewer at equal length; misses absent") {
    val out = run("text_bm25_search").collect()
    assert(out.nonEmpty && out.length <= 20)
    // scores strictly ordered desc with doc_id tie-break
    val scores = out.map(r => (r.getDouble(2), r.getLong(0)))
    scores.zip(scores.drop(1)).foreach { case ((s1, d1), (s2, d2)) =>
      assert(s1 > s2 || (s1 == s2 && d1 < d2), s"order violated: $s1/$d1 vs $s2/$d2")
    }
    // every returned doc hits at least one query term, at most all three
    assert(out.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3))
    // the winner hits all three terms on this corpus (query terms are
    // common engine words, so a 3-hit doc must exist and outscore)
    assert(out.head.getLong(1) == 3L)
  }

  test("60-bit md5 hash parity with the DuckDB formula") {
    // DuckDB: SELECT ('0x'||substr(md5('abc'),1,15))::BIGINT = 648541476951500027
    import spark.implicits._
    val got = Seq("abc").toDF("s")
      .select(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"))
      .as[Long].head()
    assert(got == 648541476951500027L)
  }

  test("substring runs: a planted verbatim block yields one exact run") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"s$i").mkString(" ") // 20-token block
    val d = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" ") + " " + shared + " " +
        (1 to 10).map(i => s"b$i").mkString(" ")),
      (2L, (1 to 8).map(i => s"c$i").mkString(" ") + " " + shared + " " +
        (1 to 5).map(i => s"e$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Dedup.substringRuns(d)
      .select("d1", "d2", "n_runs", "max_run_tokens", "dup_windows", "first_pos")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // 20 shared tokens = 13 consecutive 8-windows = ONE merged run;
    // boundary windows mix doc-specific filler so they never match
    assert(rows == Seq((1L, 2L, 1L, 20L, 13L, 13L)), rows.toString)
  }

  test("substring runs: separated blocks stay separate runs") {
    import spark.implicits._
    val blockA = (1 to 10).map(i => s"p$i").mkString(" ") // 3 windows
    val blockB = (1 to 9).map(i => s"q$i").mkString(" ")  // 2 windows
    val d = Seq(
      (4L, blockA + " x1 x2 x3 " + blockB),
      (5L, blockB + " y1 y2 y3 y4 y5 " + blockA)
    ).toDF("doc_id", "text")
    val rows = Dedup.substringRuns(d)
      .select("d1", "d2", "n_runs", "max_run_tokens", "dup_windows")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // swapped order between the docs forces two diagonals — runs must
    // NOT merge across the gap even though total windows is 5
    assert(rows == Seq((4L, 5L, 2L, 10L, 5L)), rows.toString)
  }

  test("docBandKeys (JVM streaming kernel) equals the batch band pipeline") {
    import spark.implicits._
    val d = graft.Tables.documents(spark, Sf).select("doc_id", "text")
    val batch = Dedup.bandKeysOf(Dedup.shingleRowsOf(d))
      .as[(Long, Int, String)].collect().toSet
    val jvm = d.as[(Long, String)].collect().toSet[(Long, String)]
      .flatMap { case (id, text) =>
        Dedup.docBandKeys(text).map { case (b, k) => (id, b, k) }
      }
    assert(jvm == batch,
      s"only-jvm=${(jvm -- batch).take(3)} only-batch=${(batch -- jvm).take(3)}")
  }

  test("MinHash/LSH candidates contain every very-high-jaccard pair") {
    // With 8 hashes in 4 bands of 2, P(candidate) = 1-(1-j²)⁴ ≈ 0.9996
    // for j ≥ 0.9 — every planted near-dup pair must surface.
    import spark.implicits._
    val trueDups = run("dedup_jaccard_pairs")
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val cands = run("dedup_minhash_candidates")
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(trueDups.nonEmpty, "testdata should contain planted near-dups")
    val missed = trueDups -- cands
    assert(missed.isEmpty, s"LSH missed high-jaccard pairs: $missed")
  }

  test("incremental dedup pairs are cross-set and within the full pair set") {
    import spark.implicits._
    val inc = run("dedup_incremental")
      .select("new_doc", "corpus_doc").as[(Long, Long)].collect()
    inc.foreach { case (n, c) =>
      assert(n % 10 == 9, s"new side must be in the batch: $n")
      assert(c % 10 != 9, s"corpus side must not be in the batch: $c")
    }
    // every incremental pair is a true verified near-dup pair
    val full = run("dedup_jaccard_pairs")
      .select("d1", "d2").as[(Long, Long)].collect()
      .map { case (a, b) => (a.min(b), a.max(b)) }.toSet
    inc.foreach { case (n, c) =>
      assert(full.contains((n.min(c), n.max(c))),
        s"incremental pair ($n,$c) missing from the exact pair set")
    }
  }

  test("df cap drops boilerplate-only pairs, keeps rare-shingle jaccard") {
    import spark.implicits._
    // docs 1,2 share only the hot shingle (in >maxDf docs); docs 3,4
    // share 2 of their 3 rare shingles. Under the cap the boilerplate
    // pair must vanish while the true pair survives with jaccard over
    // the capped universe (hot shingle excluded from sizes too).
    val hot = (1L to 6L).map(d => (d, "hot shingle x"))
    val rare = Seq((3L, "a b c"), (3L, "c d e"), (3L, "e f g"),
      (4L, "a b c"), (4L, "c d e"), (4L, "x y z"))
    val sh = (hot ++ rare).toDF("doc_id", "shingle")
    val pairs = Dedup.jaccardPairs(sh, 0.4, maxDf = 3)
      .select("d1", "d2", "common", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((3L, 4L, 2L, 0.5)),
      s"expected only the rare-shingle pair: $pairs")
    // uncapped, the boilerplate join would also surface (1,2) … (5,6)
    val uncapped = Dedup.jaccardPairs(sh, 0.4, maxDf = 1000)
    assert(uncapped.count() > 1)
    // the band-candidate + verify path agrees with the direct join on
    // the pairs it surfaces (verify is exact on candidates)
    val viaBands = Dedup.verifyJaccard(sh, Dedup.bandCandidatesOf(sh), 0.4)
      .select("d1", "d2", "common", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaBands.subsetOf(
      Dedup.verifyJaccard(sh,
        sh.select(col("doc_id").as("d1")).crossJoin(sh.select(col("doc_id").as("d2")))
          .filter(col("d1") < col("d2")).distinct(), 0.4)
        .select("d1", "d2", "common", "jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet))
  }

  test("simhash: near-identical docs collide, hamming reflects similarity") {
    import spark.implicits._
    val sims = run("dedup_simhash").as[(Long, Long)].collect().toMap
    val dupPairs = run("dedup_jaccard_pairs")
      .filter(col("jaccard") >= 0.95).select("d1", "d2")
      .as[(Long, Long)].collect()
    assert(dupPairs.nonEmpty)
    val hammings = dupPairs.map { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b))
    }
    // 16-bit simhash of ~99% similar docs: expect tiny hamming distance
    assert(hammings.forall(_ <= 4), s"hammings too large: ${hammings.toSeq}")
  }

  test("IVF upsert: batch fully assigned, occupancy conserved, sims bounded") {
    val corpus = graft.Tables.embeddings(spark, Sf)
    val nIncoming = corpus.filter(col("vec_id") % 25 === 0).count()
    val nIndexed = corpus.count() - nIncoming
    val rows = run("sim_ivf_upsert").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every incoming vector lands in exactly one cell; nothing rebuilt
    assert(rows.map(_._3).sum == nIncoming)
    assert(rows.map(_._2).sum == nIndexed)
    rows.foreach { case (cell, idx, asg, total) =>
      assert(total == idx + asg, s"cell $cell occupancy mismatch")
    }
    // assignment quality is a valid cosine wherever a vector landed
    run("sim_ivf_upsert").collect().foreach { r =>
      if (!r.isNullAt(4)) {
        val m = r.getDouble(4)
        assert(m >= -1.0001 && m <= 1.0001, s"mean sim $m out of range")
      }
    }
  }

  test("PQ: Lloyd step never increases distortion; encoding covers the corpus") {
    val e = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val sub = Similarity.pqSubvectors(e)
    val n = e.count()
    // the k-means contract: argmin-assign to the UPDATED centroids costs
    // no more than the assignment the update was computed from
    val d0 = Similarity.pqAssign(sub, Similarity.pqCodebook0(sub))
      .agg(sum(col("d2"))).head().getDouble(0)
    val codes = Similarity.pqAssign(sub, Similarity.pqTrainedCodebook(sub))
    val d1 = codes.agg(sum(col("d2"))).head().getDouble(0)
    assert(d1 <= d0 + 1e-9, s"Lloyd step increased distortion: $d0 -> $d1")
    // every vector encodes to exactly M codes, all in [0, K)
    assert(codes.count() == n * Similarity.PqSubspaces)
    assert(codes.filter(col("code_id") < 0 ||
      col("code_id") >= Similarity.PqCodes).count() == 0)
  }

  test("PQ/IVF-PQ ADC top-5: complete ranked lists, distances ascend with rank") {
    for (qname <- Seq("sim_ann_pq", "sim_ann_ivfpq")) {
      val rows = run(qname).collect()
      val byQ = rows.groupBy(_.getLong(0))
      assert(byQ.size == 8 && byQ.values.forall(_.length == 5), qname)
      byQ.values.foreach { rs =>
        val ordered = rs.sortBy(_.getLong(1))
        assert(ordered.map(_.getLong(1)).toSeq == (1L to 5L), qname)
        val ds = ordered.map(_.getDouble(3))
        assert(ds.sameElements(ds.sorted), s"$qname ADC not ascending: ${ds.toSeq}")
        assert(ds.forall(_ >= -1e-9), s"$qname negative squared distance: ${ds.toSeq}")
      }
    }
  }

  test("recall-eval query agrees with the independently computed recall") {
    import spark.implicits._
    val brute = run("sim_knn_brute")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = run("sim_ann_lsh")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val evalRows = run("sim_ann_recall_eval").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(evalRows.keySet == (0L until 8L).toSet)
    evalRows.foreach { case (q, (nTrue, nHit, recall)) =>
      assert(nTrue == 5L)
      val expectHit = brute.count { case (bq, bn) => bq == q && ann((bq, bn)) }
      assert(nHit == expectHit, s"query $q: eval says $nHit, recomputed $expectHit")
      assert(recall == nHit / 5.0)
    }
  }

  test("ANN LSH recall vs brute-force top-5 is usable") {
    import spark.implicits._
    val brute = run("sim_knn_brute")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = run("sim_ann_lsh")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ann).size.toDouble / brute.size
    // 4 tables × 6 planes with 1-bit multi-probe on weakly-clustered
    // vectors (top-5 cosines ≈ 0.3-0.5): expect well over half
    assert(recall >= 0.4, s"recall $recall too low")
    assert(ann.nonEmpty)
  }

  test("IVF ANN with nprobe=3 finds a usable share of true neighbors") {
    import spark.implicits._
    val brute = run("sim_knn_brute")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = run("sim_ann_ivf")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // 10 cells, probing 3 → candidates ≈ 30% of corpus; weakly-clustered
    // vectors put some true neighbors in unprobed cells
    assert(recall >= 0.35, s"recall $recall too low")
    // every query returns a full (or capped) top-5 from its probed cells
    assert(ivf.nonEmpty && ivf.size <= 40)
  }

  test("LSH near-dup: exact subset of brute pairs, usable recall") {
    import spark.implicits._
    val brute = run("sim_neardup_pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "testdata should contain near-dup pairs")
    val lsh = run("sim_neardup_lsh")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // precision is exact by construction: every surfaced pair is
    // cosine-verified, so LSH output ⊆ brute-force output
    assert(lsh.subsetOf(brute), s"LSH invented pairs: ${lsh -- brute}")
    // recall at the borderline threshold (sim=0.4 on weakly-clustered
    // vectors) is the hard case; 4 tables × 6 bits + 1-bit probes give
    // ≈73% here and approach 1 as similarity rises
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("train export: funnel consistent with the clean summary, split, and quality floor") {
    val summary = run("corpus_clean_summary").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = run("corpus_train_export").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(exp.map(_._1).toSet == Set("train", "valid", "test"))
    // export ⊆ quality survivors (decon + benchmark exclusion only shrink)
    assert(exp.map(_._2).sum <= summary("quality_kept"))
    exp.foreach { case (split, n, toks, chars) =>
      assert(n > 0, s"$split empty")
      // quality filter floor: every surviving doc has ≥ 20 tokens
      assert(toks >= 20 * n, s"$split breaks the token floor")
      assert(chars > 0)
    }
    val bySplit = exp.map(e => e._1 -> e._2).toMap
    assert(bySplit("train") > bySplit("valid") && bySplit("train") > bySplit("test"),
      s"80/10/10 shape violated: $bySplit")
  }

  test("dedup/corpus library calls leave no cached RDDs behind") {
    // the caches inside the corpus loan scope and the (now uncached)
    // jaccard query must not outlive the call — library users don't run
    // clearCache() after every invocation
    spark.catalog.clearCache()
    val before = pins
    CorpusPipeline.withCleanedDocs(spark, Sf)(_.count())
    run("corpus_clean_summary").collect()
    run("dedup_jaccard_pairs").collect()
    assertNoNewPins(before)
  }

  test("SQ8 codes: 0..255 integer range, constant dimension maps to 0") {
    import spark.implicits._
    // 64-dim planted vectors; dim 5 constant across the corpus
    def vec(seed: Int): Seq[Double] =
      (0 until 64).map(d => if (d == 5) 3.25 else (seed * 31 + d * 7) % 13 - 6.0)
    val e = (0L until 6L).map(i => (i, vec(i.toInt))).toDF("vec_id", "v")
    val codes = Similarity.sq8Codes(e).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.size == 6)
    codes.values.foreach { c =>
      assert(c.length == 64)
      assert(c.forall(x => x >= 0L && x <= 255L), c)
    }
    assert(codes.values.forall(_(5) == 0L)) // constant dim → code 0
    // min and max of a dimension hit the grid ends exactly
    val d0 = codes.values.map(_(0)).toSeq
    assert(d0.min == 0L && d0.max == 255L)
  }

  test("SQ8 ANN: complete ranked lists, exact distances ascend with rank") {
    val rows = run("sim_ann_sq8").collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 8 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rs =>
      val ordered = rs.sortBy(_.getLong(1))
      assert(ordered.map(_.getLong(1)).toSeq == (1L to 5L))
      val ds = ordered.map(_.getDouble(3))
      assert(ds.sameElements(ds.sorted), s"not ascending: ${ds.toSeq}")
      assert(ds.forall(_ >= -1e-9))
    }
  }

  test("SQ8 ANN recall vs an independent Scala brute-L2 model is high") {
    import spark.implicits._
    // ground truth recomputed OUTSIDE Spark: left-to-right double dot
    // folds, round-4 distances, vec_id tie-break — the engine's own
    // float discipline, independently implemented
    val vecs: Map[Long, Array[Double]] = graft.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (k, v) => k -> v.toArray }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def r4(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val brute = (0L until 8L).flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .map(n => (n, r4(dot(vecs(q), vecs(q)) - 2.0 * dot(vecs(q), vecs(n))
          + dot(vecs(n), vecs(n)))))
        .sortBy { case (n, d) => (d, n) }.take(5).map { case (n, _) => (q, n) }
    }.toSet
    val sq8 = run("sim_ann_sq8")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & sq8).size.toDouble / brute.size
    // 8 bits/dim + refine-20 keeps nearly every true top-5 neighbor
    assert(recall >= 0.8, s"SQ8 recall $recall")
  }

  test("JL projection distortion concentrates near 1 and covers the corpus") {
    val rows = run("emb_jl_projection").collect()
      .map(r => r.getDouble(0) -> r.getLong(1))
    val corpus = graft.Tables.embeddings(spark, Sf).count()
    assert(rows.map(_._2).sum == corpus) // every (nonzero) vector audited
    assert(rows.forall(_._1 > 0)) // a ±1 projection can't zero a nonzero norm...
    val near1 = rows.filter { case (ratio, _) => ratio >= 0.5 && ratio <= 1.6 }
      .map(_._2).sum
    // JL lemma at k=16: std ≈ 0.35, so well over half the mass sits
    // within ±0.5 of 1 (observed: ~85% on this testdata)
    assert(near1.toDouble / corpus >= 0.6, s"only $near1/$corpus near 1")
  }

  test("multimodal resize + frame-sample stages propagate typed metadata") {
    val media = Multimodal.mediaTable(spark, Sf)
    val feats = Multimodal.decodeMedia(Multimodal.encodedMediaTable(spark, Sf))
    val resized = Multimodal.resize(feats, 224, 224).collect()
    assert(resized.forall(f => f.width == 224 && f.height == 224))
    assert(resized.map(_.feature_hash).distinct.length == resized.length)

    import spark.implicits._
    val frames = Multimodal.frameSample(media, n = 4)
    val perDoc = frames.groupByKey(_.doc_id).count().collect().toMap
    assert(perDoc.values.forall(_ == 4L))
    // deterministic offsets: evenly spaced, increasing
    val f7 = frames.filter(_.doc_id == 7L).collect().sortBy(_.frame_idx)
    assert(f7.map(_.offset).sameElements(f7.map(_.offset).sorted))
    assert(f7.map(_.frame_hash).distinct.length == f7.length)
  }

  test("multimodal decode: real header parsing recovers planted dimensions") {
    val media = Multimodal.encodedMediaTable(spark, Sf)
    val feats = Multimodal.decodeMedia(media)
    assert(feats.count() == media.count())
    // doc 5: 5 % 4 == 1 → JFIF/JPEG; dims planted as 16+(5%64)*16 =
    // 16+(5%48)*16 = 96, recovered by the SOF segment walk
    val f = feats.filter(col("doc_id") === 5).collect()(0)
    assert(f.mime == "image/jpeg" && f.container == "jpeg")
    assert(f.width == 96 && f.height == 96)
    assert(f.payload_len > 39 && f.feature_hash.length == 64)
    // doc 7: 7 % 4 == 3 → ISO-BMFF; timescale 600·(1+7%5) = 1800,
    // duration 1000+(7%97)·250 = 2750, recovered by the box walk
    val v = feats.filter(col("doc_id") === 7).collect()(0)
    assert(v.mime == "video/mp4" && v.container == "mp4")
    assert(v.width == 1800 && v.height == 2750)
    assert(v.payload_len > 144 && v.feature_hash.length == 64)
    // every row's detected container matches its claimed mime subtype
    val mismatches = feats.toDF()
      .filter(element_at(split(col("mime"), "/"), 2) =!= col("container"))
      .count()
    assert(mismatches == 0L)
    // deterministic: same input → same features
    val again = Multimodal.decodeMedia(media).filter(col("doc_id") === 5).collect()(0)
    assert(again == f)
  }

  test("container header codecs: byte-exact roundtrips, walks, and rejection") {
    val body = "the content stream".getBytes("UTF-8")
    val png = Multimodal.parseMediaHeader(Multimodal.pngBytes(640, 480, body))
    assert(png == Multimodal.MediaHeader("png", 640, 480, 33))
    val jpg = Multimodal.parseMediaHeader(Multimodal.jpegBytes(1024, 768, body))
    assert(jpg == Multimodal.MediaHeader("jpeg", 1024, 768, 39))
    val wav = Multimodal.parseMediaHeader(Multimodal.wavBytes(44100, 2, body))
    assert(wav == Multimodal.MediaHeader("wav", 44100, 2, 44))
    val mp4 = Multimodal.parseMediaHeader(Multimodal.mp4Bytes(600, 24000, body))
    assert(mp4 == Multimodal.MediaHeader("mp4", 600, 24000, 144))
    // the JPEG walk really SKIPS segments by declared length: corrupt
    // the APP0 length and the SOF is never found at the shifted offset
    val broken = Multimodal.jpegBytes(64, 64, body)
    broken(5) = (broken(5) + 7).toByte
    assert(Multimodal.parseMediaHeader(broken).container == "unknown")
    // raw text bytes are no container at all
    assert(Multimodal.parseMediaHeader(body) ==
      Multimodal.MediaHeader("unknown", -1, -1, 0))
    // PNG signature with a torn IHDR is rejected, not misparsed
    val tornPng = Multimodal.pngBytes(8, 8, body)
    tornPng(12) = 'X'.toByte
    assert(Multimodal.parseMediaHeader(tornPng).container == "unknown")
  }

  test("malformed declared lengths and standalone JPEG markers degrade to unknown, never OOB") {
    val body = "payload body".getBytes("UTF-8")
    // PNG with a corrupt (oversized) IHDR length: body offset would
    // land far past the payload — must classify unknown, not slice OOB
    val hugePng = Multimodal.pngBytes(64, 64, body)
    hugePng(8) = 0x40.toByte // declared chunk length 0x4000000D
    assert(Multimodal.parseMediaHeader(hugePng).container == "unknown")
    // WAV with a sign-negative fmt length
    val negWav = Multimodal.wavBytes(8000, 1, body)
    negWav(19) = 0x80.toByte // le32 fmtLen sign bit
    assert(Multimodal.parseMediaHeader(negWav).container == "unknown")
    // decodeMedia over a corrupt payload must yield a row, not a task
    // failure: the whole payload hashes as the content stream
    import spark.implicits._
    val df = Seq((1L, "image/png", hugePng)).toDF("doc_id", "mime", "payload")
    val row = Multimodal.decodeMedia(df).collect()(0)
    assert(row.container == "unknown" && row.width == -1 &&
      row.payload_len == hugePng.length.toLong)
    // JPEG with FF fill bytes and a restart marker before SOF: the walk
    // must step over the standalone markers and still find the frame
    val jpg = Multimodal.jpegBytes(320, 240, body)
    val withRst = jpg.take(2) ++ Array(0xff, 0xff, 0xff, 0xd0).map(_.toByte) ++ jpg.drop(2)
    val h = Multimodal.parseMediaHeader(withRst)
    assert(h.container == "jpeg" && h.width == 320 && h.height == 240 &&
      h.bodyOffset == 39 + 4)
    // EOI before any SOF frame: malformed, rejected
    val eoiFirst = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte) ++ body
    assert(Multimodal.parseMediaHeader(eoiFirst).container == "unknown")
  }

  test("ISO-BMFF walk: size-0 to-EOF boxes, v1 mvhd, corrupt box sizes, missing mdat") {
    val a = "US-ASCII"
    def b32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val body = "mdat content".getBytes("UTF-8")

    // declared size 0 on the last box legally means to-EOF: the mdat
    // payload is still the content stream
    val mp4 = Multimodal.mp4Bytes(600, 24000, body)
    val zeroSized = mp4.clone()
    b32(0).copyToArray(zeroSized, 136) // mdat's own size field
    val h0 = Multimodal.parseMediaHeader(zeroSized)
    assert(h0 == Multimodal.MediaHeader("mp4", 600, 24000, 144), h0.toString)

    // version-1 mvhd: 64-bit times push timescale to +28, duration's low
    // word to +36 — a real-world file class the fixture never emits
    val mvhd1 = b32(120) ++ "mvhd".getBytes(a) ++ Array[Byte](1, 0, 0, 0) ++
      Array.fill(16)(0.toByte) ++ // 64-bit creation + modification
      b32(90000) ++               // timescale
      b32(0) ++ b32(123456) ++    // 64-bit duration
      Array.fill(80)(0.toByte)    // rate .. next_track_ID
    val v1 = b32(16) ++ "ftyp".getBytes(a) ++ "isom".getBytes(a) ++ b32(0) ++
      b32(128) ++ "moov".getBytes(a) ++ mvhd1
    val h1 = Multimodal.parseMediaHeader(v1)
    // no mdat box: the whole file is header, body at EOF (empty stream)
    assert(h1 == Multimodal.MediaHeader("mp4", 90000, 123456, v1.length), h1.toString)

    // corrupt (oversized) moov size: degrade to unknown, never OOB
    val tornMoov = mp4.clone()
    tornMoov(20) = 0x40.toByte // moov size -> 0x40000074
    assert(Multimodal.parseMediaHeader(tornMoov).container == "unknown")
    // sub-header-sized mvhd declared length inside moov
    val tinyMvhd = mp4.clone()
    b32(4).copyToArray(tinyMvhd, 28) // mvhd size 4 < 8
    assert(Multimodal.parseMediaHeader(tinyMvhd).container == "unknown")

    // header-only mvhd (size exactly 8) whose box ends at EOF: the
    // version byte would be one past the payload — must classify
    // unknown, never throw (the never-OOB decoder contract)
    val headerOnlyMvhd = b32(16) ++ "ftyp".getBytes(a) ++
      "isom".getBytes(a) ++ b32(0) ++
      b32(16) ++ "moov".getBytes(a) ++ b32(8) ++ "mvhd".getBytes(a)
    assert(Multimodal.parseMediaHeader(headerOnlyMvhd).container == "unknown")

    // mvhd fields are UNSIGNED 32-bit: duration 0xFFFFFFFF is the
    // spec's unknown-duration sentinel (common in real files) → 0,
    // and a timescale past 2^31 saturates instead of flipping
    // negative and misclassifying the whole file as unknown
    val sentinelDur = Multimodal.parseMediaHeader(
      Multimodal.mp4Bytes(600, -1 /* 0xFFFFFFFF */, body))
    assert(sentinelDur == Multimodal.MediaHeader("mp4", 600, 0, 144),
      sentinelDur.toString)
    val hugeTs = Multimodal.parseMediaHeader(
      Multimodal.mp4Bytes(Int.MinValue /* u32 2^31 */, 24000, body))
    assert(hugeTs == Multimodal.MediaHeader("mp4", Int.MaxValue, 24000, 144),
      hugeTs.toString)
  }
}
