package graft.ext

import graft.SparkSpec

/** Planted-graph checks for the dominant-token projection, the
  * deterministic member cap, and the triangle census (the oracle
  * re-derives the same numbers in SQL; these pin hand-computed ground
  * truth). */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** events with props.k: one row per (user, token) OCCURRENCE. */
  private def evOf(occ: (Long, Int)*) =
    occ.map { case (u, k) => (u, s"""{"k": $k}""") }.toDF("user_id", "props")

  // Planted corpus: top-2 tokens per user are
  //   u1: {7, 8}  (7×3, 8×2, 9×1 — 9 is cut by topK=2)
  //   u2: {7, 9}  (tie 2–2 broken toward smaller k)
  //   u3: {8, 9}
  //   u4: {7}     (only token)
  // Groups: 7:{1,2,4}, 8:{1,3}, 9:{2,3}
  // Edges: (1,2),(1,4),(2,4),(1,3),(2,3)
  private def planted = evOf(
    (1L, 7), (1L, 7), (1L, 7), (1L, 8), (1L, 8), (1L, 9),
    (2L, 7), (2L, 7), (2L, 9), (2L, 9),
    (3L, 8), (3L, 9),
    (4L, 7))

  test("projection: top-2 tokens only, count-desc/key-asc tie-break") {
    val tt = Graph.topTokens(planted, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(tt == Set((1L, 7), (1L, 8), (2L, 7), (2L, 9), (3L, 8), (3L, 9), (4L, 7)))
  }

  test("edges: co-membership cliques, canonical u<v, dedup'd") {
    val e = Graph.edges(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (1L, 4L), (2L, 4L), (1L, 3L), (2L, 3L)))
  }

  test("member cap keeps a deterministic subset, bounding pair fan-out") {
    // token 7 has members {1,2,4}; cap 2 keeps exactly one pair
    val e = Graph.edges(evOf((1L, 7), (2L, 7), (4L, 7)), maxMembers = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e.length == 1)
    // and the kept pair is stable run to run
    val e2 = Graph.edges(evOf((1L, 7), (2L, 7), (4L, 7)), maxMembers = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e.sameElements(e2))
  }

  test("triangle census: hand-computed wedges, triangles, clustering") {
    val census = Graph.triangleCensus(Graph.edges(planted)).collect()(0)
    assert(census.getLong(0) == 4L) // nodes
    assert(census.getLong(1) == 5L) // edges
    // degrees 1:3, 2:3, 3:2, 4:2 → wedges 3+3+1+1 = 8
    assert(census.getLong(2) == 8L)
    // triangles: (1,2,4) and (1,2,3)
    assert(census.getLong(3) == 2L)
    assert(census.getDouble(4) == 0.75) // 3·2/8
  }

  test("degree histogram counts nodes per degree") {
    val h = Graph.degreeHistogram(Graph.edges(planted))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(2L -> 2L, 3L -> 2L))
  }

  test("empty graph: census is all zeros, not nulls") {
    val census = Graph.triangleCensus(Graph.edges(evOf((1L, 7)))).collect()(0)
    assert((0 to 3).map(census.getLong) == Seq(0L, 0L, 0L, 0L))
    assert(census.getDouble(4) == 0.0)
  }

  test("census leaves no cached RDDs behind (loan-scoped cache)") {
    val before = pins
    Graph.triangleCensus(Graph.edges(planted)).collect()
    assertNoNewPins(before)
  }

  test("withEdges releases its intermediate caches and matches edges()") {
    val before = pins
    val viaLoan = Graph.withEdges(planted) { e =>
      e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assertNoNewPins(before)
    val direct = Graph.edges(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLoan == direct)
  }

  /** Plain-Scala model of the EXACT integer recurrence in
    * [[Graph.pageRank]] — Map-based, no Spark — so the distributed
    * operator is checked against an independently-written reference,
    * not against itself. */
  private def prModel(edges: Set[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
    val deg = sym.groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
    val n = deg.size.toLong
    val fp = Graph.PrFp
    val d = Graph.PrDampingQ24
    var r = deg.map { case (node, _) => node -> fp / n }
    for (_ <- 1 to iters) {
      val s = sym.groupBy(_._2).map { case (dst, ins) =>
        dst -> ins.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = deg.map { case (node, _) =>
        node -> ((fp - d) / n + d * s.getOrElse(node, 0L) / fp)
      }
    }
    r
  }

  test("pageRank matches the integer-recurrence model on the planted graph") {
    val edges = Set((1L, 2L), (1L, 4L), (2L, 4L), (1L, 3L), (2L, 3L))
    val got = Graph.pageRank(planted.sparkSession
        .createDataFrame(edges.toSeq).toDF("u", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = prModel(edges, Graph.PrIters)
    // every returned (node, rank) matches the model; degree matches too
    val deg = Map(1L -> 3L, 2L -> 3L, 3L -> 2L, 4L -> 2L)
    assert(got.length == 4)
    got.foreach { case (node, d, rq24) =>
      assert(rq24 == want(node), s"node $node")
      assert(d == deg(node))
    }
    // ordering: rank desc, node asc
    assert(got.sortBy(t => (-t._3, t._1)).sameElements(got))
    // mass sanity: truncation only ever LOSES Q24 mass, never creates it
    assert(got.map(_._3).sum <= Graph.PrFp)
  }

  test("pageRank on a path graph ranks the center above the leaves") {
    // 1–2–3: node 2 has both in-links; exact model agreement again
    val edges = Set((1L, 2L), (2L, 3L))
    val before = pins
    val got = Graph.pageRank(planted.sparkSession
        .createDataFrame(edges.toSeq).toDF("u", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val want = prModel(edges, Graph.PrIters)
    got.foreach { case (node, rq24) => assert(rq24 == want(node)) }
    assert(got.head._1 == 2L) // center ranked first
    assertNoNewPins(before) // loan released
  }

  test("k-core peel removes the fringe and keeps the planted core") {
    // K4 core {1,2,3,4} + pendant path 4–5–6: degrees 5:2, 6:1 < 3, so
    // the fringe burns off in round 1 and the K4 (all degrees 3) is a
    // fixed point of every later round
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("u", "v")
    val traj = Graph.kcoreTrajectory(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(traj.toSeq == Seq((1L, 4L, 6L), (2L, 4L, 6L), (3L, 4L, 6L)))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty) // loan released
  }

  test("k-core peel needs multiple rounds for a chained fringe") {
    // pendant CHAIN 4–5, 5–6 where 5 initially has degree 2 < 3 —
    // round 1 removes both 5 and 6; a star center 7 with 3 one-shot
    // leaves survives round 1 (degree 3) but dies in round 2 once its
    // leaves (degree 1) are gone
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = Seq((7L, 8L), (7L, 9L), (7L, 10L), (1L, 7L))
    val edges = (k4 ++ star).toDF("u", "v")
    val traj = Graph.kcoreTrajectory(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // round 1: leaves 8,9,10 die (deg 1); 7 survives on deg 4
    // round 2: 7 drops to deg 1 (only edge 1–7) → dies; K4 remains
    assert(traj(0) == (1L, 5L, 7L))
    assert(traj(1) == (2L, 4L, 6L))
    assert(traj(2) == (3L, 4L, 6L))
  }

  test("label propagation converges two bridged cliques to two communities") {
    // two K4s {1..4} and {5..8} joined by bridge 4–5. Hand-run of the
    // sync rounds (most-common neighbor label, ties → smallest):
    //   r1: 1→2, 2→1, 3→1, 4→1 (sees {1,2,3,5}, all c=1, min=1),
    //       5→4, 6→5, 7→5, 8→5
    //   r2: clique labels consolidate — {1,2,3,4}→1 (4 sees {2,1,1,4}:
    //       c(1)=2 wins), {5,6,7,8}→5 (5 sees {1,5,5,5}: c(5)=3 wins)
    //   r3: fixed point — bridge endpoints keep their clique majority
    val k4a = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k4b = for (a <- 5L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val edges = (k4a ++ k4b ++ Seq((4L, 5L))).toDF("u", "v")
    val before = pins
    val out = Graph.labelPropagation(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 4L), (5L, 4L)))
    // every round pins its labels and releases the previous round's
    assertNoNewPins(before)
  }

  test("label propagation is deterministic on the oscillating path (fixed rounds)") {
    // sync LPA oscillates on bipartite-ish structures — the path 1–2–3
    // never converges: r1 {1:2, 2:1, 3:2}, r2 {1:1, 2:2, 3:1},
    // r3 {1:2, 2:1, 3:2}. The FIXED round count makes the result
    // well-defined anyway (communities: label 2 ×2, label 1 ×1) — the
    // determinism the oracle differential relies on.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val out = Graph.labelPropagation(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((2L, 2L), (1L, 1L)))
  }

  test("triangle joins are hash equi-joins, never all-pairs (plan gate)") {
    // the census's final frame is a LocalRelation (eager 1-row census),
    // so the join stages must be gated on the exposed triangleRows plan
    val rows = Graph.triangleRows(Graph.edges(graft.Tables.events(spark, Sf)))
    rows.collect()
    val p = rows.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }
}
