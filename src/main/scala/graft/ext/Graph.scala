package graft.ext

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the affinity graph implied by the event stream:
  * users are nodes, and two users are adjacent when they share a
  * DOMINANT token — each user contributes their top-2 tokens (`props.k`
  * by event count, count-desc/key-asc tie-break), and users co-member
  * in a token group are connected. The dominant-feature co-membership
  * graph is the community structure behind account-cluster mining on
  * chain data; raw co-interaction would be degenerate here (every token
  * touches ~half the users, so the projection is a near-clique at any
  * scale).
  *
  * Scale shape: the projection is the dangerous step — a token group of
  * g members yields g² pairs — so each token keeps at most
  * [[DefaultMaxTokenMembers]] members, chosen DETERMINISTICALLY by
  * md5(user) order (the hash-ordered capping idiom of
  * `prep_cap_per_source`): per-token pair fan-out is bounded at C(40,2)
  * at ANY corpus size, and unlike drop-the-token capping the group
  * keeps a stable representative subgraph as df grows. Everything
  * downstream is equi-joins on edge endpoints: no all-pairs, no
  * driver-side state beyond 1-row aggregates. Triangle counting keys
  * every join on an endpoint; the `u < v < w` canonical ordering counts
  * each triangle exactly once.
  */
object Graph extends QueryModule {

  /** Deterministic per-token member cap (md5-ordered) — bounds the
    * projection's per-token fan-out at C(cap, 2) forever. */
  val DefaultMaxTokenMembers = 40

  /** Each user's `topK` dominant tokens by event count (ties → smaller
    * k), from mint-bearing events. */
  private[ext] def topTokens(events: DataFrame, topK: Int): DataFrame = {
    val cnts = events.filter(Tables.propK().isNotNull)
      .groupBy(col("user_id"), Tables.propK().as("k"))
      .agg(count(lit(1)).as("cnt"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("k").asc)
    cnts.withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= topK)
      .select(col("user_id"), col("k"))
  }

  /** Canonical (u < v) co-membership edges over md5-capped token
    * groups. The cap is TWO-STAGE (the `Similarity.cappedClusterMembers`
    * idiom): a map-side md5-threshold thinning against broadcast
    * per-token sizes cuts a hot token's membership to ~2·cap rows with
    * no shuffle — a plain per-token `row_number` would sort the whole
    * hot membership on one task, the exact skew the cap defends
    * against — then the exact md5-ordered rank restores the strict
    * ≤ cap bound on the trivially small survivor set. Inert for
    * memberships ≤ 2·cap; both stages replay in the oracle. (The sizes
    * broadcast is token-domain-sized — mint addresses, not open text
    * vocabulary — small by construction.) */
  def edges(events: DataFrame, topK: Int = 2,
      maxMembers: Int = DefaultMaxTokenMembers): DataFrame =
    pairs(cap(topTokens(events, topK), maxMembers))

  /** `topTokens` memberships capped at `maxMembers` per token: the
    * broadcast sizes build and the thinning probe both read `inc`. */
  private def cap(inc: DataFrame, maxMembers: Int): DataFrame = {
    val sizes = inc.groupBy(col("k")).agg(count(lit(1)).as("_ksz"))
    val ukey = Dedup.h60(col("user_id").cast("string"))
    val thinned = inc.join(broadcast(sizes), Seq("k"))
      .filter(ukey.cast("double") * col("_ksz").cast("double") <
        lit(Similarity.thinningBound(maxMembers)))
      .select(col("user_id"), col("k"))
    val byTok = Window.partitionBy(col("k"))
      .orderBy(md5(col("user_id").cast("string")), col("user_id"))
    thinned.withColumn("mrn", row_number().over(byTok))
      .filter(col("mrn") <= maxMembers)
      .select(col("user_id"), col("k"))
  }

  /** The projection self-join: both sides read `capped`. */
  private def pairs(capped: DataFrame): DataFrame =
    capped.as("a").join(capped.as("b"), Seq("k"))
      .filter(col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .distinct()

  /** Loan-scoped edge builder: [[edges]] with its two REUSED, bounded
    * intermediates pinned for `f` — `inc` (topK rows per user) feeds
    * both cap stages and `capped` (maxMembers rows per token) both sides
    * of the projection; left unpinned, each executes once per consumer
    * (for `inc` the full events scan + shuffle agg + per-user window,
    * twice: the round-6 graph-family regression). `f` must FULLY
    * materialize whatever it returns (both query defs below return
    * bounded local results); a lazily-returned frame would re-execute
    * the then-unpinned plan. */
  private[ext] def withEdges[T](events: DataFrame, topK: Int = 2,
      maxMembers: Int = DefaultMaxTokenMembers)(f: DataFrame => T): T =
    Pins.scoped(topTokens(events, topK)) { inc =>
      Pins.scoped(cap(inc, maxMembers))(capped => f(pairs(capped)))
    }

  /** Degree histogram: how many nodes have each degree. One pass over
    * the edge list — each edge contributes both endpoints via
    * `explode(array(u, v))` — so the (possibly uncached) edge plan
    * evaluates once, not once per endpoint column. */
  def degreeHistogram(edgeDf: DataFrame): DataFrame =
    edgeDf.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** The (u, v, w) triangle rows, u<v<w canonical: for each wedge with
    * edges (u,v),(v,w), probe (u,w). Both joins are endpoint equi-joins
    * — exposed separately so the plan can be GATED (the eager census
    * below returns a LocalRelation, which hides these joins from any
    * plan assertion on the final frame). */
  private[ext] def triangleRows(e: DataFrame): DataFrame =
    e.as("ab").join(e.as("bc"), col("ab.v") === col("bc.u"))
      .select(col("ab.u").as("u"), col("ab.v").as("v"), col("bc.v").as("w"))
      .as("abw")
      .join(e.as("ac"),
        col("abw.u") === col("ac.u") && col("abw.w") === col("ac.v"),
        "left_semi")

  /** Global triangle census: nodes, edges, wedges, triangles, and the
    * global clustering coefficient 3·triangles / wedges. The edge set
    * is pinned for the four aggregates ([[Pins.scoped]]); each aggregate
    * is a 1-row driver value. */
  def triangleCensus(edgeDf: DataFrame): DataFrame =
    Pins.scoped(edgeDf) { e =>
      // nodes + wedges from ONE job over the degree frame (a distinct
      // node IS a degree group, so counting groups replaces a separate
      // distinct+count action; wedges: Σ deg·(deg−1)/2, integer-exact)
      val nw = e.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("w"))
        .head()
      val (nNodes, wedges) = (nw.getLong(0), nw.getLong(1))
      val nEdges = e.count()
      val tri = triangleRows(e).count()
      val spark = edgeDf.sparkSession
      import spark.implicits._
      Seq((nNodes, nEdges, wedges, tri,
          if (wedges == 0) 0.0 else 3.0 * tri / wedges))
        .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles", "clustering")
        .withColumn("clustering", round(col("clustering"), 4))
    }

  /** Q24 damping factor: floor(0.85 · 2^24). Derived, not a literal, so
    * the Spark plan and the oracle SQL interpolate the SAME constant. */
  private[ext] val PrFp = 1L << 24
  private[ext] val PrDampingQ24 = PrFp * 85L / 100L // 14260633
  private[ext] val PrIters = 3

  /** PageRank over the undirected co-membership graph, in EXACT Q24
    * integer arithmetic — every operation is an int64 add, multiply, or
    * truncating division, so the ranks are order-free and bit-identical
    * across engines (the [[Similarity.FpScale]] argument applied to an
    * iterative algorithm: no float sum ever happens, so there is no
    * summation-order seam for the differential gate to false-fail on).
    * Recurrence per node v: r'(v) = (2^24·(1−d)) div N
    * + (D_q24 · Σ_{u∼v} (r(u) div deg(u))) div 2^24, d = 0.85 in Q24.
    * Truncating division loses ≤ 1 ulp of Q24 mass per term — a 6e-8
    * relative bias, far below the float32 precision class of any real
    * ranking use, in exchange for exactness.
    *
    * Scale shape: each iteration is one equi-join of the edge list with
    * the rank frame on the source endpoint, one hash aggregate on the
    * destination, and one join back to the degree frame — all keyed by
    * node, so a cluster run pre-partitions `sym`/`deg` once by node and
    * every iteration reuses that partitioning with zero extra shuffles
    * of the (static) edge list. Iteration count is FIXED (truncated
    * power iteration), state is O(V) rows, and the only driver-side
    * values are 1-row aggregates. No dangling-node term is needed:
    * every node of an edge-projected graph has degree ≥ 1 by
    * construction. Returns the top 20 (rank desc, node asc) as a
    * materialized local frame, keeping the module's loan discipline. */
  private[ext] def pageRank(edgeDf: DataFrame, iters: Int = PrIters): DataFrame = {
    val spark = edgeDf.sparkSession
    // both directions in ONE scan of the edge plan (the degreeHistogram
    // explode idiom, not a two-scan union)
    // src-partitioned BEFORE the pin: every iteration joins sym on
    // src and the InMemoryRelation carries the exchange's partitioning,
    // so the per-iteration sym-side shuffle (x3) and the deg
    // aggregate's exchange collapse into the one pinned repartition
    // (guide §2.4: two operations keyed the same way share one
    // exchange; here four do)
    val bySrc = edgeDf.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("p"))
      .select(col("p.src"), col("p.dst"))
      .repartition(col("src"))
    Pins.scoped(bySrc) { sym =>
      Pins.scoped(sym.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))) { deg =>
        val nn = broadcast(deg.agg(count(lit(1)).as("n")))
        var ranks = deg.crossJoin(nn) // 1-row broadcast scalar
          .select(col("node"), col("deg"), col("n"),
            expr(s"$PrFp div n").as("r"))
        for (_ <- 1 to iters) {
          val contrib = sym
            .join(ranks.select(col("node").as("src"), col("deg"), col("r")), "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(expr("r div deg")).as("s"))
          ranks = deg.crossJoin(nn).join(contrib, Seq("node"), "left")
            .select(col("node"), col("deg"), col("n"),
              (expr(s"${PrFp - PrDampingQ24} div n") +
                expr(s"($PrDampingQ24 * coalesce(s, 0L)) div $PrFp")).as("r"))
        }
        val top = ranks
          .orderBy(col("r").desc, col("node").asc).limit(20)
          .select(col("node"), col("deg").as("degree"), col("r").as("rank_q24"))
        spark.createDataFrame(java.util.Arrays.asList(top.collect(): _*), top.schema)
      }
    }
  }

  // DuckDB mirror of [[pageRank]]: the same integer recurrence with the
  // iterations unrolled as CTEs (i1..iN). Every sum is CAST back to
  // BIGINT (DuckDB widens sum(BIGINT) to HUGEINT; the values themselves
  // fit int64 — total Q24 mass is ≤ 2^24 so D·Σ ≤ 2^48).
  private def dPageRank(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"i${i - 1}"
      s"""i$i AS (
         |  SELECT d.node, d.deg,
         |    ${PrFp - PrDampingQ24} // nn.n
         |      + CAST(($PrDampingQ24 * coalesce(c.s, 0)) // $PrFp AS BIGINT) AS r
         |  FROM deg d CROSS JOIN nn
         |  LEFT JOIN (SELECT sym.dst AS node, CAST(sum(p.r // p.deg) AS BIGINT) AS s
         |             FROM sym JOIN $prev p ON sym.src = p.node GROUP BY 1) c
         |    USING (node))""".stripMargin
    }.mkString(",\n")
    s"""sym AS (SELECT u AS src, v AS dst FROM edges
       |       UNION ALL SELECT v, u FROM edges),
       |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT node, deg, $PrFp // nn.n AS r FROM deg CROSS JOIN nn),
       |$steps""".stripMargin
  }

  /** k-core peeling parameters: KcoreK = 3 (the smallest core that
    * separates community structure from pendant/path fringe) peeled for
    * KcoreRounds fixed rounds. Fixed rounds, not run-to-convergence,
    * for the same reason PageRank fixes its iteration count: the oracle
    * unrolls the exact computation, and the per-round trajectory is
    * itself the useful audit output (how fast the fringe burns off). */
  private[ext] val KcoreK = 3
  private[ext] val KcoreRounds = 3

  /** One peeling trajectory row per round: surviving node/edge counts
    * after each round of dropping nodes with degree < k (edges keep
    * only endpoints that survived). Every step is a count aggregate +
    * two semi-joins on endpoints — integer-only, no float anywhere.
    * Scale: each round is one degree aggregate (the explode idiom, one
    * scan) and one endpoint semi-join; the edge frame shrinks
    * monotonically, and round count is fixed, so the whole peel is
    * O(rounds) joins over a frame that only ever gets smaller. The
    * k-core is the standard web/account-graph quality filter: fringe
    * nodes (degree < k after peeling) are the crawl dust / one-shot
    * accounts a corpus pipeline drops before mining communities. */
  private[ext] def kcoreTrajectory(edgeDf: DataFrame,
      k: Int = KcoreK, rounds: Int = KcoreRounds): DataFrame = {
    val spark = edgeDf.sparkSession
    import spark.implicits._
    // Each round reads its input three times (degree pass + two
    // endpoint semi-join probes), so the input must be materialized per
    // round. CHAINED CACHES are the trap here: round N's cached frame
    // embeds every prior round's plan, and in practice the cache-manager
    // lookup stops hitting on those nested trees — each probe then
    // re-derives the whole prefix, a 3^rounds re-execution blowup
    // (measured ~12 s for round 3 alone at sf0.1 where the flat form
    // runs the full peel in ~0.5 s). So each round's survivor edge set
    // is LAZILY `localCheckpoint`ed instead (the
    // [[Dedup.connectedComponents]] idiom): the count materializes it
    // into a flat RDD leaf in the same job, the next round's three
    // reads hit stored blocks, and per-round plan/analysis cost stays
    // constant. Prior rounds' checkpoint RDDs are released eagerly
    // ([[Pins.release]]) so exactly one edge frame is live at a time.
    var cur = edgeDf.transform(Pins.pin)
    var kept: DataFrame = null
    try {
      val traj = (1 to rounds).map { round =>
        val deg = cur.select(explode(array(col("u"), col("v"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        kept = deg.filter(col("deg") >= k).select(col("node"))
          .transform(Pins.pin)
        val nKept = kept.count()
        val e1 = cur.join(kept.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .join(kept.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v")).transform(Pins.pin)
        val nEdges = try e1.count()
          catch { case t: Throwable => Pins.release(e1); throw t }
        Pins.release(kept); kept = null
        Pins.release(cur)
        cur = e1
        (round.toLong, nKept, nEdges)
      }
      traj.toDF("round", "n_nodes", "n_edges")
    } finally {
      // success path releases the final frame; a thrown round releases
      // whatever is still live (exactly one edge frame + maybe kept)
      Pins.release(cur)
      if (kept != null) Pins.release(kept)
    }
  }

  // DuckDB mirror of [[kcoreTrajectory]]: rounds unrolled as CTEs.
  private def dKcore(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      val prev = if (i == 1) "edges" else s"e${i - 1}"
      s"""k$i AS (
         |  SELECT node FROM (
         |    SELECT node, count(*) AS deg FROM (
         |      SELECT u AS node FROM $prev UNION ALL SELECT v FROM $prev)
         |    GROUP BY 1) WHERE deg >= $k),
         |e$i AS (
         |  SELECT u, v FROM $prev
         |  WHERE u IN (SELECT node FROM k$i) AND v IN (SELECT node FROM k$i))"""
        .stripMargin
    }.mkString(",\n")
    val rows = (1 to rounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  (SELECT count(*) FROM k$i) AS n_nodes,
         |  (SELECT count(*) FROM e$i) AS n_edges""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"$steps\n$rows\nORDER BY round"
  }

  /** Label-propagation round count. Fixed (like [[PrIters]]): the
    * oracle unrolls the rounds, and synchronous LPA has no general
    * convergence guarantee anyway (bipartite structures oscillate —
    * GraphSpec pins one), so run-to-convergence would be a bug, not a
    * feature. 3 rounds reaches the clique-scale communities this
    * projection produces. */
  private[ext] val LpRounds = 3

  /** Synchronous label propagation (LPA): every node starts in its own
    * community (label = node id) and each round adopts the most common
    * label among its neighbors, ties broken toward the SMALLEST label —
    * fully deterministic, all-integer, so the oracle replays it
    * verbatim. The standard cheap community-detection pass over account
    * graphs (the step between "connected components" — too coarse here,
    * the capped projection is one giant component — and modularity
    * methods that don't distribute).
    *
    * Scale shape per round: one equi-join of the static symmetrized
    * edge list with the O(V) label frame on the source endpoint, then
    * two hash aggregates — neighbor-label counts keyed (node, label),
    * and the argmax via `max_by(lbl, struct(c, -lbl))` (max count, then
    * min label) keyed node — with map-side partials on both. A cluster
    * run pre-partitions `sym` by src once and every round reuses it;
    * state stays O(V) rows; round count is fixed. The final community
    * sizes are a bounded top-20 (size desc, label asc), collected to a
    * LocalRelation inside the loan like [[pageRank]]. */
  private[ext] def labelPropagation(edgeDf: DataFrame,
      rounds: Int = LpRounds): DataFrame = {
    val spark = edgeDf.sparkSession
    // both directions in one scan of the edge plan (the pageRank idiom)
    Pins.scoped(edgeDf.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("p"))
      .select(col("p.src"), col("p.dst"))) { sym =>
      // ROUND-ITERATED frame ⇒ lazy localCheckpoint + eager release
      // every round (the [[kcoreTrajectory]] idiom): plain reassignment
      // alone would nest round N's plan inside round N+1's, so the final
      // plan re-derives every prior round's join+argmax on each
      // consumption — quadratic re-execution at real round counts, and
      // plan/analysis cost growing per round. One label frame
      // (node-sized, tiny next to the edges) is live at a time.
      var labels = sym.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
        .transform(Pins.pin)
      try {
        for (_ <- 1 to rounds) {
          val cnt = sym
            .join(labels.select(col("node").as("src"), col("lbl")), "src")
            .groupBy(col("dst").as("node"), col("lbl"))
            .agg(count(lit(1)).as("c"))
          // (node, lbl) is a grouping key, so the (c, -lbl) pairs are
          // distinct per node: the argmax is unambiguous, no tie seam
          val next = cnt.groupBy(col("node"))
            .agg(expr("max_by(lbl, struct(c, -lbl))").as("lbl"))
            .transform(Pins.pin)
          // materialize the new round BEFORE releasing its ancestor
          try next.count()
          catch { case t: Throwable => Pins.release(next); throw t }
          Pins.release(labels)
          labels = next
        }
        val top = labels.groupBy(col("lbl").as("community"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy(col("n_members").desc, col("community").asc).limit(20)
        spark.createDataFrame(java.util.Arrays.asList(top.collect(): _*), top.schema)
      } finally Pins.release(labels)
    }
  }

  // DuckDB mirror of [[labelPropagation]]: rounds unrolled as CTEs;
  // `max_by(lbl, struct(c, -lbl))` replayed as max-count-then-min-label
  // (DuckDB's arg_max takes no struct key).
  private def dLabelProp(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""c$i AS (SELECT sym.dst AS node, p.lbl, count(*) AS c
         |  FROM sym JOIN $prev p ON sym.src = p.node GROUP BY 1, 2),
         |l$i AS (SELECT c.node, min(c.lbl) AS lbl
         |  FROM c$i c JOIN (SELECT node, max(c) AS mc FROM c$i GROUP BY 1) m
         |    ON c.node = m.node AND c.c = m.mc
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""sym AS (SELECT u AS src, v AS dst FROM edges
       |       UNION ALL SELECT v, u FROM edges),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
       |$steps
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
       |FROM l$rounds GROUP BY 1
       |ORDER BY n_members DESC, community LIMIT 20""".stripMargin
  }

  private def dEdges(topK: Int, maxMembers: Int) =
    s"""cnts AS (
       |  SELECT user_id, CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
       |         count(*) AS cnt
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |  GROUP BY 1, 2),
       |inc AS (
       |  SELECT user_id, k FROM (
       |    SELECT user_id, k, row_number() OVER (
       |      PARTITION BY user_id ORDER BY cnt DESC, k ASC) AS rn
       |    FROM cnts) WHERE rn <= $topK),
       |ksz AS (SELECT k, count(*) AS n FROM inc GROUP BY 1),
       |thin AS (
       |  SELECT i.user_id, i.k FROM inc i JOIN ksz USING (k)
       |  WHERE CAST(${Dedup.dH60("CAST(i.user_id AS VARCHAR)")} AS DOUBLE)
       |        * CAST(ksz.n AS DOUBLE) < ${Similarity.thinningBound(maxMembers)}),
       |capped AS (
       |  SELECT user_id, k FROM (
       |    SELECT user_id, k, row_number() OVER (
       |      PARTITION BY k ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS mrn
       |    FROM thin) WHERE mrn <= $maxMembers),
       |edges AS (
       |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
       |  FROM capped a JOIN capped b ON a.k = b.k AND a.user_id < b.user_id)""".stripMargin

  override val defs: Seq[(String, Q)] = Seq(

    // Degree distribution of the capped dominant-token graph. Eager
    // within the loan: a node's degree is ≤ topK·(maxMembers−1) (its
    // ≤ topK groups × (cap−1) co-members each), so the histogram has
    // that many rows at most — a bounded driver-side result, same
    // class as the 1-row census.
    "graph_degree_hist" -> Q(
      (s, dir) => withEdges(Tables.events(s, dir)) { e =>
        val h = degreeHistogram(e)
        s.createDataFrame(java.util.Arrays.asList(h.collect(): _*), h.schema)
      },
      Some(s"""WITH ${dEdges(2, DefaultMaxTokenMembers)},
              |nodes AS (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges),
              |deg AS (SELECT node, count(*) AS degree FROM nodes GROUP BY 1)
              |SELECT degree, count(*) AS n_nodes FROM deg
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "degree histogram of the dominant-token co-membership graph"),

    // Triangle census + global clustering coefficient.
    "graph_triangles" -> Q(
      (s, dir) => withEdges(Tables.events(s, dir))(triangleCensus),
      Some(s"""WITH ${dEdges(2, DefaultMaxTokenMembers)},
              |nodes AS (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges),
              |deg AS (SELECT node, count(*) AS deg FROM nodes GROUP BY 1),
              |tri AS (
              |  SELECT count(*) AS t FROM edges ab
              |  JOIN edges bc ON ab.v = bc.u
              |  WHERE EXISTS (SELECT 1 FROM edges ac
              |                WHERE ac.u = ab.u AND ac.v = bc.v)),
              |wed AS (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT) AS w
              |        FROM deg)
              |SELECT
              |  (SELECT count(DISTINCT node) FROM nodes) AS n_nodes,
              |  (SELECT count(*) FROM edges) AS n_edges,
              |  wed.w AS n_wedges,
              |  tri.t AS n_triangles,
              |  round(CASE WHEN wed.w = 0 THEN 0.0e0
              |        ELSE 3.0e0 * tri.t / wed.w END, 4) AS clustering
              |FROM tri, wed""".stripMargin),
      doc = "triangle census of the co-membership graph (endpoint equi-joins only)"),

    // Top-20 PageRank nodes of the co-membership graph — the classic
    // web-graph quality prior a corpus pipeline ranks domains/accounts
    // by. Exact Q24 integer arithmetic end to end: the oracle replays
    // the full 3-iteration recurrence unrolled in SQL and the ranks
    // hash-compare verbatim (no float summation anywhere).
    "graph_pagerank" -> Q(
      (s, dir) => withEdges(Tables.events(s, dir))(e => pageRank(e)),
      Some(s"""WITH ${dEdges(2, DefaultMaxTokenMembers)},
              |${dPageRank(PrIters)}
              |SELECT node, deg AS degree, r AS rank_q24 FROM i$PrIters
              |ORDER BY rank_q24 DESC, node LIMIT 20""".stripMargin),
      doc = "Q24 integer PageRank (3 fixed iterations), top-20 by rank"),

    // k-core peeling trajectory: surviving nodes/edges after each of 3
    // rounds of dropping degree-<3 nodes — the classic graph-quality
    // filter (crawl-dust / one-shot-account removal) with its burn-off
    // rate as the audit output. Integer-only; the oracle unrolls the
    // identical peel.
    "graph_kcore" -> Q(
      (s, dir) => withEdges(Tables.events(s, dir))(e => kcoreTrajectory(e)),
      Some(s"""WITH ${dEdges(2, DefaultMaxTokenMembers)},
              |${dKcore(KcoreK, KcoreRounds)}""".stripMargin),
      doc = s"k-core peel (k=$KcoreK, $KcoreRounds rounds): per-round survivor counts"),

    // Synchronous label-propagation communities (3 fixed rounds,
    // most-common-neighbor-label, ties → smallest): top-20 community
    // sizes. All-integer and fully deterministic — the oracle unrolls
    // the identical rounds and hash-compares the sizes verbatim.
    "graph_labelprop" -> Q(
      (s, dir) => withEdges(Tables.events(s, dir))(e => labelPropagation(e)),
      Some(s"""WITH ${dEdges(2, DefaultMaxTokenMembers)},
              |${dLabelProp(LpRounds)}""".stripMargin),
      doc = s"label-propagation communities ($LpRounds sync rounds), top-20 by size"),
  )
}
