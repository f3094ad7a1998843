package graft.ext

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (`embedding array<float>`, 64-dim) — north-star ops.
  *
  * Float discipline for oracle parity: every dot product is an ORDERED
  * left-to-right fold over the array in DOUBLE (`aggregate`/`zip_with` on
  * the Spark side ≡ DuckDB `list_dot_product` on `DOUBLE[]`) — identical
  * IEEE operation sequences, so the doubles match bit-for-bit; results
  * additionally round to 4 decimals and tie-break on vec_id.
  *
  * Scale path: brute force is the correctness baseline (a broadcast
  * nested-loop of Q queries × N vectors — linear in N, embarrassingly
  * parallel). The LSH variant bounds the candidate set via sign-sketch
  * bucket equi-join, the strategy that survives 100 TB where brute force
  * cannot.
  */
object Similarity extends QueryModule {

  private def emb(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)

  /** embedding float[] → double[] (exact widening on both engines). */
  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** The packed Q24 upper-triangle Gram sums of the embedding corpus as
    * a driver-local vector — ONE scan through the native
    * [[graft.functions.GramAggregate]] buffer aggregate; d(d+1)/2 int64
    * cells of driver state (16 KB at d = 64), shared by
    * `emb_gram_matrix` and `emb_pca_power_step`. Returns None for an
    * EMPTY corpus: the aggregate's initial buffer is all zeros, but the
    * oracle's explode+GROUP BY yields zero GROUPS on empty input, so
    * the queries must emit zero rows, not 2080 zero cells — the row
    * count rides in the same one-pass aggregation. A cell is None when
    * NO row contributed to it (all vectors null/empty/short at that dim
    * pair): SQL's SUM over no terms is NULL, and the oracle answers
    * NULL there, not 0 — the consumers propagate the distinction. */
  private def gramSums(s: SparkSession, dir: String): Option[IndexedSeq[Option[Long]]] = {
    val r = emb(s, dir).select(vecD(col("embedding")).as("v"))
      .agg(graft.functions.GramAggregate.gram_acc(col("v"), Dims, FpScale).as("g"),
        count(lit(1)).as("n"))
      .head()
    if (r.getLong(1) == 0L) None
    else Some(r.getSeq[java.lang.Long](0).toIndexedSeq
      .map(x => Option(x).map(_.longValue())))
  }

  // DuckDB mirror: list_dot_product on DOUBLE[] folds pairwise products
  // left-to-right, same as the Spark aggregate above.
  private def dCos(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** Left-to-right double dot product — the exact operation sequence of
    * both the Spark HOF fold and DuckDB's list_dot_product. */
  private def kernelDot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Spark's round() semantics on double (HALF_UP at scale 4). */
  private def roundHalfUp4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Deterministic ±1 hyperplanes derived from md5 parity — the Scala
    * and SQL generators produce identical signs (shared md5). */
  private[ext] def planeSign(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${p}_$d".getBytes("UTF-8"))
    if (((md(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
  }

  /** LSH geometry shared by the ANN and near-dup queries: L=4 hash
    * tables of k=6 sign bits. k trades bucket size vs recall and would
    * grow with corpus size (k ≈ log2(n/target_bucket)); L and the probe
    * radius buy recall at linear cost. */
  private[ext] val LshTables = 4
  private[ext] val LshBits = 6

  /** Embedding dimensionality of the testdata store. */
  private[ext] val Dims = 64

  /** Pair-stage membership cap for semantic dedup: at most this many
    * members per cluster enter the quadratic within-cluster comparison,
    * chosen deterministically by md5 order (the `Graph.edges` cap
    * idiom). At the test SFs every cluster sits far below the cap, so
    * the cap is inert there — and the oracle replays it verbatim anyway,
    * so it stays oracle-checked even when it fires. At 100 TB it bounds
    * the self-join fan-out at C(cap, 2) per cluster instead of
    * O((n/k)²) — the round-5 scale hazard. Members past the cap are
    * never compared, hence always kept: the standard
    * recall-for-boundedness trade (a capped member can still be dropped
    * in a LATER pass — re-cluster with more seeds, or route the residue
    * through the sim_neardup_lsh masked-key path — but never silently
    * compared quadratically). */
  val SemDedupMaxMembers = 20000

  /** Comparison-block size for the within-cluster pair stage: capped
    * members are further split into md5-ordered CHUNKS of this size and
    * pairs are compared only within a chunk, so per-cluster work is
    * (members/chunk)·C(chunk, 2) — LINEAR in members — instead of
    * C(cap, 2). The 100×-scale rehearsal measured why the cap alone is
    * not enough: a 20k-member capped cluster is still 2·10⁸ cosine
    * pairs, and sim_semdedup took 548 s at 200k vectors. Same
    * recall-for-boundedness trade as the cap (near-dups split across
    * chunks are kept; md5 chunking makes the miss probability
    * ~1−1/chunks per true pair, the price of a hard work ceiling). At
    * the test SFs every cluster fits ONE chunk, so the stage is inert
    * there and the oracle replays it verbatim. */
  val SemDedupChunk = 2000

  /** Max-cosine seed assignment (ties to the smaller cluster id): the k
    * seed vectors broadcast against one corpus pass — the shared
    * assignment kernel of emb_kmeans_step, sim_semdedup, and
    * sim_ivf_upsert. The argmax is a `max_by` AGGREGATE, not a
    * `row_number` window. What that buys (and what it doesn't): the
    * window form shuffled all k·n scored rows and ranked them inside
    * per-vec partitions; `max_by` partially aggregates map-side — the k
    * candidates per vector collapse to 1 BEFORE the exchange, so the
    * shuffle carries n rows, and there is no per-key partition skew.
    * Because the max_by buffer is struct-typed, Spark plans it as a
    * SortAggregate (HashAggregate needs fixed-width mutable buffers),
    * so each map task still sorts ITS OWN slice by vec_id — but that
    * input arrives from the broadcast join already clustered by vec_id
    * (k consecutive rows per vector), which TimSort consumes as
    * near-sorted runs; the load-bearing properties are the k× shuffle
    * reduction and the partial/final split, and PlanSpec pins
    * `partial_max_by`. The ordering struct (cos, -cluster_id) is total
    * (ids unique), so the argmax is deterministic and identical to the
    * oracle's ROW_NUMBER formulation: ties on cos go to the SMALLER
    * cluster id. */
  private[ext] def assignToSeeds(e: DataFrame, seeds: DataFrame): DataFrame =
    e.join(broadcast(seeds), lit(true))
      .withColumn("cos",
        graft.functions.VectorExpressions.vector_cosine(col("v"), col("sv")))
      // per-candidate NaN/NULL quarantine (the batch twin of the
      // streaming assignToCells contract): a zero-norm vector or seed
      // folds to NaN, which max_by ranks ABOVE every real cosine — it
      // would win the argmax on the Spark side while the DuckDB
      // replays diverge (and a NaN cos would later poison the int64
      // cohesion fold as CAST(NaN AS BIGINT) = 0 vs a DuckDB cast
      // error). The filter costs the degenerate CANDIDATE only; a
      // fully degenerate vector ends up unassigned — mirrored by
      // `cos IS NOT NULL AND NOT isnan(cos)` in every consumer oracle.
      // Downstream pair cosines (semdedup) are then NaN-free too:
      // every assigned member has a positive norm.
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("cluster_id"), col("cos"), col("v")),
        struct(col("cos"), (-col("cluster_id")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.cluster_id").as("cluster_id"),
        col("best.cos").as("cos"), col("best.v").as("v"))

  /** Deterministic md5-ordered membership cap per cluster (see
    * [[SemDedupMaxMembers]]), in TWO stages so the capping mechanism
    * itself survives the mega-cluster it defends against:
    *
    *  1. map-side THINNING — keep members whose 60-bit md5 key falls in
    *     the lowest 2·cap/n fraction of their cluster (sizes are a
    *     k-row broadcast). A one-task `row_number` sort of a cluster
    *     holding 90% of the corpus is exactly the skew the cap exists
    *     to prevent; the threshold filter needs no shuffle at all and
    *     cuts that cluster to ~2·cap rows with overwhelming
    *     probability (binomial, margin 2×).
    *  2. exact md5-ordered `row_number ≤ cap` over the thinned
    *     survivors — restoring the STRICT ≤ cap guarantee on a
    *     per-cluster set that is now ~2·cap rows, so the sort is
    *     trivial everywhere.
    *
    * For n ≤ 2·cap the threshold keeps everything (key·n < 2^60·n ≤
    * 2^60·2·cap), so the thinning is inert at the test SFs and the
    * two-stage definition — replayed verbatim by the oracle, both
    * stages md5-derived — degenerates to the plain rank cap. */
  private[ext] def cappedClusterMembers(asg: DataFrame, maxMembers: Int,
      chunkSize: Int = SemDedupChunk): DataFrame = {
    val sizes = asg.groupBy(col("cluster_id")).agg(count(lit(1)).as("_csz"))
    val key = Dedup.h60(concat(lit("sd_"), col("vec_id").cast("string")))
    val thinned = asg.join(broadcast(sizes), Seq("cluster_id"))
      .filter(key.cast("double") * col("_csz").cast("double") <
        lit(thinningBound(maxMembers)))
      .select(col("vec_id"), col("cluster_id"), col("v"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(md5(concat(lit("sd_"), col("vec_id").cast("string"))), col("vec_id"))
    thinned.withColumn("mrn", row_number().over(byCluster))
      .filter(col("mrn") <= maxMembers)
      // comparison block: pairs are only formed within a chunk (see
      // [[SemDedupChunk]] — the linear-work ceiling the cap alone
      // doesn't give)
      .select(col("vec_id"), col("cluster_id"), col("v"),
        expr(s"cast((mrn - 1) div $chunkSize AS bigint)").as("chunk"))
  }

  /** Stage-1 threshold: keep iff key·n < 2·cap·2^60 (all doubles; the
    * single literal is computed here and embedded verbatim in the
    * oracle so both engines compare against the identical value). */
  private[ext] def thinningBound(maxMembers: Int): Double =
    2.0 * maxMembers * (1L << 60).toDouble

  /** Within-cluster candidate pairs above `threshold`, over a capped +
    * chunked membership (the [[cappedClusterMembers]] output) — the
    * semdedup pair stage, exposed so the spec can prove the fan-out
    * bound under an adversarial mega-cluster. The chunk equi-key keeps
    * the self-join fan-out linear in members (see [[SemDedupChunk]]). */
  private[ext] def semdedupPairs(members: DataFrame, threshold: Double): DataFrame =
    members.as("a")
      .join(members.as("b"),
        col("a.cluster_id") === col("b.cluster_id")
          && col("a.chunk") === col("b.chunk")
          && col("a.vec_id") < col("b.vec_id"))
      .withColumn("pcos", graft.functions.VectorExpressions
        .vector_cosine(col("a.v"), col("b.v")))
      .filter(col("pcos") >= threshold)
      .select(col("a.cluster_id").as("cluster_id"),
        col("b.vec_id").as("drop_id"))

  /** Fixed-point grain for order-free float accumulation: Q24 — one
    * part in 2^24, the float32 mantissa width, so quantizing a
    * float-derived coordinate loses nothing beyond the input's own
    * precision class. Chosen over DECIMAL sums deliberately: Spark
    * casts double→decimal through the SHORTEST string representation
    * while DuckDB converts through double multiplication, so their
    * per-element decimals can differ by ~1e-17 — a drift the
    * differential gate could false-fail on at scale. Integer
    * quantization has no such seam: `round(x·2^24)` is one exact
    * power-of-two multiply + one tie-away-from-zero rounding (Spark
    * HALF_UP ≡ DuckDB's double `round`, verified on the tie cases),
    * and int64 sums are EXACT on both engines. */
  private[ext] val FpScale = 1L << 24

  /** Per-group centroids as exact fixed-point means. Each coordinate
    * quantizes to the Q24 integer grid ([[FpScale]]) and accumulates in
    * plain int64 `sum`s — integer addition is exact, hence order-free,
    * so partial/final aggregation needs O(1) state per (group, dim) and
    * the result is bit-identical across engines AT ANY SCALE (overflow
    * bound: |x| ≤ 8 ⇒ |q| ≤ 2^27 ⇒ int64 holds ~7·10^10 members per
    * cell). This replaces the round-5 `collect_list` + ordered fold,
    * which held every member value in one aggregation buffer (O(n/k)
    * memory per group — the flagged scale hazard). The 64 sums run as
    * one wide hash aggregate over the raw scan: no posexplode (so no
    * 64× row shuffle), no member buffering; the mean then descales by
    * an EXACT power-of-two division and performs exactly one IEEE
    * division per (group, dim) — the same two ops on both engines. */
  private[ext] def centroids(df: DataFrame, keyCol: String): DataFrame =
    centroidsK(df, Seq(keyCol), Dims)

  /** [[centroids]] generalized to a composite key and dimensionality —
    * the PQ codebook update groups by (subspace, code) over subvector
    * dims; same Q24 int64 sums, same exact descale. */
  private[ext] def centroidsK(df: DataFrame, keys: Seq[String], dims: Int): DataFrame = {
    val sums = (0 until dims).map(d =>
      sum(round(element_at(col("v"), d + 1) * FpScale).cast("long")).as(s"_s$d"))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n"), sums: _*)
      .select(keys.map(col) :+
        array((0 until dims).map(d =>
          col(s"_s$d").cast("double") / lit(FpScale.toDouble) / col("_n")): _*)
          .as("centroid"): _*)
  }

  // DuckDB mirror of [[centroids]] (subquery body over a CTE named
  // `src(key, …, v)`): same Q24 quantization, exact integer sum, exact
  // power-of-two descale, one double division per (group, dim).
  private def dCentroids(src: String, key: String, outKey: String): String =
    s"""SELECT $key AS $outKey, list(c ORDER BY d) AS centroid FROM (
       |    SELECT $src.$key, gs.d,
       |      CAST(sum(CAST(round($src.v[gs.d + 1] * $FpScale.0) AS BIGINT)) AS DOUBLE)
       |        / $FpScale.0 / count(*) AS c
       |    FROM $src, generate_series(0, ${Dims - 1}) AS gs(d)
       |    GROUP BY 1, 2)
       |  GROUP BY 1""".stripMargin

  /** Corpus label centroids collected for the streaming assignment path
    * (k tiny rows — the same data `broadcast()` would ship), ascending
    * by cell id as [[graft.streaming.StreamAnalytics.assignToCells]]
    * expects. */
  private[graft] def labelCentroids(s: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    centroids(emb(s, dir).select(col("label"), vecD(col("embedding")).as("v")), "label")
      .collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  /** SQL mirrors for oracles composed OUTSIDE this module (the
    * streaming IVF-assign replay reuses the exact batch formulas). */
  private[graft] def dCentroidsSql(src: String, key: String, outKey: String): String =
    dCentroids(src, key, outKey)
  private[graft] def dCosSql(a: String, b: String): String = dCos(a, b)

  /** One-Lloyd-step PQ codebook collected for the streaming encode
    * path (M·K tiny rows), (m, code) ascending as
    * [[graft.streaming.StreamAnalytics.encodePq]] expects. */
  private[graft] def trainedPqCodebookOf(s: SparkSession, dir: String): Seq[(Int, Int, Array[Double])] =
    // sub pinned: the training chain reads it three ways (seed slice,
    // assignment, centroid fold) — see annPqTop
    pqTrainedCodebook(pqSubvectors(
        emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v")))
      .transform(Pins.pin))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(c => (c._1, c._2)).toSeq

  /** SQL mirrors of the PQ pipeline CTEs for oracles composed OUTSIDE
    * this module (the streaming PQ-encode replay reuses the exact
    * batch codebook derivation). */
  private[graft] def dPqSubSql: String = dPqSub
  private[graft] def dPqCb0Sql: String = dPqCb0
  private[graft] def dPqAssignSql(name: String, cb: String): String = dPqAssign(name, cb)
  private[graft] def dPqCentsSql: String = dPqCents

  /** Sign sketches (vec_id, v, table_id, bucket) for every row of
    * `e(vec_id, v)`. Bit p of table t = sign(w_{t·k+p} · v), w a
    * deterministic ±1 hyperplane. The dot is the codegen'd native
    * vector_dot — same strict left-to-right accumulation as a HOF fold
    * (so signatures are bit-identical to the oracle) but compiled into
    * the whole-stage loop instead of 24 interpreted zip_with+aggregate
    * lambdas per row (the round-1 bottleneck). */
  /** Sign-sketch rows per (vector, table). `bits` sizes the bucket
    * space: 2^bits buckets per table, so a deployment picks
    * bits ≈ log2(n / target_bucket) — the 100×-rehearsal lesson: the
    * test-SF default of 6 bits is 64 buckets, and at 200k vectors the
    * masked-key self-join over ~3k-member buckets generated a
    * candidate stream large enough to fill local disk. The declared
    * `sim_neardup_lsh` query computes this via [[autoBits]] from its
    * own corpus count (no size guard). */
  private[ext] def lshSketches(e: DataFrame, bits: Int = LshBits): DataFrame = {
    def sig(t: Int, v: Column): Column = (0 until bits).map { p =>
      val w = array((0 until 64).map(d => lit(planeSign(t * bits + p, d))): _*)
      when(graft.functions.VectorExpressions.vector_dot(w, v) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    e.select(col("vec_id"), col("v"),
      explode(map((0 until LshTables).flatMap(t =>
        Seq(lit(t), sig(t, col("v")))): _*)).as(Seq("table_id", "bucket")))
  }

  // DuckDB mirror of [[lshSketches]] (CTE bodies; expects a CTE
  // `e(vec_id, v)`). Plane w[p][d] mirrors planeSign: +1 iff the first
  // md5 nibble of "p_d" is even ⟺ the first hex char is one of
  // 02468ace. ±1·x is exact, so sign(w·v) matches the codegen'd
  // vector_dot bit-for-bit.
  private def dSkCtes: String =
    s"""planes AS (
       |  SELECT p, list_transform(generate_series(0, 63), d ->
       |    CASE WHEN strpos('02468ace', substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)) > 0
       |         THEN 1.0e0 ELSE -1.0e0 END) AS w
       |  FROM generate_series(0, ${LshTables * LshBits - 1}) AS gp(p)),
       |sk AS (
       |  SELECT e.vec_id, p.p // $LshBits AS table_id,
       |    CAST(sum(CASE WHEN list_dot_product(p.w, e.v) > 0
       |                  THEN 1 << (p.p % $LshBits) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, planes p GROUP BY 1, 2)""".stripMargin

  // 1-bit multi-probe bucket list for a sketch row: own bucket + every
  // single-bit flip (SQL side).
  private def dProbeValues(src: String): String =
    (s"($src.bucket)" +: (0 until LshBits).map(p =>
      s"(xor($src.bucket, ${1L << p}))")).mkString(", ")

  /** Per-bucket membership ceiling for the near-dup candidate join —
    * the df-cap discipline applied to LSH buckets. Even with
    * corpus-sized `bits`, DATA decides bucket occupancy: a degenerate
    * direction cluster (the 100×-rehearsal generator's near-parallel
    * replicas) piles 95% of the corpus into a handful of buckets and
    * the pair join is quadratic in the hottest bucket no matter the
    * geometry. Buckets past the cap are md5-thinned to exactly this
    * many members (same two-stage mechanism as
    * [[cappedClusterMembers]]); pairs whose two members both survive
    * the thinning are still found, the rest are the standard
    * recall-for-boundedness trade. Far above any test-SF bucket, so
    * the declared query's oracle never sees it fire. */
  val NeardupMaxBucket = 500

  /** Target EXPECTED bucket occupancy for the auto-sized near-dup
    * geometry: `bits = max(LshBits, ceil(log2(n / target)))` keeps
    * n / 2^bits ≈ this many members per bucket at any corpus size.
    * Sized for the 1-bit MULTIPROBE pipeline: radius-1 probing
    * multiplies the candidate stream by ~(1+bits) — a 500-member
    * target that was fine for equal-bucket-only joins put the 200k
    * rehearsal's Hamming-1 stream at ~1.4 B pre-distinct rows (filled
    * local disk); at ~50 the combined stream stays ~n·occ·(1+bits)·
    * tables — linear in the corpus with a modest constant (~236 M at
    * 200k vectors). Distinct from [[NeardupMaxBucket]], the HARD
    * per-bucket cap that bounds degenerate data (near-parallel
    * direction clusters) the geometry alone cannot spread. */
  val NeardupTargetBucket = 50

  /** The corpus-sized bucket geometry (shared by the declared
    * `sim_neardup_lsh` query and ScaleGateSpec; the oracle mirrors the
    * same formula in SQL). Every test SF (≤ 2k embedding vectors)
    * resolves to [[LshBits]]; growth past ~3.2k buys bits. */
  def autoBits(n: Long): Int = {
    // exact integer form of ceil(log2(n / target)): the binary length
    // of ceil(n/target) − 1. The ln-quotient double form computes e.g.
    // ln(2^29)/ln(2) = 29.000000000000004, so at exact power-of-two
    // ratios (first at n = 50·2^29) its ceil lands one ABOVE the true
    // value while an oracle using a correctly-rounded log2 does not —
    // the geometry must never depend on which libm the engine links.
    val v = math.max(1L, (n + NeardupTargetBucket - 1) / NeardupTargetBucket)
    math.max(LshBits, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, v - 1L)))
  }

  /** Two-stage md5 bucket thinning for [[neardupLshPairs]]'s sketch
    * rows, keyed by the RAW bucket (table_id, bucket) — capping there
    * bounds every downstream group: an equal-bucket join group is one
    * capped bucket, a masked-key group unions at most two. */
  private[ext] def capBuckets(sk: DataFrame, maxBucket: Int): DataFrame = {
    val gs = Seq(col("table_id"), col("bucket"))
    val sizes = sk.groupBy(gs: _*).agg(count(lit(1)).as("_bsz"))
    // the shared 60-bit key, not a re-inlined copy — Dedup.h60 is THE
    // single definition behind every salted pseudo-random key here, and
    // its oracle twin dH60 is what the sim_neardup_lsh cap mirror uses
    val key = Dedup.h60(concat(lit("nd_"), col("vec_id").cast("string")))
    // stage 1: probabilistic threshold cuts any hot bucket to ~2·cap
    // with no per-group sort; stage 2: exact md5 rank restores ≤ cap
    val thinned = sk.join(sizes, Seq("table_id", "bucket"))
      .filter(key.cast("double") * col("_bsz").cast("double") <
        lit(thinningBound(maxBucket)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(gs: _*)
      .orderBy(md5(concat(lit("nd_"), col("vec_id").cast("string"))), col("vec_id"))
    thinned.withColumn("_brn", row_number().over(w))
      .filter(col("_brn") <= maxBucket)
      .select(col("vec_id"), col("table_id"), col("bucket"))
  }

  /** The distributed embedding near-dup pipeline at an explicit bucket
    * geometry — verified pairs (id_a < id_b, sim ≥ threshold) from a
    * Hamming-≤1 masked-key self-join over [[lshSketches]] buckets.
    * `bits` MUST be sized to the corpus (≈ log2(n / target_bucket));
    * the declared `sim_neardup_lsh` query computes bits from its own
    * corpus ([[autoBits]]) and mirrors the formula in its oracle SQL;
    * scale callers (and the 100×-rehearsal) pass geometries directly.
    *
    * Plan shape (what makes the candidate stream bounded at ANY bits):
    * the Hamming ≤ 1 collision set splits by WHERE the pair collides —
    * equal buckets join ONCE per table on the raw bucket key, and
    * Hamming-EXACTLY-1 pairs join on the bit-i-zeroed masked key with
    * an explicit `bucket ≠ bucket` condition, which makes each such
    * pair collide on exactly ONE (table, tag) too. The earlier
    * masked-keys-only form emitted every equal-bucket pair `bits`
    * times (equal buckets collide on EVERY tag) — a ×bits candidate
    * stream that filled local disk under hot buckets at the 100×
    * rehearsal, before the distinct could dedup it. Candidate ids are
    * distinct'd BEFORE the vectors re-join for the exact verify, so
    * the candidate shuffle carries 16-byte pairs, not kilobyte
    * payloads. A zero-norm embedding (dirty data) yields cosine NaN,
    * which `>=` would keep (NaN sorts greatest) while the brute kernel
    * drops it — filtered, so the output stays a strict subset of the
    * exact pairs. */
  private[ext] def neardupLshPairs(e: DataFrame, bits: Int,
      threshold: Double, maxBucket: Int = NeardupMaxBucket,
      probeRadius: Int = 1): DataFrame = {
    // Two lazy localCheckpoints pin the sketch pipeline's fan-out
    // (guide §1.2 — the 24-dot sign sketch is the dominant map cost):
    // capBuckets reads its input twice (sizes agg + thinning join) and
    // neardupCandidates reads the capped frame four ways (two equal-
    // bucket sides, two masked-key sides), so unpinned, the sketch
    // recomputed ~6× per run — and Catalyst's per-consumer pruning
    // specializes each copy, so exchange reuse cannot fire. Both pins
    // are (vec_id, table_id, bucket) rows — corpus×tables longs, tiny
    // next to the vectors; row-identical, so the pair set is untouched.
    val raw = lshSketches(e, bits)
      .select(col("vec_id"), col("table_id"), col("bucket"))
      .transform(Pins.pin)
    val sk = capBuckets(raw, maxBucket).transform(Pins.pin)
    val cand = neardupCandidates(sk, bits, probeRadius)
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.VectorExpressions.vector_cosine(col("va"), col("vb")), 4)
          .as("sim"))
      .filter(col("sim") >= threshold && !isnan(col("sim")))
  }

  /** [[neardupLshPairs]]' candidate stage over an already-capped sketch
    * set — split out so the scale gate (ScaleGateSpec) can count the
    * candidate stream the DECLARED pipeline would verify, against its
    * analytic bound, without paying the exact-cosine verify. */
  private[ext] def neardupCandidates(sk: DataFrame, bits: Int,
      probeRadius: Int): DataFrame = {
    require(probeRadius == 0 || probeRadius == 1,
      s"probeRadius must be 0 or 1, got $probeRadius")
    // same-bucket pairs: one emission per table
    val eq = sk.as("x").join(sk.as("y"),
        col("x.table_id") === col("y.table_id") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
    // Hamming-exactly-1 pairs: one emission per (table, differing bit).
    // Even capped, this stream bounds at ~bits·cap·n when hot buckets
    // sit in hot Hamming neighborhoods (the 100×-rehearsal geometry) —
    // so the probe is a RADIUS choice: radius 0 (same bucket only) is
    // the scale posture, where recall is bought with MORE TABLES
    // (linear cost) instead of bit flips (multiplicative stream).
    val one =
      if (probeRadius == 0) eq.limit(0)
      else {
        val mk = sk.select(col("vec_id"), col("table_id"), col("bucket"),
          explode(array((0 until bits).map(i =>
            struct(lit(i).as("tag"),
              col("bucket").bitwiseAND(lit(~(1L << i))).as("masked"))): _*)).as("mt"))
          .select(col("vec_id"), col("table_id"), col("bucket"),
            col("mt.tag").as("tag"), col("mt.masked").as("masked"))
        mk.as("x").join(mk.as("y"),
            col("x.table_id") === col("y.table_id") &&
              col("x.tag") === col("y.tag") &&
              col("x.masked") === col("y.masked") &&
              col("x.bucket") =!= col("y.bucket") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      }
    eq.unionByName(one).distinct()
  }

  /** Recall contract: append `recall_floor_ok` = (macro recall over ALL
    * queries ≥ `floor`) to a per-query recall eval. The eval itself is
    * differential (Spark and the oracle replay the same deterministic
    * index), so a probe-geometry edit that degrades recall stays green
    * as long as both sides are edited consistently; the ORACLE emits
    * this column as the LITERAL true, so Spark's computed boolean going
    * false turns the row red — the declared recall floor is part of the
    * query's contract, not just a reported number. The floor binds the
    * MACRO (mean) recall: individual queries legitimately bottom out
    * (an IVF query whose true neighbors sit across a cell boundary
    * scores 0 at nprobe=3), so a per-row floor would pin noise. The
    * unpartitioned window is 8 rows — the query fan-in, not the corpus. */
  private def withRecallFloor(evalDf: DataFrame, floor: Double): DataFrame =
    evalDf.withColumn("recall_floor_ok",
      avg(col("recall")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()) >= lit(floor))

  /** Top-5 per query via the engine's OWN bounded-heap operator
    * (`TopK.perGroup`) instead of a `row_number` window: the window
    * form sorts each query's FULL scored set on a single task (per-
    * query-id partitions — the worst sort skew possible when the
    * candidate set is corpus-sized), while the heap operator cuts to 5
    * rows per (query × input partition) map-side and never sorts.
    * Identical output: the heap ranks under the same total order
    * (sim DESC, neighbor_id ASC) the oracle's ROW_NUMBER uses. */
  private def topPerQuery(scored: DataFrame): DataFrame =
    graft.plans.TopK
      .perGroup(scored, 5, Seq("query_id"), Seq(("sim", false), ("neighbor_id", true)))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("sim"))

  /** IVF top-5 for the same queries (the sim_ann_ivf body): Q24
    * fixed-point centroids per label cell, nprobe=3 probing, exact
    * re-rank inside the probed cells via the heap operator — a plain
    * avg() centroid would sum doubles in partition order
    * (nondeterministic bits), and the round-5 ordered-fold form
    * buffered whole clusters per group. */
  private def annIvfTop(s: SparkSession, dir: String): DataFrame = {
    val nprobe = 3
    // pinned: the centroid aggregate, the query slice and the probed-
    // cell re-rank join all read e — unpinned, each consumer re-ran
    // the scan + double-cast (3 passes; the same multi-consumer shape
    // the r16 sketch/codebook pins removed, guide §1.2)
    val e = emb(s, dir).select(col("vec_id"), col("label"),
      vecD(col("embedding")).as("v")).transform(Pins.pin)
    val cents = centroids(e.select(col("label"), col("v")), "label")
      .withColumnRenamed("label", "cell")
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // rank cells per query, keep nprobe (k cells per query: tiny window)
    val probed = q.join(broadcast(cents), lit(true))
      .withColumn("cell_sim",
        graft.functions.VectorExpressions.vector_cosine(col("qv"), col("centroid")))
      .withColumn("cell_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cell_sim").desc, col("cell"))))
      .filter(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    // exact re-rank inside the probed cells only — via the
    // bounded-heap operator (no per-query sort; see [[topPerQuery]])
    val cand = e.join(broadcast(probed), col("label") === col("cell") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorExpressions.vector_cosine(col("qv"), col("v")), 4)
          .as("sim"))
    topPerQuery(cand)
  }

  /** Brute-force cosine top-5 for the 8 fixed query vectors (the
    * sim_knn_brute body; ground truth for the recall eval). */
  private def knnBruteTop(s: SparkSession, dir: String): DataFrame = {
    // pinned: the corpus side and the broadcast query slice both read
    // e (2 passes unpinned); the recall evals inherit the cut
    val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
      .transform(Pins.pin)
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
      .filter(col("query_id") < 8)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorExpressions.vector_cosine(col("qv"), col("v")), 4)
          .as("sim"))
    topPerQuery(scored)
  }

  /** Multi-probe LSH top-5 for the same queries (the sim_ann_lsh
    * body). */
  private def annLshTop(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
    // pinned: probes and the candidate join both read the sketch —
    // unpinned, the 24-dot sign sketch runs twice (see neardupLshPairs)
    val sk = lshSketches(e).transform(Pins.pin)
    val probes = sk.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("table_id"),
        explode(array(col("bucket") +:
          (0 until LshBits).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*))
          .as("bucket"))
    val cand = sk.join(broadcast(probes), Seq("table_id", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("qv"), col("v"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorExpressions.vector_cosine(col("qv"), col("v")), 4)
          .as("sim"))
    topPerQuery(cand)
  }

  // ──────────────────── product quantization (PQ) ────────────────────

  /** PQ geometry: 64-dim vectors split into M=8 contiguous subspaces
    * of 8 dims (the standard PQ shape — finer subspaces buy more
    * accuracy than more codes), each quantized against its own
    * K=16-entry codebook. An encoded vector is M small code ids
    * instead of 64 floats — 32 bits vs 2048, the memory cut that lets
    * a 100 TB embedding store sit in executor RAM as codes with the
    * codebook (M·K tiny vectors) broadcast; the ADC stage then reads
    * only codes + per-query lookup tables. K is toy-sized for the
    * testdata (it would be 256 per byte-code in production); every
    * shape below is M/K-independent. */
  private[graft] val PqSubspaces = 8
  private[graft] val PqSubDim: Int = Dims / PqSubspaces
  private[ext] val PqCodes = 16

  private def vdot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vector_dot(a, b)

  /** Squared L2 distance as dot(a,a) − 2·dot(a,b) + dot(b,b): three
    * strict left-to-right folds combined by three IEEE double ops —
    * the exact operation sequence of the oracle's list_dot_product
    * formulation, so assignment argmins and ADC table entries are
    * bit-identical across engines. */
  private def l2sq(a: Column, b: Column): Column =
    vdot(a, a) - lit(2.0) * vdot(a, b) + vdot(b, b)

  private def dL2sq(a: String, b: String): String =
    s"list_dot_product($a, $a) - 2.0*list_dot_product($a, $b) + list_dot_product($b, $b)"

  /** (vec_id, m, sv): each vector exploded into its M subvectors —
    * constant M× fan-out, map-side only. */
  private[ext] def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(array((0 until PqSubspaces).map(m =>
        struct(lit(m).as("m"),
          slice(col("v"), m * PqSubDim + 1, PqSubDim).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  // DuckDB mirror of [[pqSubvectors]]; list_slice is 1-based inclusive,
  // matching Spark slice(v, start, length) = list_slice(v, start, start+length−1).
  private def dPqSub: String =
    s"""sub AS (
       |  SELECT e.vec_id, gs.m,
       |    list_slice(e.v, gs.m * $PqSubDim + 1, gs.m * $PqSubDim + $PqSubDim) AS sv
       |  FROM e, generate_series(0, ${PqSubspaces - 1}) AS gs(m))""".stripMargin

  /** Seed codebook: code c of subspace m = the m-th subvector of the
    * vector with vec_id = c (the deterministic first-K idiom of every
    * clustering query here). */
  private[ext] def pqCodebook0(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < PqCodes)
      .select(col("m"), col("vec_id").cast("int").as("code_id"), col("sv").as("cv"))

  private def dPqCb0: String =
    s"""cb0 AS (SELECT m, CAST(vec_id AS INTEGER) AS code_id, sv AS cv
       |  FROM sub WHERE vec_id < $PqCodes)""".stripMargin

  /** Nearest-code assignment per (vector, subspace): argmin of L2²
    * against the M·K-row broadcast codebook — the `max_by` partial-agg
    * shape of [[assignToSeeds]] (the K candidates per (vec, m) collapse
    * map-side BEFORE the exchange; no per-key window skew), ties to the
    * smaller code id. Carries d2 and sv for the centroid/distortion
    * update. */
  private[ext] def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("m"))
      .withColumn("d2", l2sq(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("m"))
      .agg(max_by(
        struct(col("code_id"), col("d2"), col("sv")),
        struct((-col("d2")).as("nd"), (-col("code_id")).as("nc"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code_id").as("code_id"),
        col("best.d2").as("d2"), col("best.sv").as("sv"))

  private def dPqAssign(name: String, cb: String): String =
    s"""$name AS (
       |  SELECT vec_id, m, code_id, d2, sv FROM (
       |    SELECT s.vec_id, s.m, c.code_id, s.sv, ${dL2sq("s.sv", "c.cv")} AS d2,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${dL2sq("s.sv", "c.cv")} ASC, c.code_id ASC) AS rk
       |    FROM sub s JOIN $cb c USING (m)) WHERE rk = 1)""".stripMargin

  /** One-Lloyd-step codebook from the seed codes (shared by the train
    * query and the ADC search so the two cannot drift): assign every
    * subvector to its seed code, then Q24 exact means per (m, code). */
  private[ext] def pqTrainedCodebook(sub: DataFrame): DataFrame =
    centroidsK(
      pqAssign(sub, pqCodebook0(sub))
        .select(col("m"), col("code_id"), col("sv").as("v")),
      Seq("m", "code_id"), PqSubDim)
      .select(col("m"), col("code_id"), col("centroid").as("cv"))

  // DuckDB mirror of [[pqTrainedCodebook]] (expects sub + cb0 + an
  // asg CTE from dPqAssign("asg", "cb0")).
  private def dPqCents: String =
    s"""cents AS (
       |  SELECT m, code_id, list(c ORDER BY d) AS centroid FROM (
       |    SELECT a.m, a.code_id, gs.d,
       |      CAST(sum(CAST(round(a.sv[gs.d + 1] * $FpScale.0) AS BIGINT)) AS DOUBLE)
       |        / $FpScale.0 / count(*) AS c
       |    FROM asg a, generate_series(0, ${PqSubDim - 1}) AS gs(d)
       |    GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2)""".stripMargin

  /** ADC shortlist width: exact distances are recomputed for only this
    * many PQ candidates per query (the standard refine stage — Faiss
    * IVFPQ+refine). Bounds the raw-vector reads at R·queries however
    * large the corpus. */
  private[ext] val PqRefine = 20

  /** PQ top-5 for the 8 fixed queries (the sim_ann_pq body; also the
    * measured index of sim_pq_recall_eval), two-stage: (1) ADC — encode
    * the corpus against the one-Lloyd-step codebook, broadcast each
    * query's M·K Q24 lookup table, sum the M entries in exact int64,
    * shortlist the best [[PqRefine]] on the bounded heap; (2) REFINE —
    * exact L2² against the raw vectors of the shortlist only. Stage 1
    * never touches a raw vector; stage 2 touches exactly R per query —
    * the composition that keeps recall usable when quantized distances
    * concentrate (this testdata's uniform vectors are that worst case)
    * while preserving the memory story. */
  private def annPqTop(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
    // pinned (lazy localCheckpoint): sub feeds the seed codebook, both
    // assignment passes, and the query slice; cb feeds the encode AND
    // the ADC lookup tables, and each unpinned use re-ran the whole
    // one-Lloyd-step training chain (guide §1.2 — remove repeated
    // passes). Both are row-identical materializations: sub is the M×
    // subvector fan-out, cb is M·K tiny rows.
    val sub = pqSubvectors(e).transform(Pins.pin)
    val cb = pqTrainedCodebook(sub).transform(Pins.pin)
    val codes = pqAssign(sub, cb)
      .select(col("vec_id"), col("m"), col("code_id"))
    val q = sub.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qv"))
    val lut = q.join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code_id"),
        round(l2sq(col("qv"), col("cv")) * FpScale).cast("long").as("pq"))
    val adc = codes.join(broadcast(lut), Seq("m", "code_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pq")).as("dsum"))
      .select(col("query_id"), col("vec_id"),
        round(col("dsum").cast("double") / lit(FpScale.toDouble), 4)
          .as("adc_dist"))
    val shortlist = graft.plans.TopK.perGroup(adc, PqRefine, Seq("query_id"),
        Seq(("adc_dist", true), ("vec_id", true)))
      .select(col("query_id"), col("vec_id"))
    val qv = emb(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), vecD(col("embedding")).as("qv"))
    val refined = shortlist
      .join(e, Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(l2sq(col("qv"), col("v")), 4).as("dist"))
    graft.plans.TopK.perGroup(refined, 5, Seq("query_id"),
        Seq(("dist", true), ("neighbor_id", true)))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** JL target dimensionality (64 → 16: a 4× compression whose
    * expected distortion std is √(2/k) ≈ 0.35 — coarse, but the audit
    * query REPORTS the realized distortion rather than assuming it). */
  private[ext] val JlDims = 16

  /** Deterministic ±1 JL matrix entry — [[planeSign]]'s md5-parity
    * construction under its own "jl" namespace, so the JL matrix and
    * the LSH planes are independent families. */
  private[ext] def jlSign(j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"jl${j}_$d".getBytes("UTF-8"))
    if (((md(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
  }

  /** SQ8 quantization levels: 8-bit per-dimension uniform grid, the
    * faiss ScalarQuantizer(QT_8bit) layout — 64 bytes per vector
    * instead of 256/512, with far better fidelity than PQ (each
    * DIMENSION keeps 256 levels vs 256 levels per 8-dim subspace). */
  private[ext] val Sq8Levels = 255L

  /** Per-dimension SQ8 codes for every vector of `e(vec_id, v)`:
    * code[d] = round((v[d] − min_d) / (max_d − min_d) · 255), with a
    * constant dimension mapping to 0. The train step is ONE min/max
    * aggregate over the corpus (2·64 exact float extremes — no
    * summation, so no ordering seam); encoding is then pure map-side
    * expression work against the broadcast 1-row stats frame. The
    * scale/offset arithmetic is the same IEEE double sequence on both
    * engines (subtract, divide, multiply, HALF_UP round), so codes are
    * bit-identical cross-engine, and everything DOWNSTREAM of encoding
    * is integer-exact. */
  private[ext] def sq8Codes(e: DataFrame): DataFrame = {
    val aggs = (0 until Dims).map(d =>
      min(element_at(col("v"), d + 1)).as(s"_mn$d")) ++
      (0 until Dims).map(d => max(element_at(col("v"), d + 1)).as(s"_mx$d"))
    val stats = e.agg(aggs.head, aggs.tail: _*)
      .select(
        array((0 until Dims).map(d => col(s"_mn$d")): _*).as("mn"),
        array((0 until Dims).map(d => col(s"_mx$d")): _*).as("mx"))
    e.crossJoin(broadcast(stats)) // 1-row broadcast scalar
      .select(col("vec_id"), expr(
        s"""transform(sequence(1, $Dims), i ->
           |  CASE WHEN element_at(mx, i) = element_at(mn, i) THEN 0L
           |       ELSE CAST(round((element_at(v, i) - element_at(mn, i))
           |                 / (element_at(mx, i) - element_at(mn, i))
           |                 * ${Sq8Levels}.0D, 0) AS BIGINT) END)"""
          .stripMargin).as("c"))
  }

  /** SQ8 ANN top-5 for the 8 fixed queries, the PQ two-stage shape on
    * the scalar-quantized index: (1) SCAN — the symmetric code-domain
    * distance Σ_d (qc_d − cc_d)² is computed for every corpus code row
    * against the 8 broadcast query codes, in EXACT int64 (order-free —
    * no Q24 needed, the codes ARE integers), and the best [[PqRefine]]
    * per query survive via the bounded-heap operator; (2) REFINE —
    * exact L2² against raw vectors for the shortlist only. At 100 TB
    * the scan reads the 64-byte code column, never a raw vector; the
    * compressed-domain distance is a tight monotone proxy (max error
    * 64·(range/255)² per coordinate pair), which is why SQ8+refine is
    * the standard recall-safe step up from PQ when memory allows. */
  private[ext] def annSq8Top(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
    // pinned: the query slice and the scan side both read the codes —
    // unpinned, the min/max train aggregate + encode ran twice
    val codes = sq8Codes(e).transform(Pins.pin)
    val q = codes.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("c").as("qc"))
    val cand = codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("aggregate(zip_with(qc, c, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
          .as("code_dist"))
    val shortlist = graft.plans.TopK.perGroup(cand, PqRefine, Seq("query_id"),
        Seq(("code_dist", true), ("vec_id", true)))
      .select(col("query_id"), col("vec_id"))
    val qv = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val refined = shortlist
      .join(e, Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(l2sq(col("qv"), col("v")), 4).as("dist"))
    graft.plans.TopK.perGroup(refined, 5, Seq("query_id"),
        Seq(("dist", true), ("neighbor_id", true)))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  // DuckDB mirror of [[sq8Codes]] (CTE bodies; expects `e(vec_id, v)`).
  private def dSq8Ctes: String =
    s"""stats AS (
       |  SELECT gs.d, min(e.v[gs.d + 1]) AS mn, max(e.v[gs.d + 1]) AS mx
       |  FROM e, generate_series(0, ${Dims - 1}) AS gs(d) GROUP BY 1),
       |mnmx AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx
       |         FROM stats),
       |codes AS (
       |  SELECT e.vec_id, list_transform(generate_series(1, $Dims), i ->
       |    CASE WHEN m.mx[i] = m.mn[i] THEN 0
       |         ELSE CAST(round((e.v[i] - m.mn[i]) / (m.mx[i] - m.mn[i])
       |                   * ${Sq8Levels}.0) AS BIGINT) END) AS c
       |  FROM e CROSS JOIN mnmx m)""".stripMargin

  /** Exact squared-L2 brute top-5 (ground truth for the PQ recall
    * eval — METRIC-CONSISTENT with ADC, which approximates L2², not
    * cosine). */
  private def knnBruteL2Top(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
      .filter(col("query_id") < 8)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(l2sq(col("qv"), col("v")), 4).as("dist"))
    graft.plans.TopK.perGroup(scored, 5, Seq("query_id"),
        Seq(("dist", true), ("neighbor_id", true)))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dist"))
  }

  /** Elementwise residual v − c (exact IEEE subtraction per element —
    * order-free, so Spark `zip_with` and the oracle's indexed
    * list_transform agree bit-for-bit). */
  private def vsub(v: Column, c: Column): Column =
    zip_with(v, c, (a, b) => a - b)

  private def dVsub(v: String, c: String): String =
    s"list_transform(generate_series(1, $Dims), i -> $v[i] - $c[i])"

  override val defs: Seq[(String, Q)] = Seq(

    // Brute-force cosine top-k: 8 query vectors × all vectors, ranked per
    // query. Query side is tiny → broadcast; the big side streams once.
    "sim_knn_brute" -> Q(
      (s, dir) => knnBruteTop(s, dir).orderBy(col("query_id"), col("rank")),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
              |scored AS (
              |  SELECT query_id, e.vec_id AS neighbor_id,
              |    round(${dCos("qv", "e.v")}, 4) AS sim
              |  FROM e JOIN q ON e.vec_id <> q.query_id)
              |SELECT query_id, rank, neighbor_id, sim FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |  FROM scored) WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
      doc = "brute-force cosine top-k (correctness baseline for ANN)"),

    // Metadata-FILTERED vector search — the production shape every
    // vector store serves ("nearest within this category"): the label
    // predicate PRUNES candidate generation (an equi-join key on the
    // label, so only same-label pairs are ever scored), never a
    // post-filter over an unfiltered top-k — post-filtering both scores
    // the whole corpus AND under-fills k when the filter is selective.
    // At 100 TB the same plan holds: the filter column is the partition
    // /bucket key and the scan touches one label's shard. Top-5 runs
    // through the native bounded-heap operator like the unfiltered twin.
    "sim_knn_filtered" -> Q(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"), col("label"),
          vecD(col("embedding")).as("v"))
        val q = e.select(col("vec_id").as("query_id"), col("label"),
          col("v").as("qv")).filter(col("query_id") < 8)
        val scored = e.join(broadcast(q), Seq("label"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(graft.functions.VectorExpressions.vector_cosine(
              col("qv"), col("v")), 4).as("sim"))
        topPerQuery(scored).orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, label, v AS qv FROM e WHERE vec_id < 8),
              |scored AS (
              |  SELECT q.query_id, e.vec_id AS neighbor_id,
              |    round(${dCos("q.qv", "e.v")}, 4) AS sim
              |  FROM e JOIN q ON e.label = q.label AND e.vec_id <> q.query_id)
              |SELECT query_id, rank, neighbor_id, sim FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |  FROM scored) WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
      doc = "metadata-filtered vector search: label prunes candidate generation (equi-join), top-5 via the bounded-heap operator"),

    // Embedding near-dup pairs: all pairs above a cosine threshold.
    // Exact-checkable at these SFs; the LSH query below is the scale path.
    "sim_neardup_pairs" -> Q(
      (s, dir) => {
        // Brute force = every pair against a BOUNDED comparison set, so
        // the right physical shape is broadcast-side-local + a JVM
        // numeric kernel per partition (what a join would pay per pair
        // in row materialization dwarfs the 64 flops of the dot). The
        // driver-side collect here is exactly what broadcast() does
        // internally for a small join side; the unbounded-corpus
        // strategy is sim_ann_lsh below. Left-to-right summation keeps
        // bit-parity with the oracle's list_dot_product.
        import s.implicits._
        // declared quarantine, mirrored in the oracle's e CTE: a NULL
        // embedding would NPE the JVM kernel (v.map) where the oracle
        // silently drops the row — make the drop explicit on BOTH sides
        val e = emb(s, dir).select(col("vec_id"), col("embedding"))
          .filter(col("embedding").isNotNull)
          .as[(Long, Array[Float])]
        // LOUD guard: this baseline broadcasts the whole corpus (what
        // broadcast() itself would do) and is only valid while it fits
        // comfortably on the driver — past that, the answer is the
        // bucketed sim_neardup_lsh scale path below, and silently
        // OOMing the driver must not be how a user finds out.
        val n = e.count()
        require(n <= 500000L,
          s"sim_neardup_pairs is the small-corpus exact baseline (n=$n): " +
            "use sim_neardup_lsh (distributed bucket join) for large corpora")
        val local = e.collect().sortBy(_._1)
          .map { case (id, v) => (id, v.map(_.toDouble)) }
        val withNorms = local.map { case (id, v) => (id, v, math.sqrt(kernelDot(v, v))) }
        val bc = s.sparkContext.broadcast(withNorms)
        // widened: N dots per row is the per-row-heavy case Tables.widen
        // exists for (a narrow scan would run the whole O(N²/2) kernel
        // on one core). The threshold tests the RAW cosine against the
        // rounding boundary (HALF_UP at scale 4: rounded ≥ 0.4 ⟺ raw ≥
        // 0.39995) so the BigDecimal rounding runs only on survivors,
        // not on every candidate pair.
        graft.Tables.widen(e.toDF()).as[(Long, Array[Float])].mapPartitions { it =>
          val others = bc.value
          it.flatMap { case (idA, vfA) =>
            val va = vfA.map(_.toDouble)
            val na = math.sqrt(kernelDot(va, va))
            others.iterator
              .filter(_._1 > idA)
              .map { case (idB, vb, nb) => (idB, kernelDot(va, vb) / (na * nb)) }
              .filter(_._2 >= 0.39995)
              .map { case (idB, raw) => (idA, idB, roundHalfUp4(raw)) }
          }
        }.toDF("id_a", "id_b", "sim")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              |          WHERE embedding IS NOT NULL)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              | round(${dCos("a.v", "b.v")}, 4) AS sim
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE round(${dCos("a.v", "b.v")}, 4) >= 0.4
              |  -- mirrors the kernel's NaN drop (Scala NaN >= t is false,
              |  -- DuckDB ranks NaN above every value): a zero-norm pair
              |  -- must fail the threshold on BOTH sides
              |  AND NOT isnan(round(${dCos("a.v", "b.v")}, 4))
              |ORDER BY id_a, id_b""".stripMargin),
      doc = "embedding-cosine near-dup pairs (threshold 0.4)"),

    // IVF ANN: coarse quantizer cells (here the corpus' label column as
    // the cell assignment — a k-means step would produce the same shape),
    // per-cell centroids from a grouped mean, queries probe the nprobe
    // closest cells and re-rank exactly within them. The cell equi-join
    // is the scale story: a query touches nprobe/k of the corpus.
    "sim_ann_ivf" -> Q(
      (s, dir) => annIvfTop(s, dir).orderBy(col("query_id"), col("rank")),
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |cents AS (
              |  ${dCentroids("e", "label", "cell")}),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
              |probed AS (
              |  SELECT query_id, cell FROM (
              |    SELECT q.query_id, c.cell,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("q.qv", "c.centroid")} DESC, c.cell NULLS FIRST) AS cell_rank
              |    FROM q, cents c) WHERE cell_rank <= 3),
              |cand AS (
              |  SELECT p.query_id, e.vec_id AS neighbor_id,
              |    round(${dCos("q.qv", "e.v")}, 4) AS sim
              |  FROM probed p JOIN e ON e.label = p.cell
              |  JOIN q ON q.query_id = p.query_id
              |  WHERE e.vec_id <> p.query_id)
              |SELECT query_id, rank, neighbor_id, sim FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |  FROM cand) WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
      doc = "IVF ANN (centroid cells + nprobe=3 probing; oracle-replayed)"),

    // LSH-bucketed ANN: L independent random-hyperplane sign sketches
    // (hash tables) of k bits each; a query probes, per table, its own
    // bucket plus every 1-bit-flip neighbor — all candidates arrive via
    // ONE equi-join on (table, bucket), then exact cosine re-ranks just
    // the candidates. k trades bucket size vs recall and would grow with
    // corpus size (k ≈ log2(n/target_bucket)); L and the probe radius
    // buy recall at linear cost. The RECALL contract is probabilistic
    // (ExtSpec checks it vs the brute-force baseline), but the OUTPUT is
    // fully deterministic — the planes are md5-derived, so the oracle
    // regenerates them from the same digests and replays bucket
    // assignment, probing, and re-rank bit-for-bit.
    "sim_ann_lsh" -> Q(
      (s, dir) => annLshTop(s, dir).orderBy(col("query_id"), col("rank")),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |$dSkCtes,
              |probes AS (
              |  SELECT s.vec_id AS query_id, s.table_id, pb.bucket
              |  FROM sk s, LATERAL (VALUES ${dProbeValues("s")}) AS pb(bucket)
              |  WHERE s.vec_id < 8),
              |cand AS (
              |  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
              |  FROM sk s JOIN probes p ON s.table_id = p.table_id AND s.bucket = p.bucket
              |  WHERE s.vec_id <> p.query_id),
              |scored AS (
              |  SELECT c.query_id, c.neighbor_id, round(${dCos("q.v", "n.v")}, 4) AS sim
              |  FROM cand c JOIN e q ON q.vec_id = c.query_id
              |  JOIN e n ON n.vec_id = c.neighbor_id)
              |SELECT query_id, rank, neighbor_id, sim FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |  FROM scored) WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
      doc = "random-hyperplane LSH ANN (bucket join; oracle-replayed, recall-tested)"),

    // Incremental IVF index maintenance: an incoming batch (the 1-in-25
    // held-out slice) is assigned to the EXISTING centroids — built from
    // the already-indexed corpus via the fixed-point [[centroids]] — and
    // the query reports per-cell occupancy before/after plus the mean
    // assignment cosine (an assignment-quality monitor: a falling mean
    // sim says the index needs re-training). The scale shape is the
    // whole point: k centroid rows broadcast against ONE pass over the
    // batch, the corpus itself is never rescanned and the index never
    // rebuilt — the per-batch cost of keeping an ANN index live under a
    // streaming ingest.
    "sim_ivf_upsert" -> Q(
      (s, dir) => {
        // pinned: centroids + occupancy both scan `indexed`, and the
        // assignment scans `incoming` — all three slices of one e read
        // (3 passes unpinned; the IVF twin of the r16 pins)
        val e = emb(s, dir).select(col("vec_id"), col("label"),
          vecD(col("embedding")).as("v")).transform(Pins.pin)
        val indexed = e.filter(col("vec_id") % 25 =!= 0)
        val incoming = e.filter(col("vec_id") % 25 === 0)
        val cents = centroids(indexed.select(col("label"), col("v")), "label")
          .withColumnRenamed("label", "cell")
        // same max_by argmax as [[assignToSeeds]]: the k centroid
        // candidates per vector collapse map-side before the exchange
        val asg = incoming.join(broadcast(cents), lit(true))
          .withColumn("sim", graft.functions.VectorExpressions
            .vector_cosine(col("v"), col("centroid")))
          // same per-candidate NaN/NULL quarantine as [[assignToSeeds]]
          // — without it a zero-norm incoming vector wins a cell with
          // sim = NaN, and the int64 quantization below silently folds
          // that NaN to 0 (Spark) while the oracle's CAST errors
          .filter(col("sim").isNotNull && !isnan(col("sim")))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cell"), col("sim")),
            struct(col("sim"), (-col("cell")).as("nc"))).as("best"))
          .select(col("vec_id"), col("best.cell").as("cell"),
            col("best.sim").as("sim"))
        val occ = indexed.groupBy(col("label"))
          .agg(count(lit(1)).as("n_indexed"))
          .withColumnRenamed("label", "cell")
        val delta = asg.groupBy(col("cell")).agg(
          count(lit(1)).as("n_new"),
          sum(round(col("sim") * FpScale).cast("long")).as("ssum"))
        occ.join(delta, Seq("cell"), "left")
          .select(col("cell"), col("n_indexed"),
            coalesce(col("n_new"), lit(0L)).as("n_assigned"),
            (col("n_indexed") + coalesce(col("n_new"), lit(0L))).as("n_total"),
            round(col("ssum").cast("double") / lit(FpScale.toDouble) / col("n_new"), 4)
              .as("mean_assign_sim"))
          .orderBy(col("cell"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |ix AS (SELECT * FROM e WHERE vec_id % 25 <> 0),
              |inc AS (SELECT * FROM e WHERE vec_id % 25 = 0),
              |cents AS (
              |  ${dCentroids("ix", "label", "cell")}),
              |asg AS (
              |  SELECT vec_id, cell, sim FROM (
              |    SELECT i.vec_id, c.cell, ${dCos("i.v", "c.centroid")} AS sim,
              |      ROW_NUMBER() OVER (PARTITION BY i.vec_id
              |        ORDER BY ${dCos("i.v", "c.centroid")} DESC, c.cell NULLS FIRST) AS rk
              |    FROM inc i CROSS JOIN cents c
              |    -- the engine's per-candidate NaN/NULL quarantine, mirrored
              |    WHERE ${dCos("i.v", "c.centroid")} IS NOT NULL
              |      AND NOT isnan(${dCos("i.v", "c.centroid")})) WHERE rk = 1),
              |occ AS (SELECT label AS cell, count(*) AS n_indexed FROM ix GROUP BY 1),
              |d AS (
              |  SELECT cell, count(*) AS n_new,
              |    sum(CAST(round(sim * $FpScale.0) AS BIGINT)) AS ssum
              |  FROM asg GROUP BY 1)
              |SELECT occ.cell, occ.n_indexed,
              |  CAST(COALESCE(d.n_new, 0) AS BIGINT) AS n_assigned,
              |  occ.n_indexed + CAST(COALESCE(d.n_new, 0) AS BIGINT) AS n_total,
              |  round(CAST(d.ssum AS DOUBLE) / $FpScale.0 / d.n_new, 4) AS mean_assign_sim
              |FROM occ LEFT JOIN d USING (cell) ORDER BY 1""".stripMargin),
      doc = "incremental IVF maintenance: batch assigned to existing centroids, no rebuild"),

    // The IVF twin of sim_ann_recall_eval: same keyed-left-join eval
    // shape, measuring the centroid index instead of the hash index —
    // together the two evals are the side-by-side table an index
    // rollout decision reads.
    "sim_ivf_recall_eval" -> Q(
      (s, dir) => {
        val brute = knnBruteTop(s, dir).select(col("query_id"), col("neighbor_id"))
        val ivf = annIvfTop(s, dir)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        withRecallFloor(brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
          .select(col("query_id"), col("n_true"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_true"), 4).as("recall")),
          floor = 0.25) // measured macro recall 0.325–0.425 across SFs
          .orderBy(col("query_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
              |bs AS (
              |  SELECT query_id, e.vec_id AS neighbor_id,
              |    round(${dCos("qv", "e.v")}, 4) AS sim
              |  FROM e JOIN q ON e.vec_id <> q.query_id),
              |bt AS (
              |  SELECT query_id, neighbor_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |    FROM bs) WHERE rank <= 5),
              |cents AS (
              |  ${dCentroids("e", "label", "cell")}),
              |probed AS (
              |  SELECT query_id, cell FROM (
              |    SELECT q.query_id, c.cell,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("q.qv", "c.centroid")} DESC, c.cell NULLS FIRST) AS cell_rank
              |    FROM q, cents c) WHERE cell_rank <= 3),
              |ic AS (
              |  SELECT p.query_id, e.vec_id AS neighbor_id,
              |    round(${dCos("q.qv", "e.v")}, 4) AS sim
              |  FROM probed p JOIN e ON e.label = p.cell
              |  JOIN q ON q.query_id = p.query_id
              |  WHERE e.vec_id <> p.query_id),
              |it AS (
              |  SELECT query_id, neighbor_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |    FROM ic) WHERE rank <= 5)
              |SELECT bt.query_id, count(*) AS n_true,
              |  count(it.neighbor_id) AS n_hit,
              |  round(CAST(count(it.neighbor_id) AS DOUBLE) / count(*), 4) AS recall,
              |  TRUE AS recall_floor_ok
              |FROM bt LEFT JOIN it
              |  ON bt.query_id = it.query_id AND bt.neighbor_id = it.neighbor_id
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "per-query recall of IVF ANN vs brute-force ground truth (eval-as-query)"),

    // Evaluation as a first-class query: per-query recall of the LSH
    // ANN against the brute-force ground truth — the metric every index
    // rollout decision hangs on, computed by the ENGINE (one keyed
    // left join of the two top-k sets) instead of driver-side test
    // code, so it runs at any corpus size and lands in the same
    // differential gate as the operators it judges. Both sides are
    // fully deterministic (md5 planes, rounded sims, id tie-breaks), so
    // the oracle replays the whole eval bit-for-bit.
    "sim_ann_recall_eval" -> Q(
      (s, dir) => {
        val brute = knnBruteTop(s, dir).select(col("query_id"), col("neighbor_id"))
        val lsh = annLshTop(s, dir)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        withRecallFloor(brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
          .select(col("query_id"), col("n_true"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_true"), 4).as("recall")),
          floor = 0.45) // measured macro recall 0.575–0.725 across SFs
          .orderBy(col("query_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
              |bs AS (
              |  SELECT query_id, e.vec_id AS neighbor_id,
              |    round(${dCos("qv", "e.v")}, 4) AS sim
              |  FROM e JOIN q ON e.vec_id <> q.query_id),
              |bt AS (
              |  SELECT query_id, neighbor_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |    FROM bs) WHERE rank <= 5),
              |$dSkCtes,
              |probes AS (
              |  SELECT s.vec_id AS query_id, s.table_id, pb.bucket
              |  FROM sk s, LATERAL (VALUES ${dProbeValues("s")}) AS pb(bucket)
              |  WHERE s.vec_id < 8),
              |cand AS (
              |  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
              |  FROM sk s JOIN probes p ON s.table_id = p.table_id AND s.bucket = p.bucket
              |  WHERE s.vec_id <> p.query_id),
              |ls AS (
              |  SELECT c.query_id, c.neighbor_id, round(${dCos("qe.v", "ne.v")}, 4) AS sim
              |  FROM cand c JOIN e qe ON qe.vec_id = c.query_id
              |  JOIN e ne ON ne.vec_id = c.neighbor_id),
              |lt AS (
              |  SELECT query_id, neighbor_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |    FROM ls) WHERE rank <= 5)
              |SELECT bt.query_id, count(*) AS n_true,
              |  count(lt.neighbor_id) AS n_hit,
              |  round(CAST(count(lt.neighbor_id) AS DOUBLE) / count(*), 4) AS recall,
              |  TRUE AS recall_floor_ok
              |FROM bt LEFT JOIN lt
              |  ON bt.query_id = lt.query_id AND bt.neighbor_id = lt.neighbor_id
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "per-query recall of LSH ANN vs brute-force ground truth (eval-as-query)"),

    // Distributed embedding near-dup — the 100 TB replacement for
    // sim_neardup_pairs' guarded exact baseline: candidate pairs =
    // sketch buckets within Hamming ≤ 1 in some table (masked-key
    // self-equi-join of the same sign sketches), then exact cosine
    // verifies ONLY the candidates. Both join sides are the full
    // corpus, so this is a shuffle equi-join — no broadcast, no driver
    // collect, no all-pairs comparison. Recall is the LSH contract
    // (pairs colliding in no table are missed; ≈73% at the borderline
    // sim=0.4 on this weakly-clustered testdata, →1 as similarity
    // rises — ExtSpec pins it); the OUTPUT is deterministic, so the
    // oracle replays it.
    "sim_neardup_lsh" -> Q(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
        // The geometry AND the probe radius are COMPUTED from the
        // corpus. bits = max(LshBits, ceil(log2(n / target))) keeps
        // expected bucket occupancy ≈ [[NeardupTargetBucket]] at any
        // size (the former fixed 6-bit geometry filled local disk at
        // 200k vectors). The 1-bit probe is a TEST-GEOMETRY recall aid:
        // past the fixed geometry (bits > LshBits) it drops to radius 0
        // — the scale posture — because each verified candidate carries
        // its two 64-dim vectors through the verify join, and on a
        // duplicate-dense corpus (200k rehearsal: 31M+ true pairs) the
        // ~(1+bits)× probe amplification turns that join's shuffle into
        // a disk fill; equal-bucket-only candidates complete the same
        // rehearsal in ~100 s. The oracle computes BOTH decisions with
        // the same SQL formulas, so the engines always agree; at every
        // test SF (≤ 2k vectors) this resolves to the original 6-bit /
        // radius-1 shape. One count() pass prices the sizing —
        // metadata-scale work next to the sketch+join it parameterizes.
        val n = e.count()
        val bits = autoBits(n)
        val radius = if (bits > LshBits) 0 else 1
        neardupLshPairs(e, bits, 0.4, probeRadius = radius)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |-- exact-integer mirror of autoBits: binary length of
              |-- ceil(n/target) - 1, never a float log whose libm
              |-- rounding could disagree with the engine's at exact
              |-- power-of-two ratios
              |g AS (SELECT greatest($LshBits,
              |        length(printf('%b', greatest(1,
              |          (count(*) + $NeardupTargetBucket - 1) // $NeardupTargetBucket - 1)))) AS bits
              |      FROM e),
              |planes AS (
              |  SELECT p, list_transform(generate_series(0, 63), d ->
              |    CASE WHEN strpos('02468ace', substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)) > 0
              |         THEN 1.0e0 ELSE -1.0e0 END) AS w
              |  FROM generate_series(0, ${LshTables * 64 - 1}) AS gp(p), g
              |  WHERE gp.p < $LshTables * g.bits),
              |sk AS (
              |  SELECT e.vec_id, p.p // g.bits AS table_id,
              |    CAST(sum(CASE WHEN list_dot_product(p.w, e.v) > 0
              |                  THEN 1 << (p.p % g.bits) ELSE 0 END) AS BIGINT) AS bucket
              |  FROM e, planes p, g GROUP BY 1, 2),
              |-- capBuckets mirrored verbatim (same two md5 stages as the
              |-- semdedup member cap): inert while every bucket holds
              |-- <= $NeardupMaxBucket members, but the cap is part of the
              |-- declared answer, so a hot-bucket corpus stays gated
              |bsz AS (SELECT table_id, bucket, count(*) AS n FROM sk GROUP BY 1, 2),
              |skc AS (
              |  SELECT vec_id, table_id, bucket FROM (
              |    SELECT s.vec_id, s.table_id, s.bucket,
              |      ROW_NUMBER() OVER (PARTITION BY s.table_id, s.bucket
              |        ORDER BY md5('nd_' || s.vec_id::VARCHAR), s.vec_id) AS brn
              |    FROM sk s JOIN bsz USING (table_id, bucket)
              |    WHERE CAST(${Dedup.dH60("'nd_' || s.vec_id::VARCHAR")} AS DOUBLE)
              |          * CAST(bsz.n AS DOUBLE) < ${thinningBound(NeardupMaxBucket)})
              |  WHERE brn <= $NeardupMaxBucket),
              |mk AS (
              |  SELECT vec_id, table_id, t.tag, bucket & ~(1 << t.tag) AS masked
              |  FROM skc, generate_series(0, 63) AS t(tag), g
              |  WHERE t.tag < g.bits AND g.bits = $LshBits),
              |cand AS (
              |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
              |  FROM skc x JOIN skc y
              |    ON x.table_id = y.table_id AND x.bucket = y.bucket
              |    AND x.vec_id < y.vec_id
              |  UNION
              |  SELECT x.vec_id, y.vec_id
              |  FROM mk x JOIN mk y
              |    ON x.table_id = y.table_id AND x.tag = y.tag AND x.masked = y.masked
              |    AND x.vec_id < y.vec_id)
              |SELECT id_a, id_b, round(${dCos("a.v", "b.v")}, 4) AS sim
              |FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b
              |WHERE round(${dCos("a.v", "b.v")}, 4) >= 0.4
              |  AND NOT isnan(round(${dCos("a.v", "b.v")}, 4))
              |ORDER BY id_a, id_b""".stripMargin),
      doc = "LSH-bucketed embedding near-dup (distributed scale path; oracle-replayed)"),

    // kNN label propagation: classify held-out vectors by the majority
    // label of their 5 nearest neighbors (cosine) — the standard
    // semantic-labeling / weak-supervision pass over a labeled embedding
    // store. Same physical shape as sim_knn_brute (tiny query side
    // broadcast against one corpus scan); the vote and the argmax are
    // integer aggregations, and ties break on the smaller label, so the
    // prediction is fully deterministic and oracle-replayable.
    "sim_knn_classify" -> Q(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"),
          col("label").cast("long").as("label"), vecD(col("embedding")).as("v"))
        val q = e.filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("query_id"), col("label").as("actual_label"),
            col("v").as("qv"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("actual_label"),
            col("label").as("nbr_label"), col("vec_id").as("neighbor_id"),
            round(graft.functions.VectorExpressions.vector_cosine(col("qv"), col("v")), 4)
              .as("sim"))
        // top-5 via the bounded-heap operator: no per-query sort of the
        // corpus-sized scored set (see [[topPerQuery]])
        val votes = graft.plans.TopK
          .perGroup(scored, 5, Seq("query_id"), Seq(("sim", false), ("neighbor_id", true)))
          .groupBy(col("query_id"), col("actual_label"), col("nbr_label"))
          .agg(count(lit(1)).as("n_votes"))
        val wV = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("n_votes").desc, col("nbr_label"))
        votes.withColumn("vrank", row_number().over(wV))
          .filter(col("vrank") === 1)
          .select(col("query_id"), col("actual_label"),
            col("nbr_label").as("predicted_label"), col("n_votes"),
            when(col("nbr_label") === col("actual_label"), 1L).otherwise(0L)
              .as("correct"))
          .orderBy(col("query_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
              |    embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, label AS actual_label, v AS qv
              |      FROM e WHERE vec_id % 25 = 0),
              |scored AS (
              |  SELECT q.query_id, q.actual_label, e.label AS nbr_label,
              |    e.vec_id AS neighbor_id, round(${dCos("q.qv", "e.v")}, 4) AS sim
              |  FROM e JOIN q ON e.vec_id <> q.query_id),
              |topk AS (
              |  SELECT * FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY sim DESC, neighbor_id NULLS FIRST) AS rank
              |    FROM scored) WHERE rank <= 5),
              |votes AS (
              |  SELECT query_id, actual_label, nbr_label, count(*) AS n_votes
              |  FROM topk GROUP BY 1, 2, 3)
              |SELECT query_id, actual_label, nbr_label AS predicted_label, n_votes,
              | CAST(CASE WHEN nbr_label = actual_label THEN 1 ELSE 0 END AS BIGINT)
              |   AS correct
              |FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY n_votes DESC, nbr_label NULLS FIRST) AS vrank
              |  FROM votes) WHERE vrank = 1
              |ORDER BY query_id""".stripMargin),
      doc = "kNN(5) label propagation over the embedding store (majority vote)"),

    // One spherical k-means step (assign + update) over the embedding
    // store — the kernel of semantic clustering for diversity-aware
    // sampling. Seeds are the 8 lowest vec_ids (deterministic); each
    // vector joins its max-cosine seed (ties to the smaller cluster);
    // new centroids are exact Q24 fixed-point means via [[centroids]]
    // (order-independent partial/final sums — never a partition-order
    // float sum, never a whole-cluster buffer), and the step reports
    // per-cluster size, cohesion (exact decimal sum of member cosines),
    // and old-seed→new-centroid similarity. At scale: seeds broadcast
    // (k rows), assignment is one pass over the store, the update is a
    // cluster-keyed wide aggregation — the exact plan a full Lloyd's
    // loop would run per iteration.
    "emb_kmeans_step" -> Q(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
        val seeds = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cluster_id"), col("v").as("sv"))
        val asg = assignToSeeds(e, seeds)
        val cents = centroids(asg.select(col("cluster_id"), col("v")), "cluster_id")
        // cohesion: Q24-quantized cosines summed in exact int64 ⇒
        // order-free with O(1) state and bit-identical across engines —
        // the collect_list of (vec_id, cos) this replaces held every
        // member in one buffer.
        val stats = asg.groupBy(col("cluster_id"))
          .agg(
            count(lit(1)).as("n_assigned"),
            sum(round(col("cos") * FpScale).cast("long")).as("csum"))
          .select(col("cluster_id"), col("n_assigned"),
            round(col("csum").cast("double") / lit(FpScale.toDouble), 4)
              .as("cohesion"))
        stats.join(cents, Seq("cluster_id"))
          .join(broadcast(seeds), Seq("cluster_id"))
          .select(col("cluster_id"), col("n_assigned"), col("cohesion"),
            round(graft.functions.VectorExpressions
              .vector_cosine(col("sv"), col("centroid")), 4).as("centroid_sim"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |seeds AS (SELECT vec_id AS cluster_id, v AS sv FROM e WHERE vec_id < 8),
              |asg AS (
              |  SELECT vec_id, cluster_id, cos, v FROM (
              |    SELECT e.vec_id, s.cluster_id, e.v, ${dCos("e.v", "s.sv")} AS cos,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
              |        ORDER BY ${dCos("e.v", "s.sv")} DESC, s.cluster_id NULLS FIRST) AS rk
              |    FROM e CROSS JOIN seeds s
              |    -- the engine's per-candidate NaN/NULL quarantine,
              |    -- mirrored (assignToSeeds): DuckDB ranks NaN above
              |    -- every value, so an unfiltered degenerate candidate
              |    -- would win the argmax here while the engine drops it
              |    WHERE ${dCos("e.v", "s.sv")} IS NOT NULL
              |      AND NOT isnan(${dCos("e.v", "s.sv")})) WHERE rk = 1),
              |cents AS (
              |  ${dCentroids("asg", "cluster_id", "cluster_id")}),
              |stats AS (
              |  SELECT cluster_id, count(*) AS n_assigned,
              |    round(CAST(sum(CAST(round(cos * $FpScale.0) AS BIGINT)) AS DOUBLE)
              |      / $FpScale.0, 4) AS cohesion
              |  FROM asg GROUP BY 1)
              |SELECT t.cluster_id, t.n_assigned, t.cohesion,
              | round(${dCos("s.sv", "c.centroid")}, 4) AS centroid_sim
              |FROM stats t
              |JOIN cents c USING (cluster_id) JOIN seeds s USING (cluster_id)
              |ORDER BY cluster_id""".stripMargin),
      doc = "one spherical k-means step (assign + ordered-fold centroid update)"),

    // Semantic dedup (SemDeDup shape): assign every embedding to its
    // max-cosine seed cluster, then find near-duplicates ONLY within
    // each cluster and keep one representative per duplicate relation
    // (a vector is dropped iff a smaller-id cluster-mate sits within
    // the cosine threshold — deterministic, and the cluster's min-id
    // member always survives). The clustering is what makes semantic
    // dedup tractable at 100 TB: the quadratic pair comparison runs
    // within clusters via a cluster-keyed equi-join, never across the
    // corpus — and the [[SemDedupMaxMembers]] md5-ordered cap bounds
    // each cluster's pair fan-out even when the seed geometry collapses
    // most of the corpus into one cluster (the adversarial case ExtSpec
    // pins), and the [[SemDedupChunk]] comparison blocks inside the cap
    // make per-cluster work LINEAR in members (the 100×-rehearsal
    // finding: the cap alone still allowed C(20k, 2) pairs). Assignment,
    // cosine, tie-breaks, the cap AND the chunking replay bit-exactly
    // in the oracle (the emb_kmeans_step construction plus a shared md5
    // member ranking).
    "sim_semdedup" -> Q(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
        val seeds = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cluster_id"), col("v").as("sv"))
        // pinned (lazy localCheckpoint): asg feeds the cap pipeline AND
        // the n_vecs rollup, capped feeds both self-join sides, pairs
        // feeds the pair count AND the distinct drop count — unpinned,
        // the 8-cosine argmax assignment recomputed per consumer
        val asg = assignToSeeds(e, seeds)
          .select(col("vec_id"), col("cluster_id"), col("v"))
          .transform(Pins.pin)
        val capped = cappedClusterMembers(asg, SemDedupMaxMembers)
          .transform(Pins.pin)
        val pairs = semdedupPairs(capped, 0.4).transform(Pins.pin)
        val dropped = pairs.distinct()
        asg.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_vecs"))
          .join(pairs.groupBy(col("cluster_id"))
            .agg(count(lit(1)).as("n_dup_pairs")), Seq("cluster_id"), "left")
          .join(dropped.groupBy(col("cluster_id"))
            .agg(count(lit(1)).as("n_dropped")), Seq("cluster_id"), "left")
          .select(col("cluster_id"), col("n_vecs"),
            coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
            (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |seeds AS (SELECT vec_id AS cluster_id, v AS sv FROM e WHERE vec_id < 8),
              |asg AS (
              |  SELECT vec_id, cluster_id, v FROM (
              |    SELECT e.vec_id, s.cluster_id, e.v,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
              |        ORDER BY ${dCos("e.v", "s.sv")} DESC, s.cluster_id NULLS FIRST) AS rk
              |    FROM e CROSS JOIN seeds s
              |    -- assignToSeeds' per-candidate NaN/NULL quarantine,
              |    -- mirrored — DuckDB ranks NaN above every value
              |    WHERE ${dCos("e.v", "s.sv")} IS NOT NULL
              |      AND NOT isnan(${dCos("e.v", "s.sv")})) WHERE rk = 1),
              |sz AS (SELECT cluster_id, count(*) AS csz FROM asg GROUP BY 1),
              |thin AS (
              |  SELECT a.vec_id, a.cluster_id, a.v
              |  FROM asg a JOIN sz USING (cluster_id)
              |  WHERE CAST(${Dedup.dH60("'sd_' || a.vec_id::VARCHAR")} AS DOUBLE)
              |        * CAST(sz.csz AS DOUBLE) < ${thinningBound(SemDedupMaxMembers)}),
              |capped AS (
              |  SELECT vec_id, cluster_id, v,
              |         CAST((mrn - 1) // $SemDedupChunk AS BIGINT) AS chunk FROM (
              |    SELECT vec_id, cluster_id, v,
              |      ROW_NUMBER() OVER (PARTITION BY cluster_id
              |        ORDER BY md5('sd_' || vec_id::VARCHAR), vec_id) AS mrn
              |    FROM thin) WHERE mrn <= $SemDedupMaxMembers),
              |p AS (
              |  SELECT a.cluster_id, b.vec_id AS drop_id
              |  FROM capped a JOIN capped b
              |    ON a.cluster_id = b.cluster_id AND a.chunk = b.chunk
              |    AND a.vec_id < b.vec_id
              |  WHERE ${dCos("a.v", "b.v")} >= 0.4e0),
              |d AS (SELECT DISTINCT cluster_id, drop_id FROM p),
              |n AS (SELECT cluster_id, count(*) AS n_vecs FROM asg GROUP BY 1),
              |np AS (SELECT cluster_id, count(*) AS n_dup_pairs FROM p GROUP BY 1),
              |nd AS (SELECT cluster_id, count(*) AS n_dropped FROM d GROUP BY 1)
              |SELECT n.cluster_id, n.n_vecs,
              |  CAST(COALESCE(np.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
              |  CAST(COALESCE(nd.n_dropped, 0) AS BIGINT) AS n_dropped,
              |  n.n_vecs - CAST(COALESCE(nd.n_dropped, 0) AS BIGINT) AS n_kept
              |FROM n LEFT JOIN np USING (cluster_id)
              |LEFT JOIN nd USING (cluster_id)
              |ORDER BY 1""".stripMargin),
      doc = "semantic dedup: within-cluster cosine near-dups, one representative kept"),

    // PQ codebook training, one Lloyd step per subspace: every vector
    // splits into M=[[PqSubspaces]] subvectors, each assigned to its
    // nearest of K=[[PqCodes]] seed codes (L2², argmin via the
    // map-side max_by collapse), and
    // the codebook updates as exact Q24 fixed-point means per
    // (subspace, code) — the [[centroids]] guarantees (order-free int64
    // sums, O(1) agg state, bit-identical cross-engine) on the composite
    // key. Per-cell distortion (Q24-summed L2²) is the quantization-
    // quality metric a production trainer would iterate on. At 100 TB:
    // the M× subvector fan-out is map-side, assignment is one broadcast
    // join + partial-agg pass, and the update groups on M·K cells —
    // the identical plan each further Lloyd iteration would run.
    "emb_pq_train_step" -> Q(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
        val sub = pqSubvectors(e)
        val asg = pqAssign(sub, pqCodebook0(sub))
        val cents = centroidsK(
          asg.select(col("m"), col("code_id"), col("sv").as("v")),
          Seq("m", "code_id"), PqSubDim)
        val stats = asg.groupBy(col("m"), col("code_id"))
          .agg(count(lit(1)).as("n_assigned"),
            sum(round(col("d2") * FpScale).cast("long")).as("dsum"))
          .select(col("m"), col("code_id"), col("n_assigned"),
            round(col("dsum").cast("double") / lit(FpScale.toDouble), 4)
              .as("distortion"))
        // Declared shape: the codebook unnests to one scalar row per
        // (subspace, code, dim) — a top-level ARRAY column would defeat
        // the external differ (pandas cannot sort ndarray cells); the
        // array form stays internal (pqTrainedCodebook) for the ADC
        // consumers. Constant PqSubDim× fan-out on an M·K-row frame.
        stats.join(cents, Seq("m", "code_id"))
          .select(col("m").as("subspace"), col("code_id"), col("n_assigned"),
            col("distortion"), posexplode(col("centroid")).as(Seq("dim", "cvalue")))
          .orderBy(col("subspace"), col("code_id"), col("dim"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |$dPqSub,
              |$dPqCb0,
              |${dPqAssign("asg", "cb0")},
              |$dPqCents,
              |stats AS (
              |  SELECT m, code_id, count(*) AS n_assigned,
              |    round(CAST(sum(CAST(round(d2 * $FpScale.0) AS BIGINT)) AS DOUBLE)
              |      / $FpScale.0, 4) AS distortion
              |  FROM asg GROUP BY 1, 2)
              |SELECT s.m AS subspace, s.code_id, s.n_assigned, s.distortion,
              |  gs.d AS dim, c.centroid[gs.d + 1] AS cvalue
              |FROM stats s JOIN cents c USING (m, code_id),
              |  generate_series(0, ${PqSubDim - 1}) AS gs(d)
              |ORDER BY subspace, code_id, dim""".stripMargin),
      doc = "PQ codebook Lloyd step: per-subspace argmin assign + Q24 centroid update"),

    // PQ ANN search, the production two-stage shape: (1) asymmetric
    // distance computation — the corpus is ENCODED (each vector → M
    // code ids against the trained codebook, the compressed form that
    // fits 100 TB in RAM), each query builds an M·K lookup table of
    // partial L2² to every code, and a candidate's ADC distance is the
    // M-way LUT sum in exact Q24 int64, shortlisting the best R=20 on
    // the bounded-heap TopK operator with NO raw-vector access; (2)
    // refine — exact L2² is recomputed for the R shortlisted raw
    // vectors only (Faiss IVFPQ+refine), which is what keeps recall
    // usable when quantized distances concentrate (uniform testdata is
    // that worst case) while raw reads stay bounded at R per query.
    // Composes train → encode → search in one DAG so the oracle replays
    // the whole path; in production the codebook/codes are trained and
    // persisted once (the sim_ivf_upsert pattern).
    "sim_ann_pq" -> Q(
      (s, dir) => annPqTop(s, dir),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |$dPqSub,
              |$dPqCb0,
              |${dPqAssign("asg", "cb0")},
              |$dPqCents,
              |cb AS (SELECT m, code_id, centroid AS cv FROM cents),
              |${dPqAssign("enc", "cb")},
              |codes AS (SELECT vec_id, m, code_id FROM enc),
              |q AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id < 8),
              |lut AS (
              |  SELECT q.query_id, q.m, c.code_id,
              |    CAST(round((${dL2sq("q.qv", "c.cv")}) * $FpScale.0) AS BIGINT) AS pq
              |  FROM q JOIN cb c USING (m)),
              |adc AS (
              |  SELECT l.query_id, k.vec_id,
              |    round(CAST(sum(l.pq) AS DOUBLE) / $FpScale.0, 4) AS adc_dist
              |  FROM codes k JOIN lut l ON k.m = l.m AND k.code_id = l.code_id
              |  WHERE k.vec_id <> l.query_id
              |  GROUP BY 1, 2),
              |short AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY adc_dist ASC, vec_id ASC) AS srank
              |    FROM adc) WHERE srank <= $PqRefine),
              |qraw AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
              |ref AS (
              |  SELECT s.query_id, s.vec_id AS neighbor_id,
              |    round(${dL2sq("qr.qv", "e.v")}, 4) AS dist
              |  FROM short s JOIN e ON e.vec_id = s.vec_id
              |  JOIN qraw qr ON qr.query_id = s.query_id)
              |SELECT query_id, rank, neighbor_id, dist FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY dist ASC, neighbor_id ASC) AS rank
              |  FROM ref) WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
      doc = "PQ ANN: ADC shortlist over encoded corpus, exact refine of R candidates"),

    // IVF-PQ, the production ANN composition (coarse cells bound the
    // COMPUTE a query touches; PQ residual codes bound the MEMORY the
    // index occupies): every vector's RESIDUAL against its cell's Q24
    // centroid is PQ-encoded with one corpus-shared codebook (residuals
    // concentrate near zero, which is why PQ quantizes them better than
    // raw vectors — the classic IVFADC layout); a query ranks cells by
    // cosine, probes nprobe=3, builds one Q24 ADC lookup table per
    // probed cell from its OWN residual against that cell's centroid,
    // and scores only the probed cells' members by exact int64 LUT
    // sums. At 100 TB: the index is codes + two tiny broadcast tables
    // (cell centroids, codebook); a query reads nprobe/k of the code
    // rows and touches no raw vector.
    "sim_ann_ivfpq" -> Q(
      (s, dir) => {
        val nprobe = 3
        val base = emb(s, dir).select(col("vec_id"), col("label"),
          vecD(col("embedding")).as("v"))
        val ccents = centroids(base.select(col("label"), col("v")), "label")
          .withColumnRenamed("label", "cell")
        // residual corpus: v − centroid[cell], cell kept for probing.
        // Pinned for the query: it feeds the codebook build, the encode
        // pass, and the candidate list — unpinned, the base scan +
        // centroid agg + join would run once per consumer (the
        // Graph.withEdges lesson); the ≤ 40-row result below is
        // materialized inside the scope.
        Pins.scoped(base.join(broadcast(ccents), col("label") === col("cell"))
          .select(col("vec_id"), col("cell"),
            vsub(col("v"), col("centroid")).as("v"))) { resid =>
          // sub/cb pinned like annPqTop: without the pins each consumer
          // re-ran the subvector fan-out and the full codebook training
          // over the cached residuals
          val sub = pqSubvectors(resid.select(col("vec_id"), col("v")))
            .transform(Pins.pin)
          val cb = pqTrainedCodebook(sub).transform(Pins.pin)
          val codes = pqAssign(sub, cb)
            .select(col("vec_id"), col("m"), col("code_id"))
          val q = base.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("v").as("qv"))
          // rank cells per query (k cells: tiny window), keep nprobe,
          // carry the probed cell's centroid for the query residual
          val probed = q.join(broadcast(ccents), lit(true))
            .withColumn("cell_sim",
              graft.functions.VectorExpressions.vector_cosine(col("qv"), col("centroid")))
            .withColumn("cell_rank", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
                .orderBy(col("cell_sim").desc, col("cell"))))
            .filter(col("cell_rank") <= nprobe)
            .select(col("query_id"), col("cell"),
              vsub(col("qv"), col("centroid")).as("rv"))
          // per-(query, probed cell) ADC table against the shared codebook
          val qsub = probed.select(col("query_id"), col("cell"),
              explode(array((0 until PqSubspaces).map(m =>
                struct(lit(m).as("m"),
                  slice(col("rv"), m * PqSubDim + 1, PqSubDim).as("qsv"))): _*)).as("s"))
            .select(col("query_id"), col("cell"), col("s.m").as("m"), col("s.qsv").as("qsv"))
          val lut = qsub.join(broadcast(cb), Seq("m"))
            .select(col("query_id"), col("cell"), col("m"), col("code_id"),
              round(l2sq(col("qsv"), col("cv")) * FpScale).cast("long").as("pq"))
          // candidates: members of the probed cells (codes join brings M rows)
          val cand = resid.select(col("vec_id"), col("cell"))
            .join(broadcast(probed.select(col("query_id"), col("cell"))), Seq("cell"))
            .filter(col("vec_id") =!= col("query_id"))
          val adc = cand.join(codes, Seq("vec_id"))
            .join(broadcast(lut), Seq("query_id", "cell", "m", "code_id"))
            .groupBy(col("query_id"), col("vec_id"))
            .agg(sum(col("pq")).as("dsum"))
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(col("dsum").cast("double") / lit(FpScale.toDouble), 4)
                .as("adc_dist"))
          val ranked = graft.plans.TopK.perGroup(adc, 5, Seq("query_id"),
              Seq(("adc_dist", true), ("neighbor_id", true)))
            .select(col("query_id"), col("rank").cast("long").as("rank"),
              col("neighbor_id"), col("adc_dist"))
            .orderBy(col("query_id"), col("rank"))
          s.createDataFrame(
            java.util.Arrays.asList(ranked.collect(): _*), ranked.schema)
        }
      },
      Some(s"""WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |ccents AS (
              |  ${dCentroids("base", "label", "cell")}),
              |e AS (
              |  SELECT b.vec_id, c.cell, ${dVsub("b.v", "c.centroid")} AS v
              |  FROM base b JOIN ccents c ON b.label = c.cell),
              |$dPqSub,
              |$dPqCb0,
              |${dPqAssign("asg", "cb0")},
              |$dPqCents,
              |cb AS (SELECT m, code_id, centroid AS cv FROM cents),
              |${dPqAssign("enc", "cb")},
              |codes AS (SELECT vec_id, m, code_id FROM enc),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 8),
              |probed AS (
              |  SELECT query_id, cell, ${dVsub("qv", "centroid")} AS rv FROM (
              |    SELECT q.query_id, c.cell, q.qv, c.centroid,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("q.qv", "c.centroid")} DESC, c.cell NULLS FIRST) AS cell_rank
              |    FROM q, ccents c) WHERE cell_rank <= 3),
              |qsub AS (
              |  SELECT p.query_id, p.cell, gs.m,
              |    list_slice(p.rv, gs.m * $PqSubDim + 1, gs.m * $PqSubDim + $PqSubDim) AS qsv
              |  FROM probed p, generate_series(0, ${PqSubspaces - 1}) AS gs(m)),
              |lut AS (
              |  SELECT s.query_id, s.cell, s.m, c.code_id,
              |    CAST(round((${dL2sq("s.qsv", "c.cv")}) * $FpScale.0) AS BIGINT) AS pq
              |  FROM qsub s JOIN cb c USING (m)),
              |cand AS (
              |  SELECT p.query_id, e.vec_id, e.cell
              |  FROM probed p JOIN e ON e.cell = p.cell
              |  WHERE e.vec_id <> p.query_id),
              |adc AS (
              |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
              |    round(CAST(sum(l.pq) AS DOUBLE) / $FpScale.0, 4) AS adc_dist
              |  FROM cand cd
              |  JOIN codes k ON k.vec_id = cd.vec_id
              |  JOIN lut l ON l.query_id = cd.query_id AND l.cell = cd.cell
              |    AND l.m = k.m AND l.code_id = k.code_id
              |  GROUP BY 1, 2)
              |SELECT query_id, rank, neighbor_id, adc_dist FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
              |  FROM adc) WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
      doc = "IVF-PQ ANN: nprobe cells + residual PQ codes + per-cell ADC tables"),

    // The PQ twin of sim_ann_recall_eval / sim_ivf_recall_eval, closing
    // the eval loop for the quantized index: per-query recall of the
    // refined PQ top-5 against the exact squared-L2 brute top-5 —
    // METRIC-CONSISTENT ground truth (ADC approximates L2², not
    // cosine). With the refine stage exact, the number measures
    // SHORTLIST recall: did the true neighbors survive the R=20 ADC
    // cut — the thing a wider R, more codebook iterations, or finer
    // subspaces would buy back. Same keyed left-join eval shape as the
    // other two; computed by the engine at any corpus size.
    "sim_pq_recall_eval" -> Q(
      (s, dir) => {
        val brute = knnBruteL2Top(s, dir).select(col("query_id"), col("neighbor_id"))
        val pq = annPqTop(s, dir)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        withRecallFloor(brute.join(pq, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
          .select(col("query_id"), col("n_true"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_true"), 4).as("recall")),
          floor = 0.35) // measured macro recall 0.45–0.70 across SFs
          .orderBy(col("query_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
              |bs AS (
              |  SELECT query_id, e.vec_id AS neighbor_id,
              |    round(${dL2sq("qv", "e.v")}, 4) AS dist
              |  FROM e JOIN q ON e.vec_id <> q.query_id),
              |bt AS (
              |  SELECT query_id, neighbor_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY dist ASC, neighbor_id ASC) AS rank
              |    FROM bs) WHERE rank <= 5),
              |$dPqSub,
              |$dPqCb0,
              |${dPqAssign("asg", "cb0")},
              |$dPqCents,
              |cb AS (SELECT m, code_id, centroid AS cv FROM cents),
              |${dPqAssign("enc", "cb")},
              |codes AS (SELECT vec_id, m, code_id FROM enc),
              |qs AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id < 8),
              |lut AS (
              |  SELECT qs.query_id, qs.m, c.code_id,
              |    CAST(round((${dL2sq("qs.qv", "c.cv")}) * $FpScale.0) AS BIGINT) AS pq
              |  FROM qs JOIN cb c USING (m)),
              |adc AS (
              |  SELECT l.query_id, k.vec_id,
              |    round(CAST(sum(l.pq) AS DOUBLE) / $FpScale.0, 4) AS adc_dist
              |  FROM codes k JOIN lut l ON k.m = l.m AND k.code_id = l.code_id
              |  WHERE k.vec_id <> l.query_id
              |  GROUP BY 1, 2),
              |short AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY adc_dist ASC, vec_id ASC) AS srank
              |    FROM adc) WHERE srank <= $PqRefine),
              |ref AS (
              |  SELECT s.query_id, s.vec_id AS neighbor_id,
              |    round(${dL2sq("q.qv", "e.v")}, 4) AS dist
              |  FROM short s JOIN e ON e.vec_id = s.vec_id
              |  JOIN q ON q.query_id = s.query_id),
              |pt AS (
              |  SELECT query_id, neighbor_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY dist ASC, neighbor_id ASC) AS rank
              |    FROM ref) WHERE rank <= 5)
              |SELECT bt.query_id, count(*) AS n_true,
              |  CAST(count(pt.neighbor_id) AS BIGINT) AS n_hit,
              |  round(CAST(count(pt.neighbor_id) AS DOUBLE) / count(*), 4) AS recall,
              |  TRUE AS recall_floor_ok
              |FROM bt LEFT JOIN pt USING (query_id, neighbor_id)
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "PQ recall eval: ADC top-5 vs exact L2 brute top-5 (quantization loss)"),

    // Distributed Gram-matrix accumulation G[i,j] = Σ_n v_n[i]·v_n[j]
    // (upper triangle) — the kernel under PCA / whitening / covariance
    // drift checks on an embedding corpus. Scale shape (round-7 rework):
    // ONE native `TypedImperativeAggregate` ([[graft.functions
    // .GramAggregate]]) folds every row into a single long[2080] buffer
    // per task — the first-cut explode emitted d(d+1)/2 = 2,080 struct
    // rows PER INPUT ROW (4.2 M at sf0.1, rows × 2080 anywhere) just to
    // feed a fixed-2,080-group hash agg; the native buffer makes the
    // per-row cost a tight two-index loop with ZERO intermediate rows,
    // map-side partials one 16 KB array, merges element-wise adds, and
    // the shuffle d²-scale per task at any corpus size. The d(d+1)/2
    // result expands to (i, j, g) rows on the driver (bounded state,
    // the graph-family LocalRelation discipline). Float parity
    // unchanged: each term is ONE IEEE double multiply quantized
    // half-away-from-zero to the Q24 grid (the shared semantics of
    // Spark and DuckDB round()) and summed in exact int64 — order-free,
    // so the UNCHANGED oracle SQL still hash-matches verbatim.
    // Overflow: |v_i·v_j| ≤ 8² ⇒ |q| ≤ 2^30, int64 holds ~2^33 rows per
    // cell — raise to Q20 beyond that. GramAggregateSpec pins equality
    // with the explode formulation on real embeddings, the
    // negative-half rounding edge, and cross-partition merge.
    "emb_gram_matrix" -> Q(
      (s, dir) => {
        import s.implicits._
        val rows = gramSums(s, dir).map { qs =>
          for { i <- 0 until Dims; j <- i until Dims } yield
            (i, j, qs(graft.functions.GramAggregate.cellIndex(i, j, Dims))
              .map(_.toDouble / FpScale.toDouble))
        }.getOrElse(Seq.empty)
        rows.toDF("i", "j", "g")
      },
      Some(s"""SELECT gi.i, gj.j,
             |  CAST(sum(CAST(round(v[gi.i + 1] * v[gj.j + 1] * $FpScale.0) AS BIGINT)) AS DOUBLE)
             |    / $FpScale.0 AS g
             |FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings) AS e0,
             |  generate_series(0, ${Dims - 1}) AS gi(i),
             |  generate_series(0, ${Dims - 1}) AS gj(j)
             |WHERE gj.j >= gi.i
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "exact Q24 Gram-matrix accumulation (PCA/whitening kernel), map-side collapse"),

    // One power-iteration step toward the top eigenvector: y = G·x₀
    // with x₀ = 1/8·𝟙 (uniform start; 1/8 = 2⁻³ keeps every constant a
    // power of two). Composed on the Gram kernel's INTEGER state — the
    // matrix-vector product sums the Q24 int64 cell sums directly
    // (symmetrizing the stored upper triangle), so the only float ops
    // are the final exact descales: bit-identical cross-engine with NO
    // ordered-fold caveat. Scale: the corpus is scanned once for G;
    // everything after is d²-sized (a real PCA loop would collect the
    // d² matrix to the driver and iterate there — this query is the
    // distributed step that produces it plus one verifiable iteration).
    "emb_pca_power_step" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.GramAggregate.cellIndex
        // symmetrize + matrix-vector product on the d(d+1)/2 driver-local
        // integer state: y_i = (Σ_j qs(min,max)) / 2²⁴ / 8 — int64 adds
        // (≤ 2^47, double-exact), the same arithmetic the oracle unrolls
        val rows = gramSums(s, dir).map { qs =>
          (0 until Dims).map { i =>
            var t = 0L
            var any = false
            var j = 0
            while (j < Dims) {
              qs(cellIndex(math.min(i, j), math.max(i, j), Dims)).foreach { q =>
                t += q; any = true
              }
              j += 1
            }
            // SUM semantics across the row's cells: NULL cells are
            // skipped; a row with NO non-null cell sums to NULL (the
            // oracle's sum(qs) over all-NULL qs), never 0
            (i, if (any) Some(t.toDouble / FpScale.toDouble / 8.0d) else None)
          }
        }.getOrElse(Seq.empty)
        rows.toDF("i", "y")
      },
      Some(s"""WITH tri AS (
             |  SELECT gi.i, gj.j,
             |    sum(CAST(round(v[gi.i + 1] * v[gj.j + 1] * $FpScale.0) AS BIGINT)) AS qs
             |  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings) AS e0,
             |    generate_series(0, ${Dims - 1}) AS gi(i),
             |    generate_series(0, ${Dims - 1}) AS gj(j)
             |  WHERE gj.j >= gi.i GROUP BY 1, 2),
             |full_m AS (
             |  SELECT i, j, qs FROM tri
             |  UNION ALL
             |  SELECT j AS i, i AS j, qs FROM tri WHERE i <> j)
             |SELECT i, CAST(sum(qs) AS DOUBLE) / $FpScale.0 / 8.0 AS y
             |FROM full_m GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "power-iteration step y=G·x0 on exact Q24 integer state (top-eigenvector kernel)"),

    // SQ8 ANN: 8-bit scalar-quantized compressed-domain scan + exact
    // refine — the memory/recall midpoint between raw brute force and
    // PQ. Train = one min/max aggregate; scan distances are exact
    // int64 over the code arrays (no float anywhere until refine), so
    // the whole path hash-compares verbatim against the oracle.
    "sim_ann_sq8" -> Q(
      (s, dir) => annSq8Top(s, dir),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |$dSq8Ctes,
              |q AS (SELECT vec_id AS query_id, c AS qc FROM codes WHERE vec_id < 8),
              |cand AS (
              |  SELECT q.query_id, k.vec_id,
              |    CAST(list_sum(list_transform(generate_series(1, $Dims), i ->
              |      (q.qc[i] - k.c[i]) * (q.qc[i] - k.c[i]))) AS BIGINT) AS code_dist
              |  FROM codes k CROSS JOIN q WHERE k.vec_id <> q.query_id),
              |short AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY code_dist ASC, vec_id ASC) AS srank
              |    FROM cand) WHERE srank <= $PqRefine),
              |qraw AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
              |ref AS (
              |  SELECT s.query_id, s.vec_id AS neighbor_id,
              |    round(${dL2sq("qr.qv", "e.v")}, 4) AS dist
              |  FROM short s JOIN e ON e.vec_id = s.vec_id
              |  JOIN qraw qr ON qr.query_id = s.query_id)
              |SELECT query_id, rank, neighbor_id, dist FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY dist ASC, neighbor_id ASC) AS rank
              |  FROM ref) WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
      doc = "SQ8 ANN: int8 compressed-domain scan (exact int64), exact refine"),

    // Johnson–Lindenstrauss random projection 64 → 16 dims with a
    // norm-distortion audit. The projection matrix is the deterministic
    // ±1 md5-parity family (the LSH plane idiom under its own "jl"
    // namespace — Achlioptas's database-friendly construction, which
    // needs no Gaussian RNG), applied per vector as 16 codegen'd
    // strict left-to-right dot products, so every projected coordinate
    // is bit-identical to the oracle's list_dot_product. The audit
    // reports the histogram of ‖y‖²/k ÷ ‖v‖² rounded to 2 decimals —
    // the JL lemma says this concentrates at 1 — avoiding any
    // cross-row float aggregation (each ratio is per-row float work;
    // the only aggregate is an integer count). Pure map-side at 100 TB:
    // project-then-histogram touches each vector once, no shuffle but
    // the ≤ ~100-row rollup; the projected table is what a pipeline
    // would persist to cut every downstream ANN/cluster pass 4×.
    "emb_jl_projection" -> Q(
      (s, dir) => {
        val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
        val y = array((0 until JlDims).map { j =>
          val w = array((0 until Dims).map(d => lit(jlSign(j, d))): _*)
          graft.functions.VectorExpressions.vector_dot(w, col("v"))
        }: _*)
        val vd = graft.functions.VectorExpressions.vector_dot(col("v"), col("v"))
        e.select(col("vec_id"), y.as("y"), vd.as("vn"))
          .filter(col("vn") > 0)
          .select(round(
            (graft.functions.VectorExpressions.vector_dot(col("y"), col("y"))
              / lit(JlDims.toDouble)) / col("vn"), 2).as("ratio"))
          .groupBy(col("ratio")).agg(count(lit(1)).as("n_vecs"))
          .orderBy(col("ratio"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |planes AS (
              |  SELECT j, list_transform(generate_series(0, ${Dims - 1}), d ->
              |    CASE WHEN strpos('02468ace',
              |        substr(md5('jl' || j::VARCHAR || '_' || d::VARCHAR), 1, 1)) > 0
              |      THEN 1.0e0 ELSE -1.0e0 END) AS w
              |  FROM generate_series(0, ${JlDims - 1}) AS gj(j)),
              |proj AS (
              |  SELECT e.vec_id, list(list_dot_product(p.w, e.v) ORDER BY p.j) AS y
              |  FROM e CROSS JOIN planes p GROUP BY e.vec_id),
              |r AS (
              |  SELECT round((list_dot_product(pr.y, pr.y) / ${JlDims}.0)
              |           / list_dot_product(e.v, e.v), 2) AS ratio
              |  FROM proj pr JOIN e USING (vec_id)
              |  WHERE list_dot_product(e.v, e.v) > 0)
              |SELECT ratio, CAST(count(*) AS BIGINT) AS n_vecs FROM r
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "JL ±1 random projection 64→16 with norm-distortion histogram"),

    // HYBRID retrieval — the fusion every modern search/RAG stack
    // serves: one search expressed twice (lexical terms + a dense query
    // embedding), each ranker retrieves its own top-20, and reciprocal-
    // rank fusion (k = 60, the Cormack/Clarke constant) merges the
    // lists: score(d) = Σ 1/(60 + rank_i(d)). RRF fuses on RANKS, not
    // raw scores, which is exactly why it works across incomparable
    // scoring scales (BM25 sums vs cosine) — and why it is cross-engine
    // exact here: ranks are integers, so the fused score is the same
    // two-term rational on both sides. The lexical ranker is the SAME
    // bm25Scores kernel as text_bm25_search (one definition, can't
    // drift); the dense ranker is the brute cosine baseline against
    // query vector 0. Scale shape: each ranker's top-20 is a
    // TakeOrderedAndProject (never a global sort), the fusion joins two
    // 20-row frames — driver-trivial at any corpus size; swapping the
    // dense side for the IVF/PQ candidate path changes nothing in the
    // fusion stage.
    "sim_hybrid_rrf" -> Q(
      (s, dir) => {
        val wL = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))
        val lex = TextAnalytics.bm25Scores(
            Tables.documents(s, dir), TextAnalytics.Bm25QueryTerms)
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .select(col("doc_id").as("id"),
            row_number().over(wL).cast("long").as("lex_rank"))
        val e = emb(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
        val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
        val wV = org.apache.spark.sql.expressions.Window
          .orderBy(col("sim").desc, col("vec_id"))
        val vec = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"), round(
            graft.functions.VectorExpressions.vector_cosine(col("qv"), col("v")),
            4).as("sim"))
          // explicit-null discipline (as mmrRerank does for rel): a
          // null/zero-norm embedding has no cosine and must not ride
          // into the top-20 on engine-specific null ordering
          .filter(col("sim").isNotNull)
          .orderBy(col("sim").desc, col("vec_id")).limit(20)
          .select(col("vec_id").as("id"),
            row_number().over(wV).cast("long").as("vec_rank"))
        lex.join(vec, Seq("id"), "full_outer")
          .select(col("id"), col("lex_rank"), col("vec_rank"),
            round(
              coalesce(lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")), lit(0.0))
                + coalesce(lit(1.0) / (lit(60.0) + col("vec_rank").cast("double")), lit(0.0)),
              6).as("rrf_score"))
          .orderBy(col("rrf_score").desc, col("id"))
          .limit(10)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              |vscored AS (
              |  SELECT e.vec_id, round(${dCos("q.qv", "e.v")}, 4) AS sim
              |  FROM e CROSS JOIN q WHERE e.vec_id <> 0),
              |vtop AS (
              |  SELECT vec_id AS id,
              |    ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS vec_rank
              |  FROM (SELECT * FROM vscored WHERE sim IS NOT NULL
              |        ORDER BY sim DESC, vec_id LIMIT 20)),
              |${TextAnalytics.dBm25Ctes},
              |ltop AS (
              |  SELECT doc_id AS id,
              |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
              |  FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id LIMIT 20))
              |SELECT coalesce(l.id, v.id) AS id, l.lex_rank, v.vec_rank,
              |  round(coalesce(1.0e0 / (60.0e0 + l.lex_rank), 0.0e0)
              |      + coalesce(1.0e0 / (60.0e0 + v.vec_rank), 0.0e0), 6) AS rrf_score
              |FROM ltop l FULL OUTER JOIN vtop v ON l.id = v.id
              |ORDER BY rrf_score DESC, id LIMIT 10""".stripMargin),
      doc = "hybrid retrieval: BM25 top-20 + dense cosine top-20 fused by reciprocal-rank fusion (k=60); rank-space fusion is cross-engine exact"),

    // MMR diversification — the re-rank pass that follows retrieval in
    // every dedup-aware search/RAG stack: from the top-`pool` cosine
    // candidates, greedily select k results maximizing
    //   score(d) = λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)
    // (λ = 0.7; the empty-selection max is 0, which makes round 1 the
    // plain argmax-relevance pick — ONE formula for every round).
    // Scale shape: retrieval (the corpus-sized work) is the same
    // broadcast top-k scan as sim_knn_brute; MMR itself is inherently
    // pool-bounded — rerankers operate on the retrieved page, never the
    // corpus — so the greedy rounds run over a pool²-row sim table,
    // driver-iterated like the BPE argmax loop (k tiny jobs). The
    // oracle unrolls the same greedy rounds as CTEs, so selection
    // order, tie-breaks, and the λ-blend are all on the differential.
    "sim_mmr_rerank" -> Q(
      (s, dir) => mmrRerank(emb(s, dir)),
      Some(s"""WITH $dMmrCtes
              |${(1 to MmrK).map(i =>
                  s"SELECT CAST($i AS BIGINT) AS rank, id, rel, score FROM sel$i")
                  .mkString("\nUNION ALL\n")}
              |ORDER BY rank""".stripMargin),
      doc = "MMR diversification: greedy lambda-blend re-rank of the cosine top-pool; rounds unrolled in the oracle, selection order on the differential"),
  )

  /** MMR geometry: select [[MmrK]] of the top-[[MmrPool]] candidates at
    * λ = [[MmrLambda]]. Pool-bounded by definition of re-ranking. */
  private[ext] final val MmrK = 4
  private[ext] final val MmrPool = 8
  // both weights as LITERALS on both engines: 1.0 − 0.7 in IEEE is
  // 0.30000000000000004, not the 0.3 the oracle would parse — the
  // derived form would shear the λ-blend at the 17th digit
  private val MmrLambda = 0.7
  private val MmrDiversity = 0.3

  /** Greedy MMR behind `sim_mmr_rerank` (injectable for specs). Every
    * per-round frame is ≤ pool rows and the sim table ≤ pool² — the
    * `limit(1).collect()` argmax per round is the bpeLoop idiom, bounded
    * by k. */
  private[ext] def mmrRerank(e0: DataFrame, k: Int = MmrK,
      pool: Int = MmrPool): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val e = e0.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val top = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("id"),
        round(graft.functions.VectorExpressions.vector_cosine(
          col("qv"), col("v")), 4).as("rel"), col("v"))
      .filter(col("rel").isNotNull)
      .orderBy(col("rel").desc, col("id")).limit(pool)
    // both pins are bounded: ≤ pool candidates, ≤ pool² sims
    Pins.scoped(top) { cands =>
      Pins.scoped(cands.select(col("id").as("ida"), col("v").as("va"))
        .join(cands.select(col("id").as("idb"), col("v").as("vb")),
          col("ida") =!= col("idb"))
        .select(col("ida"), col("idb"),
          round(graft.functions.VectorExpressions.vector_cosine(
            col("va"), col("vb")), 4).as("s"))) { ps =>
        val picked = scala.collection.mutable.Buffer[(Long, Long, Double, Double)]()
        for (r <- 1 to k) {
          val selIds = picked.map(_._2).toSeq
          val maxSim =
            if (selIds.isEmpty) lit(0.0)
            else coalesce(col("ms"), lit(0.0))
          val base =
            if (selIds.isEmpty) cands.select(col("id"), col("rel"))
            else cands.filter(!col("id").isin(selIds: _*))
              .join(ps.filter(col("idb").isin(selIds: _*))
                  .groupBy(col("ida")).agg(max(col("s")).as("ms")),
                col("id") === col("ida"), "left")
          val best = base.select(col("id"), col("rel"),
              round(lit(MmrLambda) * col("rel")
                - lit(MmrDiversity) * maxSim, 6).as("score"))
            .orderBy(col("score").desc, col("id")).limit(1).collect()
          // a pool smaller than k just ends the selection early
          if (best.nonEmpty)
            picked += ((r.toLong, best(0).getLong(0), best(0).getDouble(1),
              best(0).getDouble(2)))
        }
        picked.toSeq.toDF("rank", "id", "rel", "score")
      }
    }
  }

  /** DuckDB twin of [[mmrRerank]]: candidates + pairwise sims, then the
    * greedy rounds unrolled — sel0 is the empty seed, round i scores
    * every unselected candidate against sel(i−1) and takes the
    * (score DESC, id) argmax. */
  private lazy val dMmrCtes: String = {
    val rounds = (1 to MmrK).map { i =>
      s"""m$i AS (
         |  SELECT c.id, c.rel,
         |    round(0.7e0 * c.rel - 0.3e0 * coalesce(
         |      (SELECT max(p.s) FROM ps p WHERE p.ida = c.id
         |         AND p.idb IN (SELECT id FROM selall${i - 1})), 0.0e0), 6) AS score
         |  FROM cands c
         |  WHERE c.id NOT IN (SELECT id FROM selall${i - 1})),
         |sel$i AS (SELECT id, rel, score FROM m$i ORDER BY score DESC, id LIMIT 1),
         |selall$i AS (SELECT id FROM selall${i - 1} UNION ALL SELECT id FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |       WHERE vec_id IS NOT NULL),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |scored AS (
       |  SELECT e.vec_id AS id, round(${dCos("q.qv", "e.v")}, 4) AS rel, e.v
       |  FROM e CROSS JOIN q WHERE e.vec_id <> 0),
       |cands AS (
       |  SELECT * FROM scored WHERE rel IS NOT NULL
       |  ORDER BY rel DESC, id LIMIT $MmrPool),
       |ps AS (
       |  SELECT a.id AS ida, b.id AS idb, round(${dCos("a.v", "b.v")}, 4) AS s
       |  FROM cands a JOIN cands b ON a.id <> b.id),
       |selall0 AS (SELECT CAST(NULL AS BIGINT) AS id WHERE false),
       |$rounds""".stripMargin
  }
}
