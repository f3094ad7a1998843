package graft.ext

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star).
  *
  * Scale design: every variant is expressed as explode → hash → grouped
  * aggregation → key-equi self-join, i.e. pure shuffle-parallel relational
  * algebra — no pairwise O(n²) driver loops. The MinHash/LSH path is the
  * 100 TB strategy (candidate generation via band buckets bounds the join
  * fan-out); the exact n-gram Jaccard pass is the verifier that runs only
  * on candidates.
  *
  * The shared 60-bit hash is `md5`-derived so the DuckDB oracle reproduces
  * it bit-for-bit (`conv(substr(md5(x),1,15),16,10)` ≡ DuckDB
  * `('0x' || substr(md5(x),1,15))::BIGINT`).
  */
object Dedup extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  /** DuckDB-side word n-gram generator over `text` — one definition for
    * every n-gram consumer (3-gram dedup shingles, 5-gram decon spans,
    * both engines' shapes kept in lockstep with [[nGramRowsOf]]). */
  private[ext] def dNGrams(n: Int): String = {
    val t = TextAnalytics.dTok
    s"list_transform(generate_series(1, greatest(len($t) - ${n - 1}, 0)), i -> ${dGramParts(n)})"
  }

  /** DuckDB-side POSITIONED word n-gram generator: list of
    * {'p': start, 'g': gram} structs (1-based start token), the oracle
    * twin of the posexplode path in `dedup_substring`. Shares the gram
    * expression with [[dNGrams]] so the two generators can't drift. */
  private[ext] def dNGramsPos(n: Int): String = {
    val t = TextAnalytics.dTok
    val parts = dGramParts(n)
    s"list_transform(generate_series(1, greatest(len($t) - ${n - 1}, 0)), i -> {'p': i, 'g': $parts})"
  }

  private def dGramParts(n: Int): String = {
    val t = TextAnalytics.dTok
    (0 until n).map(j => if (j == 0) s"$t[i]" else s"$t[i+$j]").mkString(" || ' ' || ")
  }

  // Word 3-gram shingles; the CASE guard in nGramRowsOf matters —
  // Spark's `sequence(1, n)` with n < 1 counts DOWN (unlike DuckDB's
  // empty generate_series), so short docs must yield an empty array.
  private val dShingles = dNGrams(3)

  /** The shared tokenize-then-gram stage: the (doc_id, ts) token
    * projection and the gram-array Column over it. Consumers MUST
    * compose their generator / array ops over the returned frame in ONE
    * select — stacking another Project on top of the `ts` projection
    * invites CollapseProject to inline the tokenizer regexp into every
    * `element_at` of the gram expression (measured 25× on
    * `dedup_substring` when an intermediate grams Project was added);
    * a Generate directly over the `ts` Project never merges, so the
    * regexp runs once per document. */
  private[ext] def tokGrams(docsDf: DataFrame, n: Int): (DataFrame, Column) = {
    val elems = (0 until n)
      .map(j => if (j == 0) "element_at(ts, i)" else s"element_at(ts, i + $j)")
      .mkString(", ")
    val grams = expr(
      s"""CASE WHEN size(ts) >= $n
         |THEN transform(sequence(1, size(ts) - ${n - 1}),
         |  i -> concat_ws(' ', $elems))
         |ELSE array() END""".stripMargin.replace("\n", " "))
    (docsDf.select(col("doc_id"), expr(TextAnalytics.tokExpr).as("ts")), grams)
  }

  /** (doc_id, n-gram) pairs from any (doc_id, text) frame — distinct by
    * default (set semantics for shingle indexes), with occurrences kept
    * when a consumer counts repetition. Shared by the dedup family
    * (n=3), the corpus pipeline, decontamination (n=5), and the quality
    * filters (n=2). With `withPos` the rows carry the 1-based
    * start-token position `p` (substring-run detection) — the rows are
    * then unique by (doc, p), so `distinct` is ignored.
    *
    * PRECONDITION for `distinct = true`: the input is unique by
    * `doc_id` (every current caller feeds `documents` or a projection
    * of it). Dedup runs INSIDE each row's gram array, so a frame
    * carrying the same doc_id twice emits duplicated posting rows where
    * the old global `.distinct()` collapsed them — feed such a frame
    * through `.dropDuplicates("doc_id")` first. */
  private[ext] def nGramRowsOf(docsDf: DataFrame, n: Int,
      outCol: String = "shingle", distinct: Boolean = true,
      withPos: Boolean = false): DataFrame = {
    val (toks, grams) = tokGrams(docsDf, n)
    if (withPos)
      toks.select(col("doc_id"), posexplode(grams))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
          col("col").as(outCol))
    else if (distinct)
      // set semantics are PER DOCUMENT (rows are keyed by doc_id), so
      // dedup inside the gram array before exploding — a narrow map op.
      // A post-explode `.distinct()` computes the same rows but pays a
      // full shuffle of every posting for a dedup that never crosses a
      // document boundary; at 100 TB that shuffle is pure waste.
      toks.select(col("doc_id"), explode(array_distinct(grams)).as(outCol))
    else
      toks.select(col("doc_id"), explode(grams).as(outCol))
  }

  private[ext] def shingleRowsOf(docsDf: DataFrame): DataFrame =
    nGramRowsOf(docsDf, 3)

  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    shingleRowsOf(docs(s, dir))

  /** Shingle document-frequency cap: drop shingles appearing in more than
    * `maxDf` documents from the inverted index. A boilerplate shingle
    * shared by 1% of a 100 TB corpus makes any shingle-keyed self-join
    * quadratic in its posting list (df² pair fan-out) while carrying no
    * dedup signal — dropping it is standard MinHash practice and bounds
    * every downstream join at df·maxDf. The hot set is tiny by
    * construction (few shingles exceed the cap), so the filter is a
    * broadcast anti-join, not a shuffle. */
  private[ext] def capShingles(sh: DataFrame, maxDf: Int): DataFrame = {
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("shingle"))
    sh.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  /** Exact Jaccard over a df-capped shingle inverted index: candidate
    * pairs (docs sharing ≥1 surviving shingle) with |A∩B| / |A∪B| ≥
    * `threshold`. Columns: d1, d2, common, jaccard. The df cap bounds the
    * candidate fan-out at scale (see [[capShingles]]); testdata's max df
    * is 25, so the default cap of 100 provably doesn't change results
    * there.
    *
    * @param maxPairsPerDoc output bound for the PAIR SET itself — the
    *   quadratic object at 100 TB is not the candidate join (df-capped)
    *   but the qualifying pairs a hot near-dup cluster emits: a cluster
    *   of m mutual near-dups yields m·(m−1)/2 rows no matter how the
    *   join is organized. With `Some(k)` each document keeps only its k
    *   best pairs per side (see [[capPairsPerDoc]]) and rows gain a
    *   loud `truncated` column. Default None: exact output, unchanged
    *   schema — the graded differential rows run uncapped. */
  private[ext] def jaccardPairs(sh: DataFrame, threshold: Double,
      maxDf: Int = DefaultMaxShingleDf,
      maxPairsPerDoc: Option[Int] = None): DataFrame = {
    val exact = jaccardOnCapped(cappedIndex(sh, maxDf), threshold)
    maxPairsPerDoc.fold(exact)(k =>
      capPairsPerDoc(exact, "jaccard", k, "d1", "d2"))
  }

  /** Key the shingle index's FOUR consumers (hot-shingle agg, both
    * self-join sides, sizes agg) off ONE exchange: an explicit
    * repartition by `shingle` right after the tokenizer makes every
    * consumer's subtree share the identical Exchange node, which
    * ReuseExchange computes once — so the tokenizer regexp + explode +
    * md5 (the dominant map cost of the whole family) runs ONE corpus
    * pass instead of one per consumer (guide §2.4 "share one
    * exchange"; r16 A/B at sf0.1: jaccard 4.8 → 3.2 s, containment
    * 4.8 → 3.8 s, incremental 2.9 → 2.5 s, interleaved best-of-3).
    * The join sides needed this exchange anyway (they hash by shingle);
    * the hot/sizes branches trade their narrow partial-agg shuffles for
    * reads of already-written exchange blocks — strictly cheaper than
    * re-tokenizing at any scale. Row-preserving, so results are
    * untouched; no explicit partition count, so AQE still sizes the
    * shuffle to the data. */
  private def oneExchange(sh: DataFrame): DataFrame =
    sh.repartition(col("shingle"))

  /** The df-capped shingle index: [[capShingles]] over [[oneExchange]].
    * The cap sits AFTER the shared exchange so the tokenizer runs one
    * corpus pass — the hot-set aggregation reads the same exchange
    * blocks as every other consumer. Capping ahead of the exchange
    * would keep a stopword-grade shingle's rows off the wire, but its
    * hot set needs its own aggregation over the tokenizer output, so
    * the tokenizer runs twice: measured 15–25 % slower at the test
    * SFs. */
  private[ext] def cappedIndex(sh: DataFrame, maxDf: Int): DataFrame =
    capShingles(oneExchange(sh), maxDf)

  /** Bound a scored pair frame to ≤ `k` pairs PER DOCUMENT PER SIDE
    * (≤ 2k total per doc), keeping the highest scores; deterministic
    * tie-break on the partner id. Survivors carry `truncated = true`
    * iff either endpoint's candidate supply EXCEEDED a side cap — the
    * loud marker that the doc's pair list is PARTIAL, so a downstream
    * consumer (cluster builder, audit) can never mistake a bounded
    * list for the complete neighborhood. (Deliberately supply-based:
    * a doc under both caps can still lose a pair dropped from its
    * partner's side — in a capped regime ANY doc touching an
    * over-supplied doc is flagged through that partner's row; a
    * consumer needing one doc's exact neighborhood runs the uncapped
    * query filtered to it.)
    *
    * Scale shape: both cap passes are the row_number-over-window ≤
    * limit idiom, which Spark plans as its sort-based group limit:
    * Sort → WindowGroupLimit (Partial, ≤ k rows per doc per input
    * partition) → Exchange by doc → Sort → WindowGroupLimit (Final) →
    * Window → Filter. Only k rows per doc per partition cross the
    * shuffle, and the sorts spill, so a hot doc's full pair list never
    * has to fit in memory. The overflow probe is one linear count per
    * side filtered to the (tiny, by construction) over-supplied doc
    * set. Caps apply sequentially (side 2 sees side 1's survivors), so
    * both bounds hold exactly on the final output. */
  private[ext] def capPairsPerDoc(pairs: DataFrame, score: String, k: Int,
      left: String, right: String): DataFrame = {
    require(k >= 1, s"maxPairsPerDoc must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    // the scored pair frame fans into THREE consumers (two overflow
    // probes + the cap chain) whose column renames defeat exchange
    // reuse — pin it once (lazy localCheckpoint, the module's idiom
    // for escaping frames; blocks are context-cleaned on GC) so the
    // expensive candidate join computes once, not three times
    val pinned = pairs.transform(Pins.pin)
    // docs whose pre-cap candidate supply overflows EITHER side cap
    def overOn(side: String) = pinned.select(col(side).as("_doc"))
      .groupBy(col("_doc")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > k).select(col("_doc"))
    val overDocs = overOn(left).unionByName(overOn(right)).distinct()
      .withColumn("_tr", lit(true))
    def capSide(df: DataFrame, side: String, other: String): DataFrame = {
      val w = Window.partitionBy(col(side))
        .orderBy(col(score).desc, col(other))
      df.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= k).drop("_rk")
    }
    capSide(capSide(pinned, left, right), right, left)
      .join(overDocs.withColumnRenamed("_doc", left)
        .withColumnRenamed("_tr", "_tl"), Seq(left), "left")
      .join(overDocs.withColumnRenamed("_doc", right)
        .withColumnRenamed("_tr", "_tr2"), Seq(right), "left")
      .withColumn("truncated",
        coalesce(col("_tl"), lit(false)) || coalesce(col("_tr2"), lit(false)))
      .drop("_tl", "_tr2")
  }

  /** [[jaccardPairs]] body over an already-df-capped index. The capped
    * relation fans into three consumers (sizes + both self-join sides).
    * Only the two self-join sides share an exchange subtree (both hash
    * by `shingle`), so ReuseExchange computes THAT shuffle once; the
    * sizes branch exchanges by `doc_id`, a distinct subtree, so the
    * capped relation's map-side work runs under two exchanges, not one.
    * (Inside [[capShingles]] the hot-set aggregation's exchange is still
    * reused across all three.) The sf0.1 A/B showed de-caching is still
    * a wash at today's scale; at much larger SFs the duplicated map work
    * is the term to re-measure. Callers holding a cached/checkpointed
    * index (the corpus pipeline's loan scope) pass it here directly. */
  private[ext] def jaccardOnCapped(capped: DataFrame, threshold: Double): DataFrame = {
    val a = capped.select(col("doc_id").as("d1"), col("shingle"))
    val b = capped.select(col("doc_id").as("d2"), col("shingle"))
    val commons = a.join(b, Seq("shingle"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("common"))
    jaccardFinish(capped, commons, threshold)
  }

  /** The ONE Scala-side definition of the near-dup decision over a
    * (d1, d2, common) frame: sizes join + |A∩B| / |A∪B| + threshold —
    * shared by the exact self-join path ([[jaccardOnCapped]]) and the
    * candidate-verify path ([[verifyJaccard]]) so a formula or
    * threshold-semantics change cannot land in one and not the other
    * (the SQL twin of this contract is [[dJaccardCtes]]). */
  private def jaccardFinish(sh: DataFrame, commons: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    commons
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("common"), col("jaccard"))
  }

  private[ext] val DefaultMaxShingleDf = 100

  /** Directed containment pairs over the SAME df-capped inverted index
    * as [[jaccardPairs]]: candidates (d1 < d2) with their shared-shingle
    * count, then BOTH directions scored |A∩B|/|A| and cut at the rounded
    * `threshold` — the asymmetric twin of [[jaccardFinish]]'s symmetric
    * decision. Columns: contained, container, common, containment. */
  private[ext] def containmentPairs(sh: DataFrame, threshold: Double,
      maxDf: Int = DefaultMaxShingleDf,
      maxPairsPerDoc: Option[Int] = None): DataFrame = {
    val capped = cappedIndex(sh, maxDf)
    val a = capped.select(col("doc_id").as("d1"), col("shingle"))
    val b = capped.select(col("doc_id").as("d2"), col("shingle"))
    val commons = a.join(b, Seq("shingle"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("common"))
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val sized = commons
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
    val dir1 = sized.select(col("d1").as("contained"), col("d2").as("container"),
      col("common"),
      round(col("common").cast("double") / col("n1").cast("double"), 4).as("containment"))
    val dir2 = sized.select(col("d2").as("contained"), col("d1").as("container"),
      col("common"),
      round(col("common").cast("double") / col("n2").cast("double"), 4).as("containment"))
    val exact = dir1.unionByName(dir2).filter(col("containment") >= threshold)
    // same output-bound contract as [[jaccardPairs]]: a boilerplate
    // container (a doc every snippet is contained in) emits one DIRECTED
    // row per member — cap per contained/container side, mark survivors
    maxPairsPerDoc.fold(exact)(k =>
      capPairsPerDoc(exact, "containment", k, "contained", "container"))
  }

  /** MinHash(8) + LSH 4×2 banding over a shingle inverted index →
    * distinct candidate pairs (d1 < d2). Candidates arrive via equi-join
    * on the band key, never pairwise comparison — the piece that survives
    * 100 TB. Shared by the standalone query and the corpus pipeline's
    * stage 2. */
  /** MinHash(8) band keys per document: (doc_id, band_idx, band_key),
    * 4 bands of 2 hashes. Two independent 60-bit hashes per md5 digest
    * (chars 1-15 and 17-31) — 4 digest computations for 8 min-hashes,
    * not 8. The min runs on the HEX SUBSTRINGS: fixed-width lowercase
    * hex orders identically to its numeric value, so min commutes with
    * conv and the radix conversion runs once per (doc, hash) instead of
    * once per posting. Exposed separately from [[bandCandidatesOf]] so
    * the incremental path can equi-join a new batch's bands against a
    * (conceptually precomputed) corpus band index. */
  private[ext] def bandKeysOf(sh: DataFrame): DataFrame = {
    val digests = (0 until 4).map(s0 =>
      md5(concat(col("shingle"), lit(s"#$s0"))).as(s"d$s0"))
    val hashed = sh.select(col("doc_id") +: digests: _*)
    val minCols = (0 until 8).map { i =>
      val off = if (i % 2 == 0) 1 else 17
      min(substring(col(s"d${i / 2}"), off, 15)).as(s"h$i")
    }
    val mins = hashed.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id") +: (0 until 8).map(i =>
        conv(col(s"h$i"), 16, 10).cast("long").as(s"m$i")): _*)
    mins.select(col("doc_id"), explode(map(
      lit(0), concat_ws(":", col("m0"), col("m1")),
      lit(1), concat_ws(":", col("m2"), col("m3")),
      lit(2), concat_ws(":", col("m4"), col("m5")),
      lit(3), concat_ws(":", col("m6"), col("m7"))
    )).as(Seq("band_idx", "band_key")))
  }

  /** JVM twin of [[bandKeysOf]] for a SINGLE document: the per-row
    * kernel the streaming dedup stage needs
    * (`graft.streaming.StreamAnalytics.streamingBandDedup`), where band
    * keys must be computed as each doc arrives — no batch groupBy
    * exists in a `flatMapGroupsWithState` pipeline. Bit-for-bit parity
    * with the SQL pipeline (same tokenizer regex, 3-token shingles, md5
    * "#seed" digests, min over the two 15-hex-char halves) is pinned in
    * ExtSpec against `bandKeysOf` over the same corpus. Null text (a
    * malformed record) yields no bands, matching the SQL path where
    * `lower(null)` propagates to an empty gram array. Lowercasing uses
    * Locale.ROOT — locale-independent, so the kernel is deterministic
    * across a heterogeneous cluster; parity with Spark's `lower()` on
    * NON-ASCII text additionally assumes a root-compatible default
    * locale (tr/az/lt JVMs diverge on dotted-I — not exercised by any
    * fixture, noted for operators shipping non-Latin corpora). */
  // compiled once — docBandKeys is the per-document streaming hot path
  private val TokenRegex = TextAnalytics.TokenPattern.r
  private val HexChars = "0123456789abcdef".toCharArray

  private[graft] def docBandKeys(text: String): Seq[(Int, String)] = {
    if (text == null) return Seq.empty
    // lowercase through UTF8String — the same function as Spark's
    // lower(), so the JVM-twin contract holds on any default locale
    val toks = TokenRegex
      .findAllIn(org.apache.spark.unsafe.types.UTF8String
        .fromString(text).toLowerCase.toString).toArray
    if (toks.length < 3) return Seq.empty
    val shingles = (0 to toks.length - 3)
      .map(i => toks(i) + " " + toks(i + 1) + " " + toks(i + 2)).distinct
    val md = java.security.MessageDigest.getInstance("MD5")
    // char-table hex, not f"%02x": the interpolator allocates a
    // java.util.Formatter per byte — 32 per digest, 4 digests per
    // shingle — which would dominate the cheap MD5 work with pure GC
    // pressure on this per-document streaming hot path
    def hex(s: String): String = {
      val b = md.digest(s.getBytes("UTF-8"))
      val out = new Array[Char](32)
      var i = 0
      while (i < 16) {
        val v = b(i) & 0xff
        out(2 * i) = HexChars(v >>> 4)
        out(2 * i + 1) = HexChars(v & 0xf)
        i += 1
      }
      new String(out)
    }
    val mins = Array.ofDim[Long](8)
    for (s0 <- 0 until 4) {
      var lo: String = null; var hi: String = null
      shingles.foreach { sh =>
        val h = hex(sh + "#" + s0)
        val a = h.substring(0, 15); val b = h.substring(16, 31)
        if (lo == null || a < lo) lo = a
        if (hi == null || b < hi) hi = b
      }
      mins(2 * s0) = java.lang.Long.parseLong(lo, 16)
      mins(2 * s0 + 1) = java.lang.Long.parseLong(hi, 16)
    }
    (0 until 4).map(b => b -> (mins(2 * b).toString + ":" + mins(2 * b + 1).toString))
  }

  private[ext] def bandCandidatesOf(sh: DataFrame): DataFrame = {
    val bands = bandKeysOf(sh)
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** Exact-Jaccard verifier over an explicit candidate pair set: joins
    * each (d1, d2) candidate back to the inverted index to count shared
    * shingles, then filters on the threshold. Fan-out is |candidates| ×
    * avg-shingles — bounded by however the candidates were generated
    * (MinHash bands at scale), never all-shared-shingle pairs. */
  private[ext] def verifyJaccard(sh: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    val commons = cand
      .join(sh.select(col("doc_id").as("d1"), col("shingle")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("common"))
    jaccardFinish(sh, commons, threshold)
  }

  /** [[dShingleRows]] over an arbitrary (doc_id, text) relation — the
    * corpus pipeline shingles its exact-dedup SURVIVORS, not raw
    * documents, and hand-retyping the generator there is exactly the
    * drift [[dNGrams]]' one-definition contract exists to prevent. */
  private[ext] def dShingleRowsFrom(src: String): String =
    s"SELECT DISTINCT doc_id, sh AS shingle FROM $src, UNNEST($dShingles) AS u(sh)"

  private val dShingleRows = dShingleRowsFrom("documents")

  /** The shingle-rows SQL for oracles composed OUTSIDE this module
    * (the streaming band-dedup replay reuses the exact batch banding). */
  private[graft] def dShingleRowsSql: String = dShingleRows

  /** DuckDB mirror of [[capShingles]]: CTE filtering `src` to shingles
    * with df ≤ maxDf (emitted as two CTE bodies, `hot` + the capped
    * relation named `out`). */
  private[ext] def dCapCtes(src: String, out: String, maxDf: Int): String =
    s"""hot AS (SELECT shingle FROM $src GROUP BY 1 HAVING count(*) > $maxDf),
       |$out AS (SELECT * FROM $src WHERE shingle NOT IN (SELECT shingle FROM hot))""".stripMargin

  /** DuckDB mirror of [[bandCandidatesOf]] over a CTE named `src`:
    * emits mins/bands/band_cand CTE bodies (band_cand has d1 < d2). */
  private[graft] def dBandCtes(src: String): String =
    s"""mins AS (
       |  SELECT doc_id,
       |   ${(0 until 8).map { i =>
            val off = if (i % 2 == 0) 1 else 17
            s"min(('0x' || substr(md5(shingle || '#${i / 2}'), $off, 15))::BIGINT) AS m$i"
          }.mkString(", ")}
       |  FROM $src GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b.band_idx, b.band_key FROM mins,
       |  LATERAL (VALUES (0, m0::VARCHAR || ':' || m1::VARCHAR),
       |                  (1, m2::VARCHAR || ':' || m3::VARCHAR),
       |                  (2, m4::VARCHAR || ':' || m5::VARCHAR),
       |                  (3, m6::VARCHAR || ':' || m7::VARCHAR)) AS b(band_idx, band_key)),
       |band_cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       |    AND x.doc_id < y.doc_id)""".stripMargin

  /** Maximal duplicated token runs across documents, the engine behind
    * `dedup_substring`: positioned K-token window hashes, df-capped
    * (2..8 docs) hash equi-join, consecutive matches merged by
    * gaps-and-islands on the (p1 − p2) diagonal. Split out so specs can
    * plant a verbatim block and assert the exact run boundaries. */
  private[ext] def substringRuns(docsDf: DataFrame, K: Int = 8): DataFrame = {
    // one-exchange restructure (see [[oneExchange]]): wins feeds the
    // eligibility agg AND the hash-join probe side — repartitioning by
    // `h` right after the window hashing makes both consumers share one
    // Exchange, so the posexplode + md5 pass runs once, and the elig
    // groupBy(h) needs no second shuffle (r16 A/B: 3.3 → 2.4 s at sf0.1)
    val wins = nGramRowsOf(docsDf, K, outCol = "g", withPos = true)
      .select(col("doc_id"), col("p"), h60(col("g")).as("h"))
      .repartition(col("h"))
    val elig = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= 8).select(col("h"))
    val hw = wins.join(elig, Seq("h"))
    val pairs = hw.select(col("h"), col("doc_id").as("d1"), col("p").as("p1"))
      .join(hw.select(col("h"), col("doc_id").as("d2"), col("p").as("p2")), Seq("h"))
      .filter(col("d1") < col("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
    val runs = pairs.withColumn("diag", col("p1") - col("p2"))
      .withColumn("grp", col("p1") - row_number().over(w).cast("long"))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("nw"), min(col("p1")).as("s1"))
    runs.groupBy(col("d1"), col("d2"))
      .agg(
        count(lit(1)).as("n_runs"),
        max(col("nw") + (K - 1)).as("max_run_tokens"),
        sum(col("nw")).as("dup_windows"),
        min(col("s1")).as("first_pos"))
  }

  /** THE exact-dedup text normalization — whitespace runs collapsed to
    * one space, trimmed, lowercased — hashed to md5; ONE Spark + SQL
    * pair shared by the standalone `dedup_exact_summary` query and the
    * corpus pipeline's stage 1, so "exact duplicate" cannot mean two
    * different things in the standalone query and the composed funnel.
    * (The pipeline's oracle previously re-typed the regex as '\\s+' —
    * a literal-backslash pattern that never matched, inert only
    * because the test corpus has no whitespace runs.) */
  private[ext] def normHash(c: Column): Column =
    md5(regexp_replace(trim(lower(c)), "\\s+", " "))
  private[ext] val dNormHash =
    """md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))"""

  /** THE md5-prefix hash key (DuckDB-reproducible, Spark + SQL pair) —
    * the single definition behind every salted pseudo-random key in the
    * package (split assignment, sampling, weights, caps, shards,
    * semantic-dedup seeds). `hexLen` 15 = 60 bits (the default); 13 =
    * 52 bits for uses that must stay float-exact as a double. Keeping
    * one (substring width, radix) pair here means a one-character slip
    * can no longer break a single query's parity while the others stay
    * green. */
  private[graft] def h60(c: Column, hexLen: Int = 15): Column =
    conv(substring(md5(c), 1, hexLen), 16, 10).cast("long")
  private[ext] def dH60(e: String, hexLen: Int = 15): String =
    s"('0x' || substr(md5($e), 1, $hexLen))::BIGINT"

  /** THE simhash oracle — shared verbatim by `dedup_simhash` (grouped
    * pipeline) and `dedup_simhash_expr` (native expression), so the two
    * queries are provably gated against the identical SQL. */
  private lazy val dSimhashSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${dH60("t")} AS h
       |  FROM documents, UNNEST(${TextAnalytics.dTok}) AS u(t)),
       |sums AS (
       |  SELECT doc_id,
       |   ${(0 until 16).map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")}
       |  FROM toks GROUP BY doc_id)
       |SELECT doc_id,
       | CAST(${(0 until 16).map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
       |FROM sums ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the full verified-jaccard chain over `documents`
    * (shingle → df-cap → candidate counts → threshold), ending in CTE
    * `out`(d1, d2, common, jaccard) — ONE definition shared by every
    * oracle that consumes verified pairs, so the formula/threshold/cap
    * can't drift between queries. */
  private[ext] def dJaccardCtes(out: String, threshold: Double): String =
    s"""sh0 AS ($dShingleRows),
       |${dCapCtes("sh0", "sh", DefaultMaxShingleDf)},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |$out AS (
       |  SELECT d1, d2, common,
       |    CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) AS jaccard
       |  FROM common
       |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) >= $threshold)""".stripMargin

  /** Connected components over an undirected pair list (d1, d2) by
    * hook + compress (pointer jumping) — the distributed-CC shape. Each
    * round HOOKS (label ← min of own and neighbors' labels: one keyed
    * join + one grouped min) then COMPRESSES (label ← label's label:
    * one label-keyed self-join), so reach squares per round and the
    * fixpoint — every node labeled with its component's minimum id —
    * arrives in O(log diameter) rounds, not diameter rounds (round 6;
    * the propagation-only form needed 5000 rounds for a 5000-long
    * chain, DedupProps pins the log bound). Labels decrease
    * monotonically, so the convergence flag rides the update passes.
    * The edge list is cached once so no round recomputes the upstream
    * pair generation, each round's labels replace the previous round's
    * cache immediately, and EVERY cache is dropped when `use` returns
    * (the loan discipline). The driver holds only a convergence counter
    * per round, never the data. */
  /** Release a loop frame's storage: the cache-manager entry AND, for a
    * `localCheckpoint()`'d frame, the checkpoint RDD itself — Dataset
    * .unpersist only covers the former (checkpoint storage is persisted
    * outside the cache manager), so without this every truncation round
    * would leak one persisted RDD past the loan scope (ExtSpec pins
    * that no cached RDDs survive the library call). Only the plan ROOT
    * is matched: a checkpoint frame is exactly a LogicalRDD leaf, while
    * matching arbitrary leaves could unpersist RDDs the CALLER owns
    * inside `pairs`' lineage. */
  private[ext] def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  private[ext] def withComponents[T](pairs: DataFrame, maxIter: Int = 30)
      (use: DataFrame => T): T = {
    // cached: every round joins against edges, and without this each
    // count() action would recompute the full upstream pair generation
    // (for dedup_clusters that is the shingle inverted-index self-join,
    // the heaviest pipeline in the bench) once per round
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .cache()
    var cached = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).cache()
    var labels = cached
    // exception-path cleanup; the happy path unpersists eagerly below
    // (a second unpersist of the same frame is a no-op)
    val retired = scala.collection.mutable.ListBuffer[DataFrame](edges, cached)
    try {
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("label")).as("nbr"))
        // the change flag rides along in the SAME update pass (labels
        // only ever decrease, so changed ⟺ the label decreased) — no
        // extra updated×labels join per round just to count convergence
        val hooked = labels
          .join(nbrMin.select(col("src").as("id"), col("nbr")), Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
            (coalesce(col("nbr"), col("label")) < col("label")).as("chg"))
        // hooked feeds BOTH sides of the compress self-join below: cache
        // it for the round so the hook join+agg (the heavy per-round
        // work) computes once, not once per side — released as soon as
        // the round's result materializes. (Round-7 profile: skipping
        // this cache and recomputing the hook per side is ~35% SLOWER
        // at sf0.1 — the cache write/read is cheaper than the join+agg.)
        hooked.cache()
        retired += hooked
        // POINTER JUMP (compress): label ← label's label. Hooking alone
        // moves the min one hop per round — diameter-many rounds, which
        // a 100 TB corpus with chain-shaped near-dup relations (paged
        // documents, serial boilerplate) can make adversarially deep.
        // Compression squares the reach of every round instead:
        // convergence in O(log diameter) rounds total. A label is
        // always itself a node id (init: own id; hook: min of node
        // ids; jump: a node's label), so the lookup is an equi-join of
        // the label table against itself — the popular-label probe side
        // is the dimension-join shape, no skew hazard on the build
        // side. The left join keeps nodes whose label has no row only
        // in theory (labels ⊆ ids by the invariant), and chg picks up
        // compression moves so the fixpoint test stays exact.
        val updatedPlan = hooked.as("h")
          .join(hooked.select(col("id").as("lid"), col("label").as("llabel")).as("m"),
            col("h.label") === col("m.lid"), "left")
          .select(col("h.id").as("id"),
            coalesce(col("m.llabel"), col("h.label")).as("label"),
            (col("h.chg") ||
              coalesce(col("m.llabel"), col("h.label")) < col("h.label")).as("chg"))
        // caching truncates RECOMPUTATION but not the LOGICAL plan, and
        // each round references `labels` FOUR times (hook's join+agg,
        // compress's two sides) — uncheckpointed, the nested plan would
        // grow 4^rounds and OOM the optimizer on the driver before any
        // data moves. localCheckpoint EVERY round cuts the lineage to
        // an RDD leaf, keeping per-round analysis cost constant (eager,
        // so it is materialized — and persisted — right here, exactly
        // like the cache it replaces; executor loss would lose the
        // truncated lineage, which local mode cannot hit and a cluster
        // run would absorb by rerunning the component loop). LAZY, so
        // the chg-count below materializes the checkpoint in the SAME
        // job — eager checkpointing would run one extra full pass per
        // round just to then count over the stored blocks.
        val updated = updatedPlan.transform(Pins.pin)
        retired += updated
        // the count materializes `updated`, after which the prior
        // round's CACHED frame (not the derived view) has no consumers —
        // drop it NOW so one (id, label) frame is live, not diameter-many
        changed = updated.filter(col("chg")).count()
        release(hooked)
        release(cached)
        cached = updated
        labels = updated.select(col("id"), col("label"))
        iter += 1
      }
      require(changed == 0L,
        s"connected components did not converge in $maxIter rounds")
      use(labels)
    } finally retired.foreach(release)
  }

  /** Fresh sink per [[clusterSummary]] call: a fixed per-process path
    * would let a second call silently invalidate the lazy frame an
    * earlier call returned (and race concurrent sessions in one JVM).
    * PID isolates across JVMs; the counter isolates calls within one.
    * Paths accumulate in tmp for the process lifetime by design — the
    * returned frame stays a lazy scan, so the backing files must
    * outlive the call. */
  private val clusterSummarySeq = new java.util.concurrent.atomic.AtomicLong(0)
  private[ext] def nextClusterSummaryPath(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cluster_summary_" +
      s"${ProcessHandle.current().pid()}_${clusterSummarySeq.incrementAndGet()}.parquet"

  /** Connected-component cluster summary over near-dup `pairs`, fully
    * distributed end to end: the label fixpoint runs inside
    * [[withComponents]]' loan scope, and the per-cluster (cluster_id,
    * n_docs) aggregate is materialized to a temp parquet BEFORE the loan
    * releases its caches — the returned frame is a lazy scan of that
    * parquet, so the driver never holds a row. (The previous shape
    * collected the summary to release the loan, which bounded the
    * operator by the driver's memory at the number-of-clusters scale —
    * corpus-sized at 100 TB.) */
  private[ext] def clusterSummary(s: SparkSession, pairs: DataFrame,
      maxIter: Int): DataFrame = {
    val path = nextClusterSummaryPath()
    withComponents(pairs, maxIter) { labels =>
      labels.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  override val defs: Seq[(String, Q)] = Seq(

    // Exact dedup: hash-groupBy on normalized text (whitespace-collapsed
    // lowercase). One shuffle on the 128-bit digest; at 100 TB this is the
    // standard first pass (hash, not raw text, as the shuffle key).
    "dedup_exact_summary" -> Q(
      (s, dir) => {
        val norm = normHash(col("text"))
        val groups = docs(s, dir)
          .groupBy(norm.as("text_hash"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("canonical_doc"))
        groups.agg(
          count(lit(1)).as("n_unique_texts"),
          count(when(col("n") > 1, 1)).as("n_dup_groups"),
          sum(col("n") - 1).as("n_redundant_docs"))
      },
      Some(s"""WITH g AS (
             |  SELECT $dNormHash AS text_hash,
             |    count(*) AS n, min(doc_id) AS canonical_doc
             |  FROM documents GROUP BY 1)
             |SELECT count(*) AS n_unique_texts,
             | count(*) FILTER (WHERE n > 1) AS n_dup_groups,
             | CAST(sum(n - 1) AS BIGINT) AS n_redundant_docs
             |FROM g""".stripMargin),
      doc = "exact dedup via normalized-text hash groupBy"),

    // Exact n-gram Jaccard near-dup pairs: df-capped shingle-inverted-
    // index self-join generates candidates (only docs sharing ≥1
    // non-boilerplate shingle meet), then |A∩B| / |A∪B| ≥ 0.5. This is
    // the verifier stage of the MinHash pipeline, runnable standalone at
    // moderate scale; the df cap (see capShingles) bounds the join
    // fan-out at 100 TB.
    "dedup_jaccard_pairs" -> Q(
      (s, dir) =>
        // No cache: the two self-join sides of the capped index share an
        // exchange subtree (ReuseExchange computes that shuffle once; the
        // sizes branch hashes by doc_id, a separate exchange — see
        // jaccardOnCapped) — library calls leave no persistent RDDs behind.
        jaccardPairs(shingleRows(s, dir), 0.5).orderBy(col("d1"), col("d2")),
      Some(s"""WITH ${dJaccardCtes("jp", 0.5)}
              |SELECT d1, d2, common, jaccard FROM jp ORDER BY d1, d2""".stripMargin),
      doc = "n-gram Jaccard near-dup (df-capped inverted-index candidate join)"),

    // Cross-source contamination matrix: verified near-dup pairs rolled
    // up by the (source, source) edge — the report that shows which
    // crawl snapshots / corpus shards duplicate each other (diagonal =
    // within-source dup rate). Pure composition: the df-capped jaccard
    // pair machinery + two broadcast dims; the pair endpoints are
    // canonicalized (least, greatest) so the matrix is one triangle.
    "dedup_source_matrix" -> Q(
      (s, dir) => {
        val src = docs(s, dir).select(col("doc_id"), col("source"))
        jaccardPairs(shingleRows(s, dir), 0.5)
          .select(col("d1"), col("d2"))
          .join(broadcast(src.select(col("doc_id").as("d1"), col("source").as("src1"))), Seq("d1"))
          .join(broadcast(src.select(col("doc_id").as("d2"), col("source").as("src2"))), Seq("d2"))
          .groupBy(
            least(col("src1"), col("src2")).as("source_a"),
            greatest(col("src1"), col("src2")).as("source_b"))
          .agg(count(lit(1)).as("n_dup_pairs"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH ${dJaccardCtes("jp", 0.5)}
              |SELECT least(da.source, db.source) AS source_a,
              |       greatest(da.source, db.source) AS source_b,
              |       count(*) AS n_dup_pairs
              |FROM jp
              |JOIN documents da ON jp.d1 = da.doc_id
              |JOIN documents db ON jp.d2 = db.doc_id
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "near-dup contamination matrix by (source, source) edge"),

    // Shingle CONTAINMENT pairs — the asymmetric near-dup signal
    // symmetric Jaccard structurally misses: a short document pasted
    // inside a much longer one scores |A∩B|/|A∪B| ≈ |A|/|B| (tiny) but
    // containment |A∩B|/|A| ≈ 1. This is the dedup decision for
    // quote-inflation / boilerplate-wrapped reposts, emitted as DIRECTED
    // (contained, container) rows at ≥ 0.8 — a near-identical pair
    // legitimately appears in both directions. Same df-capped inverted
    // index and candidate equi-join as the Jaccard path (one shared
    // candidate machinery, two decision rules); the threshold compares
    // the ROUNDED ratio so both engines make the identical cut.
    "dedup_containment" -> Q(
      (s, dir) =>
        containmentPairs(shingleRows(s, dir), 0.8)
          .orderBy(col("contained"), col("container")),
      Some(s"""WITH sh0 AS ($dShingleRows),
              |${dCapCtes("sh0", "sh", DefaultMaxShingleDf)},
              |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
              |common AS (
              |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
              |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |sized AS (
              |  SELECT d1, d2, common, s1.n_sh AS n1, s2.n_sh AS n2
              |  FROM common
              |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id),
              |dirs AS (
              |  SELECT d1 AS contained, d2 AS container, common,
              |    round(CAST(common AS DOUBLE) / n1, 4) AS containment FROM sized
              |  UNION ALL
              |  SELECT d2, d1, common,
              |    round(CAST(common AS DOUBLE) / n2, 4) FROM sized)
              |SELECT contained, container, common, containment
              |FROM dirs WHERE containment >= 0.8
              |ORDER BY contained, container""".stripMargin),
      doc = "asymmetric containment dedup |A∩B|/|A| >= 0.8 (directed pairs off the shared df-capped candidate join)"),

    // MinHash + LSH: 8 min-hashes per doc, banded 4×2; docs sharing any
    // band bucket are candidate near-dups. The banding join is the piece
    // that survives 100 TB — candidates are found by equi-join on the
    // band key, never by pairwise comparison.
    "dedup_minhash_candidates" -> Q(
      (s, dir) =>
        bandCandidatesOf(shingleRows(s, dir)).orderBy(col("d1"), col("d2")),
      Some(s"""WITH sh AS ($dShingleRows),
              |${dBandCtes("sh")}
              |SELECT d1, d2 FROM band_cand ORDER BY d1, d2""".stripMargin),
      doc = "MinHash(8) + LSH banding (4×2) candidate generation"),

    // Incremental dedup: a NEW BATCH (doc_id % 10 = 9 stands in for
    // today's crawl) near-dup-checked against the STANDING CORPUS (the
    // rest) — the shape that matters operationally, since re-deduping
    // 100 TB from scratch per ingest is a non-starter. The batch's band
    // keys equi-join against the corpus's band index. In production the
    // corpus side is a PRECOMPUTED, incrementally-maintained table (that
    // is the point of the shape); in this self-contained query both
    // sides re-derive from the same shingle index — the differing
    // doc_id filters make the two subtrees distinct, so the band
    // computation runs once per side here (acceptable at query scale,
    // moot at production scale where the corpus index is stored).
    // Batch×batch pairs are excluded by construction; the probe cost
    // scales with |batch|, not |corpus|.
    "dedup_incremental" -> Q(
      (s, dir) => {
        // oneExchange: sh feeds band-key derivation, both verify join
        // sides, and the sizes agg — share the tokenizer output through
        // one shingle-keyed exchange (r16 A/B: 2.9 → 2.5 s at sf0.1;
        // the doc_id-keyed alternative measured SLOWER, 3.1–3.5 s).
        val sh = cappedIndex(shingleRows(s, dir), DefaultMaxShingleDf)
        val bands = bandKeysOf(sh)
        val batch = bands.filter(col("doc_id") % 10 === 9)
          .select(col("band_idx"), col("band_key"), col("doc_id").as("new_doc"))
        val corpus = bands.filter(col("doc_id") % 10 =!= 9)
          .select(col("band_idx"), col("band_key"), col("doc_id").as("corpus_doc"))
        val cand = batch.join(corpus, Seq("band_idx", "band_key"))
          .select(least(col("new_doc"), col("corpus_doc")).as("d1"),
            greatest(col("new_doc"), col("corpus_doc")).as("d2"))
          .distinct()
        verifyJaccard(sh, cand, 0.5)
          .select(
            when(col("d1") % 10 === 9, col("d1")).otherwise(col("d2")).as("new_doc"),
            when(col("d1") % 10 === 9, col("d2")).otherwise(col("d1")).as("corpus_doc"),
            col("common"), col("jaccard"))
          .orderBy(col("new_doc"), col("corpus_doc"))
      },
      Some(s"""WITH sh0 AS ($dShingleRows),
              |${dCapCtes("sh0", "sh", DefaultMaxShingleDf)},
              |${dBandCtes("sh")},
              |cross_cand AS (
              |  SELECT d1, d2 FROM band_cand WHERE (d1 % 10 = 9) <> (d2 % 10 = 9)),
              |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
              |pairs AS (
              |  SELECT c.d1, c.d2, count(*) AS common
              |  FROM cross_cand c
              |  JOIN sh a ON a.doc_id = c.d1
              |  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
              |  GROUP BY 1, 2),
              |verified AS (
              |  SELECT d1, d2, common,
              |    CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) AS jaccard
              |  FROM pairs
              |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
              |  WHERE CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) >= 0.5)
              |SELECT CASE WHEN d1 % 10 = 9 THEN d1 ELSE d2 END AS new_doc,
              | CASE WHEN d1 % 10 = 9 THEN d2 ELSE d1 END AS corpus_doc,
              | common, jaccard
              |FROM verified ORDER BY new_doc, corpus_doc""".stripMargin),
      doc = "incremental near-dup: new batch banded against the corpus index"),

    // Dedup clustering: connected components over the verified
    // near-dup pairs — the principled completion of pairwise dedup
    // (greedy "drop d2" is order-sensitive; CC assigns every doc of a
    // duplicate group one canonical cluster = the group's min doc_id,
    // an order-free choice a 1000-executor run reproduces exactly).
    // Spark runs the distributed min-label-propagation loop; the oracle
    // replays the same fixpoint with a recursive transitive closure —
    // integer-only, so parity is exact. Output: one row per cluster
    // (docs appearing in ≥1 pair), with its size — materialized
    // DISTRIBUTED (temp parquet inside the loan scope), never collected:
    // at corpus scale the number of near-dup clusters is itself
    // corpus-sized (10⁷–10⁸ rows at 100 TB), so a driver-side array
    // here would be the one non-distributed step of the whole family.
    "dedup_clusters" -> Q(
      (s, dir) => {
        val pairs = jaccardPairs(shingleRows(s, dir), 0.5).select(col("d1"), col("d2"))
        // maxIter bounds propagation rounds at the component diameter;
        // 64 covers any plausible near-dup drift chain and still fails
        // loudly (rather than silently mislabeling) past it
        clusterSummary(s, pairs, maxIter = 64).orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE ${dJaccardCtes("jp", 0.5)},
              |edges AS (SELECT d1 AS a, d2 AS b FROM jp
              |          UNION SELECT d2, d1 FROM jp),
              |reach(a, b) AS (
              |  SELECT a, b FROM edges
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
              |labels AS (
              |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
              |  FROM reach GROUP BY a)
              |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
              |FROM labels GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),
      doc = "near-dup clustering: connected components over verified pairs"),

    // SimHash: 16-bit signature from per-token 60-bit hashes; exact
    // signature collisions are near-dup groups. Integer-only → exact
    // cross-engine parity.
    "dedup_simhash" -> Q(
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"),
            explode(expr(TextAnalytics.tokExpr)).as("token"))
          .withColumn("h", h60(col("token")))
        val bitCols = (0 until 16).map(b =>
          sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
            .as(s"s$b"))
        val bitSums = toks.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
        bitSums
          .select(col("doc_id"),
            (0 until 16).map(b =>
              when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
              .reduce(_ + _).as("simhash"))
          .orderBy(col("doc_id"))
      },
      Some(dSimhashSql),
      doc = "SimHash(16-bit) signatures (integer-exact)"),

    // The SAME signatures through the native codegen'd expression
    // (functions/TextExpressions.SimHash16) — one pass over the string,
    // no explode/shuffle — sharing dedup_simhash's DuckDB oracle, so
    // the custom expression sits under the differential gate exactly
    // like the custom top-k operator does.
    "dedup_simhash_expr" -> Q(
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"),
            graft.functions.TextExpressions.simhash16(col("text")).as("simhash"))
          .filter(col("simhash").isNotNull)
          .orderBy(col("doc_id")),
      Some(dSimhashSql),
      doc = "native simhash16 expression under the differential gate"),

    // Substring-level dedup: find maximal duplicated token RUNS across
    // documents (the exact-substring mode the shingle family can't see —
    // a 40-token verbatim block inside two otherwise-different docs).
    // Shape: positioned 8-token windows → 60-bit hash → window-hash
    // equi-join restricted to hashes seen in 2..8 docs (the df cap
    // bounds fan-out exactly like the Jaccard index cap) → consecutive
    // matches merged into runs by gaps-and-islands on the (p1 - p2)
    // diagonal. Everything after the join is integer window/agg work,
    // so cross-engine parity is exact. At 100 TB each stage is a keyed
    // shuffle; no pairwise comparison ever materializes beyond the
    // df-capped hash buckets.
    "dedup_substring" -> Q(
      (s, dir) => substringRuns(docs(s, dir)).orderBy(col("d1"), col("d2")),
      Some(s"""WITH wins AS (
              |  SELECT doc_id, w['p'] AS p,
              |    ${dH60("w['g']")} AS h
              |  FROM documents, UNNEST(${dNGramsPos(8)}) AS u(w)),
              |elig AS (
              |  SELECT h FROM wins GROUP BY h
              |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 8),
              |pairs AS (
              |  SELECT a.doc_id AS d1, a.p AS p1, b.doc_id AS d2, b.p AS p2
              |  FROM wins a JOIN wins b ON a.h = b.h AND a.doc_id < b.doc_id
              |  WHERE a.h IN (SELECT h FROM elig)),
              |isl AS (
              |  SELECT d1, d2, p1 - p2 AS diag, p1,
              |    p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, p1 - p2
              |      ORDER BY p1 NULLS FIRST) AS grp
              |  FROM pairs),
              |runs AS (
              |  SELECT d1, d2, diag, grp, count(*) AS nw, min(p1) AS s1
              |  FROM isl GROUP BY 1, 2, 3, 4)
              |SELECT d1, d2, count(*) AS n_runs,
              | CAST(max(nw + 7) AS BIGINT) AS max_run_tokens,
              | CAST(sum(nw) AS BIGINT) AS dup_windows,
              | min(s1) AS first_pos
              |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "exact substring dedup: maximal duplicated 8-token runs across docs"),
  )
}
