package graft.ext

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed training-data cleaning pipeline (the north-star use-case
  * the individual dedup/quality operators exist for): exact dedup →
  * near-dup removal → quality filter, as ONE DataFrame DAG over
  * `documents`.
  *
  * Stage semantics (deterministic, oracle-mirrored):
  *  1. exact: keep the min doc_id per normalized-text hash;
  *  2. near-dup: MinHash-band candidate pairs (the deterministic
  *     md5-derived MinHash of dedup_minhash_candidates, over the
  *     df-capped shingle index) verified by exact word-3-gram Jaccard
  *     ≥ 0.5; greedily drop every doc that near-dups a SMALLER-id
  *     survivor (d2 of any verified pair);
  *  3. quality: 20 ≤ tokens ≤ 500 and ≥ 1 stopword.
  *
  * Stage 2 is the 100 TB shape: candidates arrive via equi-join on the
  * band key (never the all-shared-shingle self-join, whose fan-out is
  * quadratic in a hot shingle's posting list), and the exact-Jaccard
  * verifier touches only those candidates. The MinHash is md5-derived on
  * both engines, so the DuckDB oracle reproduces the banding — and the
  * probabilistic recall — bit-for-bit.
  */
object CorpusPipeline {

  // tokenizer + stopword pattern shared with TextAnalytics/Dedup
  private val tok = TextAnalytics.tokExpr
  private val stop = s"regexp_count(lower(text), '${TextAnalytics.stopPattern}')"

  /** Per-stage survivors — (doc_id, stage) where stage ∈ exact_kept /
    * neardup_kept / quality_kept — handed to `use` as a loan.
    *
    * Each multi-consumer intermediate (exact survivors, capped shingle
    * index, near-dup survivors) is `localCheckpoint`ed and materialized
    * EAGERLY, in dependency order, before its consumers plan — the
    * Graph/Dedup iterated-frame discipline. Versus the previous lazy
    * `cache()` this is a measured wash on wall time at sf0.1 (the
    * caches did populate in time), but it buys determinism — each stage
    * computes exactly once regardless of how the scheduler interleaves
    * the union's branches — and truncates lineage, so the band/verify
    * plans re-analyze a flat RDD leaf instead of the whole funnel.
    * Every checkpointed frame is released when `use` returns — a
    * library call leaves NO pinned RDDs behind. Materialize inside
    * `use`; the staged frame is invalid after it returns. */
  def withCleanedDocs[T](s: SparkSession, dir: String)(use: DataFrame => T): T = {
    val docs = Tables.documents(s, dir)
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val c = Pins.pin(df)
      held += c
      c.count() // materialize NOW: consumers read stored blocks only
      c
    }
    try {
      // stage 1 — exact dedup on normalized text (three consumers:
      // shingling, the near-dup anti-join, the stage union). As an
      // AGGREGATE, not a window: min_by(struct, doc_id) per hash is the
      // same keeper row (same h = same normalized text; the min-doc's
      // raw text rides along), but the hash aggregate gets map-side
      // PARTIAL aggregation — duplicate groups collapse before the
      // exchange, so a heavily-duplicated corpus ships one survivor
      // per (map partition, h) instead of every row — and skips the
      // window's per-partition sort (guide §2.3 aggregate-before-
      // shuffle; the window shape shuffled and sorted the full text).
      val exactKept = pin(docs
        .withColumn("h", Dedup.normHash(col("text")))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"),
          expr("min_by(text, doc_id)").as("text"))
        // a hash group whose every doc_id is NULL aggregates to a
        // (null, null) row the window+filter shape never emitted
        // (doc_id === keeper is never true on nulls) — drop it so the
        // rewrite is row-identical on dirty data too
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("text")))

      // stage 2 — near-dup removal among exact survivors: df-capped
      // shingle index → MinHash-band candidates → exact-Jaccard verify,
      // reusing Dedup's shared stages (the bounded-fan-out scale path)
      val sh = pin(Dedup.capShingles(Dedup.shingleRowsOf(exactKept),
        Dedup.DefaultMaxShingleDf))
      val pairs = Dedup.verifyJaccard(sh, Dedup.bandCandidatesOf(sh), 0.5)
      val dupIds = pairs.select(col("d2").as("doc_id")).distinct()
      // the quality counters ride the PINNED frame: computed once per
      // row at materialization. A post-pin `withColumn("n_tok", ...)`
      // would NOT tokenize once — the filter's alias references get
      // inlined below the Project (PushPredicateThroughNonJoin), so
      // each range bound re-runs the full-text regexp; behind the
      // localCheckpoint leaf there is nothing to push into.
      val neardupKept = pin(exactKept.join(dupIds, Seq("doc_id"), "left_anti")
        .withColumn("n_tok", expr(s"size($tok)"))
        .withColumn("n_stop", expr(stop)))

      // stage 3 — quality filter over the materialized counters
      val qualityKept = neardupKept
        .filter(col("n_tok") >= 20 && col("n_tok") <= 500 && col("n_stop") > 0)

      // n_tok rides along where a stage already materialized it
      // (stage-2 counters): the export's token budget then SUMS the
      // pinned counter instead of re-running the tokenizer regexp over
      // every surviving text — one full tokenizer pass removed from
      // corpus_train_export, and its documents join no longer needs
      // the text column at all (guide §1.2 / §2.3 project-early).
      // exact_kept rows predate the counter; they carry null (no
      // consumer reads n_tok at that stage).
      val staged = exactKept.select(col("doc_id"),
          lit("exact_kept").as("stage"), lit(null).cast("long").as("n_tok"))
        .unionByName(neardupKept.select(col("doc_id"),
          lit("neardup_kept").as("stage"), col("n_tok").cast("long")))
        .unionByName(qualityKept.select(col("doc_id"),
          lit("quality_kept").as("stage"), col("n_tok").cast("long")))

      use(staged)
    } finally held.foreach(Pins.release)
  }

  /** DuckDB mirror of [[withCleanedDocs]]'s stage chain, ending in the
    * CTEs `exact_kept(doc_id, text)`, `neardup_kept(doc_id, text)`,
    * `quality_kept(doc_id)` — ONE definition shared by every oracle
    * that consumes the cleaned corpus (`corpus_clean_summary`,
    * `corpus_train_export`), so the stage semantics cannot drift
    * between the summary and the export. */
  private def dCleanCtes: String =
    s"""norm AS (
       |  SELECT doc_id, text,
       |    ${Dedup.dNormHash} AS h
       |  FROM documents),
       |exact_kept AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY h) AS keeper
       |    FROM norm) WHERE doc_id = keeper),
       |sh0 AS (${Dedup.dShingleRowsFrom("exact_kept")}),
       |${Dedup.dCapCtes("sh0", "sh", Dedup.DefaultMaxShingleDf)},
       |${Dedup.dBandCtes("sh")},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT c.d1, c.d2, count(*) AS common
       |  FROM band_cand c
       |  JOIN sh a ON a.doc_id = c.d1
       |  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |dups AS (
       |  SELECT DISTINCT d2 AS doc_id FROM pairs
       |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) >= 0.5),
       |neardup_kept AS (
       |  SELECT doc_id, text FROM exact_kept
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
       |quality_kept AS (
       |  SELECT doc_id FROM neardup_kept
       |  WHERE len(regexp_extract_all(lower(text), '${TextAnalytics.TokenPattern}')) BETWEEN 20 AND 500
       |    AND len(regexp_extract_all(lower(text), '${TextAnalytics.dStop}')) > 0)""".stripMargin

  val defs: Seq[(String, Q)] = Seq(
    "corpus_clean_summary" -> Q(
      (s, dir) => {
        import s.implicits._
        // Materialized INSIDE the loan scope — the summary is bounded at
        // one row per stage (3), so collecting it is free and lets the
        // build's caches drop deterministically instead of leaking until
        // someone calls clearCache().
        val counts = withCleanedDocs(s, dir)(
          _.groupBy(col("stage")).agg(count(lit(1)).as("n_docs"))
            .orderBy(col("stage"))
            .as[(String, Long)].collect().toSeq)
        counts.toDF("stage", "n_docs").orderBy(col("stage"))
      },
      Some(s"""WITH $dCleanCtes,
             |staged AS (
             |  SELECT doc_id, 'exact_kept' AS stage FROM exact_kept
             |  UNION ALL SELECT doc_id, 'neardup_kept' FROM neardup_kept
             |  UNION ALL SELECT doc_id, 'quality_kept' FROM quality_kept)
             |SELECT stage, count(*) AS n_docs FROM staged
             |GROUP BY stage ORDER BY stage""".stripMargin),
      doc = "composed cleaning pipeline: exact dedup → near-dup → quality"),

    // The END of the funnel: what actually ships to training. Quality
    // survivors → benchmark decontamination (the prep_decontaminate
    // rule: the doc_id%10=0 eval slice is excluded outright and any
    // survivor sharing ≥ 3 word-5-grams with it drops) → deterministic
    // hash split → per-split doc/token/char budget. This is the number
    // a data team actually reports ("how many tokens of train after
    // cleaning?"), and it exercises every stage as ONE composed DAG —
    // each stage keeps its standalone query's exact definition (shared
    // builders), so the composition cannot drift from the parts. Scale:
    // the stages are the already-audited shapes (band equi-joins,
    // broadcast gram probe, map-side split); the rollup is 3 rows.
    "corpus_train_export" -> Q(
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
        val rows = withCleanedDocs(s, dir) { staged =>
          // n_tok is the stage-2 pinned counter (same size(tokExpr)
          // expression), so the budget sums it instead of re-running
          // the tokenizer over every surviving text — and the
          // documents join narrows to (doc_id, n_chars): no text
          // column is read or shuffled here anymore
          val kept = staged.filter(col("stage") === "quality_kept")
            .select(col("doc_id"), col("n_tok"))
          val grams = TrainPrep.gram5Rows(d)
          val bench = grams.filter(col("doc_id") % 10 === 0)
            .select(col("h")).distinct()
          val contaminated = grams.filter(col("doc_id") % 10 =!= 0)
            .join(broadcast(bench), Seq("h"))
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
            .filter(col("n") >= 3).select(col("doc_id"))
          kept.filter(col("doc_id") % 10 =!= 0)
            .join(contaminated, Seq("doc_id"), "left_anti")
            .join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
            .withColumn("split", TrainPrep.splitCol(col("doc_id")))
            .groupBy(col("split"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_tok")).as("n_tokens"),
              sum(col("n_chars")).as("n_chars"))
            .orderBy(col("split"))
            .as[(String, Long, Long, Long)].collect().toSeq
        }
        rows.toDF("split", "n_docs", "n_tokens", "n_chars").orderBy(col("split"))
      },
      Some(s"""WITH $dCleanCtes,
             |${TrainPrep.dContamCtes},
             |exp AS (
             |  SELECT q.doc_id, d.n_chars,
             |    len(regexp_extract_all(lower(d.text), '${TextAnalytics.TokenPattern}')) AS n_toks,
             |    ${TrainPrep.dSplitExpr("q.doc_id")} AS split
             |  FROM quality_kept q JOIN documents d USING (doc_id)
             |  WHERE q.doc_id % 10 <> 0
             |    AND q.doc_id NOT IN (SELECT doc_id FROM contam))
             |SELECT split, count(*) AS n_docs,
             |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars
             |FROM exp GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "end of funnel: clean → decontaminate → split → per-split training budget"),
  )
}

/** QueryModule wrapper (kept separate so CorpusPipeline.withCleanedDocs
  * is a plain library call too). */
object CorpusPipelineModule extends QueryModule {
  override def defs: Seq[(String, Q)] = CorpusPipeline.defs
}
