package graft.ext

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators (north-star additions; no
  * counterpart in the reference): benchmark decontamination, deterministic
  * stratified sampling, and sequence packing. These are the steps between
  * "cleaned corpus" (ext.CorpusPipeline) and "training batches" in a
  * large-scale LLM data pipeline.
  *
  * Scale design mirrors the dedup family: everything is tokenize-once
  * expression work plus keyed joins/aggregations — the decontamination
  * probe is an equi-join on a 60-bit n-gram hash against a broadcast
  * benchmark index (benchmark suites are KBs; the corpus is the 100 TB
  * side and is never shuffled by it), the sampler is a stateless map-side
  * filter on an md5-derived key (reproducible across runs AND engines),
  * and packing shards its running sum by a partition key so the window
  * never funnels the corpus through one task.
  */
object TrainPrep extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  // tokenizer + n-gram machinery shared with TextAnalytics/Dedup — one
  // definition per engine for all of dedup/corpus/decon
  private val tok = TextAnalytics.tokExpr
  private val dTok = TextAnalytics.dTok

  // Word 5-gram spans (vs the dedup family's 3-grams): decontamination
  // wants high-precision matches — a 5-token span shared with an eval
  // benchmark is strong evidence of leakage, while 3-grams collide on
  // ordinary phrasing.
  private[ext] val dGram5 = Dedup.dNGrams(5)

  /** THE train/valid/test split assignment (80/10/10 on an md5-derived
    * key) — ONE definition for every query that must agree on split
    * membership (`prep_split_shuffle`, `prep_split_leakage`,
    * `corpus_train_export`): salt, key width, and thresholds can only
    * change for all of them at once. */
  private[ext] def splitCol(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b = Dedup.h60(concat(lit("split:"), docId.cast("string"))) % 100L
    when(b < 80, "train").when(b < 90, "valid").otherwise("test")
  }

  /** DuckDB mirror of [[splitCol]] over a doc_id reference. */
  private[ext] def dSplitExpr(ref: String): String = {
    val b = s"${Dedup.dH60(s"'split:' || CAST($ref AS VARCHAR)")} % 100"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'valid' ELSE 'test' END"
  }

  /** Benchmark 5-gram index CTEs (`grams`, `bench`) — the shared first
    * half of the decontamination rule. */
  private[ext] def dGramBenchCtes: String =
    s"""grams AS (
       |  SELECT DISTINCT doc_id, ${Dedup.dH60("g")} AS h
       |  FROM documents, UNNEST($dGram5) AS u(g)),
       |bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 10 = 0)""".stripMargin

  /** Benchmark-decontamination CTE bodies (the `prep_decontaminate`
    * rule), ending in `contam(doc_id)` — shared with
    * `corpus_train_export` so the decon notion cannot drift. */
  private[ext] def dContamCtes: String =
    s"""$dGramBenchCtes,
       |contam AS (
       |  SELECT gr.doc_id FROM grams gr JOIN bench b USING (h)
       |  WHERE gr.doc_id % 10 <> 0
       |  GROUP BY 1 HAVING count(*) >= 3)""".stripMargin

  /** Distinct (doc_id, 60-bit 5-gram hash) pairs — [[Dedup.tokGrams]]
    * at n=5, hashed to the shared md5-60-bit key so the decon join runs
    * on fixed-width ints, not 5-word strings. The distinct-by-hash runs
    * INSIDE the per-doc array (dedup never crosses doc_id), so no
    * posting-sized shuffle is paid — and dedup-by-HASH is exactly the
    * global `.distinct()` this replaces, collisions included. Hash +
    * distinct + explode compose in ONE select over the token projection
    * (the [[Dedup.tokGrams]] CollapseProject contract). */
  private[ext] def gram5Rows(docsDf: DataFrame): DataFrame = {
    val (toks, grams) = Dedup.tokGrams(docsDf, 5)
    toks.select(col("doc_id"), explode(array_distinct(
      transform(grams, g => Dedup.h60(g)))).as("h"))
  }

  /** Per-doc average unigram log-probability under the corpus model —
    * the scorer behind `prep_lm_filter`, split out so specs can verify
    * hand-computable probabilities on a planted corpus. Returns
    * (doc_id, source, avg_lp); the ln sum folds tokens in document
    * order for cross-engine bit parity. */
  private[ext] def lmScores(d: DataFrame): DataFrame = {
    val uni = d.select(explode(expr(tok)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val t1 = uni.agg(sum(col("c")).as("t"))
    d.select(col("doc_id"), col("source"), posexplode(expr(tok)).as(Seq("p", "w")))
      .join(broadcast(uni), Seq("w"))
      .crossJoin(broadcast(t1))
      .groupBy(col("doc_id"), col("source"), col("t"))
      .agg(array_sort(collect_list(struct(col("p"), col("c")))).as("pc"))
      .select(col("doc_id"), col("source"),
        (expr("aggregate(pc, CAST(0 AS DOUBLE), (a, q) -> a + ln(CAST(q.c AS DOUBLE) / CAST(t AS DOUBLE)))")
          / size(col("pc")).cast("double")).as("avg_lp"))
  }

  /** Per-doc classifier state shared by `prep_classifier_score` and
    * `prep_classifier_eval`: (doc_id, source, y, score, prob). Tokens
    * hash into a 4096-bucket space; the vocab-bounded model (weight =
    * df_pos − df_neg under the weak token-count label) BROADCASTS to
    * the scoring join; score is integer-exact, prob is the one float
    * op (a sigmoid on an identical double). */
  /** The classifier's feature-bucket count (the hashed vocab size). */
  private[graft] val ClassifierBuckets = 4096L

  /** Fixture-scale training budget for the token-budget plan — with a
    * multi-epoch total, the plan's repeat arithmetic is exercised (a
    * sub-supply budget would make every epochs column < 1 and the
    * over-repeat flag unreachable). One constant interpolated into
    * BOTH engines. Overflow headroom: B·toks needs toks < 2^63/B ≈
    * 4.6e12 tokens per source — far past any single-source fixture. */
  private[ext] val TokenBudget = 2000000L

  /** The token-budget plan over any documents-shaped frame (see the
    * `prep_token_budget` entry for semantics): one token-count
    * aggregate, a 1-row broadcast total, integer-exact targets. */
  private[ext] def tokenBudgetPlan(d: DataFrame, budget: Long): DataFrame = {
    val per = d.groupBy(col("source"))
      .agg(sum(expr(s"size($tok)").cast("long")).as("toks"))
    val tot = per.agg(sum(col("toks")).as("tot"))
    per.crossJoin(broadcast(tot)) // 1-row broadcast scalar
      .withColumn("target_tokens", expr(s"($budget * toks) div tot"))
      .select(col("source"), col("toks"), col("target_tokens"),
        round(col("target_tokens").cast("double") / col("toks").cast("double"), 4)
          .as("epochs"),
        (col("target_tokens") > lit(4L) * col("toks")).as("over_repeat_cap"))
      .orderBy(col("source"))
  }

  /** The trained model alone — per-bucket integer weight (b, w): the
    * vocab-bounded artifact a production run stores and the streaming
    * scorer folds as a literal. Derivation as in [[classifierScores]]:
    * weak label y = [n_tokens ≥ 60], w = df_pos − df_neg. */
  /** Everything downstream derives from ONE tokenize+explode pass: the
    * per-(doc, bucket) occurrence counts. The weak label re-derives as
    * sum(occurrences) ≥ 60 (explode emits exactly size(tokens) rows,
    * so the sums are identical integers), and the model's distinct
    * (doc, bucket) pairs are this aggregate's keys — so neither needs
    * its own pass over the text. Token-less docs drop out of the
    * explode on BOTH shapes: they never had a bucket row, so they
    * reached neither the model fold nor the scored output before
    * either (the oracle's UNNEST drops them the same way). Guide §1.2:
    * the tokenizer regexp was the dominant map cost and ran 4× (plans
    * showed 8 scans across the two dump sections); it now runs once.
    *
    * Invariant: `doc_id` is unique in `d`. [[labOf]] groups by doc_id
    * alone, so a doc_id shared by two rows (say, two sources) would get
    * one label from their pooled token count instead of one per row. */
  private def bucketTf(d: DataFrame, withSource: Boolean): DataFrame = {
    val keys =
      if (withSource) Seq(col("doc_id"), col("source")) else Seq(col("doc_id"))
    d.select(keys :+ explode(expr(tok)).as("w"): _*)
      .select(keys :+ (Dedup.h60(col("w")) % ClassifierBuckets).as("b"): _*)
      .groupBy(keys :+ col("b"): _*)
      .agg(count(lit(1)).as("tf"))
  }

  /** The weak label from the tf aggregate: y = [Σ occurrences ≥ 60].
    * Equal to the per-row `size(tokens) >= 60` label only while `doc_id`
    * is unique in the documents frame (see [[bucketTf]]). */
  private def labOf(tf: DataFrame): DataFrame =
    tf.groupBy(col("doc_id"))
      .agg((sum(col("tf")) >= 60L).cast("long").as("y"))

  /** The model fold from the tf aggregate: per bucket, df_pos − df_neg
    * over the distinct (doc, bucket) pairs — the aggregate's own keys. */
  private def modelOf(tf: DataFrame, lab: DataFrame): DataFrame =
    tf.select(col("doc_id"), col("b")).distinct()
      .join(lab, Seq("doc_id"))
      .groupBy(col("b"))
      .agg((sum(col("y")) - sum(lit(1L) - col("y"))).as("w"))

  /** The tf aggregate is consumed by 2–3 subtrees; Catalyst's column
    * pruning specializes each consumer's copy (e.g. collapsing the
    * model's distinct straight onto the explode), so identical-subtree
    * exchange reuse can never fire and the tokenizer re-runs per
    * consumer. A lazy `localCheckpoint` pins ONE materialization —
    * (doc, bucket) rows, corpus-vocabulary-sized, tiny next to the
    * text — that every consumer reads back (the [[Dedup]]/[[Graph]]
    * iterated-frame idiom; the RDD is released by the context cleaner
    * once the result frame is dropped). */
  private def pinTf(tf: DataFrame): DataFrame = tf.transform(Pins.pin)

  private[graft] def classifierModel(d: DataFrame): DataFrame = {
    val tf = pinTf(bucketTf(d, withSource = false))
    modelOf(tf, labOf(tf))
  }

  private[ext] def classifierScores(d: DataFrame): DataFrame = {
    val tf = pinTf(bucketTf(d, withSource = true))
    val lab = labOf(tf)
    val model = modelOf(tf, lab)
    tf.join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("tf") * col("w")).as("score"))
      .join(lab, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("y"), col("score"),
        (lit(1.0) / (lit(1.0) +
          exp(-col("score").cast("double") / lit(10000.0)))).as("prob"))
  }

  /** Integer score cutoffs of the sigmoid's decile boundaries: the
    * smallest integer score with sigmoid(score/10000) ≥ d/10, i.e.
    * ceil(10000·ln(d/(10−d))) for d = 1..9. Computed ONCE here and
    * embedded as literals on BOTH engines, so calibration bucketing is
    * pure integer comparison — no cross-engine `exp` 1-ulp boundary
    * risk (Java Math.exp vs DuckDB libm need not be bit-identical). */
  private[ext] val CalibrationCutoffs: Seq[Long] =
    (1 to 9).map(d => math.ceil(10000.0 * math.log(d / (10.0 - d))).toLong)

  /** DuckDB mirror of [[classifierScores]] (CTEs `f/lab/mdl/sc/pr`;
    * `pr` carries doc_id, source, y, score, prob). */
  private[graft] lazy val dClassifierCtes: String =
    s"""f AS (
       |  SELECT doc_id, source, ${Dedup.dH60("w")} % 4096 AS b,
       |    count(*) AS tf
       |  FROM documents, UNNEST($dTok) AS u(w) GROUP BY 1, 2, 3),
       |lab AS (
       |  SELECT doc_id,
       |    CASE WHEN len($dTok) >= 60 THEN 1 ELSE 0 END AS y
       |  FROM documents),
       |mdl AS (
       |  SELECT b, sum(y) - sum(1 - y) AS w
       |  FROM (SELECT DISTINCT doc_id, b FROM f) d
       |  JOIN lab USING (doc_id) GROUP BY b),
       |sc AS (
       |  SELECT doc_id, source, sum(tf * w) AS score
       |  FROM f JOIN mdl USING (b) GROUP BY 1, 2),
       |pr AS (
       |  SELECT sc.*, lab.y,
       |    1.0e0 / (1.0e0 + exp(-CAST(score AS DOUBLE) / 10000.0e0)) AS prob
       |  FROM sc JOIN lab USING (doc_id))""".stripMargin


  override val defs: Seq[(String, Q)] = Seq(

    // Benchmark decontamination: flag training documents sharing word
    // 5-grams with a held-out benchmark/eval set (here: doc_id % 10 = 0
    // stands in for the eval suite). The classic n-gram-overlap decon
    // pass every frontier-model pipeline runs before training. Shape:
    // distinct benchmark gram hashes — tiny by nature — broadcast to an
    // equi-join probe over the corpus grams; per-doc overlap counts,
    // contamination flag at >= 3 shared grams. The corpus side shuffles
    // only its own (doc_id) aggregation; nothing is ever pairwise.
    "prep_decontaminate" -> Q(
      (s, dir) => {
        val grams = gram5Rows(docs(s, dir))
        val bench = grams.filter(col("doc_id") % 10 === 0).select(col("h")).distinct()
        grams.filter(col("doc_id") % 10 =!= 0)
          .join(broadcast(bench), Seq("h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared_grams"))
          .withColumn("contaminated",
            when(col("n_shared_grams") >= 3, 1L).otherwise(0L))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $dGramBenchCtes
              |SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams,
              | CAST(CASE WHEN count(*) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
              |FROM grams gr JOIN bench b USING (h)
              |WHERE gr.doc_id % 10 <> 0
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "benchmark decontamination: 5-gram-hash overlap vs held-out set"),

    // Deterministic stratified sampling: per-stratum (lang) rates applied
    // via an md5-derived inclusion key — the same doc is in or out of the
    // sample on every run, every engine, every cluster size (no RNG, no
    // partition-order dependence), which is what makes corpus subsampling
    // auditable. Pure map-side filter at 100 TB: the only shuffle is the
    // final 5-row rollup. Rates: en 50%, everything else 25% (a crude
    // rebalancing mix, the usual reason to stratify).
    "prep_sample_stratified" -> Q(
      (s, dir) => {
        val key = Dedup.h60(concat(lit("smp:"), col("doc_id").cast("string"))) % 10000L
        val rateBp = when(col("lang") === "en", 5000L).otherwise(2500L)
        docs(s, dir)
          .withColumn("in_sample", key < rateBp)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_total"),
            count(when(col("in_sample"), 1)).as("n_sampled"),
            sum(when(col("in_sample"), col("n_chars")).otherwise(0L)).as("chars_sampled"))
          .orderBy(col("lang"))
      },
      Some(s"""SELECT lang, count(*) AS n_total,
             | count(*) FILTER (WHERE ${Dedup.dH60("'smp:' || CAST(doc_id AS VARCHAR)")} % 10000
             |     < CASE WHEN lang = 'en' THEN 5000 ELSE 2500 END) AS n_sampled,
             | CAST(sum(CASE WHEN ${Dedup.dH60("'smp:' || CAST(doc_id AS VARCHAR)")} % 10000
             |     < CASE WHEN lang = 'en' THEN 5000 ELSE 2500 END THEN n_chars ELSE 0 END) AS BIGINT) AS chars_sampled
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "deterministic hash-keyed stratified sampling per lang"),

    // Deterministic WEIGHTED sampling without replacement (Efraimidis–
    // Spirakis A-Res, public algorithm): doc d draws a deterministic
    // uniform u_d from md5 and wins a slot iff its key u_d^(1/w_d)
    // ranks in the global top-n. Ranking by the monotone-equivalent
    // ln(u_d)/w_d avoids pow() entirely — pow carries no cross-engine
    // rounding guarantee, while ln on BIT-IDENTICAL inputs is the
    // already-gated tf-idf precedent, and the rest is exact: u_d =
    // (h52+1)/2^52 (52-bit md5 prefix → every step float-exact),
    // w_d = 1/sqrt(n_chars) (sqrt is IEEE correctly-rounded on both
    // engines), so ln(u)·sqrt(n_chars) multiplies two exact/parity
    // doubles. The 1/sqrt(length) weight is the token-budget debiaser:
    // long docs stop dominating the sampled token mass. At 100 TB the
    // plan is one scan + TakeOrderedAndProject(n) — no shuffle beyond
    // the top-n, no RNG, no partition-order dependence; the same 100
    // docs win on every run, engine, and cluster size.
    "prep_sample_weighted" -> Q(
      (s, dir) => {
        val h52 = Dedup.h60(concat(lit("ws:"), col("doc_id").cast("string")), hexLen = 13)
        val u = (h52 + lit(1L)).cast("double") / lit(4503599627370496.0) // 2^52
        docs(s, dir)
          .withColumn("skey", log(u) * sqrt(col("n_chars").cast("double")))
          .orderBy(col("skey").desc, col("doc_id"))
          .limit(100)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("skey").desc, col("doc_id"))))
          .select(col("rank").cast("long").as("rank"), col("doc_id"),
            col("source"), col("n_chars"))
      },
      Some(s"""SELECT rank, doc_id, source, n_chars FROM (
             |  SELECT doc_id, source, n_chars,
             |    ROW_NUMBER() OVER (ORDER BY
             |      ln((${Dedup.dH60("'ws:' || CAST(doc_id AS VARCHAR)", hexLen = 13)} + 1)
             |          / 4503599627370496.0)
             |        * sqrt(CAST(n_chars AS DOUBLE)) DESC,
             |      doc_id ASC) AS rank
             |  FROM documents) WHERE rank <= 100
             |ORDER BY rank""".stripMargin),
      doc = "deterministic weighted sampling (A-Res keys, 1/sqrt(len) weights, top-n)"),

    // Token-budget planning: given a total training budget B and the
    // per-source token supply, how many tokens each source must
    // contribute under a proportional mix, and how many PASSES
    // (epochs) over that source this implies — the repeat-rate readout
    // a run plan is sized by (sources pushed past the ~4-epoch repeat
    // cap are flagged for down-weighting or augmentation). All the
    // decision-bearing columns are INTEGER-exact: target = B·toks div
    // Σtoks (cross-multiplied, never a float share), and the cap flag
    // compares target > 4·toks in integer space; the epochs column is
    // one final division, rounded last. (DuckDB BIGINT `//` truncates
    // toward zero ≡ floor for these positive operands, matching
    // Spark's `div`.)
    "prep_token_budget" -> Q(
      (s, dir) => tokenBudgetPlan(docs(s, dir), TokenBudget),
      Some(s"""WITH per AS (
              |  SELECT source, CAST(sum(len($dTok)) AS BIGINT) AS toks
              |  FROM documents GROUP BY 1),
              |t AS (SELECT CAST(sum(toks) AS BIGINT) AS tot FROM per),
              |a AS (SELECT source, toks,
              |        CAST(($TokenBudget * toks) // tot AS BIGINT) AS target_tokens
              |      FROM per, t)
              |SELECT source, toks, target_tokens,
              |  round(CAST(target_tokens AS DOUBLE) / CAST(toks AS DOUBLE), 4)
              |    AS epochs,
              |  target_tokens > 4 * toks AS over_repeat_cap
              |FROM a ORDER BY source""".stripMargin),
      doc = "token-budget plan: integer-exact proportional per-source targets, epoch (repeat) counts, 4-epoch over-repeat flags"),

    // Temperature-weighted domain mixing: w_s ∝ sqrt(tokens_s) (α = 0.5
    // resampling — upweights small domains, the standard multi-corpus
    // mixing rule). Token counts are integer-exact; sqrt is IEEE
    // correctly-rounded on BOTH engines (unlike pow, which carries no
    // such guarantee — hence sqrt, not pow(x, 0.5), on each side), so
    // the numerators are bit-identical; the denominator is an ORDERED
    // left-to-right fold over the source-sorted numerators (the
    // sim_ann_ivf centroid trick), never a parallel float sum.
    "prep_mix_weights" -> Q(
      (s, dir) => {
        val per = docs(s, dir)
          .groupBy(col("source"))
          .agg(sum(expr(s"size($tok)").cast("long")).as("toks"))
          .withColumn("num", sqrt(col("toks").cast("double")))
        val denom = per.agg(expr(
          "aggregate(array_sort(collect_list(struct(source, num))), CAST(0 AS DOUBLE), (a, x) -> a + x.num)")
          .as("denom"))
        per.crossJoin(broadcast(denom))
          .select(col("source"), col("toks"),
            round(col("num") / col("denom"), 6).as("weight"))
          .orderBy(col("source"))
      },
      Some(s"""WITH per AS (
              |  SELECT source, CAST(sum(len($dTok)) AS BIGINT) AS toks
              |  FROM documents GROUP BY 1),
              |p AS (SELECT source, toks, sqrt(CAST(toks AS DOUBLE)) AS num FROM per),
              |d AS (SELECT list_reduce(list_prepend(0.0e0, list(num ORDER BY source)),
              |        (a, x) -> a + x) AS denom FROM p)
              |SELECT source, toks, round(num / denom, 6) AS weight
              |FROM p, d ORDER BY source""".stripMargin),
      doc = "temperature (α=0.5) domain-mixing weights, order-fixed float fold"),

    // Per-domain capping: keep at most K docs per source, selected by a
    // deterministic md5 key — the "no domain may dominate the mix" rule
    // every corpus mix applies, reproducible across runs/engines (unlike
    // a LIMIT per group, whose row choice is scan-order luck). The
    // window shards by source, so at 100 TB each domain caps in
    // parallel; the hash order also makes the kept set stable under
    // corpus growth *within* the kept range (no reshuffling every doc
    // when one domain gains rows, unlike rank-by-doc_id).
    "prep_cap_per_source" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val key = Dedup.h60(concat(lit("cap:"), col("doc_id").cast("string")))
        val w = Window.partitionBy(col("source")).orderBy(key, col("doc_id"))
        docs(s, dir)
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("kept", col("rk") <= 10L)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_total"),
            count(when(col("kept"), 1)).as("n_kept"),
            sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("chars_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH r AS (
             |  SELECT source, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY ${Dedup.dH60("'cap:' || CAST(doc_id AS VARCHAR)")} NULLS FIRST,
             |               doc_id NULLS FIRST) AS rk
             |  FROM documents)
             |SELECT source, count(*) AS n_total,
             | count(*) FILTER (WHERE rk <= 10) AS n_kept,
             | CAST(sum(CASE WHEN rk <= 10 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "deterministic per-source cap (hash-ordered top-K per domain)"),

    // Embedding sanity screen: per-label L2-norm extrema + the count of
    // near-unit-norm vectors — the pre-training check that a corpus's
    // embeddings are normalized (ANN cosine shortcuts assume it) and no
    // label bucket carries degenerate vectors. Norms come from the same
    // strict left-to-right double fold as the similarity family
    // (Spark HOF aggregate ≡ DuckDB list_dot_product, bit-identical), so
    // min/max/threshold compares agree exactly; round(4) only on output.
    "emb_norm_stats" -> Q(
      (s, dir) => {
        val norm = expr(
          "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (a, x) -> a + x * x))")
        Tables.embeddings(s, dir)
          .select(col("label").cast("long").as("label"), norm.as("norm"))
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n_vecs"),
            round(min(col("norm")), 4).as("min_norm"),
            round(max(col("norm")), 4).as("max_norm"),
            count(when(abs(col("norm") - 1.0) < 0.01, 1)).as("n_near_unit"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS (
             |  SELECT CAST(label AS BIGINT) AS label,
             |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
             |  FROM embeddings)
             |SELECT label, count(*) AS n_vecs,
             | round(min(norm), 4) AS min_norm, round(max(norm), 4) AS max_norm,
             | count(*) FILTER (WHERE abs(norm - 1.0e0) < 0.01e0) AS n_near_unit
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "embedding L2-norm screen per label (normalization sanity)"),

    // Deterministic train/valid/test split + shard assignment: two
    // independent md5-derived keys route each doc to a split (80/10/10)
    // and a shard within it (8-way). Pure map-side expression work — the
    // only shuffle is the final 24-row rollup — and the same doc lands in
    // the same (split, shard) on every run, engine, and cluster size,
    // which is what makes held-out sets leak-proof under re-runs and
    // corpus growth (a doc never migrates across the split boundary when
    // other docs are added, unlike position-based splits).
    "prep_split_shuffle" -> Q(
      (s, dir) => {
        def key(salt: String) = Dedup.h60(concat(lit(salt), col("doc_id").cast("string")))
        docs(s, dir)
          .withColumn("split", splitCol(col("doc_id")))
          .withColumn("shard", key("shard:") % 8L)
          .groupBy(col("split"), col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(col("split"), col("shard"))
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, n_chars, ${dSplitExpr("doc_id")} AS split,
             |    ${Dedup.dH60("'shard:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
             |  FROM documents)
             |SELECT split, shard, count(*) AS n_docs,
             | CAST(sum(n_chars) AS BIGINT) AS n_chars,
             | min(doc_id) AS min_doc, max(doc_id) AS max_doc
             |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "deterministic hash train/valid/test split + 8-way sharding"),

    // One BPE merge iteration (the tokenizer-training kernel) as a
    // distributed query: word-frequency table → initial character
    // symbol state → adjacent-pair counts weighted by word frequency →
    // top merge candidates (the first row IS the merge BPE would
    // perform; a full training loop repeats this with the winning pair
    // fused into the symbol table). The 100 TB shape: the corpus is
    // touched ONCE to build the word-frequency table (one shuffle on
    // the word), after which every iteration runs at VOCABULARY scale —
    // Zipf keeps the distinct-word set millions, not trillions, which
    // is exactly why real tokenizer trainers operate on word counts.
    // Shares the canonical [[TextAnalytics.TokenPattern]] tokenizer;
    // ties at the top-10 boundary break on the pair string, so the
    // candidate list is deterministic and oracle-replayed.
    "prep_bpe_merge_pairs" -> Q(
      (s, dir) => bpeMergePairs(docs(s, dir)),
      Some(s"""WITH t AS (
              |  SELECT tok AS w FROM documents,
              |    UNNEST(${TextAnalytics.dTok}) AS u(tok)),
              |wf AS (SELECT w, count(*) AS freq FROM t GROUP BY 1),
              |p AS (
              |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair,
              |    sum(freq) AS pair_count
              |  FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
              |        FROM wf WHERE length(w) >= 2)
              |  GROUP BY 1)
              |SELECT pair, CAST(pair_count AS BIGINT) AS pair_count
              |FROM p ORDER BY pair_count DESC, pair LIMIT 10""".stripMargin),
      doc = "one BPE merge iteration: frequency-weighted adjacent symbol pairs, top-10"),

    // The full (truncated) BPE TRAINING loop: 3 rounds of
    // count→argmax→apply, where each round's leftmost-greedy merge
    // rewrite feeds the next round's counts — the apply kernel is
    // load-bearing in the output, closing the train→apply loop the
    // single-iteration kernel above only opens. See [[bpeTrainSteps]].
    "prep_bpe_train_steps" -> Q(
      (s, dir) => bpeTrainSteps(docs(s, dir)),
      Some(s"WITH ${dBpeSteps(BpeRounds)}"),
      doc = "3 unrolled BPE training rounds: learned merges + token-count trajectory"),

    // The trained vocabulary itself — the tokenizer-trainer artifact the
    // trajectory query above only audits: top-20 symbols of the
    // post-merge symbol state by corpus token count, with word spread
    // and symbol length. Derived from the SAME loop (one shared
    // [[bpeLoop]]), so the shipped vocab and the audited trajectory
    // cannot drift; the oracle replays the identical rounds through the
    // shared CTE chain and reads the final state. Scale shape: the loop
    // runs at vocabulary scale after one corpus shuffle; the vocab
    // rollup is one explode+agg over the word table; output is a
    // bounded top-20 LocalRelation.
    "prep_bpe_vocab" -> Q(
      (s, dir) => bpeVocab(docs(s, dir)),
      Some(s"WITH ${dBpeVocab(BpeRounds, 20)}"),
      doc = "trained BPE vocabulary: top-20 symbols by token count after the merge rounds"),

    // Split-aware decontamination audit: the held-out split is only as
    // clean as its NEAR-DUP isolation — a test doc whose near-duplicate
    // sits in train leaks the answer even though the doc ids differ.
    // This composes the verified-jaccard near-dup machinery (same
    // threshold/df-cap as dedup_jaccard_pairs — ONE shared definition,
    // so the notion of "near-dup" cannot drift between the dedup and
    // split worlds) with the deterministic hash split of
    // prep_split_shuffle, and reports the pair matrix by (split_a ≤
    // split_b) with cross-split pairs flagged as leaks. At 100 TB:
    // split assignment is pure map-side expression work, the pair
    // list's fan-out is bounded by the df cap (≤ df·maxDf candidates
    // per shingle of the capped inverted index — never all-pairs), and
    // the final rollup is ≤ 6 rows. The actionable output: route each leaky
    // pair's smaller-id doc to train (or drop it) before export.
    "prep_split_leakage" -> Q(
      (s, dir) => {
        val pairs = Dedup.jaccardPairs(Dedup.shingleRowsOf(docs(s, dir)), 0.5)
          .select(col("d1"), col("d2"))
        val splits = docs(s, dir).select(col("doc_id"),
          splitCol(col("doc_id")).as("split"))
        pairs
          .join(splits.select(col("doc_id").as("d1"), col("split").as("s1")), Seq("d1"))
          .join(splits.select(col("doc_id").as("d2"), col("split").as("s2")), Seq("d2"))
          .select(least(col("s1"), col("s2")).as("split_a"),
            greatest(col("s1"), col("s2")).as("split_b"))
          .groupBy(col("split_a"), col("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("is_leak", col("split_a") =!= col("split_b"))
          .orderBy(col("split_a"), col("split_b"))
      },
      Some(s"""WITH ${Dedup.dJaccardCtes("nd", 0.5)},
              |sp AS (
              |  SELECT doc_id, ${dSplitExpr("doc_id")} AS split
              |  FROM documents)
              |SELECT least(a.split, b.split) AS split_a,
              |  greatest(a.split, b.split) AS split_b,
              |  count(*) AS n_pairs,
              |  least(a.split, b.split) <> greatest(a.split, b.split) AS is_leak
              |FROM nd JOIN sp a ON nd.d1 = a.doc_id JOIN sp b ON nd.d2 = b.doc_id
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "near-dup pairs straddling the train/valid/test split (leak audit)"),

    // Fixed-point int8-style embedding quantization (code = ⌊x·64⌋, i.e.
    // Q1.6: |x| ≤ 0.53 on this corpus so every code fits int8 with
    // headroom) + exact reconstruction-error accounting per label. All
    // map-side expression work; the rollup is tiny. Float discipline:
    // ⌊x·64⌋ and x − code/64 are each single IEEE ops (exact-rounded,
    // engine-identical); per-vector error sums are strict left-to-right
    // folds; the cross-vector mean folds the (vec_id)-sorted per-vector
    // sums (the sim_ann_ivf centroid trick) — never a parallel float
    // sum. max() is order-free, so no discipline needed there.
    "emb_quantize_int8" -> Q(
      (s, dir) => {
        val errsE = "transform(v, x -> abs(x - floor(x * 64.0D) / 64.0D))"
        val per = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .select(col("vec_id"), col("label"),
            expr(s"aggregate($errsE, CAST(0 AS DOUBLE), (a, x) -> a + x)").as("err_sum"),
            expr(s"array_max($errsE)").as("err_max"),
            expr("size(array_distinct(transform(v, x -> floor(x * 64.0D))))")
              .cast("long").as("n_levels"))
        per.groupBy(col("label"))
          .agg(
            count(lit(1)).as("n_vecs"),
            round(max(col("err_max")), 6).as("max_q_err"),
            expr("aggregate(array_sort(collect_list(struct(vec_id, err_sum))), CAST(0 AS DOUBLE), (a, p) -> a + p.err_sum)")
              .as("s"),
            max(col("n_levels")).as("max_levels"))
          .withColumn("mean_q_err",
            round(col("s") / (col("n_vecs") * 64L).cast("double"), 6))
          .select(col("label"), col("n_vecs"), col("max_q_err"),
            col("mean_q_err"), col("max_levels"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(label AS BIGINT) AS label,
             |    embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (
             |  SELECT vec_id, label,
             |    list_reduce(list_prepend(0.0e0,
             |      list_transform(v, x -> abs(x - floor(x * 64.0e0) / 64.0e0))),
             |      (a, x) -> a + x) AS err_sum,
             |    list_aggregate(list_transform(v, x -> abs(x - floor(x * 64.0e0) / 64.0e0)),
             |      'max') AS err_max,
             |    len(list_distinct(list_transform(v, x -> floor(x * 64.0e0)))) AS n_levels
             |  FROM e)
             |SELECT label, count(*) AS n_vecs,
             | round(max(err_max), 6) AS max_q_err,
             | round(list_reduce(list_prepend(0.0e0, list(err_sum ORDER BY vec_id)),
             |     (a, x) -> a + x) / CAST(count(*) * 64 AS DOUBLE), 6) AS mean_q_err,
             | CAST(max(n_levels) AS BIGINT) AS max_levels
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "fixed-point embedding quantization + exact reconstruction error"),

    // Sequence packing: concatenate documents in deterministic (doc_id)
    // order and cut the token stream every 256 tokens — each doc joins
    // the pack its FIRST token lands in (concat-and-chunk, the standard
    // LLM pretraining packing). The running sum is sharded by lang (the
    // pipeline's shard key), so the window is partition-parallel — an
    // unpartitioned window would funnel 100 TB through one task. Integer
    // token counts + integer division: exact parity on both engines.
    "prep_pack_sequences" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, dir)
          .select(col("doc_id"), col("lang"),
            expr(s"size($tok)").cast("long").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("pack_id", expr("(cum - n_tok) div 256"))
          .groupBy(col("lang"), col("pack_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("pack_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("lang"), col("pack_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, len($dTok) AS n_tok FROM documents),
              |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              |        ROWS UNBOUNDED PRECEDING) AS cum FROM t)
              |SELECT lang, CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id,
              | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
              | min(doc_id) AS first_doc, max(doc_id) AS last_doc
              |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "sequence packing: deterministic concat-and-chunk by token budget"),

    // CCNet-style unigram LM importance filter: score every doc by its
    // average token log-probability under the corpus unigram model and
    // flag high-perplexity outliers (avg ln p < -3.41, the ~p5 tail). Float discipline:
    // each ln runs on an identically-derived double (exact integer ratio
    // c/T widened once), the per-doc sum folds tokens in DOCUMENT order,
    // and the per-source mean folds doc_id-ordered per-doc scores — the
    // ordered-fold rules that keep Spark and the oracle bit-identical.
    // The flag compares RAW doubles (bit-identical on both engines), not
    // rounded ones. Scale shape: the unigram model is vocab-bounded so
    // it broadcasts; scoring is one pass over the corpus; the rollup is
    // one tiny keyed aggregation. At web scale the model table would be
    // a stored dimension, same plan.
    "prep_lm_filter" -> Q(
      (s, dir) => {
        lmScores(docs(s, dir)).groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("avg_lp") < lit(-3.41), 1)).as("n_flagged"),
            array_sort(collect_list(struct(col("doc_id"), col("avg_lp")))).as("da"))
          .select(col("source"), col("n_docs"), col("n_flagged"),
            round(expr("aggregate(da, CAST(0 AS DOUBLE), (a, q) -> a + q.avg_lp)")
              / col("n_docs").cast("double"), 4).as("mean_logprob"))
          .orderBy(col("source"))
      },
      Some(s"""WITH uni AS (
              |  SELECT t AS w, count(*) AS c
              |  FROM documents, UNNEST($dTok) AS u(t) GROUP BY 1),
              |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni),
              |toks AS (
              |  SELECT d.doc_id, d.source, x['p'] AS p, uni.c
              |  FROM documents d,
              |  UNNEST(list_transform(generate_series(1, len($dTok)),
              |    i -> {'p': i, 'w': ($dTok)[i]})) AS u(x)
              |  JOIN uni ON x['w'] = uni.w),
              |perdoc AS (
              |  SELECT doc_id, source,
              |    list_reduce(list_prepend(0.0e0,
              |      list(ln(CAST(c AS DOUBLE) / CAST(tot.t AS DOUBLE)) ORDER BY p)),
              |      (a, x) -> a + x) / count(*) AS avg_lp
              |  FROM toks, tot GROUP BY doc_id, source, tot.t)
              |SELECT source, count(*) AS n_docs,
              | count(*) FILTER (WHERE avg_lp < -3.41e0) AS n_flagged,
              | round(list_reduce(list_prepend(0.0e0, list(avg_lp ORDER BY doc_id)),
              |     (a, x) -> a + x) / CAST(count(*) AS DOUBLE), 4) AS mean_logprob
              |FROM perdoc GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "unigram LM importance filter (avg token log-prob, ordered folds)"),

    // Model-apply quality scoring (the fastText/DCLM-style pass every
    // modern pretraining pipeline runs): a LINEAR classifier over hashed
    // unigram features — hash each token into a 4096-bucket space,
    // gather the bucket weights, dot with the doc's term frequencies,
    // squash through a sigmoid. The model here is DISTILLED from the
    // corpus itself so both engines can re-derive it exactly: weak label
    // y = [n_tokens ≥ 60] (the length prior), bucket weight = integer
    // log-odds proxy df_pos − df_neg over distinct containing docs.
    // Float discipline: the score is INTEGER-EXACT (tf × integer weight,
    // summed); the only float ops are one exp per doc on an identical
    // double and the ordered per-source fold of probs (the
    // prep_lm_filter rules). Scale shape: the model is vocab-bounded
    // (4096 rows) → broadcast to the scoring join, map-side; the only
    // corpus-wide shuffles are the per-doc tf and score aggregations.
    // At production scale the model table is a stored artifact from a
    // real labeled run — the apply plan is unchanged.
    "prep_classifier_score" -> Q(
      (s, dir) => {
        classifierScores(docs(s, dir)).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("score") >= 0L, 1)).as("n_kept"),
            sum(col("score")).as("sum_score"),
            array_sort(collect_list(struct(col("doc_id"), col("prob")))).as("dp"))
          .select(col("source"), col("n_docs"), col("n_kept"), col("sum_score"),
            round(expr("aggregate(dp, CAST(0 AS DOUBLE), (a, q) -> a + q.prob)")
              / col("n_docs").cast("double"), 4).as("mean_prob"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $dClassifierCtes
              |SELECT source, count(*) AS n_docs,
              |  count(*) FILTER (WHERE score >= 0) AS n_kept,
              |  CAST(sum(score) AS BIGINT) AS sum_score,
              |  round(list_reduce(list_prepend(0.0e0, list(prob ORDER BY doc_id)),
              |    (a, x) -> a + x) / CAST(count(*) AS DOUBLE), 4) AS mean_prob
              |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "model-apply quality scoring: broadcast linear classifier over hashed unigram features (integer-exact dot, one sigmoid per doc, ordered mean fold)"),

    // Classifier EVAL as a query (the sim_ann_recall_eval pattern for
    // the quality-scoring path): confusion matrix of the thresholded
    // score (>= 0 ⟺ prob >= 0.5) against the weak labels, per source,
    // with precision/recall as ONE final guarded division each —
    // integer counts end-to-end, so parity is exact. (Training and
    // eval share the corpus by construction here; the query SHAPE is
    // the held-out-eval plan a real labeled run uses.)
    "prep_classifier_eval" -> Q(
      (s, dir) => {
        classifierScores(docs(s, dir))
          .select(col("source"), col("y"),
            when(col("score") >= 0L, 1L).otherwise(0L).as("pred"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("y") * col("pred")).as("tp"),
            sum((lit(1L) - col("y")) * col("pred")).as("fp"),
            sum(col("y") * (lit(1L) - col("pred"))).as("fn"),
            sum((lit(1L) - col("y")) * (lit(1L) - col("pred"))).as("tn"))
          .select(col("source"), col("n_docs"), col("tp"), col("fp"),
            col("fn"), col("tn"),
            round(when(col("tp") + col("fp") > 0L,
              col("tp").cast("double") / (col("tp") + col("fp")).cast("double")), 4)
              .as("precision"),
            round(when(col("tp") + col("fn") > 0L,
              col("tp").cast("double") / (col("tp") + col("fn")).cast("double")), 4)
              .as("recall"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $dClassifierCtes,
              |cm AS (
              |  SELECT source, y,
              |    CASE WHEN score >= 0 THEN 1 ELSE 0 END AS pred
              |  FROM pr)
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(y * pred) AS BIGINT) AS tp,
              |  CAST(sum((1 - y) * pred) AS BIGINT) AS fp,
              |  CAST(sum(y * (1 - pred)) AS BIGINT) AS fn,
              |  CAST(sum((1 - y) * (1 - pred)) AS BIGINT) AS tn,
              |  round(CASE WHEN sum(y * pred) + sum((1 - y) * pred) > 0
              |    THEN CAST(sum(y * pred) AS DOUBLE)
              |      / CAST(sum(y * pred) + sum((1 - y) * pred) AS DOUBLE) END, 4)
              |    AS precision,
              |  round(CASE WHEN sum(y * pred) + sum(y * (1 - pred)) > 0
              |    THEN CAST(sum(y * pred) AS DOUBLE)
              |      / CAST(sum(y * pred) + sum(y * (1 - pred)) AS DOUBLE) END, 4)
              |    AS recall
              |FROM cm GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "classifier eval-as-query: per-source confusion matrix + precision/recall of the thresholded score vs the weak labels (integer counts, guarded final divisions)"),

    // Calibration read-out (reliability diagram as a query): bucket the
    // sigmoid probabilities into deciles and compare each decile's MEAN
    // predicted probability against its OBSERVED label rate — the
    // standard check that a scorer's probabilities mean what they say
    // before a pipeline thresholds on them. Bucketing is INTEGER-exact:
    // decile = #{d : score ≥ cutoff_d} over the precomputed integer
    // score cutoffs of the sigmoid decile boundaries
    // ([[CalibrationCutoffs]], same literals on both engines) — the
    // monotone sigmoid makes this ≡ floor(prob·10) clamped to 9, minus
    // the cross-engine exp boundary risk; counts are integers; the two
    // read-out columns are one ordered fold + one division each,
    // rounded last.
    "prep_classifier_calibration" -> Q(
      (s, dir) => {
        val decile = CalibrationCutoffs
          .map(c => when(col("score") >= c, 1L).otherwise(0L))
          .reduce(_ + _)
        classifierScores(docs(s, dir))
          .select(col("doc_id"), col("y"), col("prob"), decile.as("decile"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("y")).as("n_pos"),
            array_sort(collect_list(struct(col("doc_id"), col("prob")))).as("dp"))
          .select(col("decile"), col("n_docs"), col("n_pos"),
            round(expr("aggregate(dp, CAST(0 AS DOUBLE), (a, q) -> a + q.prob)")
              / col("n_docs").cast("double"), 4).as("mean_prob"),
            round(col("n_pos").cast("double") / col("n_docs").cast("double"), 4)
              .as("pos_rate"))
          .orderBy(col("decile"))
      },
      Some(s"""WITH $dClassifierCtes,
              |d AS (
              |  SELECT doc_id, y, prob,
              |    CAST(${CalibrationCutoffs.map(c =>
                     s"(CASE WHEN score >= $c THEN 1 ELSE 0 END)")
                     .mkString(" + ")} AS BIGINT) AS decile
              |  FROM pr)
              |SELECT decile, count(*) AS n_docs,
              |  CAST(sum(y) AS BIGINT) AS n_pos,
              |  round(list_reduce(list_prepend(0.0e0, list(prob ORDER BY doc_id)),
              |    (a, x) -> a + x) / CAST(count(*) AS DOUBLE), 4) AS mean_prob,
              |  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
              |    AS pos_rate
              |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "classifier calibration: per-decile mean predicted probability vs observed label rate (reliability diagram as a query; ordered folds, rounded last)"),

    // Z-order (Morton-curve) layout audit: interleave the bits of the
    // two most-filtered dimensions (user bucket × day) and assign each
    // cell to the file holding its 256-wide ALIGNED z-prefix — a 16×16
    // quad of (u, d) space — versus a linear layout whose files are
    // aligned 8-wide user stripes. Each file row reports the min/max
    // range per dimension, i.e. exactly the parquet footer stats a
    // min/max-pruning scan consults. The theorem the audit makes
    // visible: z-order files bound BOTH dims (u_span ≤ 16 AND
    // d_span ≤ 16), so a predicate on either dimension prunes; linear
    // files bound only the leading dim (u_span ≤ 8, d_span = full
    // range) — a day-only probe must read EVERY linear file. Aligned
    // prefix bucketing needs no global sort for the audit (pure integer
    // map + one grouped agg); the write-time layout it models is
    // `repartitionByRange(z).sortWithinPartitions(z)`. All bit math is
    // integer-exact on both engines (shifts as multiplication by
    // literal powers of two).
    "prep_zorder_layout" -> Q(
      (s, dir) => zorderLayout(Tables.events(s, dir)),
      Some(s"""WITH ud AS (
              |  SELECT DISTINCT user_id % 256 AS u,
              |         epoch_ns(ts) // 86400000000000 AS dayn FROM events),
              |norm AS (
              |  SELECT u, (dayn - (SELECT min(dayn) FROM ud)) % 256 AS d FROM ud),
              |z AS (SELECT u, d, $zTermsSql AS z FROM norm)
              |SELECT layout, fid, n_cells, u_min, u_max, d_min, d_max,
              |  u_max - u_min + 1 AS u_span, d_max - d_min + 1 AS d_span
              |FROM (
              |  SELECT 'zorder' AS layout, z // 256 AS fid, count(*) AS n_cells,
              |    min(u) AS u_min, max(u) AS u_max,
              |    min(d) AS d_min, max(d) AS d_max FROM z GROUP BY 2
              |  UNION ALL
              |  SELECT 'linear', u // 8, count(*),
              |    min(u), max(u), min(d), max(d) FROM z GROUP BY 2)
              |ORDER BY layout, fid""".stripMargin),
      doc = "Morton/z-order layout audit: per-file min-max pruning ranges vs linear sort"),

    // Outlier clipping (winsorization) at the exact per-type [p1, p99]:
    // the prep step that tames heavy-tailed features before training.
    // Bounds come from the same integer rank selection as
    // evt_value_quantiles (type-1, no float rank math; per-type windows
    // are the documented exact-twin tradeoff — the sketch quantiles are
    // the 100 TB bound source, this is the oracle-checkable exact
    // form), broadcast to one clipping pass. Null values stay null
    // explicitly — Spark's and DuckDB's least/greatest disagree on
    // null-skipping, so the CASE guard pins the semantics — and the
    // RANKS run over non-null values only: with >1% null rows a
    // nulls-first rank would land the p1 selection ON a null, making
    // the bounds themselves null and reopening the exact null-skip
    // divergence the guard closed. (A type whose values are ALL null
    // has no definable bounds and drops from the summary on both
    // engines — the inner join on the bounds table.)
    "prep_clip_outliers" -> Q(
      (s, dir) => clipOutliers(Tables.events(s, dir)),
      Some("""WITH r AS (
             |  SELECT event_type, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY value, event_id) AS rk,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM events WHERE value IS NOT NULL),
             |b AS (
             |  SELECT event_type,
             |    max(CASE WHEN rk = (n * 1 + 99) // 100 THEN value END) AS p1,
             |    max(CASE WHEN rk = (n * 99 + 99) // 100 THEN value END) AS p99
             |  FROM r GROUP BY 1)
             |SELECT e.event_type, count(*) AS n_events,
             |  count(*) FILTER (WHERE e.value < b.p1) AS n_clip_lo,
             |  count(*) FILTER (WHERE e.value > b.p99) AS n_clip_hi,
             |  round(max(b.p1), 4) AS p1, round(max(b.p99), 4) AS p99,
             |  round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_raw,
             |  round(CAST(sum(CAST(CASE WHEN e.value IS NULL THEN NULL
             |    ELSE least(greatest(e.value, b.p1), b.p99) END
             |    AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_clipped
             |FROM events e JOIN b USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "winsorization at exact per-type [p1, p99] (broadcast bounds, one clip pass)"),

    // BPE ENCODE — the corpus-tokenization pass that closes the
    // tokenizer lifecycle the train/vocab queries opened: apply the
    // trained merge table to EVERY document and report the per-source
    // token economics (total tokens, chars/token, tokens/word) a data
    // team actually budgets against ("how many tokens is this corpus
    // under our tokenizer?"). Because BPE merges never cross word
    // boundaries, encoding factors through the word table: the trained
    // (word → |symbols|) state IS the encoder, vocabulary-sized by
    // nature, so it broadcasts into one map-side join over the exploded
    // corpus — the corpus is touched once, shuffles only its per-source
    // rollup, and the merge application cost is paid once per DISTINCT
    // word, not once per occurrence. That is the 100-TB shape: train on
    // the word-frequency table, broadcast the resulting encoder,
    // tokenize in a single pass. The oracle replays the full 3-round
    // train + encode chain in DuckDB, so the differential covers the
    // whole lifecycle, not just the rollup.
    "prep_bpe_encode" -> Q(
      (s, dir) => bpeEncode(docs(s, dir)),
      Some(s"""WITH ${dBpeChain(BpeRounds)},
              |encoder AS (SELECT w, len(s) AS n_sym FROM s$BpeRounds),
              |toks AS (
              |  SELECT d.source, d.doc_id, tok AS w
              |  FROM documents d, UNNEST($dTok) AS u(tok)),
              |j AS (SELECT t.*, e.n_sym FROM toks t JOIN encoder e USING (w))
              |SELECT source, count(DISTINCT doc_id) AS n_docs,
              |  count(*) AS n_words,
              |  CAST(sum(n_sym) AS BIGINT) AS n_tokens,
              |  round(CAST(sum(length(w)) AS DOUBLE) / CAST(sum(n_sym) AS DOUBLE), 4)
              |    AS chars_per_token,
              |  round(CAST(sum(n_sym) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
              |    AS tokens_per_word
              |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "BPE encode: trained merges applied corpus-wide via a broadcast (word -> |symbols|) encoder; per-source token economics, full train+encode differential replay"),

    // Sliding-window CHUNKING — the context-window packing/RAG-indexing
    // pass: 128-token windows at stride 96 (32-token overlap) per doc.
    // Chunk k exists while the previous chunk hasn't already covered the
    // tail (start < n − overlap, i.e. sequence upper bound n − 33), so
    // no fully-redundant runt chunks are emitted and coverage is exactly
    // contiguous (stride < size). Pure map-side explode of an integer
    // sequence — per-doc fan-out is ⌈n/96⌉, no shuffle but the
    // per-source rollup. `duplication` (chunk tokens / corpus tokens)
    // is the overlap tax a storage planner budgets for.
    "prep_chunk_windows" -> Q(
      (s, dir) => chunkWindows(docs(s, dir)),
      Some(s"""WITH lens AS (
              |  SELECT source, doc_id, len($dTok) AS n FROM documents),
              |pos AS (
              |  SELECT source, doc_id, n,
              |    unnest(generate_series(0, greatest(n - 33, 0), 96)) AS start
              |  FROM lens WHERE n > 0),
              |ch AS (
              |  SELECT source, doc_id, n, start,
              |    least(start + 128, n) - start AS chunk_len FROM pos)
              |SELECT source, count(DISTINCT doc_id) AS n_docs,
              |  count(*) AS n_chunks,
              |  CAST(sum(chunk_len) AS BIGINT) AS chunk_tokens,
              |  round(CAST(sum(chunk_len) AS DOUBLE) / count(*), 4) AS avg_chunk_len,
              |  round(CAST(sum(chunk_len) AS DOUBLE)
              |    / sum(CASE WHEN start = 0 THEN n END), 4) AS duplication
              |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "sliding-window chunking (128-token windows, stride 96): map-side integer-sequence explode, per-source chunk economics incl. the overlap duplication tax"),

    // Interpolated-bigram LM filter — the CCNet-style perplexity proxy
    // one model order above prep_lm_filter: each doc scores the average
    // ln(0.8·P_bigram + 0.2·P_unigram) over its token transitions and
    // the per-source rollup reports the flag rate at −3.43 (≈ the p10
    // of this corpus). The unigram form catches rare-WORD documents;
    // this form catches scrambled/unnatural SEQUENCES of common words —
    // the failure mode boilerplate shufflers and spam generators
    // actually produce. See [[bigramScores]] for the shuffle-join scale
    // shape (a web-scale bigram model doesn't broadcast).
    "prep_bigram_logprob" -> Q(
      (s, dir) => {
        bigramScores(docs(s, dir)).groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("avg_lp") < lit(-3.43), 1)).as("n_flagged"),
            array_sort(collect_list(struct(col("doc_id"), col("avg_lp")))).as("da"))
          .select(col("source"), col("n_docs"), col("n_flagged"),
            round(expr("aggregate(da, CAST(0 AS DOUBLE), (a, q) -> a + q.avg_lp)")
              / col("n_docs").cast("double"), 4).as("mean_logprob"))
          .orderBy(col("source"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, source, CAST(x['p'] AS BIGINT) AS p, x['w'] AS w
              |  FROM documents, UNNEST(list_transform(
              |    generate_series(1, len($dTok)),
              |    i -> {'p': i, 'w': ($dTok)[i]})) AS u(x)),
              |uni AS (SELECT w, count(*) AS cu FROM toks GROUP BY 1),
              |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS t FROM uni),
              |bi AS (
              |  SELECT doc_id, source, p,
              |    lag(w) OVER (PARTITION BY doc_id ORDER BY p) AS w1, w AS w2
              |  FROM toks),
              |bc AS (SELECT w1, w2, count(*) AS cb FROM bi
              |       WHERE w1 IS NOT NULL GROUP BY 1, 2),
              |scored AS (
              |  SELECT b.doc_id, b.source, b.p,
              |    ln(0.8e0 * CAST(bc.cb AS DOUBLE) / u1.cu
              |       + 0.2e0 * CAST(u2.cu AS DOUBLE) / tot.t) AS s
              |  FROM bi b
              |  JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
              |  JOIN uni u1 ON b.w1 = u1.w
              |  JOIN uni u2 ON b.w2 = u2.w, tot
              |  WHERE b.w1 IS NOT NULL),
              |perdoc AS (
              |  SELECT doc_id, source,
              |    list_reduce(list_prepend(0.0e0, list(s ORDER BY p)),
              |      (a, x) -> a + x) / count(*) AS avg_lp
              |  FROM scored GROUP BY 1, 2)
              |SELECT source, count(*) AS n_docs,
              |  count(*) FILTER (WHERE avg_lp < -3.43e0) AS n_flagged,
              |  round(list_reduce(list_prepend(0.0e0, list(avg_lp ORDER BY doc_id)),
              |    (a, x) -> a + x) / CAST(count(*) AS DOUBLE), 4) AS mean_logprob
              |FROM perdoc GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "interpolated-bigram LM filter (0.8 bigram + 0.2 unigram backoff, position-ordered folds, shuffle-joined model)"),
  )

  /** Per-doc average INTERPOLATED-BIGRAM log-probability — the scorer
    * behind `prep_bigram_logprob` and the one-step-up perplexity proxy
    * over [[lmScores]]'s unigram model: score(w₂|w₁) =
    * ln(0.8·c(w₁w₂)/c(w₁) + 0.2·c(w₂)/T), i.e. an interpolated backoff
    * to the unigram — positions without a predecessor (each doc's first
    * token) don't score, docs under 2 tokens drop. Scale shape: the
    * bigram model is corpus-derived and NOT broadcast-sized at web
    * scale, so doc bigrams reach it by a shuffle equi-join on the
    * (w₁, w₂) key (the unigram side stays a broadcast); the per-doc ln
    * sum folds in position order for cross-engine bit parity. */
  private[ext] def bigramScores(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = d.select(col("doc_id"), col("source"),
      posexplode(expr(tok)).as(Seq("p", "w")))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val t1 = uni.agg(sum(col("cu")).as("t"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val bi = toks
      .withColumn("w1", lag(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("source"), col("p"),
        col("w1"), col("w").as("w2"))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    bi
      .join(bc, Seq("w1", "w2"))
      .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(t1))
      .withColumn("s", log(
        lit(0.8) * col("cb").cast("double") / col("c1").cast("double")
          + lit(0.2) * col("c2").cast("double") / col("t").cast("double")))
      .groupBy(col("doc_id"), col("source"))
      .agg(array_sort(collect_list(struct(col("p"), col("s")))).as("ps"))
      .select(col("doc_id"), col("source"),
        (expr("aggregate(ps, CAST(0 AS DOUBLE), (a, q) -> a + q.s)")
          / size(col("ps")).cast("double")).as("avg_lp"))
  }

  /** Sliding-window chunking body behind `prep_chunk_windows`
    * (injectable for specs) — see the query comment for the bound
    * arithmetic. */
  private[ext] def chunkWindows(d: DataFrame): DataFrame = {
    val lens = d
      .select(col("source"), col("doc_id"),
        expr(s"size(${TextAnalytics.tokExpr})").cast("long").as("n"))
      .filter(col("n") > 0)
    val chunks = lens
      .select(col("source"), col("doc_id"), col("n"),
        explode(expr("sequence(0L, greatest(n - 33L, 0L), 96L)")).as("start"))
      .withColumn("chunk_len",
        least(col("start") + lit(128L), col("n")) - col("start"))
    chunks.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("chunk_tokens"),
        sum(when(col("start") === 0, col("n"))).as("corpus_tokens"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("chunk_tokens"),
        round(col("chunk_tokens").cast("double")
          / col("n_chunks").cast("double"), 4).as("avg_chunk_len"),
        round(col("chunk_tokens").cast("double")
          / col("corpus_tokens").cast("double"), 4).as("duplication"))
      .orderBy(col("source"))
  }

  /** BPE ENCODE body behind `prep_bpe_encode` (injectable for specs):
    * train [[BpeRounds]] merges via [[bpeLoop]], then tokenize the whole
    * corpus through the resulting (word → |symbols|) encoder — a
    * vocabulary-sized broadcast join over the exploded corpus — and
    * roll up per-source token economics. The rollup is 1 row per
    * source (bounded by construction), so the loan-scope collect (the
    * bpeVocab idiom) is driver-safe. */
  private[ext] def bpeEncode(d: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val spark = d.sparkSession
    val (_, fin) = bpeLoop(d, rounds)
    try {
      val encoder = fin.select(col("w"), size(col("s")).cast("long").as("n_sym"))
      val out = d
        .select(col("source"), col("doc_id"),
          explode(expr(TextAnalytics.tokExpr)).as("w"))
        .join(broadcast(encoder), Seq("w"))
        .groupBy(col("source"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("n_sym")).as("n_tokens"),
          sum(length(col("w")).cast("long")).as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
          round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 4)
            .as("chars_per_token"),
          round(col("n_tokens").cast("double") / col("n_words").cast("double"), 4)
            .as("tokens_per_word"))
        .orderBy(col("source"))
      spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally Pins.release(fin)
  }

  /** BPE merge-iteration body (injectable for specs — see the
    * `prep_bpe_merge_pairs` entry for the full rationale). */
  def bpeMergePairs(documents: DataFrame): DataFrame = {
    val words = documents
      .select(explode(expr(TextAnalytics.tokExpr)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words
      .filter(length(col("w")) >= 2)
      .select(col("freq"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(10)
  }

  /** Unrolled BPE TRAINING loop rounds (fixed, like the graph
    * iterations: the oracle replays each round as CTEs, and the
    * per-round merge trajectory is the audit output). `final` with a
    * literal ⇒ compile-time constant: `defs` above initializes BEFORE
    * this line runs, and a plain val would read as 0 there. */
  private[ext] final val BpeRounds = 3

  /** BOUNDED-ROUNDS CONTRACT for the BPE loop: each merge round is
    * driver-ITERATED — one `limit(1).collect()` argmax job plus one
    * broadcast-rule map pass — so the cost is `rounds` Spark job
    * launches, NOT `rounds` corpus passes fused into one. That is the
    * right shape for what this operator is (a trajectory/vocabulary
    * AUDIT over the first rounds, the thing a trainer monitors): at 3
    * rounds the driver loop costs milliseconds. It is the WRONG tool
    * for training a production 30–50k-merge tokenizer — 50k rounds =
    * 50k job launches of pure scheduling overhead; that regime wants
    * the standard single-shuffle word-frequency export (the
    * `prep_bpe_merge_pairs` word table feeds any off-cluster BPE
    * trainer, which is how sub-word tokenizers are trained from
    * Spark-prepared data in practice). The cap
    * makes reaching for the wrong tool loud instead of mysteriously
    * slow. */
  private[ext] final val MaxBpeRounds = 256

  /** [[BpeRounds]] real BPE training iterations with MERGE APPLICATION:
    * each round counts frequency-weighted adjacent symbol pairs, picks
    * the argmax merge (count desc, then pair asc — deterministic), and
    * REWRITES every word's symbol sequence with the merge applied
    * leftmost-greedily before the next round recounts. This closes the
    * train→apply loop `prep_bpe_merge_pairs` only opened: round 2's
    * counts depend on round 1's rewrite, so the apply kernel is
    * load-bearing in the oracle comparison, not decorative.
    *
    * Leftmost-greedy application is the sequential part of BPE, and it
    * is exactly a strict left fold over the symbol array: take a match,
    * consume the next position, never re-pair a consumed symbol (so
    * `aaa` under merge (a,a) yields `[aa, a]`, not two overlapping
    * merges). The fold runs as a per-row `aggregate` lambda — PURE
    * MAP-SIDE, no explode of the corpus into symbol rows, no shuffle —
    * which is the 100 TB shape: after the one word-frequency shuffle,
    * every round costs one vocabulary-scale pair aggregate + one
    * broadcast of a single merge rule + one map pass over the word
    * table. The oracle replays the fold as its provably-equivalent
    * closed form (positions taken = even offsets within each run of
    * consecutive match positions; runs only arise for self-pairs).
    *
    * Output: one row per round — the merge learned, its count, and the
    * corpus token count after applying it (Σ freq·|symbols|), i.e. the
    * compression trajectory a tokenizer trainer monitors. */
  private[ext] def bpeTrainSteps(documents: DataFrame,
      rounds: Int = BpeRounds): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (rows, fin) = bpeLoop(documents, rounds)
    Pins.release(fin)
    rows.toDF("round", "left_sym", "right_sym", "pair_count", "toks_after")
  }

  /** The trained sub-word VOCABULARY after [[bpeLoop]]'s merge rounds:
    * top symbols by corpus token count, with the word-level spread
    * (`n_words`) and symbol length — the artifact a tokenizer trainer
    * actually ships, derived from the SAME loop the trajectory query
    * audits so the two cannot drift. Bounded output (top `topK`),
    * materialized inside the loan. */
  private[ext] def bpeVocab(documents: DataFrame, rounds: Int = BpeRounds,
      topK: Int = 20): DataFrame = {
    val spark = documents.sparkSession
    val (_, fin) = bpeLoop(documents, rounds)
    try {
      val out = fin.select(col("w"), col("freq"), explode(col("s")).as("symbol"))
        .groupBy(col("symbol"))
        .agg(sum(col("freq")).as("token_count"),
          countDistinct(col("w")).as("n_words"))
        .withColumn("sym_len", length(col("symbol")))
        .orderBy(col("token_count").desc, col("symbol").asc)
        .limit(topK)
      spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally Pins.release(fin)
  }

  /** The shared BPE training loop: returns the per-round trajectory rows
    * AND the final (word, freq, symbols) state as a live checkpointed
    * frame the CALLER must `Pins.release`. */
  private def bpeLoop(documents: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, Long, Long)], DataFrame) = {
    require(rounds <= MaxBpeRounds,
      s"bpeLoop is driver-iterated (one argmax job per merge round) and " +
        s"capped at $MaxBpeRounds rounds; $rounds requested. Training a " +
        "full tokenizer vocabulary wants the word-frequency export fed " +
        "to an off-cluster trainer, not this audit loop — see the " +
        "MaxBpeRounds contract.")
    val spark = documents.sparkSession
    import spark.implicits._
    // The per-round symbol table is a ROUND-ITERATED frame, so it uses
    // lazy localCheckpoint + eager release (the Graph.kcoreTrajectory /
    // Dedup.connectedComponents idiom), NOT a chained cache: round N's
    // cached plan would embed every prior round's, the nested lookup
    // stops hitting, and each round re-derives the whole merge prefix —
    // harmless on a toy vocabulary, a rounds-squared corpus re-tokenize
    // at real scale. Exactly one symbol frame is live at any time.
    var words = documents
      .select(explode(expr(TextAnalytics.tokExpr)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("s"))
      .transform(Pins.pin)
    try {
      val rows = scala.collection.mutable.Buffer[(Long, String, String, Long, Long)]()
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val best = words.filter(size(col("s")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(s) - 2), i -> named_struct('a', s[i], 'b', s[i + 1]))"))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (best.isEmpty) exhausted = true // nothing left to merge
        else {
          val (ma, mb, cnt) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          // the rule rides in as a broadcast 1-row frame (no literal
          // splicing: symbols stay data, whatever the tokenizer emits)
          val rule = broadcast(Seq((ma, mb)).toDF("ma", "mb"))
          val applied = words.crossJoin(rule)
            .select(col("w"), col("freq"), expr(
              """aggregate(
                |  sequence(0, size(s) - 1),
                |  named_struct('arr', CAST(array() AS array<string>), 'skip', false),
                |  (st, i) -> CASE
                |    WHEN st.skip THEN named_struct('arr', st.arr, 'skip', false)
                |    WHEN i < size(s) - 1 AND s[i] = ma AND s[i + 1] = mb
                |      THEN named_struct(
                |        'arr', concat(st.arr, array(concat(s[i], s[i + 1]))),
                |        'skip', true)
                |    ELSE named_struct(
                |      'arr', concat(st.arr, array(s[i])), 'skip', false)
                |  END,
                |  st -> st.arr)""".stripMargin).as("s"))
            .transform(Pins.pin)
          // the rollup materializes the new frame; only then is the
          // previous round's checkpoint RDD released. If it throws,
          // `applied`'s (possibly part-stored) checkpoint must be
          // released too — `words` alone would leak it
          val toksAfter =
            try applied
              .agg(sum(col("freq") * size(col("s")).cast("long")).as("t"))
              .head().getLong(0)
            catch { case t: Throwable => Pins.release(applied); throw t }
          Pins.release(words)
          words = applied
          rows += ((r.toLong, ma, mb, cnt, toksAfter))
          r += 1
        }
      }
      (rows.toSeq, words)
    } catch {
      case t: Throwable => Pins.release(words); throw t
    }
  }

  // DuckDB mirror of [[bpeTrainSteps]]/[[bpeVocab]]: rounds unrolled as
  // CTEs; the leftmost-greedy fold replayed as its closed form — a match
  // position is taken iff its offset within its run of CONSECUTIVE match
  // positions is even (runs only occur for self-pairs, where overlap
  // resolution matters); a position is dropped iff its predecessor was
  // taken. Gaps-and-islands (i − row_number among match rows) finds the
  // runs. [[dBpeChain]] builds the shared per-round state CTEs
  // (s1..sN); the two queries differ only in their final SELECT.
  private def dBpeChain(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      val prev = if (i == 1) "s0" else s"s${i - 1}"
      s"""p$i AS (
         |  SELECT s[CAST(i AS INTEGER)] AS a, s[CAST(i AS INTEGER) + 1] AS b,
         |    sum(freq) AS cnt
         |  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i
         |        FROM $prev WHERE len(s) >= 2)
         |  GROUP BY 1, 2),
         |-- always exactly 1 row: a NULL sentinel when no pair remains, so
         |-- the CROSS JOIN below keeps carrying the symbol state forward
         |-- as a no-op merge (the engine's loop STOPS and keeps its last
         |-- state when merges exhaust — an empty b$i here would instead
         |-- collapse every later round's symbol state to zero rows)
         |b$i AS (
         |  SELECT * FROM (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)
         |  UNION ALL
         |  SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
         |  WHERE NOT EXISTS (SELECT 1 FROM p$i)),
         |x$i AS (
         |  SELECT q.w, q.freq, CAST(q.i AS INTEGER) AS i,
         |    q.s[CAST(q.i AS INTEGER)] AS sym, r.a || r.b AS ab,
         |    CASE WHEN CAST(q.i AS INTEGER) < len(q.s)
         |          AND q.s[CAST(q.i AS INTEGER)] = r.a
         |          AND q.s[CAST(q.i AS INTEGER) + 1] = r.b
         |      THEN 1 ELSE 0 END AS m
         |  FROM (SELECT w, freq, s, unnest(generate_series(1, len(s))) AS i
         |        FROM $prev) q
         |  CROSS JOIN b$i r),
         |t$i AS (
         |  SELECT w, freq, i, sym, ab, m,
         |    CASE WHEN m = 1 AND
         |        (i - min(i) OVER (PARTITION BY w, m, isl)) % 2 = 0
         |      THEN 1 ELSE 0 END AS taken
         |  FROM (SELECT *, i - ROW_NUMBER() OVER (PARTITION BY w, m ORDER BY i) AS isl
         |        FROM x$i)),
         |s$i AS (
         |  SELECT w, freq,
         |    list(CASE WHEN taken = 1 THEN ab ELSE sym END ORDER BY i) AS s
         |  FROM (SELECT *, lag(taken, 1, 0) OVER (PARTITION BY w ORDER BY i) AS ptaken
         |        FROM t$i)
         |  WHERE ptaken = 0
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (
       |  SELECT tok AS w, count(*) AS freq
       |  FROM documents, UNNEST(${TextAnalytics.dTok}) AS u(tok) GROUP BY 1),
       |s0 AS (
       |  SELECT w, freq, list_transform(generate_series(1, length(w)),
       |    i -> substr(w, CAST(i AS INTEGER), 1)) AS s
       |  FROM wf),
       |$steps""".stripMargin
  }

  private def dBpeSteps(rounds: Int): String = {
    val rows = (1 to rounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS round, b$i.a AS left_sym, b$i.b AS right_sym,
         |  CAST(b$i.cnt AS BIGINT) AS pair_count,
         |  (SELECT CAST(sum(freq * len(s)) AS BIGINT) FROM s$i) AS toks_after
         |FROM b$i WHERE b$i.a IS NOT NULL""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""${dBpeChain(rounds)}
       |$rows
       |ORDER BY round""".stripMargin
  }

  // Final vocabulary select over the last round's symbol state.
  private def dBpeVocab(rounds: Int, topK: Int): String =
    s"""${dBpeChain(rounds)}
       |SELECT sym AS symbol, CAST(sum(freq) AS BIGINT) AS token_count,
       |  CAST(count(DISTINCT w) AS BIGINT) AS n_words,
       |  CAST(length(sym) AS INTEGER) AS sym_len
       |FROM (SELECT w, freq, unnest(s) AS sym FROM s$rounds)
       |GROUP BY 1
       |ORDER BY token_count DESC, symbol LIMIT $topK""".stripMargin

  /** Winsorization body (injectable for specs — see the
    * `prep_clip_outliers` entry for the full rationale). Bounds rank
    * over NON-NULL values only so p1/p99 are never null; the clip pass
    * still sees every row (nulls stay null via the CASE guard). */
  def clipOutliers(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = events
      .select(col("event_type"), col("event_id"), col("value"))
      .filter(col("value").isNotNull)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("event_type"))))
    val bounds = ranked.groupBy(col("event_type")).agg(
      max(when(col("rk") === expr("(n * 1 + 99) div 100"), col("value"))).as("p1"),
      max(when(col("rk") === expr("(n * 99 + 99) div 100"), col("value"))).as("p99"))
    events
      .join(broadcast(bounds), Seq("event_type"))
      .withColumn("clipped", when(col("value").isNull, lit(null))
        .otherwise(least(greatest(col("value"), col("p1")), col("p99"))))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("value") < col("p1"), 1)).as("n_clip_lo"),
        count(when(col("value") > col("p99"), 1)).as("n_clip_hi"),
        round(max(col("p1")), 4).as("p1"),
        round(max(col("p99")), 4).as("p99"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_raw"),
        round(sum(col("clipped").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_clipped"))
      .orderBy(col("event_type"))
  }

  /** SQL for the 8+8-bit Morton interleave (user bit i → position 2i+1,
    * day bit i → position 2i), shared verbatim by both engines — shifts
    * as multiplications by literal powers of two. */
  private lazy val zTermsSql: String = (0 until 8).map { i =>
    s"(((u >> $i) & 1) * ${1L << (2 * i + 1)}) + (((d >> $i) & 1) * ${1L << (2 * i)})"
  }.mkString("(", " + ", ")")

  /** Z-order layout audit body (injectable for specs): see the
    * `prep_zorder_layout` entry. Files are aligned prefix buckets —
    * z-prefix quads for the Morton layout, leading-dim stripes for the
    * linear one. */
  def zorderLayout(events: DataFrame): DataFrame = {
    val ud = events.select(
        (col("user_id") % 256).as("u"),
        expr("ts div 86400000000000").as("dayn"))
      .distinct()
    val dmin = ud.agg(min(col("dayn")).as("dmin"))
    // both coordinates are 8-bit BUCKETS (user_id % 256 above, day
    // offset % 256 here): without the clamp, a corpus spanning > 256
    // days would alias day bits silently (d=256 encodes like d=0) and
    // corrupt the per-file min/max audit — the mod makes the windowing
    // into 256-day epochs explicit and symmetric with the user bucket
    val cells = ud.crossJoin(broadcast(dmin))
      .select(col("u"), ((col("dayn") - col("dmin")) % 256).as("d"))
    val zTermsSpark = (0 until 8).map { i =>
      s"((shiftright(u, $i) & 1) * ${1L << (2 * i + 1)}) + ((shiftright(d, $i) & 1) * ${1L << (2 * i)})"
    }.mkString("(", " + ", ")")
    val z = cells.withColumn("z", expr(zTermsSpark))
    def fileStats(fid: org.apache.spark.sql.Column, layout: String) =
      z.groupBy(fid.as("fid"))
        .agg(count(lit(1)).as("n_cells"),
          min(col("u")).as("u_min"), max(col("u")).as("u_max"),
          min(col("d")).as("d_min"), max(col("d")).as("d_max"))
        .select(lit(layout).as("layout"), col("fid"), col("n_cells"),
          col("u_min"), col("u_max"), col("d_min"), col("d_max"))
    fileStats(expr("z div 256"), "zorder")
      .unionByName(fileStats(expr("u div 8"), "linear"))
      .withColumn("u_span", col("u_max") - col("u_min") + 1)
      .withColumn("d_span", col("d_max") - col("d_min") + 1)
      .orderBy(col("layout"), col("fid"))
  }
}
