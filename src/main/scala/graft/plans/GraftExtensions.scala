package graft.plans

import graft.functions.{Base58Expressions, GramAggregate, HllAggregate, TextExpressions, VectorExpressions}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine function surface for SQL users (SURVEY.md §7.3's extension
  * registration point): `vector_dot`, `vector_cosine`, `hll_distinct`
  * become callable from `spark.sql(...)` text, either by building the
  * session with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or by
  * [[GraftExtensions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // whole-operator surface: bounded-heap top-k per group — the
    // strategy plans the explicit TopKPerGroup node (matches nothing
    // else, so it cannot affect other plans)
    e.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    // scan-pushdown restoration for the loader's nanos view of `ts`
    // (pure predicate rewrite, exact integer bounds — safe session-wide)
    e.injectOptimizerRule(_ => NanosFilterRule)
    // SQL-text surface for the MergeTable lake: swaps GraftCatalog
    // relations for native parquet snapshot plans and rewrites
    // MERGE INTO into the engine's commit protocol. Matches only
    // GraftLakeTable relations — inert for every other plan.
    e.injectResolutionRule(GraftLakeRule)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  private[plans] val builders: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vector_dot",
      info("vector_dot", "vector_dot(a, b) - dot product of two array<double>"),
      (es: Seq[Expression]) => VectorExpressions.DotProduct(es(0), es(1))),
    ("vector_cosine",
      info("vector_cosine", "vector_cosine(a, b) - cosine similarity of two array<double>"),
      (es: Seq[Expression]) => VectorExpressions.CosineSimilarity(es(0), es(1))),
    ("hll_distinct",
      info("hll_distinct", "hll_distinct(expr) - HyperLogLog distinct-count sketch"),
      (es: Seq[Expression]) => HllAggregate(es.head)),
    ("gram_acc",
      info("gram_acc",
        "gram_acc(vec, dims, fpScale) - packed Q-scaled Gram upper-triangle int64 sums"),
      (es: Seq[Expression]) => {
        // dims/fpScale size the fixed buffer, so they must be literal
        // (foldable) — fail with a clear message, not an analyzer
        // internal error on eval of an unbound attribute
        require(es.length == 3,
          s"gram_acc(vec, dims, fpScale) takes 3 arguments, got ${es.length}")
        require(es(1).foldable && es(2).foldable,
          "gram_acc dims and fpScale must be literals (they size the aggregate buffer)")
        val dimsV = es(1).eval()
        val fpV = es(2).eval()
        // a foldable NULL literal (CAST(NULL AS INT)) evals to null —
        // fail with the same clear message, not an opaque NPE
        require(dimsV != null && fpV != null,
          "gram_acc dims and fpScale must be non-null literals")
        val dims = dimsV.asInstanceOf[Number].intValue()
        val fp = fpV.asInstanceOf[Number].longValue()
        require(dims > 0, s"gram_acc dims must be positive, got $dims")
        require(fp > 0, s"gram_acc fpScale must be positive, got $fp")
        GramAggregate(es.head, dims, fp)
      }),
    ("rolling_hash",
      info("rolling_hash", "rolling_hash(str) - polynomial rolling hash (document fingerprint)"),
      (es: Seq[Expression]) => TextExpressions.RollingHash(es.head)),
    ("simhash16",
      info("simhash16", "simhash16(str) - 16-bit SimHash signature (null for token-less input)"),
      (es: Seq[Expression]) => TextExpressions.SimHash16(es.head)),
    ("base58_encode",
      info("base58_encode", "base58_encode(bin) - Base58 (Bitcoin/Solana alphabet)"),
      (es: Seq[Expression]) => Base58Expressions.Base58Encode(es.head)),
    ("base58_decode",
      info("base58_decode", "base58_decode(str) - Base58 decode; NULL on invalid input"),
      (es: Seq[Expression]) => Base58Expressions.Base58Decode(es.head)),
  )

  /** Register on an already-built session (temp functions). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
