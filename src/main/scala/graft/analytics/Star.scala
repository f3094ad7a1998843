package graft.analytics

import graft.{Q, QueryModule, Tables}
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's declared-only star schema
  * (/root/reference/docs/SCHEMA.md:190-262: dim_wallets, dim_programs,
  * dim_tokens) actually built — as derived dimensions over the event
  * stream, the "materialized views or scheduled jobs" the schema
  * rationale defers to.
  *
  * Scale shape: every dim is one grouped aggregation over the fact
  * table (min/max/count — partial-aggregable, one shuffle), and every
  * enrichment join broadcasts the dim against the fact scan (J1). The
  * dims here are small by construction (distinct wallets/programs/
  * tokens ≪ events); the joins stay broadcast until the dim outgrows
  * the threshold, where AQE flips to shuffle join.
  */
object Star extends QueryModule {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  private val dNs = "epoch_ns(ts)"

  /** dim_wallets (SCHEMA.md:192-218): first/last seen + activity
    * aggregates per wallet, one grouped pass. */
  def dimWallets(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(
        expr("min(ts)").as("first_seen_ns"),
        expr("max(ts)").as("last_seen_ns"),
        count(lit(1)).as("total_transactions"),
        count(when(col("event_type") === "purchase", 1)).as("total_purchases"))

  /** dim_programs (SCHEMA.md:220-241): per-program first/last seen and
    * usage counts; event_type plays program_id (FIXTURES.md mapping). */
  def dimPrograms(events: DataFrame): DataFrame =
    events.groupBy(col("event_type").as("program_id"))
      .agg(
        expr("min(ts) div 1000").as("first_seen_us"),
        expr("max(ts) div 1000").as("last_seen_us"),
        count(lit(1)).as("tx_count"),
        countDistinct(col("user_id")).as("uniq_wallets"))

  /** dim_tokens (SCHEMA.md:243-262): per-mint stats; props.k plays the
    * mint. */
  def dimTokens(events: DataFrame): DataFrame =
    events.filter(propK().isNotNull)
      .groupBy(propK().as("token_k"))
      .agg(
        expr("min(ts) div 1000").as("first_seen_us"),
        expr("max(ts) div 1000").as("last_seen_us"),
        count(lit(1)).as("transfer_count"))

  /** SCD Type-2 history of a per-program activity tier: classify each
    * (program, day) against the program's own average daily volume with
    * integer cross-multiplied compares (no float thresholds → bit-equal
    * on any engine), then collapse consecutive same-tier days into
    * versioned [valid_from, valid_to] ranges — gaps-and-islands with a
    * change flag + running sum, the standard warehouse dimension-history
    * build. Grain after the first aggregate is (program × day), tiny at
    * any corpus size, so the windows cost nothing at 100 TB. */
  def scd2Programs(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.groupBy(col("event_type").as("program_id"), tsDay().as("day"))
      .agg(count(lit(1)).as("cnt"))
    val totals = daily.groupBy(col("program_id"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_days"))
    // tier vs own average: high ⇔ cnt ≥ 1.25·avg, low ⇔ cnt ≤ 0.75·avg
    val tiered = daily.join(broadcast(totals), Seq("program_id"))
      .withColumn("tier",
        when(col("cnt") * col("n_days") * 4 >= col("total") * 5, lit("high"))
          .when(col("cnt") * col("n_days") * 4 <= col("total") * 3, lit("low"))
          .otherwise(lit("mid")))
    val byDay = Window.partitionBy(col("program_id")).orderBy(col("day"))
    val versioned = tiered
      .withColumn("chg",
        when(lag(col("tier"), 1).over(byDay).isNull
          || lag(col("tier"), 1).over(byDay) =!= col("tier"), 1).otherwise(0))
      .withColumn("version", sum(col("chg")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    versioned.groupBy(col("program_id"), col("version"), col("tier"))
      .agg(min(col("day")).as("valid_from"), max(col("day")).as("valid_to"),
        count(lit(1)).as("n_days"), sum(col("cnt")).as("events"))
      .withColumn("is_current",
        (col("valid_to") === max(col("valid_to")).over(
          Window.partitionBy(col("program_id")))).cast("int"))
      .orderBy(col("program_id"), col("version"))
  }

  /** CDC snapshot diff: the wallet-facing dim_programs rebuilt at two
    * points in time (pre-anchor vs full history), full-outer-joined on
    * the business key, each row classified added / changed / unchanged.
    * The diff is one full-outer join of two grouped builds — at scale
    * the "old" side is the stored snapshot, not a rescan. */
  def dimProgramsDiff(events: DataFrame): DataFrame = {
    def build(df: DataFrame): DataFrame =
      df.groupBy(col("event_type").as("program_id"))
        .agg(count(lit(1)).as("tx_count"), countDistinct(col("user_id")).as("uniq_wallets"))
    val old = build(events.filter(col("ts") < lit(Tables.AnchorNs)))
      .select(col("program_id"), col("tx_count").as("old_tx"),
        col("uniq_wallets").as("old_wallets"))
    val neu = build(events)
      .select(col("program_id"), col("tx_count").as("new_tx"),
        col("uniq_wallets").as("new_wallets"))
    old.join(neu, Seq("program_id"), "full_outer")
      .withColumn("status",
        when(col("old_tx").isNull, lit("added"))
          .when(col("new_tx").isNull, lit("removed"))
          .when(col("old_tx") =!= col("new_tx")
            || col("old_wallets") =!= col("new_wallets"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col("program_id"), col("status"),
        coalesce(col("old_tx"), lit(0L)).as("old_tx"),
        coalesce(col("new_tx"), lit(0L)).as("new_tx"))
      .orderBy(col("program_id"))
  }

  /** THE SCD2 history CTE chain (daily counts → integer-exact tiers →
    * change flags → versions) — shared verbatim by the
    * `star_scd2_programs` and `star_scd2_enrich` oracles so the tier
    * rule and versioning logic exist in exactly one SQL copy. */
  private val dScd2Ctes: String =
    """daily AS (
      |  SELECT event_type AS program_id,
      |         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |         count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |totals AS (
      |  SELECT program_id, CAST(sum(cnt) AS BIGINT) AS total,
      |         count(*) AS n_days
      |  FROM daily GROUP BY 1),
      |tiered AS (
      |  SELECT d.program_id, d.day, d.cnt,
      |    CASE WHEN d.cnt * t.n_days * 4 >= t.total * 5 THEN 'high'
      |         WHEN d.cnt * t.n_days * 4 <= t.total * 3 THEN 'low'
      |         ELSE 'mid' END AS tier
      |  FROM daily d JOIN totals t USING (program_id)),
      |flagged AS (
      |  SELECT program_id, day, cnt, tier,
      |    CASE WHEN lag(tier) OVER w IS NULL
      |           OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
      |  -- day NULLS FIRST: a NULL day (timeless event) must take the
      |  -- same versioning position as in Spark's ASC-nulls-first window
      |  FROM tiered WINDOW w AS (PARTITION BY program_id ORDER BY day NULLS FIRST)),
      |versioned AS (
      |  SELECT program_id, day, cnt, tier,
      |    CAST(sum(chg) OVER (PARTITION BY program_id ORDER BY day NULLS FIRST
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      |  FROM flagged)""".stripMargin

  override val defs: Seq[(String, Q)] = Seq(

    // The dim_programs build as an oracle row: one grouped pass, all
    // aggregates partial-aggregable.
    "star_dim_programs" -> Q(
      (s, dir) =>
        dimPrograms(ev(s, dir)).orderBy(col("program_id")),
      Some(s"""SELECT event_type AS program_id,
              | min($dNs) // 1000 AS first_seen_us,
              | max($dNs) // 1000 AS last_seen_us,
              | count(*) AS tx_count,
              | count(DISTINCT user_id) AS uniq_wallets
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "SCHEMA.md:220-241 dim_programs built from the fact stream"),

    // J1 dim-enrichment over EVENTS (not TPC-H): purchases joined to
    // the derived wallet dim (broadcast — the dim is tiny) and rolled
    // up by acquisition cohort (the wallet's first-seen day). One fact
    // scan, one broadcast join, one grouped shuffle.
    "star_wallet_cohorts" -> Q(
      (s, dir) => {
        val e = ev(s, dir)
        val dim = dimWallets(e)
          .select(col("user_id"),
            date_format(expr("timestamp_micros(first_seen_ns div 1000)"), "yyyy-MM-dd")
              .as("cohort_day"))
        e.filter(col("event_type") === "purchase")
          .join(broadcast(dim), Seq("user_id"))
          .groupBy(col("cohort_day"), tsDay().as("day"))
          .agg(
            count(lit(1)).as("purchases"),
            countDistinct(col("user_id")).as("wallets"),
            round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
              .as("total_value"))
          .orderBy(col("cohort_day"), col("day"))
      },
      Some(s"""WITH dim AS (
              |  SELECT user_id,
              |    strftime(make_timestamp(min($dNs) // 1000), '%Y-%m-%d') AS cohort_day
              |  FROM events GROUP BY 1)
              |SELECT cohort_day,
              | strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
              | count(*) AS purchases,
              | count(DISTINCT user_id) AS wallets,
              | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
              |FROM events JOIN dim USING (user_id)
              |WHERE event_type = 'purchase'
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "J1 star enrichment over events: fact × broadcast wallet dim"),

    // SCD Type-2 dimension history: versioned [valid_from, valid_to]
    // activity-tier ranges per program, integer-exact tier thresholds,
    // gaps-and-islands collapse. The warehouse "slowly changing
    // dimension" pattern SCHEMA.md's dims imply but the reference never
    // builds.
    "star_scd2_programs" -> Q(
      (s, dir) => scd2Programs(ev(s, dir)),
      Some(s"""WITH $dScd2Ctes,
             |ranges AS (
             |  SELECT program_id, version, tier,
             |         min(day) AS valid_from, max(day) AS valid_to,
             |         count(*) AS n_days, CAST(sum(cnt) AS BIGINT) AS events
             |  FROM versioned GROUP BY 1, 2, 3)
             |SELECT program_id, version, tier, valid_from, valid_to, n_days,
             |       events,
             |       CAST(valid_to = max(valid_to) OVER (PARTITION BY program_id)
             |         AS INT) AS is_current
             |FROM ranges ORDER BY program_id NULLS FIRST, version""".stripMargin),
      doc = "SCD2 dimension history: versioned activity-tier ranges per program"),

    // CDC snapshot diff: dim rebuilt pre-anchor vs full history,
    // full-outer-joined and classified added/changed/unchanged.
    "star_dim_diff" -> Q(
      (s, dir) => dimProgramsDiff(ev(s, dir)),
      Some(s"""WITH old AS (
              |  SELECT event_type AS program_id, count(*) AS old_tx,
              |         count(DISTINCT user_id) AS old_wallets
              |  FROM events WHERE $dNs < ${Tables.AnchorNs} GROUP BY 1),
              |neu AS (
              |  SELECT event_type AS program_id, count(*) AS new_tx,
              |         count(DISTINCT user_id) AS new_wallets
              |  FROM events GROUP BY 1)
              |SELECT COALESCE(old.program_id, neu.program_id) AS program_id,
              |  CASE WHEN old.old_tx IS NULL THEN 'added'
              |       WHEN neu.new_tx IS NULL THEN 'removed'
              |       WHEN old.old_tx <> neu.new_tx
              |         OR old.old_wallets <> neu.new_wallets THEN 'changed'
              |       ELSE 'unchanged' END AS status,
              |  COALESCE(old.old_tx, 0) AS old_tx,
              |  COALESCE(neu.new_tx, 0) AS new_tx
              |FROM old FULL OUTER JOIN neu ON old.program_id = neu.program_id
              |ORDER BY 1 NULLS FIRST""".stripMargin),
      doc = "CDC snapshot diff of dim_programs: added/changed/unchanged rows"),

    // Temporal (versioned) dimension join: every event enriched with
    // the SCD2 tier that was VALID AT ITS TIMESTAMP — the point of
    // keeping dimension history. The join is program-keyed (hash/
    // broadcast equi-join; the dim is tiny) with the validity-range
    // predicate applied on the matched pair; rolled up to (program,
    // tier) event counts so the oracle stays small. Every event must
    // land in exactly one version — QueriesSpec pins the partition.
    "star_scd2_enrich" -> Q(
      (s, dir) => {
        val hist = scd2Programs(ev(s, dir))
          .select(col("program_id"), col("version"), col("tier"),
            col("valid_from"), col("valid_to"))
        ev(s, dir)
          .select(col("event_type").as("program_id"), tsDay().as("day"))
          .join(broadcast(hist), Seq("program_id"))
          .filter(col("day") >= col("valid_from") && col("day") <= col("valid_to"))
          .groupBy(col("program_id"), col("version"), col("tier"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy(col("program_id"), col("version"))
      },
      Some(s"""WITH $dScd2Ctes,
              |hist AS (
              |  SELECT program_id, version, tier,
              |         min(day) AS valid_from, max(day) AS valid_to
              |  FROM versioned GROUP BY 1, 2, 3)
              |SELECT e.program_id, h.version, h.tier, count(*) AS n_events
              |FROM (SELECT event_type AS program_id,
              |        strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
              |      FROM events) e
              |JOIN hist h ON e.program_id = h.program_id
              | AND e.day >= h.valid_from AND e.day <= h.valid_to
              |GROUP BY 1, 2, 3 ORDER BY 1 NULLS FIRST, 2""".stripMargin),
      doc = "temporal SCD2 join: events enriched with the tier valid at their time"),
  )
}
