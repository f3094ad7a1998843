package graft.analytics

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** The reference's `analytics` subcommand as a library call: computes the
  * ten summary tables (/root/reference/src/analytics.rs:7-32,41-198) from
  * a canonical-events fact table and materializes each with
  * `mode("overwrite")` — the atomic replacement for the reference's
  * DELETE-then-row-at-a-time-INSERT loops (SURVEY.md §3.1).
  *
  * Pure functions of (fact, anchor): the anchor instant replaces
  * `CURRENT_DATE`/`NOW()` so runs are reproducible and testable
  * (SURVEY.md §7.1). Column names/types mirror the reference DDLs.
  *
  * The fact schema is the ingest layer's output
  * ([[graft.ingest.Parse.toEvents]]): event_id, slot, block_time,
  * tx_signature, program_id, instruction_index, event_type, raw_payload.
  */
object AnalyticsRunner {

  /** wallet = first signer (docs/SCHEMA.md:56-66 declares the column
    * the reference never fills). Each query below projects the JSON
    * extraction ONCE, right after its selective (non-JSON) filter, and
    * then filters/groups/aggregates on the typed column — the payload
    * is parsed exactly once per surviving row, never re-parsed in the
    * shuffle key or inside each aggregate. */
  private def wallet = get_json_object(col("raw_payload"), "$.wallet")
  private def errType = get_json_object(col("raw_payload"), "$.err")
  private def mint = get_json_object(col("raw_payload"), "$.token_mint")
  private def toWallet = get_json_object(col("raw_payload"), "$.to_wallet")

  /** analytics_transaction_volume (analytics.rs:41-48,243-326). */
  def transactionVolume(fact: DataFrame, anchor: java.sql.Timestamp): DataFrame = {
    val a = lit(anchor)
    fact.filter(col("event_type") === "transaction").agg(
      count(lit(1)).as("total_transactions"),
      count(when(to_date(col("block_time")) === to_date(a), 1)).as("transactions_today"),
      count(when(col("block_time") >= date_sub(a, 7), 1)).as("transactions_week"),
      count(when(col("block_time") >= date_sub(a, 30), 1)).as("transactions_month"))
  }

  /** analytics_hourly_volume (analytics.rs:57-64,329-357): 24h window. */
  def hourlyVolume(fact: DataFrame, anchor: java.sql.Timestamp): DataFrame =
    fact.filter(col("event_type") === "transaction" &&
        col("block_time") >= lit(anchor) - expr("INTERVAL 24 HOURS") &&
        col("block_time") < lit(anchor))
      .groupBy(to_date(col("block_time")).as("date"),
        hour(col("block_time")).as("hour"))
      .agg(count(lit(1)).as("transaction_count"))
      .orderBy(col("date"), col("hour"))

  /** analytics_active_programs (analytics.rs:74-82,360-404). */
  def activePrograms(fact: DataFrame): DataFrame =
    fact.filter(col("program_id").isNotNull)
      .select(col("program_id"), wallet.as("wallet"), col("block_time"))
      .groupBy(col("program_id"))
      .agg(count(lit(1)).as("transaction_count"),
        countDistinct(col("wallet")).as("unique_wallets"),
        max(col("block_time")).as("last_seen"))
      .orderBy(col("transaction_count").desc, col("program_id"))
      .limit(50)

  /** analytics_token_transfers (analytics.rs:92-99,407-456): one
    * multi-distinct pass replaces three scalar queries (SURVEY §7.5). */
  def tokenTransfers(fact: DataFrame): DataFrame =
    fact.filter(col("event_type") === "token_transfer")
      .select(mint.as("mint"), toWallet.as("to_wallet"))
      .agg(
        count(lit(1)).as("total_transfers"),
        countDistinct(col("mint")).as("unique_tokens"),
        countDistinct(col("to_wallet")).as("unique_receivers"))

  /** analytics_top_tokens (analytics.rs:109-116,459-495). */
  def topTokens(fact: DataFrame): DataFrame =
    fact.filter(col("event_type") === "token_transfer")
      .select(mint.as("token_mint"), toWallet.as("to_wallet"))
      .filter(col("token_mint").isNotNull)
      .groupBy(col("token_mint"))
      .agg(count(lit(1)).as("transfer_count"),
        countDistinct(col("to_wallet")).as("unique_wallets"))
      .orderBy(col("transfer_count").desc, col("token_mint"))
      .limit(20)

  /** analytics_failed_transactions (analytics.rs:126-131,499-533). */
  def failedTransactions(fact: DataFrame): DataFrame = {
    val tx = fact.filter(col("event_type") === "transaction")
    tx.agg(
      count(lit(1)).as("total"),
      count(when(get_json_object(col("raw_payload"), "$.success") === "false", 1))
        .as("failed_transactions"))
      .select(col("failed_transactions"),
        when(col("total") > 0,
          round(col("failed_transactions").cast("double") * 100.0 /
            col("total").cast("double"), 2))
          .otherwise(0.0).cast("decimal(5,2)").as("failure_rate"))
  }

  /** analytics_top_errors (analytics.rs:141-147,536-569). */
  def topErrors(fact: DataFrame): DataFrame =
    fact.filter(col("event_type") === "transaction" &&
        get_json_object(col("raw_payload"), "$.success") === "false")
      .groupBy(coalesce(errType, lit("unknown")).as("error_type"))
      .agg(count(lit(1)).as("error_count"))
      .orderBy(col("error_count").desc, col("error_type"))
      .limit(10)

  /** analytics_wallet_activity (analytics.rs:157-163,573-615). */
  def walletActivity(fact: DataFrame, anchor: java.sql.Timestamp): DataFrame = {
    val a = lit(anchor)
    fact.filter(col("event_type") === "transaction")
      .select(wallet.as("wallet"), col("block_time"))
      .filter(col("wallet").isNotNull)
      .agg(
        countDistinct(col("wallet")).as("active_wallets_total"),
        countDistinct(when(to_date(col("block_time")) === to_date(a), col("wallet")))
          .as("active_wallets_today"),
        countDistinct(when(col("block_time") >= date_sub(a, 7), col("wallet")))
          .as("active_wallets_week"))
  }

  /** analytics_top_wallets (analytics.rs:173-181,619-654). */
  def topWallets(fact: DataFrame): DataFrame =
    fact.filter(col("event_type") === "transaction")
      .select(wallet.as("wallet"), col("block_time"))
      .filter(col("wallet").isNotNull)
      .groupBy(col("wallet"))
      .agg(count(lit(1)).as("transaction_count"),
        min(col("block_time")).as("first_seen"),
        max(col("block_time")).as("last_seen"))
      .orderBy(col("transaction_count").desc, col("wallet"))
      .limit(20)

  /** analytics_program_trends (analytics.rs:191-198,657-712): the top-10
    * programs' daily series — ONE semi-join plan, not a per-program query
    * loop (SURVEY §7.5). */
  def programTrends(fact: DataFrame, anchor: java.sql.Timestamp): DataFrame = {
    val top10 = fact.filter(col("program_id").isNotNull)
      .groupBy(col("program_id")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("program_id")).limit(10)
      .select(col("program_id"))
    fact.filter(col("block_time") >= date_sub(lit(anchor), 30))
      .join(broadcast(top10), Seq("program_id"), "left_semi")
      .groupBy(col("program_id"), to_date(col("block_time")).as("date"))
      .agg(count(lit(1)).as("transaction_count"))
      .orderBy(col("program_id"), col("date"))
  }

  /** dim_wallets (docs/SCHEMA.md:192-218) from the canonical-event fact:
    * first/last seen slot+time plus activity counts, one grouped pass. */
  def dimWallets(fact: DataFrame): DataFrame =
    fact.filter(col("event_type") === "transaction")
      .select(wallet.as("wallet"), col("slot"), col("block_time"))
      .filter(col("wallet").isNotNull)
      .groupBy(col("wallet"))
      .agg(
        min(col("slot")).as("first_seen_slot"),
        min(col("block_time")).as("first_seen_time"),
        max(col("slot")).as("last_seen_slot"),
        max(col("block_time")).as("last_seen_time"),
        count(lit(1)).as("total_transactions"))

  /** dim_programs (docs/SCHEMA.md:220-241). */
  def dimPrograms(fact: DataFrame): DataFrame =
    fact.filter(col("program_id").isNotNull)
      .groupBy(col("program_id"))
      .agg(
        min(col("slot")).as("first_seen_slot"),
        min(col("block_time")).as("first_seen_time"),
        max(col("slot")).as("last_seen_slot"),
        max(col("block_time")).as("last_seen_time"))

  /** dim_tokens (docs/SCHEMA.md:243-262): mint + decimals from the
    * transfer payloads. */
  def dimTokens(fact: DataFrame): DataFrame =
    fact.filter(col("event_type") === "token_transfer")
      .select(mint.as("token_mint"),
        get_json_object(col("raw_payload"), "$.decimals").cast("int").as("decimals"))
      .filter(col("token_mint").isNotNull)
      .groupBy(col("token_mint"))
      .agg(
        max(col("decimals")).as("decimals"),
        count(lit(1)).as("transfer_count"))

  /** fact_telemetry (docs/SCHEMA.md:161-188): the telemetry fact
    * projection over canonical telemetry events ([[graft.ingest.Parse
    * .parseTelemetry]] output, or any fact slice whose event_type is in
    * the telemetry namespace). The reference declares this table and the
    * TelemetryEvent struct (events.rs:62-72) but never populates either;
    * here the six telemetry-specific columns come off `raw_payload` by
    * JSON path — the same codegen'd extraction every other payload
    * projection uses — with the SCHEMA.md integer types restored by
    * cast. */
  def factTelemetry(fact: DataFrame): DataFrame =
    fact.filter(col("event_type").startsWith("telemetry_"))
      .select(
        col("event_id"), col("slot"), col("block_time"),
        col("tx_signature"), col("program_id"),
        col("instruction_index"), col("event_type"),
        get_json_object(col("raw_payload"), "$.user_id").as("user_id"),
        get_json_object(col("raw_payload"), "$.api_endpoint").as("api_endpoint"),
        get_json_object(col("raw_payload"), "$.feature_name").as("feature_name"),
        get_json_object(col("raw_payload"), "$.request_id").as("request_id"),
        get_json_object(col("raw_payload"), "$.response_code").cast("long").as("response_code"),
        get_json_object(col("raw_payload"), "$.latency_ms").cast("long").as("latency_ms"),
        col("raw_payload"))

  /** Run all ten summary families PLUS the three star dims
    * (docs/SCHEMA.md:190-262 — declared-only in the reference) and
    * materialize them under `outDir` — the full `analytics` subcommand
    * (analytics.rs:7-32) with the schema actually completed.
    *
    * The reference refreshes its tables one after another; each table
    * here is a small job chain over the same fact (about two tasks a
    * job), so a sequential loop leaves most cores idle and pays every
    * job's driver-side planning and commit in series. The writes are
    * instead submitted up to `defaultParallelism` at a time, from a pool
    * made per call: its threads are created by the caller's thread, so
    * they inherit its Spark local properties (job group, scheduler
    * pool). Each table's row count is an [[Observation]] on its own
    * write plan — no read-back listing, footer read or count job.
    *
    * The first write to fail is rethrown naming its table; tables not
    * yet started are cancelled, running ones are waited for, and no
    * partial map is ever returned. */
  def runAll(spark: SparkSession, fact: DataFrame, anchor: java.sql.Timestamp,
      outDir: String, blocks: Option[DataFrame] = None): Map[String, Long] = {
    // fact_program_events / fact_token_transfers (SCHEMA.md:85-154) are
    // BLOCK-level projections: their typed columns (accounts,
    // log_messages, balance deltas) exist only in the parsed block, not
    // in the canonical event's payload — so they materialize only when
    // the caller still holds the parsed blocks (the ingest path does;
    // a warehouse-only re-run of the summaries doesn't need them).
    val typedFacts: Seq[(String, DataFrame)] = blocks.toSeq.flatMap { b =>
      Seq("fact_program_events" -> graft.ingest.Parse.factProgramEvents(b),
        "fact_token_transfers" -> graft.ingest.Parse.factTokenTransfers(b))
    }
    // program_trends goes first: it is the longest table (two fact scans
    // and a broadcast semi-join), so starting it last would stretch the
    // refresh, and its broadcast relation would still be live when the
    // call returns instead of collectable.
    val tables: Seq[(String, DataFrame)] =
      ("analytics_program_trends" -> programTrends(fact, anchor)) +: (typedFacts ++ Seq(
      "analytics_transaction_volume" -> transactionVolume(fact, anchor),
      "analytics_hourly_volume" -> hourlyVolume(fact, anchor),
      "analytics_active_programs" -> activePrograms(fact),
      "analytics_token_transfers" -> tokenTransfers(fact),
      "analytics_top_tokens" -> topTokens(fact),
      "analytics_failed_transactions" -> failedTransactions(fact),
      "analytics_top_errors" -> topErrors(fact),
      "analytics_wallet_activity" -> walletActivity(fact, anchor),
      "analytics_top_wallets" -> topWallets(fact),
      "dim_wallets" -> dimWallets(fact),
      "dim_programs" -> dimPrograms(fact),
      "dim_tokens" -> dimTokens(fact),
      // fact_telemetry (SCHEMA.md:161-188): declared-only in the
      // reference (its parser never emits telemetry rows). Materialized
      // here so the warehouse surface is complete — EMPTY (schema-only)
      // when the fact stream carries no telemetry events, exactly the
      // state a reference deployment's table is in today; fills as soon
      // as a Parse.parseTelemetry feed is unioned into the fact.
      "fact_telemetry" -> factTelemetry(fact)))

    val threads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism, { r =>
      val t = new Thread(r, s"analytics-refresh-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try {
      val done = new ExecutorCompletionService[(String, Long)](pool)
      val writes = tables.map { case (name, df) =>
        done.submit(() => writeCounted(name, df, s"$outDir/$name"))
      }
      tables.map { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            writes.foreach(_.cancel(false))
            throw e.getCause
        }
      }.toMap
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** The longest the listener bus may take to report a finished write's
    * observed row count before the refresh fails instead of waiting on. */
  private val ObservedWithin = 5.minutes

  /** Overwrite `path` with `df` and return its row count, observed on the
    * write plan itself. The observation is read only after the write has
    * returned (it completes off the listener bus when the query ends),
    * and within [[ObservedWithin]]; any failure names the table. */
  private def writeCounted(name: String, df: DataFrame, path: String): (String, Long) =
    try {
      val rows = Observation(name)
      df.observe(rows, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite).parquet(path)
      name -> Await.result(rows.future, ObservedWithin).getAs[Long]("rows")
    } catch {
      case NonFatal(e) =>
        throw new RuntimeException(s"analytics refresh failed on $name: ${e.getMessage}", e)
    }
}
