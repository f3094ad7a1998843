package graft.model

import org.apache.spark.sql.types._

/** Data model for the ingest layer.
  *
  * Mirrors the reference's canonical event (/root/reference/src/
  * events.rs:7-17) and the block JSON shape its parser consumes
  * (/root/reference/src/parsers.rs:10-30,44-100): a block carries
  * `blockTime` + `transactions[]`, each transaction carries
  * `transaction.signatures[0]`, `transaction.message.instructions[]`
  * (with `programId`) and `meta` (`err`, `postTokenBalances[]`).
  */
object Schemas {

  /** Token programs whose instructions classify as `token_instruction`
    * (parsers.rs:6-7,137-141). */
  val TokenPrograms: Seq[String] = Seq(
    "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA",
    "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb")

  /** Closed event-type enum (parsers.rs:74,137-141,195). */
  val EvTransaction = "transaction"
  val EvProgramInstruction = "program_instruction"
  val EvTokenInstruction = "token_instruction"
  val EvTokenTransfer = "token_transfer"

  /** Telemetry event types (SCHEMA.md:161-188 "'telemetry_api_call',
    * 'telemetry_feature_usage', etc."). The reference DECLARES the
    * fact_telemetry table and the TelemetryEvent struct
    * (events.rs:62-72) but its parser never emits either — this engine
    * closes that gap with [[graft.ingest.Parse.parseTelemetry]]. */
  val EvTelemetryApiCall = "telemetry_api_call"
  val EvTelemetryFeature = "telemetry_feature_usage"

  /** Spark schema for one raw telemetry JSON record (the off-chain
    * webhook/API-log shape implied by TelemetryEvent, events.rs:62-72:
    * base-event fields optional — telemetry may or may not link to an
    * on-chain event — plus the six telemetry-specific fields). `ts` is
    * unix seconds, the telemetry twin of the block's `blockTime`. */
  val telemetrySchema: StructType = StructType(Seq(
    StructField("ts", LongType),
    StructField("slot", LongType),             // optional on-chain link
    StructField("tx_signature", StringType),   // optional
    StructField("program_id", StringType),     // optional
    StructField("user_id", StringType),
    StructField("api_endpoint", StringType),
    StructField("feature_name", StringType),
    StructField("request_id", StringType),
    StructField("response_code", IntegerType),
    StructField("latency_ms", LongType)))

  /** Spark schema for the block JSON (`jsonParsed` encoding subset the
    * reference touches). `accountKeys` is left as raw JSON-capable
    * strings downstream because the wire shape is dual: plain base58
    * strings OR `{"pubkey": …}` objects (parsers.rs:225-242); the parser
    * resolves both via JSON path extraction on the transaction payload.
    */
  val instructionSchema: StructType = StructType(Seq(
    StructField("programId", StringType),
    StructField("accounts", ArrayType(StringType)),
    StructField("data", StringType)))

  val tokenBalanceSchema: StructType = StructType(Seq(
    StructField("accountIndex", IntegerType),
    StructField("mint", StringType),
    StructField("owner", StringType),
    StructField("uiTokenAmount", StructType(Seq(
      StructField("amount", StringType),       // decimal carried as string
      StructField("decimals", IntegerType),
      StructField("uiAmountString", StringType))))))

  val transactionSchema: StructType = StructType(Seq(
    StructField("transaction", StructType(Seq(
      StructField("signatures", ArrayType(StringType)),
      StructField("message", StructType(Seq(
        // parsed as generic JSON text; dual-shape handled at extraction
        StructField("accountKeys", ArrayType(StringType)),
        StructField("instructions", ArrayType(instructionSchema)))))))),
    StructField("meta", StructType(Seq(
      StructField("err", StringType),          // null ⇒ success (parsers.rs:59-62)
      StructField("fee", LongType),
      StructField("preTokenBalances", ArrayType(tokenBalanceSchema)),
      StructField("postTokenBalances", ArrayType(tokenBalanceSchema)),
      StructField("logMessages", ArrayType(StringType)))))))

  val blockSchema: StructType = StructType(Seq(
    StructField("blockTime", LongType),        // unix seconds (parsers.rs:33-41)
    StructField("blockhash", StringType),
    StructField("parentSlot", LongType),
    StructField("transactions", ArrayType(transactionSchema))))

  /** Raw fetched block: slot + the JSON document (what the RPC source
    * S1 emits; files/parquet stand in for the live RPC at test scale). */
  val rawBlockSchema: StructType = StructType(Seq(
    StructField("slot", LongType, nullable = false),
    StructField("block_json", StringType)))
}
