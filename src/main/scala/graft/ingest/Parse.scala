package graft.ingest

import graft.model.Schemas
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Block JSON → canonical events: the "T" of the reference ETL
  * (/root/reference/src/parsers.rs:10-30,44-100), Spark-first.
  *
  * Each block's JSON is parsed once ([[parseBlocks]]), and every reader
  * starts from the same two guards, each written once: a block counts
  * when it carries a `blockTime` ([[validBlock]], parsers.rs:33-41), a
  * transaction when it carries a signature ([[signed]], parsers.rs:50-52).
  * The fan-out is single-pass: each transaction's tx, instruction and
  * token-transfer events form one concatenated array, exploded once
  * (SURVEY.md §2.10: no UDTF needed), and the whole pipeline is
  * codegen'd; per-record tolerance (parsers.rs:22-26,83-91) comes from
  * PERMISSIVE JSON parsing (malformed blocks/txs yield nulls that the
  * guards drop).
  */
object Parse {

  import Schemas._

  /** Deterministic event id — exact hex parity with
    * sha256("{slot}:{sig}:{idx}:{type}") (events.rs:76-86). */
  def eventId(slot: Column, sig: Column, idx: Column, evType: Column): Column =
    sha2(concat_ws(":", slot.cast("string"), sig, idx.cast("string"), evType), 256)

  /** First-signer wallet from the dual-shape accountKeys entry: plain
    * base58 string OR `{"pubkey": …}` object (parsers.rs:225-242). The
    * schema captures object entries as their raw JSON text, so pubkey
    * extraction falls back to the plain string. */
  def walletFromKey(k: Column): Column =
    coalesce(get_json_object(k, "$.pubkey"), k)

  /** raw (slot, block_json) rows → (slot, b) rows, each block parsed
    * once. Invalid blocks stay in: the readers below drop them through
    * [[validBlock]], and [[parseErrors]] reports them. */
  def parseBlocks(raw: DataFrame): DataFrame =
    raw.select(col("slot"), from_json(col("block_json"), blockSchema).as("b"))

  /** The block guard: a block missing `blockTime` is dropped whole
    * (parsers.rs:33-41); an unparseable block has a null `b`, so its
    * `blockTime` is null too. It is evaluated inside an explode, never
    * in a Filter: Catalyst pushes a Filter under the parse and gives it
    * `from_json`s of its own. */
  private val validBlock: Column = col("b.blockTime").isNotNull

  // try_element_at, not element_at — ANSI mode (Spark 4 default)
  // throws on out-of-bounds access of an empty signatures array.
  private def firstSig(tx: Column): Column =
    try_element_at(tx("transaction")("signatures"), lit(1))

  /** The transaction guard: a transaction must carry a signature
    * (parsers.rs:50-52). */
  private def signed(tx: Column): Column = tx.isNotNull && firstSig(tx).isNotNull

  /** One row per transaction entry of a valid block. */
  private def blockTxs(blocks: DataFrame): DataFrame =
    blocks.select(col("slot"),
      timestamp_seconds(col("b.blockTime")).as("block_time"),
      explode(when(validBlock, col("b.transactions"))).as("tx"))

  /** The per-transaction base every event and typed fact starts from:
    * one row per signed transaction of a valid block, with its parsed
    * struct, success flag (parsers.rs:59-62) and first-signer wallet. */
  private def txBase(blocks: DataFrame): DataFrame =
    blockTxs(blocks).filter(signed(col("tx")))
      .select(col("slot"), col("block_time"), col("tx"),
        firstSig(col("tx")).as("sig"),
        col("tx.meta.err").isNull.as("success"),
        walletFromKey(try_element_at(col("tx.transaction.message.accountKeys"), lit(1)))
          .as("wallet"))

  /** Parsed blocks → canonical event rows (all three event families,
    * deduplicated on the deterministic id — replay-safe by construction,
    * warehouse.rs:227-229). The single-pass fan-out reads the source
    * once, where a three-branch union would scan (and for a live
    * RPC-backed source, re-FETCH) it three times (SURVEY.md §2.10). */
  def toEvents(blocks: DataFrame, dedup: Boolean = true): DataFrame = {
    val tokenList = TokenPrograms.map(p => s"'$p'").mkString(", ")
    // tx event (parsers.rs:44-79) + instruction events classified by the
    // token-program allow-list (parsers.rs:126-161) + one event per
    // post-token-balance with a mint, index offset 10000 as the
    // transfer-id namespace (parsers.rs:163-203). Null guards give
    // per-record tolerance; indices are pre-filter positions so event ids
    // are stable.
    val eventsArray = expr(
      s"""concat(
         |  array(named_struct(
         |    'program_id', CAST(NULL AS STRING),
         |    'instruction_index', -1,
         |    'event_type', '$EvTransaction',
         |    'raw_payload', to_json(named_struct(
         |      'wallet', wallet, 'success', success,
         |      'fee', tx.meta.fee, 'err', tx.meta.err)))),
         |  coalesce(filter(
         |    transform(tx.transaction.message.instructions, (ins, i) -> named_struct(
         |      'program_id', ins.programId,
         |      'instruction_index', i,
         |      'event_type', CASE WHEN ins.programId IN ($tokenList)
         |        THEN '$EvTokenInstruction' ELSE '$EvProgramInstruction' END,
         |      'raw_payload', to_json(named_struct(
         |        'wallet', wallet, 'success', success,
         |        'accounts', ins.accounts, 'data', ins.data)))),
         |    x -> x.program_id IS NOT NULL), array()),
         |  coalesce(transform(filter(
         |    transform(tx.meta.postTokenBalances, (bal, i) -> named_struct(
         |      'program_id', CAST(NULL AS STRING),
         |      'instruction_index', i + 10000,
         |      'event_type', '$EvTokenTransfer',
         |      'raw_payload', to_json(named_struct(
         |        'token_mint', bal.mint, 'to_wallet', bal.owner,
         |        'token_amount', bal.uiTokenAmount.amount,
         |        'decimals', bal.uiTokenAmount.decimals)),
         |      'mint', bal.mint)),
         |    x -> x.mint IS NOT NULL),
         |    x -> named_struct(
         |      'program_id', x.program_id, 'instruction_index', x.instruction_index,
         |      'event_type', x.event_type, 'raw_payload', x.raw_payload)), array())
         |)""".stripMargin)

    val events = txBase(blocks)
      .select(col("slot"), col("block_time"), col("sig"),
        explode(eventsArray).as("ev"))
      .select(
        eventId(col("slot"), col("sig"), col("ev.instruction_index"), col("ev.event_type"))
          .as("event_id"),
        col("slot"), col("block_time"), col("sig").as("tx_signature"),
        col("ev.program_id").as("program_id"),
        col("ev.instruction_index").as("instruction_index"),
        col("ev.event_type").as("event_type"), col("ev.raw_payload").as("raw_payload"))
    // dedup=false for STREAMING inputs: on an unbounded DataFrame this
    // dedup would plan as stateful, with state (every event ever seen)
    // that grows without bound; streaming callers dedup per epoch in
    // foreachBatch instead.
    if (dedup) dedupEvents(events) else events
  }

  /** One row per event: duplicates collapse on (slot, event_id), and
    * colliding ids are byte-equal replays, so which row survives does
    * not matter. Equal ids always share a slot (the id hashes it), so
    * the slot adds no split, but it lets a slot-clustered input (a
    * backfill's contiguous slot chunks) dedup without a shuffle. A batch
    * dedups with an explicit aggregate rather than `dropDuplicates`: the
    * latter's rewrite fails at execution under an `exceptAll` against a
    * sink read-back (`INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND`). A stream
    * keeps the stateful `dropDuplicates`, because a streaming aggregate
    * without a watermark cannot emit in append mode. */
  def dedupEvents(events: DataFrame): DataFrame = dedupOn(events, "slot", "event_id")

  /** One row per key, by [[dedupEvents]]' rule: an explicit first-row
    * aggregate for a batch, `dropDuplicates` for a stream. */
  private def dedupOn(df: DataFrame, keys: String*): DataFrame =
    if (df.isStreaming) df.dropDuplicates(keys)
    else {
      val cols = df.columns.toSeq
      val firsts = cols.filterNot(keys.toSet).map(c => first(c).as(c))
      df.groupBy(keys.map(col): _*).agg(firsts.head, firsts.tail: _*)
        .select(cols.map(col): _*)
    }

  /** End-to-end: raw block rows → canonical events. */
  def parse(raw: DataFrame, dedup: Boolean = true): DataFrame =
    toEvents(parseBlocks(raw), dedup)

  /** The reference's `etl_errors` channel (SCHEMA.md:303-320), actually
    * populated: the rows the tolerant parse DROPS, surfaced with a
    * deterministic error_id and a reason instead of vanishing: one row
    * per invalid block ([[validBlock]]) and one per unsigned transaction
    * of a valid block ([[signed]]). Same single-scan fan-out as the happy
    * path: each block is parsed once and yields its errors as one
    * array, exploded once. */
  def parseErrors(raw: DataFrame): DataFrame = {
    def err(txIndex: Column, errorType: String, message: String): Column =
      struct(txIndex.as("tx_index"), lit(errorType).as("error_type"),
        lit(message).as("error_message"))
    // position enters the id: two signature-less transactions in one
    // block must yield two distinct error rows (block-level errors use
    // index -1, mirroring the tx-event id convention)
    val txErrs = filter(
      transform(col("b.transactions"), (tx, i) =>
        when(!signed(tx), err(i, "tx_missing_signature", "transaction carries no signature"))),
      _.isNotNull)
    parseBlocks(raw)
      .select(col("slot"), explode(when(validBlock, txErrs).otherwise(array(
        err(lit(-1), "block_parse_error", "missing or unparseable blockTime")))).as("e"))
      .select(
        sha2(concat_ws(":", col("slot").cast("string"),
          col("e.tx_index").cast("string"), col("e.error_type")), 256)
          .as("error_id"),
        col("slot"), col("e.tx_index").as("tx_index"),
        col("e.error_type").as("error_type"), col("e.error_message").as("error_message"))
  }

  /** Telemetry-event instruction_index namespace: tx events use -1,
    * token transfers offset by 10000; telemetry records — which have no
    * instruction position at all — take -2 so their deterministic ids
    * can never collide with either on-chain family. */
  private[graft] val TelemetryIndex = -2

  /** Raw telemetry JSON records → canonical event rows: the engine twin
    * of the reference's DECLARED-ONLY telemetry surface (fact_telemetry,
    * docs/SCHEMA.md:161-188; TelemetryEvent, events.rs:62-72 — the Rust
    * parser never emits it). Same discipline as the block parse:
    * PERMISSIVE from_json, per-record tolerance (a record must carry a
    * `ts` and a `request_id` — the telemetry twins of blockTime and the
    * tx signature — or it is dropped), classification as a codegen'd
    * CASE expression (api_endpoint ⇒ telemetry_api_call, else
    * feature_name ⇒ telemetry_feature_usage, else dropped: the type
    * enum is closed), and the deterministic event_id convention of
    * events.rs:76-86 with coalesce(slot, 0) / coalesce(tx_signature,
    * request_id) standing in for the on-chain link a pure product event
    * lacks. Replay-safe by the same id-dedup as [[toEvents]] — and with
    * the same survivor contract: when two records COLLIDE on the id key
    * with DIFFERENT payloads (e.g. a retried API call logged twice with
    * different latencies under one request_id), an unspecified one
    * survives, exactly as SQL MERGE / the block parse behave on a key
    * collision. A feed that needs a specific winner gives retries
    * distinct request_ids (or a version column and the MERGE sink's
    * last-write-wins) upstream.
    */
  def parseTelemetry(raw: DataFrame, dedup: Boolean = true): DataFrame = {
    val rec = raw
      .select(from_json(col("telemetry_json"), telemetrySchema).as("t"))
      .filter(col("t").isNotNull && col("t.ts").isNotNull &&
        col("t.request_id").isNotNull)
      .withColumn("event_type",
        when(col("t.api_endpoint").isNotNull, lit(EvTelemetryApiCall))
          .when(col("t.feature_name").isNotNull, lit(EvTelemetryFeature)))
      .filter(col("event_type").isNotNull)
    val events = rec.select(
      eventId(coalesce(col("t.slot"), lit(0L)),
        coalesce(col("t.tx_signature"), col("t.request_id")),
        lit(TelemetryIndex), col("event_type")).as("event_id"),
      col("t.slot").as("slot"),
      timestamp_seconds(col("t.ts")).as("block_time"),
      col("t.tx_signature").as("tx_signature"),
      col("t.program_id").as("program_id"),
      lit(TelemetryIndex).as("instruction_index"),
      col("event_type"),
      to_json(struct(
        col("t.user_id").as("user_id"),
        col("t.api_endpoint").as("api_endpoint"),
        col("t.feature_name").as("feature_name"),
        col("t.request_id").as("request_id"),
        col("t.response_code").as("response_code"),
        col("t.latency_ms").as("latency_ms"))).as("raw_payload"))
    // slot is nullable and outside the id, so the key is event_id alone
    if (dedup) dedupOn(events, "event_id") else events
  }

  /** The first `Program log:`-prefixed entry of a transaction's log
    * messages — SCHEMA.md:105's `log_pattern_match` ("Matched log
    * pattern (e.g., 'Program log: Transfer')"). Logs live in the
    * transaction meta, not the instruction (the reference notes exactly
    * this at parsers.rs:155-157), so the match is per-transaction. */
  private def logPatternMatch(logs: Column): Column =
    try_element_at(filter(logs, m => m.startsWith("Program log:")), lit(1))

  /** fact_program_events (docs/SCHEMA.md:85-117): the TYPED instruction
    * fact the reference declares but its parser never populates beyond
    * the base fields (ProgramEvent, events.rs:36-45 — instruction_type /
    * data_hex / log_messages / log_pattern_match all stay None/empty).
    * One row per instruction event, same deterministic event_id as the
    * canonical [[toEvents]] row, so typed rows link 1:1 to the event
    * stream.
    *
    * Column semantics (the reference leaves them unspecified; fixed here
    * so both engines can re-derive them):
    *  - `accounts` / `data_hex`: typed straight off the instruction
    *    struct; data_hex is the uppercase hex of the raw data bytes.
    *  - `log_messages`: the transaction's full meta.logMessages (logs
    *    are per-transaction on the wire — parsers.rs:155-157).
    *  - `log_pattern_match`: first `Program log:`-prefixed message.
    *  - `instruction_type`: SCHEMA.md:102's "e.g. transfer, swap, mint"
    *    — derived for token-program instructions from the matched log
    *    pattern's lowercased suffix (`Program log: Transfer` →
    *    `transfer`); null for non-token programs and unlogged txs.
    *
    * Replay-safe like [[toEvents]]: overlapping block ranges collapse on
    * the deterministic event_id (SCHEMA.md's PRIMARY KEY), preserving
    * the 1:1 canonical-event linkage.
    */
  def factProgramEvents(blocks: DataFrame): DataFrame = dedupEvents(
    txBase(blocks)
      .select(col("slot"), col("block_time"), col("sig"),
        col("tx.meta.logMessages").as("log_messages"),
        logPatternMatch(col("tx.meta.logMessages")).as("log_pattern_match"),
        // posexplode of a null array yields no rows — exactly the
        // instruction-less-tx semantics, no coalesce needed
        posexplode(col("tx.transaction.message.instructions"))
          .as(Seq("instruction_index", "ins")))
      // pre-filter positions, filter after the explode: ids must agree
      // with toEvents' transform-then-filter indices
      .filter(col("ins.programId").isNotNull)
      .withColumn("event_type",
        when(col("ins.programId").isin(TokenPrograms: _*), lit(EvTokenInstruction))
          .otherwise(lit(EvProgramInstruction)))
      .select(
        eventId(col("slot"), col("sig"), col("instruction_index"), col("event_type"))
          .as("event_id"),
        col("slot"), col("block_time"), col("sig").as("tx_signature"),
        col("ins.programId").as("program_id"),
        col("instruction_index"), col("event_type"),
        when(col("event_type") === EvTokenInstruction,
          lower(regexp_replace(col("log_pattern_match"), "^Program log: ", "")))
          .as("instruction_type"),
        col("ins.accounts").as("accounts"),
        upper(hex(col("ins.data"))).as("data_hex"),
        col("log_messages"), col("log_pattern_match"),
        to_json(struct(col("ins.programId").as("programId"),
          col("ins.accounts").as("accounts"), col("ins.data").as("data")))
          .as("raw_payload")))

  /** fact_token_transfers (docs/SCHEMA.md:119-154): the typed SPL
    * transfer fact — one row per post-token-balance with a mint and an
    * owner (`to_wallet` is NOT NULL by schema), normalized decimal
    * amount, and the sender resolved from the same transaction's
    * balance DELTAS (the "full implementation would match pre/post
    * balances" the reference sketches at parsers.rs:179-182).
    *
    * Fixed semantics:
    *  - `token_amount`: raw_amount / 10^decimals as DECIMAL(38,9) —
    *    exact for decimals ≤ 9 (every SPL mint in practice); null when
    *    decimals is null.
    *  - `from_wallet`: owner of the same (tx, mint)'s account whose
    *    balance DECREASED — the most-negative delta, account_index
    *    tie-break; null when no account of that mint decreased (pure
    *    mint/deposit rows).
    *  - `authority`: the transaction's first signer (fee payer — the
    *    account that signed the transfer).
    *  - `program_id`: the token program (parsers.rs:186 pins
    *    TOKEN_PROGRAM_ID on every transfer event).
    *  - `event_id`/`instruction_index`: the canonical +10000 transfer
    *    namespace of [[toEvents]], so typed rows link 1:1.
    *
    * Replay-safe like [[toEvents]]: deduplicated on the deterministic
    * event_id so overlapping block ranges cannot violate SCHEMA.md's
    * PRIMARY KEY.
    */
  def factTokenTransfers(blocks: DataFrame): DataFrame = {
    val base = txBase(blocks)
    // sender resolution: per (tx, mint), the account whose balance
    // decreased the most is the transfer's source — an equi-join +
    // bounded window over per-transaction keys (rows per key = token
    // accounts touched by ONE transaction, inherently small), so the
    // shape holds at any corpus size
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("slot"), col("sig"), col("mint"))
      .orderBy(col("delta").asc, col("account_index").asc)
    val senders = balanceDeltas(base).filter(col("delta") < 0)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("slot"), col("sig"), col("mint"), col("owner").as("from_wallet"))

    dedupEvents(base.select(
      col("slot"), col("block_time"), col("sig"), col("wallet").as("authority"),
      posexplode(col("tx.meta.postTokenBalances")).as(Seq("pos", "bal")))
      .filter(col("bal.mint").isNotNull && col("bal.owner").isNotNull)
      .withColumn("mint", col("bal.mint"))
      .join(senders, Seq("slot", "sig", "mint"), "left")
      .select(
        eventId(col("slot"), col("sig"), col("pos") + 10000, lit(EvTokenTransfer))
          .as("event_id"),
        col("slot"), col("block_time"), col("sig").as("tx_signature"),
        lit(TokenPrograms.head).as("program_id"),
        (col("pos") + 10000).as("instruction_index"),
        lit(EvTokenTransfer).as("event_type"),
        col("mint").as("token_mint"),
        col("from_wallet"),
        col("bal.owner").as("to_wallet"),
        (col("bal.uiTokenAmount.amount").cast("decimal(38,18)") /
          concat(lit("1"), repeat(lit("0"), col("bal.uiTokenAmount.decimals")))
            .cast("decimal(19,0)")).cast("decimal(38,9)").as("token_amount"),
        col("bal.uiTokenAmount.decimals").cast("long").as("decimals"),
        col("bal.uiTokenAmount.amount").as("raw_amount"),
        col("authority"),
        to_json(struct(col("bal.mint").as("mint"),
          col("bal.owner").as("owner"),
          col("bal.uiTokenAmount.amount").as("amount"),
          col("bal.uiTokenAmount.decimals").as("decimals"))).as("raw_payload")))
  }

  /** One row per token balance with a mint on one side (`pre`/`post`)
    * of each transaction; string-precision amounts become exact
    * DecimalType(38,0) raw units. */
  private def balances(txs: DataFrame, side: String): DataFrame =
    txs.select(col("slot"), col("sig"),
      explode(col(s"tx.meta.${side}TokenBalances")).as("bal"))
      .filter(col("bal.mint").isNotNull)
      .select(col("slot"), col("sig"),
        col("bal.accountIndex").as("account_index"), col("bal.mint").as("mint"),
        col("bal.owner").as(s"${side}_owner"),
        col("bal.uiTokenAmount.amount").cast("decimal(38,0)").as(s"${side}_amount"))

  /** Per (tx, account, mint): the account's owner and its post − pre
    * balance delta — a full-outer join of the two sides with COALESCE-0
    * (SURVEY.md §2.3 J4). */
  private def balanceDeltas(txs: DataFrame): DataFrame =
    balances(txs, "pre")
      .join(balances(txs, "post"), Seq("slot", "sig", "account_index", "mint"), "full_outer")
      .select(col("slot"), col("sig"), col("account_index"), col("mint"),
        coalesce(col("post_owner"), col("pre_owner")).as("owner"),
        (coalesce(col("post_amount"), lit(0)) - coalesce(col("pre_amount"), lit(0)))
          .as("delta"))

  /** Token-transfer netting the reference sketches but never implements
    * (parsers.rs:179-182): [[balanceDeltas]] keyed on (signature,
    * accountIndex, mint), nonzero deltas only. It nets every transaction
    * of a valid block, signed or not. */
  def netTokenTransfers(blocks: DataFrame): DataFrame =
    balanceDeltas(blockTxs(blocks).filter(col("tx").isNotNull)
      .withColumn("sig", firstSig(col("tx"))))
      .select(col("slot"), col("sig"), col("account_index"), col("mint"),
        col("delta").as("net_amount"))
      .filter(col("net_amount") =!= 0)
}
