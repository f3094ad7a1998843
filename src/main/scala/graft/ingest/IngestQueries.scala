package graft.ingest

import graft.{Q, QueryModule}
import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-layer operators surfaced as driver queries. These run over the
  * deterministic synthetic block source (the RPC stand-in), not the
  * testdata tables. To make them oracle-checkable the raw (slot,
  * block_json) frame is materialized to parquet inside the query fn and
  * the DuckDB oracle RE-DERIVES the whole parse from the same JSON —
  * an independent second implementation of the block→event fan-out
  * (parsers.rs:10-30) in SQL, not a rubber-stamp of Spark's output.
  */
object IngestQueries extends QueryModule {

  /** The canonical synthetic slot range every ingest-family oracle
    * re-parses: [[FirstSlot]] inclusive to [[TipSlot]] exclusive — also
    * the [[graft.sources.BlockSource]] stream's declared (startSlot,
    * tipSlot), so the streaming ingest row replays the SAME blocks. */
  private[graft] val FirstSlot = 1L
  private[graft] val TipSlot = 201L

  /** Materialization point the oracle SQL reads back. Per-process (the
    * oracle strings are BUILT by this process, so the path they embed is
    * this process's) — a fixed shared name would let two concurrent
    * JVMs on one machine clobber each other's blocks mid-read. */
  private[graft] val RawBlocksPath =
    s"${System.getProperty("java.io.tmpdir")}/graft_ingest_blocks_${ProcessHandle.current().pid()}.parquet"

  /** Fetch the canonical slot range, dump it to parquet (so DuckDB sees
    * byte-identical input), and read it back as the query source. The
    * write happens ONCE per JVM: the range and the synthetic fetcher
    * are deterministic, so every materialization is byte-equivalent —
    * three declared queries call this, and re-writing identical blocks
    * per query was pure harness replay. */
  /** The replay-guard query's sink. Per-process for the same
    * concurrent-JVM isolation as [[RawBlocksPath]]; per-JVM replays
    * accumulate here and must all converge to the parse-once content. */
  private[graft] val ReplaySinkPath =
    s"${System.getProperty("java.io.tmpdir")}/graft_ingest_replay_${ProcessHandle.current().pid()}.parquet"

  @volatile private var materialized = false
  private[graft] def materializedBlocks(s: SparkSession): DataFrame = {
    // The success flag flips only AFTER the write commits (and callers
    // serialize through the lock): a failed first write would otherwise
    // poison every later ingest query in the JVM with a missing or
    // half-committed path — and since the oracle reads the SAME parquet,
    // a partial commit could even keep the differential green on
    // truncated input. A retry after a transient failure self-heals.
    if (!materialized) synchronized {
      if (!materialized) {
        Backfill.fetchRange(s, FirstSlot, TipSlot, workers = 8)
          .write.mode("overwrite").parquet(RawBlocksPath)
        materialized = true
      }
    }
    s.read.parquet(RawBlocksPath)
  }

  /** Planted malformed blocks for the etl_errors differential
    * (`ingest_parse_errors`): the drop classes the tolerant parse
    * absorbs, as a tiny parquet BOTH engines read. Planted cases stay
    * inside the classification contract the two engines share — invalid
    * JSON text, a MISSING blockTime key, signature-less / empty-array /
    * null transactions. Deliberately NOT planted: `"blockTime": null`
    * and type-mismatched values, where Spark's from_json (SQL null)
    * and DuckDB's json_extract (JSON 'null' / raw value) genuinely
    * disagree about nullness — those are schema-contract decisions, not
    * parse tolerance, and the engine's parse layer never emits them. */
  private[graft] val DirtyBlocksPath =
    s"${System.getProperty("java.io.tmpdir")}/graft_ingest_dirty_blocks_${ProcessHandle.current().pid()}.parquet"

  @volatile private var dirtyMaterialized = false
  private[graft] def materializedDirtyBlocks(s: SparkSession): DataFrame = {
    // same commit-then-flip discipline as [[materializedBlocks]]
    if (!dirtyMaterialized) synchronized {
      if (!dirtyMaterialized) {
        import s.implicits._
        Seq(
          (9001L, "{not json"),
          (9002L, """{"blockhash":"bh_9002","transactions":[]}"""),
          // one block, TWO signature-less txs + one valid: the distinct
          // error ids must not collapse (position enters the id)
          (9003L, """{"blockTime":1704100000,"transactions":[""" +
            """{"transaction":{"message":{}},"meta":{}},""" +
            """{"transaction":{"signatures":[],"message":{}},"meta":{}},""" +
            """{"transaction":{"signatures":["sig_9003_ok"],"message":{"accountKeys":["w1"],"instructions":[]}},"meta":{"err":null,"fee":1}}]}"""),
          (9004L, """{"blockTime":1704100060,"transactions":[null]}"""))
          .toDF("slot", "block_json")
          .coalesce(1)
          .write.mode("overwrite").parquet(DirtyBlocksPath)
        dirtyMaterialized = true
      }
    }
    s.read.parquet(DirtyBlocksPath)
  }

  private[graft] val tokenList = Schemas.TokenPrograms.map(p => s"'$p'").mkString(", ")

  /** Deterministic synthetic telemetry feed for the fact_telemetry
    * differential (SCHEMA.md:161-188 — the reference declares the table
    * but its parser never emits a row, so there is no upstream producer
    * to stand in for; this is the product-side webhook/API-log feed the
    * schema describes). Record i: every 5th is a feature-usage event,
    * the rest are API calls with a deterministic latency/response-code
    * mix; every 11th links to an on-chain slot. Planted tolerance
    * cases: invalid JSON, missing ts, missing request_id, a record
    * classifiable as neither type (all dropped), and an exact-duplicate
    * record (collapsed by event_id dedup). */
  private[graft] def syntheticTelemetry(i: Long): String = {
    if (i == 490) return "{not json"
    if (i == 491) return s"""{"user_id":"user_1","request_id":"req_no_ts","api_endpoint":"/api/v0/r0"}"""
    if (i == 492) return s"""{"ts":1704067200,"user_id":"user_2","api_endpoint":"/api/v0/r0"}"""
    if (i == 493) return s"""{"ts":1704067200,"user_id":"user_3","request_id":"req_untyped"}"""
    val n = if (i == 494) 3L else i // 494 duplicates record 3 exactly
    val ts = 1704067200L + n * 30
    val link =
      if (n % 11 == 0) s""""slot":$n,"tx_signature":"sig_${n}_0","program_id":"prog_${n % 7}","""
      else ""
    if (n % 5 == 0)
      s"""{"ts":$ts,$link"user_id":"user_${n % 37}","request_id":"req_$n","feature_name":"feat_${n % 13}"}"""
    else {
      val code = if (n % 19 == 0) 500 else if (n % 23 == 0) 404 else 200
      s"""{"ts":$ts,$link"user_id":"user_${n % 37}","request_id":"req_$n","api_endpoint":"/api/v${n % 3}/r${n % 17}","response_code":$code,"latency_ms":${(n * 7) % 400 + 5}}"""
    }
  }

  private[graft] val TelemetryPath =
    s"${System.getProperty("java.io.tmpdir")}/graft_telemetry_${ProcessHandle.current().pid()}.parquet"

  @volatile private var telemetryMaterialized = false
  private[graft] def materializedTelemetry(s: SparkSession): DataFrame = {
    // same commit-then-flip discipline as [[materializedBlocks]]
    if (!telemetryMaterialized) synchronized {
      if (!telemetryMaterialized) {
        import s.implicits._
        s.range(0L, 495L).as[Long].map(syntheticTelemetry)
          .toDF("telemetry_json")
          .coalesce(1)
          .write.mode("overwrite").parquet(TelemetryPath)
        telemetryMaterialized = true
      }
    }
    s.read.parquet(TelemetryPath)
  }

  // DuckDB mirror of Parse's block (blockTime) and signed-transaction guards.
  private[graft] val dTxs =
    s"""blocks AS (
       |  SELECT slot, block_json FROM read_parquet('$RawBlocksPath/*.parquet')
       |  WHERE json_extract(block_json, '$$.blockTime') IS NOT NULL),
       |txs AS (
       |  SELECT slot, unnest(CAST(json_extract(block_json, '$$.transactions') AS JSON[])) AS tx
       |  FROM blocks),
       |sigtxs AS (
       |  SELECT slot, json_extract_string(tx, '$$.transaction.signatures[0]') AS sig, tx
       |  FROM txs)""".stripMargin

  override val defs: Seq[(String, Q)] = Seq(

    // Full backfill-parse fan-out over a fixed slot range: blocks →
    // canonical events grouped per event_type (parsers.rs:10-30
    // families). The oracle re-implements all three explode branches in
    // DuckDB JSON SQL over the materialized raw blocks.
    "ingest_parse_fanout" -> Q(
      (s, _) => {
        val raw = materializedBlocks(s)
        Parse.parse(raw)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("tx_signature")).as("n_txs"),
            countDistinct(col("slot")).as("n_slots"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH $dTxs,
              |valid AS (SELECT * FROM sigtxs WHERE sig IS NOT NULL),
              |tx_events AS (
              |  SELECT slot, sig, 'transaction' AS event_type FROM valid),
              |ins AS (
              |  SELECT slot, sig,
              |    unnest(CAST(json_extract(tx, '$$.transaction.message.instructions') AS JSON[])) AS i
              |  FROM valid),
              |ins_events AS (
              |  SELECT slot, sig,
              |    CASE WHEN json_extract_string(i, '$$.programId') IN ($tokenList)
              |      THEN '${Schemas.EvTokenInstruction}'
              |      ELSE '${Schemas.EvProgramInstruction}' END AS event_type
              |  FROM ins WHERE json_extract_string(i, '$$.programId') IS NOT NULL),
              |bal AS (
              |  SELECT slot, sig,
              |    unnest(CAST(json_extract(tx, '$$.meta.postTokenBalances') AS JSON[])) AS b
              |  FROM valid),
              |transfer_events AS (
              |  SELECT slot, sig, '${Schemas.EvTokenTransfer}' AS event_type
              |  FROM bal WHERE json_extract_string(b, '$$.mint') IS NOT NULL),
              |events AS (
              |  SELECT * FROM tx_events
              |  UNION ALL SELECT * FROM ins_events
              |  UNION ALL SELECT * FROM transfer_events)
              |SELECT event_type, count(*) AS n_events,
              | count(DISTINCT sig) AS n_txs, count(DISTINCT slot) AS n_slots
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "ref parsers.rs:10-30 block→event fan-out (differential JSON re-parse)"),

    // The netting join the reference sketches (parsers.rs:179-182),
    // oracle-checked by re-deriving pre/post balance deltas in DuckDB.
    /** The etl_errors channel on the hard signal (SCHEMA.md:303-320 —
      * the drop ACCOUNTING of the tolerant parse, previously spec-only):
      * [[Parse.parseErrors]] over the clean corpus UNION the planted
      * malformed blocks ([[materializedDirtyBlocks]]). Teeth: the clean
      * 200-slot corpus must contribute ZERO rows (a guard that
      * misclassifies valid blocks inflates a count → red), every planted
      * drop must surface under its declared reason, and
      * `n_distinct_ids` is pinned to the row count — slot 9003 carries
      * TWO signature-less txs, so an error id that forgot the tx
      * position would collapse them and turn the row red. */
    "ingest_parse_errors" -> Q(
      (s, _) => {
        val raw = materializedBlocks(s).unionByName(materializedDirtyBlocks(s))
        Parse.parseErrors(raw)
          .groupBy(col("error_type"))
          .agg(count(lit(1)).as("n_errors"),
            countDistinct(col("slot")).as("n_slots"),
            countDistinct(col("error_id")).as("n_distinct_ids"))
          .orderBy(col("error_type"))
      },
      Some(s"""WITH raw AS (
              |  SELECT slot, block_json FROM read_parquet('$RawBlocksPath/*.parquet')
              |  UNION ALL
              |  SELECT slot, block_json FROM read_parquet('$DirtyBlocksPath/*.parquet')),
              |blk AS (
              |  SELECT slot,
              |    CASE WHEN json_valid(block_json) THEN block_json END AS j
              |  FROM raw),
              |block_errs AS (
              |  SELECT slot FROM blk
              |  WHERE j IS NULL OR json_extract(j, '$$.blockTime') IS NULL),
              |txs AS (
              |  SELECT slot, unnest(CAST(json_extract(j, '$$.transactions') AS JSON[])) AS tx
              |  FROM blk WHERE j IS NOT NULL AND json_extract(j, '$$.blockTime') IS NOT NULL),
              |tx_errs AS (
              |  SELECT slot FROM txs
              |  WHERE tx IS NULL OR CAST(tx AS VARCHAR) = 'null'
              |     OR json_extract_string(tx, '$$.transaction.signatures[0]') IS NULL),
              |errs AS (
              |  SELECT 'block_parse_error' AS error_type, slot FROM block_errs
              |  UNION ALL SELECT 'tx_missing_signature', slot FROM tx_errs)
              |SELECT error_type, count(*) AS n_errors,
              |  count(DISTINCT slot) AS n_slots,
              |  count(*) AS n_distinct_ids
              |FROM errs GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "etl_errors drop accounting: tolerant-parse drops surfaced with positional error ids vs DuckDB JSON re-derivation over clean + planted-malformed blocks"),

    // The idempotent-upsert guard ON the oracle (A11/S11, previously
    // spec-only): the SAME slot range is backfilled TWICE into one sink
    // through the event-level anti-join guard (warehouse.rs:227-229's
    // ON CONFLICT DO NOTHING as a distributed pass), then the sink is
    // aggregated. The DuckDB oracle re-derives the fan-out from the
    // materialized raw blocks parsed ONCE — so a guard that leaks any
    // duplicate doubles n_events against the oracle, and an id scheme
    // that collides shows n_distinct_ids < the oracle's count(*).
    // Replays accumulate across calls in one JVM (bench warmup etc.);
    // convergence is the contract, so any call count must agree.
    "ingest_replay_guard" -> Q(
      (s, _) => {
        Backfill.run(s, FirstSlot, TipSlot, workers = 8, ReplaySinkPath)
        Backfill.run(s, FirstSlot, TipSlot, workers = 8, ReplaySinkPath)
        s.read.parquet(ReplaySinkPath)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("event_id")).as("n_distinct_ids"),
            countDistinct(col("slot")).as("n_slots"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH $dTxs,
              |valid AS (SELECT * FROM sigtxs WHERE sig IS NOT NULL),
              |tx_events AS (
              |  SELECT slot, sig, 'transaction' AS event_type FROM valid),
              |ins AS (
              |  SELECT slot, sig,
              |    unnest(CAST(json_extract(tx, '$$.transaction.message.instructions') AS JSON[])) AS i
              |  FROM valid),
              |ins_events AS (
              |  SELECT slot, sig,
              |    CASE WHEN json_extract_string(i, '$$.programId') IN ($tokenList)
              |      THEN '${Schemas.EvTokenInstruction}'
              |      ELSE '${Schemas.EvProgramInstruction}' END AS event_type
              |  FROM ins WHERE json_extract_string(i, '$$.programId') IS NOT NULL),
              |bal AS (
              |  SELECT slot, sig,
              |    unnest(CAST(json_extract(tx, '$$.meta.postTokenBalances') AS JSON[])) AS b
              |  FROM valid),
              |transfer_events AS (
              |  SELECT slot, sig, '${Schemas.EvTokenTransfer}' AS event_type
              |  FROM bal WHERE json_extract_string(b, '$$.mint') IS NOT NULL),
              |events AS (
              |  SELECT * FROM tx_events
              |  UNION ALL SELECT * FROM ins_events
              |  UNION ALL SELECT * FROM transfer_events)
              |SELECT event_type, count(*) AS n_events,
              | count(*) AS n_distinct_ids, count(DISTINCT slot) AS n_slots
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "A11/S11 replay guard differential: double backfill through the event-level anti-join must equal DuckDB's parse-once fan-out"),

    "ingest_net_transfers" -> Q(
      (s, _) => {
        val blocks = Parse.parseBlocks(materializedBlocks(s))
        Parse.netTokenTransfers(blocks)
          .groupBy(col("mint"))
          .agg(count(lit(1)).as("n_accounts"),
            sum(col("net_amount")).cast("long").as("total_net"))
          .orderBy(col("mint"))
      },
      Some(s"""WITH $dTxs,
              |pre AS (
              |  SELECT slot, sig,
              |    CAST(json_extract(b, '$$.accountIndex') AS INTEGER) AS account_index,
              |    json_extract_string(b, '$$.mint') AS mint,
              |    CAST(json_extract_string(b, '$$.uiTokenAmount.amount') AS DECIMAL(38,0)) AS pre_amount
              |  FROM (SELECT slot, sig,
              |          unnest(CAST(json_extract(tx, '$$.meta.preTokenBalances') AS JSON[])) AS b
              |        FROM sigtxs)
              |  WHERE json_extract_string(b, '$$.mint') IS NOT NULL),
              |post AS (
              |  SELECT slot, sig,
              |    CAST(json_extract(b, '$$.accountIndex') AS INTEGER) AS account_index,
              |    json_extract_string(b, '$$.mint') AS mint,
              |    CAST(json_extract_string(b, '$$.uiTokenAmount.amount') AS DECIMAL(38,0)) AS post_amount
              |  FROM (SELECT slot, sig,
              |          unnest(CAST(json_extract(tx, '$$.meta.postTokenBalances') AS JSON[])) AS b
              |        FROM sigtxs)
              |  WHERE json_extract_string(b, '$$.mint') IS NOT NULL),
              |net AS (
              |  SELECT mint,
              |    coalesce(post_amount, 0) - coalesce(pre_amount, 0) AS net_amount
              |  FROM pre FULL JOIN post USING (slot, sig, account_index, mint)
              |  WHERE coalesce(post_amount, 0) - coalesce(pre_amount, 0) <> 0)
              |SELECT mint, count(*) AS n_accounts,
              | CAST(sum(net_amount) AS BIGINT) AS total_net
              |FROM net GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "ref parsers.rs:179-182 pre/post netting (J4, differential re-derive)"),

    // fact_program_events (SCHEMA.md:85-117): the typed instruction
    // fact, differential over every typed column family — group keys
    // exercise the log-derived instruction_type / log_pattern_match
    // (non-null for the logged token branch, null for unlogged txs),
    // n_distinct_ids pins the canonical id linkage, all_accounts puts a
    // REAL ARRAY column on the oracle boundary, and data_hex/log-line
    // counts cover the remaining typed columns. The DuckDB side
    // re-derives the whole projection from raw JSON, including the
    // sha256 ids and the hex encoding.
    "ingest_fact_program_events" -> Q(
      (s, _) => {
        val blocks = Parse.parseBlocks(materializedBlocks(s))
        Parse.factProgramEvents(blocks)
          .groupBy(col("event_type"), col("instruction_type"),
            col("log_pattern_match"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("event_id")).as("n_distinct_ids"),
            countDistinct(col("program_id")).as("n_programs"),
            countDistinct(col("data_hex")).as("n_data"),
            sum(coalesce(size(col("log_messages")), lit(0))).as("n_log_lines"),
            array_sort(array_distinct(flatten(collect_list(col("accounts")))))
              .as("acct_arr"))
          // the ARRAY logic stays; the BOUNDARY is a string — the
          // driver comparator hashes scalar cells only (r14 red).
          // Empty set → NULL (collect_list drops null arrays, DuckDB's
          // list-of-NULLs flattens to NULL — align on NULL)
          .withColumn("all_accounts",
            when(size(col("acct_arr")) > 0, array_join(col("acct_arr"), ",")))
          .drop("acct_arr")
          .orderBy(col("event_type"), col("instruction_type"),
            col("log_pattern_match"))
      },
      Some(s"""WITH $dTxs,
              |valid AS (SELECT * FROM sigtxs WHERE sig IS NOT NULL),
              |txp AS (
              |  SELECT slot, sig, tx,
              |    CAST(json_extract(tx, '$$.meta.logMessages') AS VARCHAR[]) AS logs
              |  FROM valid),
              |txl AS (
              |  SELECT slot, sig, tx, coalesce(len(logs), 0) AS n_logs,
              |    (list_filter(logs, m -> m LIKE 'Program log:%'))[1] AS log_pattern_match
              |  FROM txp),
              |ins AS (
              |  SELECT slot, sig, n_logs, log_pattern_match,
              |    unnest(CAST(json_extract(tx, '$$.transaction.message.instructions') AS JSON[])) AS i,
              |    generate_subscripts(CAST(json_extract(tx, '$$.transaction.message.instructions') AS JSON[]), 1) - 1 AS idx
              |  FROM txl),
              |pe AS (
              |  SELECT slot, sig, idx, n_logs, log_pattern_match,
              |    json_extract_string(i, '$$.programId') AS program_id,
              |    CASE WHEN json_extract_string(i, '$$.programId') IN ($tokenList)
              |      THEN '${Schemas.EvTokenInstruction}'
              |      ELSE '${Schemas.EvProgramInstruction}' END AS event_type,
              |    CAST(json_extract(i, '$$.accounts') AS VARCHAR[]) AS accounts,
              |    upper(hex(json_extract_string(i, '$$.data'))) AS data_hex
              |  FROM ins WHERE json_extract_string(i, '$$.programId') IS NOT NULL),
              |pe2 AS (
              |  SELECT *,
              |    sha256(slot || ':' || sig || ':' || idx || ':' || event_type) AS event_id,
              |    CASE WHEN event_type = '${Schemas.EvTokenInstruction}'
              |      THEN lower(regexp_replace(log_pattern_match, '^Program log: ', ''))
              |    END AS instruction_type
              |  FROM pe)
              |SELECT event_type, instruction_type, log_pattern_match,
              |  count(*) AS n_events,
              |  count(DISTINCT event_id) AS n_distinct_ids,
              |  count(DISTINCT program_id) AS n_programs,
              |  count(DISTINCT data_hex) AS n_data,
              |  CAST(sum(n_logs) AS BIGINT) AS n_log_lines,
              |  array_to_string(list_sort(list_distinct(flatten(list(accounts)))), ',') AS all_accounts
              |FROM pe2 GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      doc = "fact_program_events typed projection (SCHEMA.md:85-117): log-derived instruction_type, array accounts on the oracle boundary, hex data, sha256 id parity vs full DuckDB JSON re-derivation"),

    // fact_token_transfers (SCHEMA.md:119-154) through the DOCUMENTED
    // warehouse query shape (SCHEMA.md:346-357: SUM(token_amount) ...
    // GROUP BY token_mint, from_wallet, to_wallet) — with the normalized
    // DECIMAL(38,9) amount on the oracle boundary at a pinned scale,
    // sender resolution from pre/post deltas (from_wallet is null on
    // this fixture's pure-deposit rows — the n_no_sender column proves
    // both engines agree on that), and the +10000 id namespace pinned
    // by n_distinct_ids.
    "ingest_fact_token_transfers" -> Q(
      (s, _) => {
        val blocks = Parse.parseBlocks(materializedBlocks(s))
        Parse.factTokenTransfers(blocks)
          .groupBy(col("token_mint"), col("from_wallet"), col("to_wallet"))
          .agg(count(lit(1)).as("n_transfers"),
            countDistinct(col("event_id")).as("n_distinct_ids"),
            countDistinct(col("authority")).as("n_authorities"),
            // DECIMAL(38,9) internally; DOUBLE at the boundary — the
            // driver's pandas reads Spark decimals as object cells and
            // DuckDB's as float64, so raw decimals hash-mismatch (r14 red)
            sum(col("token_amount")).cast("decimal(38,9)").cast("double")
              .as("total_amount"),
            max(col("decimals")).as("max_decimals"),
            countDistinct(col("raw_amount")).as("n_raw_amounts"))
          .orderBy(col("token_mint"), col("from_wallet"), col("to_wallet"))
      },
      Some(s"""WITH $dTxs,
              |valid AS (SELECT * FROM sigtxs WHERE sig IS NOT NULL),
              |auth AS (
              |  SELECT slot, sig, tx,
              |    coalesce(
              |      json_extract_string(tx, '$$.transaction.message.accountKeys[0].pubkey'),
              |      json_extract_string(tx, '$$.transaction.message.accountKeys[0]')) AS authority
              |  FROM valid),
              |pre AS (
              |  SELECT slot, sig,
              |    CAST(json_extract(b, '$$.accountIndex') AS INTEGER) AS account_index,
              |    json_extract_string(b, '$$.mint') AS mint,
              |    json_extract_string(b, '$$.owner') AS owner,
              |    CAST(json_extract_string(b, '$$.uiTokenAmount.amount') AS DECIMAL(38,0)) AS amount
              |  FROM (SELECT slot, sig,
              |          unnest(CAST(json_extract(tx, '$$.meta.preTokenBalances') AS JSON[])) AS b
              |        FROM valid)
              |  WHERE json_extract_string(b, '$$.mint') IS NOT NULL),
              |post AS (
              |  SELECT slot, sig,
              |    CAST(json_extract(b, '$$.accountIndex') AS INTEGER) AS account_index,
              |    json_extract_string(b, '$$.mint') AS mint,
              |    json_extract_string(b, '$$.owner') AS owner,
              |    CAST(json_extract_string(b, '$$.uiTokenAmount.amount') AS DECIMAL(38,0)) AS amount
              |  FROM (SELECT slot, sig,
              |          unnest(CAST(json_extract(tx, '$$.meta.postTokenBalances') AS JSON[])) AS b
              |        FROM valid)
              |  WHERE json_extract_string(b, '$$.mint') IS NOT NULL),
              |deltas AS (
              |  SELECT slot, sig, account_index, mint,
              |    coalesce(post.owner, pre.owner) AS owner,
              |    coalesce(post.amount, 0) - coalesce(pre.amount, 0) AS delta
              |  FROM pre FULL JOIN post USING (slot, sig, account_index, mint)),
              |senders AS (
              |  SELECT slot, sig, mint, owner AS from_wallet
              |  FROM (SELECT *, row_number() OVER (
              |          PARTITION BY slot, sig, mint
              |          ORDER BY delta ASC, account_index ASC) AS rn
              |        FROM deltas WHERE delta < 0)
              |  WHERE rn = 1),
              |postx AS (
              |  SELECT slot, sig, authority,
              |    unnest(CAST(json_extract(tx, '$$.meta.postTokenBalances') AS JSON[])) AS b,
              |    generate_subscripts(CAST(json_extract(tx, '$$.meta.postTokenBalances') AS JSON[]), 1) - 1 AS pos
              |  FROM auth),
              |tr AS (
              |  SELECT slot, sig, authority, pos,
              |    json_extract_string(b, '$$.mint') AS mint,
              |    json_extract_string(b, '$$.owner') AS owner,
              |    json_extract_string(b, '$$.uiTokenAmount.amount') AS raw_amount,
              |    CAST(json_extract(b, '$$.uiTokenAmount.decimals') AS INTEGER) AS decimals
              |  FROM postx
              |  WHERE json_extract_string(b, '$$.mint') IS NOT NULL
              |    AND json_extract_string(b, '$$.owner') IS NOT NULL),
              |tr2 AS (
              |  SELECT tr.*, s.from_wallet,
              |    sha256(tr.slot || ':' || tr.sig || ':' || (tr.pos + 10000)
              |      || ':' || '${Schemas.EvTokenTransfer}') AS event_id,
              |    CAST(CAST(tr.raw_amount AS DECIMAL(38,18))
              |      / CAST('1' || repeat('0', tr.decimals) AS DECIMAL(19,0))
              |      AS DECIMAL(38,9)) AS token_amount
              |  FROM tr LEFT JOIN senders s
              |    ON tr.slot = s.slot AND tr.sig = s.sig AND tr.mint = s.mint)
              |SELECT mint AS token_mint, from_wallet, owner AS to_wallet,
              |  count(*) AS n_transfers,
              |  count(DISTINCT event_id) AS n_distinct_ids,
              |  count(DISTINCT authority) AS n_authorities,
              |  CAST(CAST(sum(token_amount) AS DECIMAL(38,9)) AS DOUBLE) AS total_amount,
              |  CAST(max(decimals) AS BIGINT) AS max_decimals,
              |  count(DISTINCT raw_amount) AS n_raw_amounts
              |FROM tr2 GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      doc = "fact_token_transfers typed projection (SCHEMA.md:119-154) via the documented SCHEMA.md:346 query shape: DECIMAL(38,9)-normalized amounts, delta-resolved senders, +10000 id namespace vs full DuckDB re-derivation"),

    // fact_telemetry end-to-end (SCHEMA.md:161-188, events.rs:62-72 —
    // the reference's last declared-only schema element): raw telemetry
    // JSON → Parse.parseTelemetry (tolerance + classification + id
    // dedup) → AnalyticsRunner.factTelemetry projection → usage rollup.
    // The oracle re-derives the WHOLE path in DuckDB JSON SQL over the
    // same parquet, including the event-id dedup (mirrored as a
    // row_number over the exact id-key tuple) and every planted drop.
    "evt_telemetry_usage" -> Q(
      (s, _) => {
        val fact = graft.analytics.AnalyticsRunner.factTelemetry(
          Parse.parseTelemetry(materializedTelemetry(s)))
        fact.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("latency_ms")).as("total_latency_ms"),
            count(when(col("response_code") >= 400, 1)).as("n_errors"),
            countDistinct(col("slot")).as("n_linked_slots"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH raw AS (
              |  SELECT telemetry_json FROM read_parquet('$TelemetryPath/*.parquet')),
              |recs AS (
              |  SELECT CAST(json_extract(j, '$$.ts') AS BIGINT) AS ts,
              |    CAST(json_extract(j, '$$.slot') AS BIGINT) AS slot,
              |    json_extract_string(j, '$$.tx_signature') AS tx_signature,
              |    json_extract_string(j, '$$.user_id') AS user_id,
              |    json_extract_string(j, '$$.api_endpoint') AS api_endpoint,
              |    json_extract_string(j, '$$.feature_name') AS feature_name,
              |    json_extract_string(j, '$$.request_id') AS request_id,
              |    CAST(json_extract(j, '$$.response_code') AS BIGINT) AS response_code,
              |    CAST(json_extract(j, '$$.latency_ms') AS BIGINT) AS latency_ms
              |  FROM (SELECT CASE WHEN json_valid(telemetry_json)
              |                 THEN telemetry_json END AS j FROM raw)
              |  WHERE j IS NOT NULL),
              |typed AS (
              |  SELECT *,
              |    CASE WHEN api_endpoint IS NOT NULL THEN '${Schemas.EvTelemetryApiCall}'
              |         WHEN feature_name IS NOT NULL THEN '${Schemas.EvTelemetryFeature}'
              |    END AS event_type
              |  FROM recs WHERE ts IS NOT NULL AND request_id IS NOT NULL),
              |dedup AS (
              |  SELECT * FROM (
              |    SELECT *, row_number() OVER (
              |      PARTITION BY coalesce(slot, 0),
              |        coalesce(tx_signature, request_id), event_type
              |      ORDER BY request_id) AS rn
              |    FROM typed WHERE event_type IS NOT NULL) WHERE rn = 1)
              |SELECT event_type, count(*) AS n_events,
              |  count(DISTINCT user_id) AS n_users,
              |  CAST(sum(latency_ms) AS BIGINT) AS total_latency_ms,
              |  count(CASE WHEN response_code >= 400 THEN 1 END) AS n_errors,
              |  count(DISTINCT slot) AS n_linked_slots
              |FROM dedup GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "fact_telemetry (SCHEMA.md:161-188) end-to-end: the reference's declared-only telemetry surface, parsed + projected + rolled up, differential JSON re-derive"),

    // §1.3 VariantType on the INGEST side: the canonical events'
    // raw_payload (the reference's JSONB column, warehouse.rs:171) read
    // back through Spark 4 variant — parse ONCE per row, then three
    // TYPED extractions (string/long/boolean) off the variant value,
    // instead of three string re-parses with get_json_object. This is
    // the schema-on-read contract raw_payload was designed for; the
    // evt_variant_props row covers the testdata props column, this one
    // covers the engine's own payload format end-to-end from block JSON.
    "ingest_variant_payload" -> Q(
      (s, _) => {
        val tx = Parse.parse(materializedBlocks(s))
          .filter(col("event_type") === Schemas.EvTransaction)
          .select(expr("parse_json(raw_payload)").as("p"))
        tx.select(
            expr("variant_get(p, '$.wallet', 'string')").as("wallet"),
            expr("variant_get(p, '$.fee', 'long')").as("fee"),
            expr("variant_get(p, '$.success', 'boolean')").as("success"))
          .groupBy(col("success"))
          .agg(count(lit(1)).as("n_tx"),
            countDistinct(col("wallet")).as("n_wallets"),
            sum(col("fee")).as("total_fees"))
          .orderBy(col("success"))
      },
      Some(s"""WITH $dTxs,
              |valid AS (SELECT * FROM sigtxs WHERE sig IS NOT NULL),
              |payload AS (
              |  SELECT
              |    coalesce(
              |      json_extract_string(tx, '$$.transaction.message.accountKeys[0].pubkey'),
              |      json_extract_string(tx, '$$.transaction.message.accountKeys[0]')) AS wallet,
              |    CAST(json_extract(tx, '$$.meta.fee') AS BIGINT) AS fee,
              |    (json_extract_string(tx, '$$.meta.err') IS NULL) AS success
              |  FROM valid)
              |SELECT success, count(*) AS n_tx,
              |  count(DISTINCT wallet) AS n_wallets,
              |  CAST(sum(fee) AS BIGINT) AS total_fees
              |FROM payload GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "SURVEY §1.3 VariantType over the engine's own raw_payload (warehouse.rs:171 JSONB): one parse_json, typed variant_get extractions, differential re-derive"),
  )
}
