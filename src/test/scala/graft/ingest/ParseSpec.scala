package graft.ingest

import graft.SparkSpec
import graft.model.Schemas._
import org.apache.spark.sql.functions._

/** Parse-layer fixtures per FIXTURES.md §3: tiny literal block JSONs
  * shaped like the reference's inputs (parsers.rs:10-30). */
class ParseSpec extends SparkSpec {

  import spark.implicits._

  private def rawDF(rows: (Long, String)*) =
    rows.toDF("slot", "block_json")

  private val basicBlock =
    """{"blockTime":1704067200,"blockhash":"bh1","parentSlot":9,"transactions":[
      |{"transaction":{"signatures":["sigA"],"message":{
      |  "accountKeys":["walletA","progX"],
      |  "instructions":[{"programId":"progX","accounts":["a"],"data":"d"},
      |                  {"programId":"TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA","accounts":[],"data":"e"}]}},
      | "meta":{"err":null,"fee":5000,"preTokenBalances":[],
      |  "postTokenBalances":[{"accountIndex":1,"mint":"mintM","owner":"walletB",
      |    "uiTokenAmount":{"amount":"42","decimals":6,"uiAmountString":"0.000042"}}],
      |  "logMessages":["ok"]}},
      |{"transaction":{"signatures":["sigB"],"message":{
      |  "accountKeys":[{"pubkey":"walletObj"}],
      |  "instructions":[]}},
      | "meta":{"err":"oops","fee":1,"preTokenBalances":[],"postTokenBalances":[],
      |  "logMessages":[]}}
      |]}""".stripMargin.replace("\n", "")

  test("fan-out: 1 block → tx + instruction + transfer events") {
    val ev = Parse.parse(rawDF(10L -> basicBlock))
    val byType = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType(EvTransaction) == 2)          // sigA + sigB
    assert(byType(EvProgramInstruction) == 1)   // progX
    assert(byType(EvTokenInstruction) == 1)     // Tokenkeg...
    assert(byType(EvTokenTransfer) == 1)        // mintM post balance
  }

  test("event_id matches the reference sha256 golden vector") {
    // sha256("10:sigA:-1:transaction") — events.rs:76-86 format
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("10:sigA:-1:transaction".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val got = Parse.parse(rawDF(10L -> basicBlock))
      .filter($"tx_signature" === "sigA" && $"event_type" === EvTransaction)
      .select("event_id").as[String].head()
    assert(got == expected)
  }

  test("dual-shape accountKeys: string and {pubkey:…} both resolve") {
    val ev = Parse.parse(rawDF(10L -> basicBlock))
      .filter($"event_type" === EvTransaction)
      .select($"tx_signature", get_json_object($"raw_payload", "$.wallet").as("w"))
      .as[(String, String)].collect().toMap
    assert(ev("sigA") == "walletA")
    assert(ev("sigB") == "walletObj")
  }

  test("err/success complement (parsers.rs:59-62)") {
    val ev = Parse.parse(rawDF(10L -> basicBlock))
      .filter($"event_type" === EvTransaction)
      .select($"tx_signature", get_json_object($"raw_payload", "$.success").as("s"))
      .as[(String, String)].collect().toMap
    assert(ev("sigA") == "true")
    assert(ev("sigB") == "false")
  }

  test("malformed tx skipped, block survives (parsers.rs:22-26)") {
    val block =
      """{"blockTime":1704067200,"transactions":[
        |{"transaction":{"signatures":[],"message":{"accountKeys":[],"instructions":[]}},"meta":{"err":null}},
        |{"transaction":{"signatures":["ok1"],"message":{"accountKeys":["w"],"instructions":[]}},"meta":{"err":null}}
        |]}""".stripMargin.replace("\n", "")
    val ev = Parse.parse(rawDF(5L -> block))
    assert(ev.count() == 1) // only the signed tx
  }

  test("block missing blockTime dropped (parsers.rs:33-41)") {
    val bad = """{"transactions":[]}"""
    assert(Parse.parse(rawDF(5L -> bad)).count() == 0)
    assert(Parse.parse(rawDF(5L -> "not json at all")).count() == 0)
  }

  test("parseErrors surfaces exactly what the tolerant parse drops") {
    val noSigBlock =
      """{"blockTime":1704067200,"transactions":[
        |{"transaction":{"signatures":[],"message":{"accountKeys":[],"instructions":[]}},"meta":{"err":null}},
        |{"transaction":{"signatures":["ok1"],"message":{"accountKeys":["w"],"instructions":[]}},"meta":{"err":null}}
        |]}""".stripMargin.replace("\n", "")
    val raw = rawDF(
      5L -> noSigBlock,                 // 1 tx error, block itself fine
      6L -> """{"transactions":[]}""",  // missing blockTime
      7L -> "not json at all",          // unparseable
      10L -> basicBlock)                // fully clean
    val errs = Parse.parseErrors(raw)
      .select("slot", "error_type").as[(Long, String)].collect().toSet
    assert(errs == Set(
      5L -> "tx_missing_signature",
      6L -> "block_parse_error",
      7L -> "block_parse_error"))
    // deterministic ids, no dupes
    val ids = Parse.parseErrors(raw).select("error_id").as[String].collect()
    assert(ids.distinct.length == ids.length)
    // two signature-less txs in ONE block keep distinct identities
    // (position is part of the id)
    val twoBad =
      """{"blockTime":1704067200,"transactions":[
        |{"transaction":{"signatures":[],"message":{"accountKeys":[],"instructions":[]}},"meta":{"err":null}},
        |{"transaction":{"signatures":[],"message":{"accountKeys":[],"instructions":[]}},"meta":{"err":null}}
        |]}""".stripMargin.replace("\n", "")
    val pair = Parse.parseErrors(rawDF(9L -> twoBad))
      .select("error_id", "tx_index").as[(String, Int)].collect()
    assert(pair.length == 2 && pair.map(_._1).distinct.length == 2)
    assert(pair.map(_._2).sorted.toSeq == Seq(0, 1))
    // complement check: errors + parsed events cover all input rows'
    // fates — the clean block contributes zero error rows
    assert(Parse.parseErrors(rawDF(10L -> basicBlock)).count() == 0)
  }

  test("idempotency: parsing twice ≡ once (event_id dedup)") {
    val once = Parse.parse(rawDF(10L -> basicBlock))
    val twice = Parse.parse(rawDF(10L -> basicBlock, 10L -> basicBlock))
    assert(once.count() == twice.count())
  }

  test("netTokenTransfers computes post - pre per (account, mint)") {
    val block =
      """{"blockTime":1704067200,"transactions":[
        |{"transaction":{"signatures":["s1"],"message":{"accountKeys":["w"],"instructions":[]}},
        | "meta":{"err":null,
        |  "preTokenBalances":[{"accountIndex":1,"mint":"m1","owner":"w","uiTokenAmount":{"amount":"100","decimals":6,"uiAmountString":"x"}}],
        |  "postTokenBalances":[{"accountIndex":1,"mint":"m1","owner":"w","uiTokenAmount":{"amount":"175","decimals":6,"uiAmountString":"x"}},
        |                       {"accountIndex":2,"mint":"m2","owner":"v","uiTokenAmount":{"amount":"9","decimals":0,"uiAmountString":"9"}}]}}
        |]}""".stripMargin.replace("\n", "")
    val net = Parse.netTokenTransfers(Parse.parseBlocks(rawDF(3L -> block)))
      .select($"mint", $"net_amount".cast("long")).as[(String, Long)]
      .collect().toMap
    assert(net("m1") == 75L)   // 175 - 100
    assert(net("m2") == 9L)    // appeared only post
  }

  test("parseTelemetry: classification, tolerance, golden id, dedup") {
    val apiCall =
      """{"ts":1704067200,"slot":7,"tx_signature":"sigT","program_id":"p1",
        |"user_id":"u1","api_endpoint":"/api/v1/tx","request_id":"r1",
        |"response_code":200,"latency_ms":42}""".stripMargin.replace("\n", "")
    val feature =
      """{"ts":1704067260,"user_id":"u2","feature_name":"export","request_id":"r2"}"""
    val rows = Seq(
      apiCall,
      feature,
      apiCall,                                      // exact duplicate → id dedup
      "{not json",                                  // invalid → dropped
      """{"user_id":"u3","request_id":"r3","api_endpoint":"/x"}""",   // no ts
      """{"ts":1,"user_id":"u4","api_endpoint":"/x"}""",              // no request_id
      """{"ts":1,"user_id":"u5","request_id":"r5"}""")                // untyped
      .toDF("telemetry_json")
    val ev = Parse.parseTelemetry(rows)
    assert(ev.count() == 2)
    val byType = ev.collect().map(r =>
      r.getAs[String]("event_type") -> r).toMap
    // golden id: sha256("7:sigT:-2:telemetry_api_call") — the
    // events.rs:76-86 convention with the telemetry index namespace
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("7:sigT:-2:telemetry_api_call".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(byType(EvTelemetryApiCall).getAs[String]("event_id") == expected)
    // a pure product event (no on-chain link) keys on (0, request_id)
    val featExpected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("0:r2:-2:telemetry_feature_usage".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(byType(EvTelemetryFeature).getAs[String]("event_id") == featExpected)
    // fact projection restores the SCHEMA.md:161-188 telemetry columns
    val fact = graft.analytics.AnalyticsRunner.factTelemetry(ev)
    val api = fact.filter($"event_type" === EvTelemetryApiCall).collect()(0)
    assert(api.getAs[String]("user_id") == "u1")
    assert(api.getAs[String]("api_endpoint") == "/api/v1/tx")
    assert(api.getAs[Long]("response_code") == 200L)
    assert(api.getAs[Long]("latency_ms") == 42L)
    assert(api.getAs[String]("request_id") == "r1")
  }

  // A real two-account SPL transfer: walletS's account 1 drops 150 raw
  // units, walletR's account 2 gains the same 150, mint has 6 decimals.
  // Exercises the sender-resolution path the synthetic corpus (pure
  // deposits, no decreasing account) leaves null.
  private val transferBlock =
    """{"blockTime":1704067200,"transactions":[
      |{"transaction":{"signatures":["sigT"],"message":{
      |  "accountKeys":["feePayer","TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"],
      |  "instructions":[{"programId":"TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA","accounts":["s","r"],"data":"xfer"}]}},
      | "meta":{"err":null,"fee":5000,
      |  "preTokenBalances":[
      |    {"accountIndex":1,"mint":"mintM","owner":"walletS","uiTokenAmount":{"amount":"400","decimals":6,"uiAmountString":"0.0004"}},
      |    {"accountIndex":2,"mint":"mintM","owner":"walletR","uiTokenAmount":{"amount":"100","decimals":6,"uiAmountString":"0.0001"}}],
      |  "postTokenBalances":[
      |    {"accountIndex":1,"mint":"mintM","owner":"walletS","uiTokenAmount":{"amount":"250","decimals":6,"uiAmountString":"0.00025"}},
      |    {"accountIndex":2,"mint":"mintM","owner":"walletR","uiTokenAmount":{"amount":"250","decimals":6,"uiAmountString":"0.00025"}}],
      |  "logMessages":["Program log: Transfer","Program consumed"]}}
      |]}""".stripMargin.replace("\n", "")

  test("factTokenTransfers: typed columns, delta-resolved sender, decimal amount") {
    val fact = Parse.factTokenTransfers(
      Parse.parseBlocks(rawDF(20L -> transferBlock)))
    // schema contract (SCHEMA.md:119-154): NUMERIC normalized amount
    assert(fact.schema("token_amount").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 9))
    val rows = fact.orderBy($"instruction_index").collect()
    assert(rows.length == 2) // one per post balance with mint+owner
    val Array(sRow, rRow) = rows
    // both rows: sender = the account whose balance DECREASED (walletS)
    assert(sRow.getAs[String]("to_wallet") == "walletS")
    assert(sRow.getAs[String]("from_wallet") == "walletS")
    assert(rRow.getAs[String]("to_wallet") == "walletR")
    assert(rRow.getAs[String]("from_wallet") == "walletS")
    // normalized decimal: 250 raw / 10^6 = 0.00025, scale 9
    assert(rRow.getAs[java.math.BigDecimal]("token_amount")
      .compareTo(new java.math.BigDecimal("0.000250000")) == 0)
    assert(rRow.getAs[String]("raw_amount") == "250")
    assert(rRow.getAs[Long]("decimals") == 6L)
    assert(rRow.getAs[String]("authority") == "feePayer")
    assert(rRow.getAs[String]("program_id") == TokenPrograms.head)
    // id linkage: same +10000 namespace as the canonical event stream
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("20:sigT:10001:token_transfer".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rRow.getAs[String]("event_id") == expected)
    assert(rRow.getAs[Int]("instruction_index") == 10001)
  }

  test("factProgramEvents: typed instruction columns and log-pattern classification") {
    val fact = Parse.factProgramEvents(
      Parse.parseBlocks(rawDF(20L -> transferBlock)))
    assert(fact.schema("accounts").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true))
    val r = fact.collect()(0)
    assert(r.getAs[String]("event_type") == EvTokenInstruction)
    assert(r.getAs[String]("instruction_type") == "transfer")
    assert(r.getAs[String]("log_pattern_match") == "Program log: Transfer")
    assert(r.getSeq[String](r.fieldIndex("accounts")) == Seq("s", "r"))
    // data "xfer" = 0x78 0x66 0x65 0x72
    assert(r.getAs[String]("data_hex") == "78666572")
    assert(r.getSeq[String](r.fieldIndex("log_messages")) ==
      Seq("Program log: Transfer", "Program consumed"))
    // id linkage with the canonical instruction event at index 0
    val canonical = Parse.parse(rawDF(20L -> transferBlock))
      .filter($"event_type" === EvTokenInstruction)
      .select("event_id").as[String].head()
    assert(r.getAs[String]("event_id") == canonical)
    // a tx with NO 'Program log:' line classifies to null, and the
    // non-token instruction never gets an instruction_type
    val basic = Parse.factProgramEvents(
      Parse.parseBlocks(rawDF(10L -> basicBlock)))
      .select($"event_type", $"instruction_type", $"log_pattern_match")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(basic == Set(
      (EvProgramInstruction, null, null),
      (EvTokenInstruction, null, null)))
  }

  test("typed facts are replay-safe: replayed blocks collapse on event_id") {
    // the same block arriving twice (replayed/overlapping backfill)
    val twice = rawDF(20L -> transferBlock, 20L -> transferBlock)
    val blocks = Parse.parseBlocks(twice)
    val once = Parse.parseBlocks(rawDF(20L -> transferBlock))
    assert(blocks.count() == 2 * once.count())
    val pe = Parse.factProgramEvents(blocks)
    assert(pe.count() == pe.select("event_id").distinct().count())
    assert(pe.count() == Parse.factProgramEvents(once).count())
    val tt = Parse.factTokenTransfers(blocks)
    assert(tt.count() == tt.select("event_id").distinct().count())
    assert(tt.count() > 0 && tt.count() == Parse.factTokenTransfers(once).count())
  }
}
