package graft

/** CLI argument handling; the shared session is built only by the
  * tests that read a sink. */
class MainSpec extends SparkSpec {

  test("health args: absent, chainTip-only (default SLO), explicit maxLag") {
    assert(Main.parseHealthArgs(Nil) == Right(None))
    assert(Main.parseHealthArgs(List("5000")) == Right(Some((5000L, 1000L))))
    assert(Main.parseHealthArgs(List("5000", "50")) == Right(Some((5000L, 50L))))
  }

  test("health args: malformed numbers are usage errors, not stack traces") {
    assert(Main.parseHealthArgs(List("banana")).isLeft)
    assert(Main.parseHealthArgs(List("5000", "banana")).isLeft)
    assert(Main.parseHealthArgs(List("12x")).isLeft)
  }

  test("WAREHOUSE_TYPE selects the sink backend (config.rs:54-58); " +
      "jdbc reads WAREHOUSE_CONNECTION and treats out as the table") {
    assert(Main.sinkFor("/w/events", Map.empty) ==
      ingest.Backfill.FileSink("/w/events", "parquet"))
    assert(Main.sinkFor("/w/events", Map("WAREHOUSE_TYPE" -> "orc")) ==
      ingest.Backfill.FileSink("/w/events", "orc"))
    assert(Main.sinkFor("events",
      Map("WAREHOUSE_TYPE" -> "Postgres",
        "WAREHOUSE_CONNECTION" -> "jdbc:derby:/tmp/x")) ==
      ingest.Backfill.JdbcSink(
        sources.JdbcWarehouse("jdbc:derby:/tmp/x", "events")))
  }

  test("analytics reads its fact through WAREHOUSE_TYPE's sink; an absent fact fails naming it") {
    val dir = java.nio.file.Files.createTempDirectory("main_fact").toString
    val out = s"$dir/fact"
    ingest.Backfill.runTo(spark, 1L, 41L, 2, ingest.Backfill.FileSink(out, "orc"))
    val written = spark.read.orc(out).count()
    val env = Map("WAREHOUSE_TYPE" -> "orc")
    val fact = Main.readFact(spark, Main.sinkFor(out, env), out)
    assert(written > 0 && fact.count() == written)
    // the parquet reader the verb used before cannot read this fact
    intercept[Exception](spark.read.parquet(out).count())
    val absent = s"$dir/absent"
    val e = intercept[IllegalArgumentException](
      Main.readFact(spark, Main.sinkFor(absent, env), absent))
    assert(e.getMessage.contains(absent), e.getMessage)
  }

  test("ETL_MAX_SLOT_LAG drives the health SLO default (config.rs:80-83)") {
    assert(Main.parseHealthArgs(List("5000"), defaultMaxLag = 77L)
      == Right(Some((5000L, 77L))))
    // an explicit CLI bound still wins over the env default
    assert(Main.parseHealthArgs(List("5000", "50"), defaultMaxLag = 77L)
      == Right(Some((5000L, 50L))))
  }

  test("EtlConfig: reference env names, defaults, and malformed-value fallback " +
      "(config.rs:63-83)") {
    val d = EtlConfig(Map.empty[String, String])
    assert(d == EtlConfig(1000L, 100L, 1000L, 30L, 1000L))
    val c = EtlConfig(Map(
      "ETL_BATCH_SIZE" -> "250", "ETL_CHECKPOINT_INTERVAL" -> "10",
      "ETL_BACKFILL_CHUNK_SIZE" -> "500", "ETL_INTERVAL_SECONDS" -> "5",
      "ETL_MAX_SLOT_LAG" -> "99"))
    assert(c == EtlConfig(250L, 10L, 500L, 5L, 99L))
    // .parse().ok().unwrap_or(default): garbage and non-positive fall back
    assert(EtlConfig(Map("ETL_BATCH_SIZE" -> "banana")).batchSize == 1000L)
    assert(EtlConfig(Map("ETL_INTERVAL_SECONDS" -> "0")).intervalSeconds == 30L)
    assert(EtlConfig(Map("ETL_MAX_SLOT_LAG" -> "-5")).maxSlotLag == 1000L)
  }

  test("health chain side: explicit arg wins, SOLANA_RPC_URL probes getSlot, " +
      "unreachable endpoint FAILS the verdict (health.rs:12-20)") {
    val env = Map("SOLANA_RPC_URL" -> "http://h/", "ETL_MAX_SLOT_LAG" -> "42")
    // explicit arg: never probes (a throwing probe proves it)
    assert(Main.chainTipSlo(Some((5000L, 10L)), env,
      () => sys.error("must not probe")) == Right(Some((5000L, 10L))))
    // endpoint configured: probe supplies the tip, env the SLO bound
    assert(Main.chainTipSlo(None, env, () => 7777L) == Right(Some((7777L, 42L))))
    // endpoint configured but down: FAILED verdict, not sink-only
    assert(Main.chainTipSlo(None, env, () => sys.error("conn refused"))
      == Left("conn refused"))
    // no arg, no endpoint: plain sink probe
    assert(Main.chainTipSlo(None, Map.empty, () => sys.error("no")) == Right(None))
  }

  test("incremental trigger: arg > ETL_INTERVAL_SECONDS > AvailableNow") {
    import org.apache.spark.sql.streaming.Trigger
    assert(Main.triggerFor(Some(7L), Map("ETL_INTERVAL_SECONDS" -> "60"))
      == Trigger.ProcessingTime("7 seconds"))
    assert(Main.triggerFor(None, Map("ETL_INTERVAL_SECONDS" -> "60"))
      == Trigger.ProcessingTime("60 seconds"))
    assert(Main.triggerFor(None, Map.empty) == Trigger.AvailableNow())
    // present-but-malformed keeps the reference's unwrap_or semantics:
    // a SET var states the intent to poll, so it polls at the 30s
    // default rather than silently flipping to drain-and-exit
    assert(Main.triggerFor(None, Map("ETL_INTERVAL_SECONDS" -> "x"))
      == Trigger.ProcessingTime("30 seconds"))
  }

  test("explicitLong: presence-gated, value still default-tolerant") {
    assert(EtlConfig.explicitLong(Map.empty, "K", 7L).isEmpty)
    assert(EtlConfig.explicitLong(Map("K" -> "3"), "K", 7L).contains(3L))
    assert(EtlConfig.explicitLong(Map("K" -> "banana"), "K", 7L).contains(7L))
    assert(EtlConfig.explicitLong(Map("K" -> "0"), "K", 7L).contains(7L))
  }

  test("tipSlot arg: number, or `auto` probing the endpoint; auto without " +
      "an endpoint and probe failures are usage errors") {
    assert(Main.tipSlotArg("5000", hasEndpoint = false,
      () => sys.error("must not probe")) == Right(5000L))
    assert(Main.tipSlotArg("auto", hasEndpoint = true, () => 123L) == Right(123L))
    assert(Main.tipSlotArg("auto", hasEndpoint = false, () => 123L).isLeft)
    assert(Main.tipSlotArg("auto", hasEndpoint = true,
      () => sys.error("down")).swap.exists(_.contains("down")))
    assert(Main.tipSlotArg("12x", hasEndpoint = true, () => 1L).isLeft)
  }

  test("health verdict JSON escaping survives quotes, backslashes, newlines") {
    assert(Main.jsonString("""plain""") == "\"plain\"")
    assert(Main.jsonString("a\"b") == "\"a\\\"b\"")
    assert(Main.jsonString("a\\b") == "\"a\\\\b\"")
    assert(Main.jsonString("line1\nline2\ttab") == "\"line1\\u000aline2\\u0009tab\"")
    // the round-trip proof: what we emit, a JSON parser reads back
    val tricky = "TLS \"handshake\"\nfailed: C:\\certs\u0001"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"""{"error":${Main.jsonString(tricky)}}""")
    assert(parsed.get("error").asText() == tricky)
  }
}
