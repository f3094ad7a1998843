package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import graft.ingest.Backfill

/** Live JSON-RPC fetcher (rpc.rs:40-137 parity) against a local stub
  * server — no real network: the stub scripts 429/5xx/permanent-error/
  * null-result behaviors and counts attempts, proving the retry, pacing
  * and None-propagation contracts end-to-end THROUGH Spark (backfill
  * and the DSv2 source), including fetcher-closure serialization to
  * executor tasks. */
class RpcClientSpec extends SparkSpec {

  /** One scripted stub per test: `script(method, slot, attempt)` returns
    * either Left(httpStatus -> body) or Right(resultJson). Attempt
    * numbers are PER SLOT for getBlock, global for getSlot. */
  private def withStub[T](
      script: (String, Option[Long], Int) => Either[(Int, String), String])(
      body: String => T): T = {
    // JDK HttpServer leaves Nagle on → ~40ms delayed-ACK stalls per
    // loopback request (measured in ProfileRpcBackfill); irrelevant to
    // correctness but it makes the Spark end-to-end tests crawl
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val perKey = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]
    server.createContext("/", { (ex: HttpExchange) =>
      val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val method = """"method":"(\w+)"""".r.findFirstMatchIn(req).get.group(1)
      val slot = """"params":\[(\d+)""".r.findFirstMatchIn(req).map(_.group(1).toLong)
      val n = perKey.computeIfAbsent(s"$method:${slot.getOrElse(-1L)}",
        _ => new AtomicInteger).getAndIncrement()
      val (status, resp) = script(method, slot, n) match {
        case Right(result) =>
          (200, s"""{"jsonrpc":"2.0","id":1,"result":$result}""")
        case Left((code, b)) => (code, b)
      }
      val bytes = resp.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/")
    finally server.stop(0)
  }

  private def cfg(url: String, retries: Int = 5) =
    RpcConfig(url, maxRetries = retries, ratePerSec = 0.0, retryBaseMs = 1L)

  private def quoted(s: String) = "\"" + s + "\""

  test("getSlot round-trips; getBlock returns the result JSON verbatim-equivalent") {
    withStub {
      case ("getSlot", _, _) => Right("12345")
      case ("getBlock", Some(s), _) => Right(Backfill.syntheticBlock(s).get)
      case other => fail(s"unexpected call: $other")
    } { url =>
      val c = new RpcClient(cfg(url), sleep = _ => ())
      assert(c.getSlot() == 12345L)
      val block = c.getBlock(7L).get
      // Jackson re-serializes the tree; fields must survive
      assert(block.contains("\"blockhash\":\"bh_7\"") && block.contains("sig_7_0"))
    }
  }

  test("null result means chain-skipped slot -> None (rpc.rs:133-136)") {
    withStub { case ("getBlock", _, _) => Right("null") } { url =>
      assert(new RpcClient(cfg(url), sleep = _ => ()).getBlock(97L).isEmpty)
    }
  }

  test("200 body with NEITHER result nor error is a loud 502, never a " +
      "silent chain-skipped None") {
    // a gateway interstitial ({"message":"quota exceeded"}) parsed as
    // `result: null` would make a backfill fetch nothing and mark the
    // range complete — permanent silent data loss
    withStub { case ("getBlock", _, _) =>
      Left(200 -> """{"message":"quota exceeded"}""")
    } { url =>
      val e = intercept[RpcError](
        new RpcClient(cfg(url, retries = 1), sleep = _ => ()).getBlock(1L))
      assert(e.code == 502 && e.retryable)
      assert(e.getMessage.contains("quota exceeded"))
    }
  }

  test("429 then 5xx then success: bounded exponential backoff, every attempt counted") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    // attempt 0 fails at the HTTP layer (429); attempt 1 returns an
    // HTTP 200 carrying a JSON-RPC 503 error object — the two failure
    // shapes the reference treats asymmetrically (it retries only the
    // latter, rpc.rs:85-101) both retry here
    withStub {
      case ("getBlock", _, 0) => Left(429 -> "busy")
      case ("getBlock", _, 1) =>
        Left(200 -> s"""{"jsonrpc":"2.0","id":1,"error":{"code":503,"message":"unavailable"}}""")
      case ("getBlock", Some(s), _) => Right(Backfill.syntheticBlock(s).get)
      case other => fail(s"unexpected: $other")
    } { url =>
      val c = new RpcClient(RpcConfig(url, maxRetries = 5, ratePerSec = 0.0,
        retryBaseMs = 4L), sleep = sleeps += _)
      assert(c.getBlock(3L).nonEmpty)
      assert(sleeps.toSeq == Seq(4L, 8L)) // base<<0, base<<1
    }
  }

  test("retry budget exhausted: the retryable error finally surfaces") {
    withStub { case ("getBlock", _, _) => Left(503 -> "down") } { url =>
      val e = intercept[RpcError](
        new RpcClient(cfg(url, retries = 2), sleep = _ => ()).getBlock(1L))
      assert(e.code == 503 && e.retryable)
    }
  }

  test("permanent RPC error (bad params) fails fast: exactly one attempt") {
    val calls = new AtomicInteger
    withStub {
      case ("getBlock", _, n) =>
        calls.incrementAndGet()
        Left(200 -> s"""{"jsonrpc":"2.0","id":1,"error":{"code":-32602,"message":"invalid params"}}""")
    } { url =>
      val e = intercept[RpcError](
        new RpcClient(cfg(url), sleep = _ => ()).getBlock(1L))
      assert(e.code == -32602 && !e.retryable)
      assert(calls.get == 1, "a deterministic failure must not burn the retry budget")
    }
  }

  test("transport failure (connection refused) is retryable and surfaces as 599") {
    // a port nothing listens on: bind-then-close to reserve a dead one
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val deadUrl = s"http://127.0.0.1:${srv.getAddress.getPort}/"
    srv.stop(0)
    val sleeps = new AtomicInteger
    val e = intercept[RpcError](new RpcClient(
      RpcConfig(deadUrl, maxRetries = 2, ratePerSec = 0.0, retryBaseMs = 1L),
      sleep = _ => sleeps.incrementAndGet()).getBlock(1L))
    assert(e.code == 599 && sleeps.get == 2)
  }

  test("full RPC surface parity: getTransaction / signatures page / " +
      "program accounts / block height (rpc.rs:139-213)") {
    withStub {
      case ("getTransaction", _, _) => Right("""{"slot":5,"meta":{"err":null}}""")
      case ("getSignaturesForAddress", _, _) =>
        Right("""[{"signature":"s1"},{"signature":"s2"}]""")
      case ("getProgramAccounts", _, _) => Right("""[{"pubkey":"p1"}]""")
      case ("getBlockHeight", _, _) => Right("98765")
      case other => fail(s"unexpected: $other")
    } { url =>
      val c = new RpcClient(cfg(url), sleep = _ => ())
      assert(c.getTransaction("sig_with\"quote").get.contains("\"slot\":5"))
      val sigs = c.getSignaturesForAddress("addr", limit = Some(2),
        before = Some("s0"))
      assert(sigs.map(s => s.contains("signature")) == Seq(true, true))
      assert(c.getProgramAccounts("prog").head.contains("p1"))
      assert(c.getBlockHeight() == 98765L)
    }
    // null transaction → unknown signature → None (reference contract);
    // non-array page results read as empty, not a crash
    withStub {
      case ("getTransaction", _, _) => Right("null")
      case ("getSignaturesForAddress", _, _) => Right("null")
      case other => fail(s"unexpected: $other")
    } { url =>
      val c = new RpcClient(cfg(url), sleep = _ => ())
      assert(c.getTransaction("unknown").isEmpty)
      assert(c.getSignaturesForAddress("addr").isEmpty)
    }
  }

  test("config from env: reference names and defaults (config.rs:41-52)") {
    val c = RpcConfig.fromEnv(Map("SOLANA_RPC_URL" -> "http://h/"))
    assert(c.maxRetries == 5 && c.timeoutSeconds == 30L && c.ratePerSec == 50.0)
    val c2 = RpcConfig.fromEnv(Map("SOLANA_RPC_URL" -> "http://h/",
      "ALCHEMY_MAX_RETRIES" -> "2", "ALCHEMY_TIMEOUT_SECONDS" -> "5",
      "ALCHEMY_RATE_LIMIT" -> "9"))
    assert(c2.maxRetries == 2 && c2.timeoutSeconds == 5L && c2.ratePerSec == 9.0)
    intercept[IllegalArgumentException](RpcConfig.fromEnv(Map.empty))
    // rate floor (rpc.rs:48 max(1, rate)): "0"/negative would read as
    // UNLIMITED to RateLimiter — a throttled-at-the-reference deployment
    // must not hammer unthrottled here
    val c3 = RpcConfig.fromEnv(Map("SOLANA_RPC_URL" -> "http://h/",
      "ALCHEMY_RATE_LIMIT" -> "0"))
    assert(c3.ratePerSec == 1.0)
    val c4 = RpcConfig.fromEnv(Map("SOLANA_RPC_URL" -> "http://h/",
      "ALCHEMY_RATE_LIMIT" -> "-7"))
    assert(c4.ratePerSec == 1.0)
  }

  test("backfill end-to-end through the HTTP fetcher: task-serialized closure, " +
      "flaky endpoint healed by retries, missing slots skipped") {
    withStub {
      // every slot's FIRST attempt is a 500; slot 97k pattern returns null
      case ("getBlock", Some(s), 0) => Left(500 -> "flaky")
      case ("getBlock", Some(s), _) =>
        Backfill.syntheticBlock(s).map(Right(_)).getOrElse(Right("null"))
      case other => fail(s"unexpected: $other")
    } { url =>
      val out = java.nio.file.Files.createTempDirectory("rpc_bf").toString + "/sink"
      Backfill.run(spark, 90L, 110L, workers = 4, out,
        fetcher = RpcClient.fetcher(RpcConfig(url, maxRetries = 3,
          ratePerSec = 0.0, retryBaseMs = 1L)))
      val got = spark.read.parquet(out)
      // slot 97 missing (null), 19 slots × 2 tx in range, events = 19×(tx fan-out)
      val slots = got.select("slot").distinct().collect().map(_.getLong(0)).sorted
      assert(slots.toSeq == (90L until 110L).filter(_ % 97 != 0))
      // identical to the synthetic-fetcher parse of the same range
      val expect = graft.ingest.Parse.parse(
        Backfill.fetchRange(spark, 90L, 110L, 4)).count()
      assert(got.count() == expect)
    }
  }

  test("backfill verb's fetcher: SOLANA_RPC_URL routes every slot through " +
      "the endpoint; unset, the result equals a synthetic backfill") {
    val requested = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    // the stub's chain skips every third slot, so its rows differ from
    // the synthetic blocks'
    val stubBlock: Backfill.BlockFetcher =
      s => if (s % 3 == 0) None else Backfill.syntheticBlock(s)
    withStub {
      case ("getBlock", Some(s), _) =>
        requested.add(s)
        Right(stubBlock(s).getOrElse("null"))
      case other => fail(s"unexpected: $other")
    } { url =>
      val base = java.nio.file.Files.createTempDirectory("rpc_verb").toString
      def backfill(name: String, env: Map[String, String]) = {
        Backfill.runTo(spark, 90L, 110L, 4, Backfill.FileSink(s"$base/$name"),
          graft.Main.fetcherFor(env))
        spark.read.parquet(s"$base/$name").drop("block_date")
      }
      // rows as sorted strings: a multiset compare (exceptAll over the
      // deduplicated parse fails to bind in Spark's planner)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      def parsed(fetcher: Backfill.BlockFetcher) = rows(graft.ingest.Parse.parse(
        Backfill.fetchRange(spark, 90L, 110L, 4, fetcher)))
      val live = rows(backfill("live", Map("SOLANA_RPC_URL" -> url)))
      assert(requested.size == 20)
      assert(live.nonEmpty && live == parsed(stubBlock))
      val synthetic = rows(backfill("synthetic", Map.empty))
      assert(requested.size == 20, "no endpoint configured, yet the stub was called")
      assert(synthetic.size > live.size && synthetic == parsed(Backfill.syntheticBlock))
    }
  }

  test("incremental-blocks over live RPC: streaming DSv2 + endpoint drains " +
      "to the tip through the idempotent sink (429s healed mid-stream)") {
    withStub {
      case ("getBlock", Some(s), 0) if s % 7 == 0 => Left(429 -> "busy")
      case ("getBlock", Some(s), _) =>
        Backfill.syntheticBlock(s).map(Right(_)).getOrElse(Right("null"))
      case other => fail(s"unexpected: $other")
    } { url =>
      val base = java.nio.file.Files.createTempDirectory("rpc_inc").toString
      val raw = spark.readStream.format("graft.sources.BlockSource")
        .option("startSlot", 1L).option("tipSlot", 61L)
        .option("workers", 2).option("maxSlotsPerTrigger", 20L)
        .option("endpoint", url)
        .option("maxRetries", 3).option("retryBaseMs", 1L)
        .load()
      val q = graft.ingest.Incremental.startFromRaw(raw, s"$base/sink", s"$base/ckpt")
      q.awaitTermination()
      val got = spark.read.parquet(s"$base/sink")
      val expect = graft.ingest.Parse.parse(
        Backfill.fetchRange(spark, 1L, 61L, 2))
      assert(got.count() == expect.count())
      assert(got.select("slot").distinct().count() ==
        (1L until 61L).count(_ % 97 != 0))
    }
  }

  test("DSv2 endpoint option: batch read fetches via live RPC with per-attempt permits") {
    withStub {
      case ("getBlock", Some(s), 0) if s % 3 == 0 => Left(429 -> "busy")
      case ("getBlock", Some(s), _) =>
        Backfill.syntheticBlock(s).map(Right(_)).getOrElse(Right("null"))
      case other => fail(s"unexpected: $other")
    } { url =>
      val df = spark.read.format("graft.sources.BlockSource")
        .option("startSlot", 1L).option("endSlot", 21L)
        .option("workers", 2)
        .option("endpoint", url)
        .option("maxRetries", 3).option("retryBaseMs", 1L)
        .load()
      val slots = df.select("slot").collect().map(_.getLong(0)).sorted
      assert(slots.toSeq == (1L until 21L))
      // payloads really came over HTTP (Jackson-normalized, still parseable)
      val events = graft.ingest.Parse.parse(df)
      assert(events.count() > 0)
    }
  }
}
