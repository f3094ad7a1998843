package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import graft.ingest.{Backfill, Parse}

/** In-suite soak of both LIVE-RPC ingest paths, backfill and the
  * block stream: 2,000 slots over real HTTP against a scripted stub,
  * with a 429 burst on every 13th slot, asserting
  *   (1) fail-fast on a permanent error (backfill: ONE permanently-
  *       failing slot) — no retry amplification,
  *   (2) request-count amplification bounded by exactly the injected
  *       429s (work-bound, never wall-clock — PLANS.md epoch variance),
  *   (3) throughput above the reference's own 50 blocks/s ingest
  *       ceiling even while healing the burst (a 20× epoch slowdown
  *       would still pass; measured ~1,770/s),
  *   (4) exactly-once landing across failed, healed and replayed runs
  *       (the event-level anti-join guard).
  */
class RpcSoakSpec extends SparkSpec {

  private val Slots = 2000L
  private val PoisonSlot = 700L // 700 % 13 != 0, 700 % 97 != 0

  /** A stub chain over real HTTP: a 429 on the first attempt at every
    * 13th slot, a non-retryable error at [[PoisonSlot]] while `poisoned`
    * says so. `body` gets the URL and the HTTP request counter. */
  private def withSoakStub(poisoned: () => Boolean = () => false)(
      body: (String, AtomicLong) => Unit): Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val requests = new AtomicLong
    val firstAttempts =
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    server.setExecutor(pool)
    server.createContext("/", { (ex: HttpExchange) =>
      val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val slot = """"params":\[(\d+)""".r.findFirstMatchIn(req).get.group(1).toLong
      requests.incrementAndGet()
      val (status, body) =
        if (slot == PoisonSlot && poisoned()) {
          // JSON-RPC error object with a NON-retryable code: the client
          // must surface it immediately (rpc.rs:85-104 retries only
          // 429/5xx), not burn maxRetries permits reaching the same place
          (200, """{"jsonrpc":"2.0","id":1,"error":{"code":-32602,"message":"invalid params"}}""")
        } else if (slot % 13 == 0 &&
            firstAttempts.putIfAbsent(slot, java.lang.Boolean.TRUE) == null) {
          (429, "busy") // burst: first attempt on every 13th slot
        } else Backfill.syntheticBlock(slot) match {
          case Some(b) => (200, s"""{"jsonrpc":"2.0","id":1,"result":$b}""")
          case None => (200, """{"jsonrpc":"2.0","id":1,"result":null}""")
        }
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes); ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/", requests)
    finally { server.stop(0); pool.shutdownNow(); () }
  }

  private def soakConfig(url: String) =
    RpcConfig(url, maxRetries = 3, ratePerSec = 0.0, retryBaseMs = 1L)

  // ~2000 getBlock calls + exactly the injected 429 retries (one per
  // multiple of 13) + bounded slack for Spark task retries of a failed
  // run's leftovers
  private val MaxRequests = Slots + Slots / 13 + 60

  private def assertExactlyOnce(sink: String): Unit = {
    val landed = spark.read.parquet(sink)
    val expected = Parse.parse(Backfill.fetchRange(spark, 0L, Slots, 8))
    assert(landed.count() == expected.count())
    assert(landed.select("event_id").distinct().count() == landed.count())
  }

  test("2000-slot backfill soak: 429 burst healed, permanent error " +
      "fails fast, replay lands exactly once, throughput above the " +
      "reference ceiling") {
    @volatile var poisonArmed = true
    val poisonAttempts = new AtomicLong
    withSoakStub(() => poisonArmed && { poisonAttempts.incrementAndGet(); true }) {
        (url, requests) =>
      val sink = java.nio.file.Files.createTempDirectory("rpc_soak").toString + "/sink"
      def run(): Unit = Backfill.run(spark, 0L, Slots, workers = 8, sink,
        fetcher = RpcClient.fetcher(soakConfig(url)), chunkSize = Some(250L))
      // run 1: the poisoned slot kills the job — FAST. One HTTP attempt
      // per task try: RpcClient.call must not retry a permanent RPC error.
      intercept[org.apache.spark.SparkException](run())
      val taskTries = poisonAttempts.get
      assert(taskTries >= 1L && taskTries <= 4L, // Spark task retries only
        s"permanent error drew $taskTries attempts — the retry loop " +
          "must not re-attempt a non-retryable RPC error")
      poisonArmed = false
      // run 2 (endpoint healed): the whole range lands through the
      // event-level anti-join on whatever run 1 left behind
      requests.set(0L)
      val t0 = System.nanoTime()
      run()
      val wall = (System.nanoTime() - t0) / 1e9
      assert(requests.get <= MaxRequests,
        s"request amplification: ${requests.get} HTTP calls for $Slots slots")
      assert(wall < Slots / 50.0,
        f"soak ran at ${Slots / wall}%.0f blocks/s — under the reference's " +
          "50/s ceiling; the engine overhead must never be the bottleneck")
      // run 3: full replay converges — exactly-once landing
      run()
      assertExactlyOnce(sink)
    }
  }

  test("2000-slot live stream soak: 8 triggers of 250 slots heal the 429 " +
      "burst, amplification bounded by the injected 429s, replay lands " +
      "exactly once through startFromRaw") {
    withSoakStub() { (url, requests) =>
      val base = java.nio.file.Files.createTempDirectory("rpc_soak_stream").toString
      def drain(ckpt: String) = {
        val raw = spark.readStream.format("graft.sources.BlockSource")
          .option("startSlot", 0L).option("tipSlot", Slots)
          .option("workers", 8).option("maxSlotsPerTrigger", 250L)
          .options(RpcConfig.toOptions(soakConfig(url)))
          .load()
        val q = graft.ingest.Incremental.startFromRaw(raw, s"$base/sink", s"$base/$ckpt")
        q.awaitTermination()
        q
      }
      val triggers = drain("ckpt").recentProgress.count(_.numInputRows > 0)
      assert(triggers == 8, s"$triggers triggers for $Slots slots at 250")
      // every 13th slot's 429 was answered and retried, and nothing more
      assert(requests.get >= Slots + Slots / 13 && requests.get <= MaxRequests,
        s"request amplification: ${requests.get} HTTP calls for $Slots slots")
      // a fresh checkpoint replays every slot into the same sink: the
      // guard lands nothing twice
      drain("ckpt-replay")
      assertExactlyOnce(s"$base/sink")
    }
  }
}
