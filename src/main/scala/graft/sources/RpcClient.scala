package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Live JSON-RPC source config — the reference's `AlchemyConfig`
  * (/root/reference/src/config.rs:13-18,41-52): same env names, same
  * defaults. One deliberate difference: the reference hardcodes a keyed
  * vendor URL as the default endpoint (config.rs:40); a library must
  * not ship a credential, so the endpoint comes from `SOLANA_RPC_URL`
  * (or an explicit argument) and there is no default.
  */
final case class RpcConfig(
    url: String,
    maxRetries: Int = 5,
    timeoutSeconds: Long = 30L,
    ratePerSec: Double = 50.0,
    /** Backoff base for retry n = `retryBaseMs << n`. The reference
      * waits whole seconds (rpc.rs:88); tests inject small values. */
    retryBaseMs: Long = 1000L)

object RpcConfig {
  /** Env-driven form (reference env names, config.rs:41-52). Absent
    * URL is a loud error — a fetcher silently pointed nowhere is the
    * one misconfiguration that must not default. */
  def fromEnv(env: Map[String, String] = sys.env): RpcConfig = RpcConfig(
    url = env.getOrElse("SOLANA_RPC_URL",
      throw new IllegalArgumentException("SOLANA_RPC_URL is not set")),
    maxRetries = env.get("ALCHEMY_MAX_RETRIES").flatMap(_.toIntOption).getOrElse(5),
    timeoutSeconds = env.get("ALCHEMY_TIMEOUT_SECONDS").flatMap(_.toLongOption).getOrElse(30L),
    // floor at 1 req/s like the reference (rpc.rs:48 max(1, rate)):
    // RateLimiter treats <=0 as UNLIMITED (a deliberate test seam), so
    // an env misconfiguration of "0" — which the reference keeps
    // throttled — must not reach the live client as "hammer freely"
    ratePerSec = math.max(1.0,
      env.get("ALCHEMY_RATE_LIMIT").flatMap(_.toDoubleOption).getOrElse(50.0)))

  /** The block source's RPC options: `endpoint` plus one option per
    * remaining field, under the field's name. */
  def toOptions(c: RpcConfig): Map[String, String] = Map(
    "endpoint" -> c.url,
    "maxRetries" -> c.maxRetries.toString,
    "timeoutSeconds" -> c.timeoutSeconds.toString,
    "ratePerSec" -> c.ratePerSec.toString,
    "retryBaseMs" -> c.retryBaseMs.toString)

  /** Reads [[toOptions]] back; an absent field takes the case class
    * default. No `endpoint` ⇒ None: the source reads synthetic blocks. */
  def fromOptions(o: CaseInsensitiveStringMap): Option[RpcConfig] =
    Option(o.get("endpoint")).map { url =>
      val d = RpcConfig(url)
      RpcConfig(url,
        maxRetries = o.getInt("maxRetries", d.maxRetries),
        timeoutSeconds = o.getLong("timeoutSeconds", d.timeoutSeconds),
        ratePerSec = o.getDouble("ratePerSec", d.ratePerSec),
        retryBaseMs = o.getLong("retryBaseMs", d.retryBaseMs))
    }
}

/** A JSON-RPC failure. `retryable` mirrors the reference's retry set —
  * 429 and 5xx (rpc.rs:85-101) — applied to BOTH the HTTP status and
  * the JSON-RPC error object's code (the reference only inspects the
  * latter and lets a transport-level 429 kill the run through its
  * `.json()` parse; treating the two uniformly is strictly safer). */
final case class RpcError(code: Long, message: String)
    extends RuntimeException(s"RPC error $code: $message") {
  def retryable: Boolean = code == 429 || (code >= 500 && code < 600)
}

/** Rate-limited, retrying Solana JSON-RPC client
  * (/root/reference/src/rpc.rs:40-137) on `java.net.http` — the live
  * implementation of the [[graft.ingest.Backfill.BlockFetcher]] seam,
  * which backfill and the DSv2 block source's `endpoint` option both
  * fetch through. `call` is the engine's one retry loop and this
  * client its one [[RateLimiter]].
  *
  * Concurrency model: ONE client per fetch partition (the reference's
  * connection-per-worker, backfill.rs:46-48), so `ratePerSec` is a
  * per-partition ceiling and the cluster-wide rate is workers × rate —
  * identical to the reference's scheme and bounded by the partition
  * count, which [[graft.EtlConfig.backfillChunkSize]] controls.
  *
  * Retry model: every attempt (including retries) takes a rate-limiter
  * permit BEFORE sending, so the configured ceiling holds while the
  * endpoint is failing; backoff is `retryBaseMs · 2ⁿ` up to
  * `maxRetries`, then the error surfaces (rpc.rs:61-108). Transport
  * errors (connect/timeout IOExceptions) retry on the same schedule.
  * Non-retryable RPC errors (bad params, method not found) surface
  * immediately — retrying a deterministic failure only burns quota.
  */
final class RpcClient(config: RpcConfig,
    sleep: Long => Unit = Thread.sleep) {

  private val mapper = new ObjectMapper
  private val limiter = new RateLimiter(config.ratePerSec)
  private val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(config.timeoutSeconds))
    .build()

  /** `getSlot` at confirmed commitment (rpc.rs:110-115) — the chain-tip
    * probe (SURVEY §2.1 S2) that prices `tipSlot` for the block source
    * and the health verb's chain side. */
  def getSlot(): Long = {
    val res = call("getSlot", """[{"commitment":"confirmed"}]""")
    if (!res.canConvertToLong) throw RpcError(-1, s"invalid slot response: $res")
    res.asLong()
  }

  /** `getBlock` with the reference's exact params (rpc.rs:117-131):
    * full transaction details, no rewards, legacy-capped version. A
    * JSON `null` result means the slot was skipped by the chain → None
    * (rpc.rs:133-136), the parser's warn-and-skip contract. */
  def getBlock(slot: Long): Option[String] = {
    val params =
      s"""[$slot,{"encoding":"jsonParsed","transactionDetails":"full",""" +
        s""""rewards":false,"maxSupportedTransactionVersion":0}]"""
    val res = call("getBlock", params)
    if (res.isNull) None else Some(mapper.writeValueAsString(res))
  }

  /** One JSON-RPC call with pacing + bounded-exponential retry. */
  private def call(method: String, paramsJson: String): JsonNode = {
    val body = s"""{"jsonrpc":"2.0","id":1,"method":"$method","params":$paramsJson}"""
    val request = HttpRequest.newBuilder(URI.create(config.url))
      .timeout(Duration.ofSeconds(config.timeoutSeconds))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    var attempt = 0
    while (true) {
      limiter.acquire() // every attempt pays a permit — retries must not multiply the rate
      val failure: RpcError =
        try {
          val resp = http.send(request, HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() == 200) {
            val node = mapper.readTree(resp.body())
            val err = node.get("error")
            if (err == null || err.isNull) {
              val res = node.get("result")
              // a 200 body with NEITHER result nor error is not
              // JSON-RPC (a gateway's "quota exceeded" page, a proxy
              // interstitial): it must NOT read as `"result":null` —
              // getBlock would map every slot to chain-skipped None
              // and a backfill would mark the range complete having
              // fetched nothing. 502 keeps it in the retryable band
              // (gateway hiccups heal), then it surfaces loudly.
              if (res == null) RpcError(502,
                s"malformed JSON-RPC response (no result/error): ${resp.body().take(200)}")
              else return res
            } else RpcError(
              Option(err.get("code")).map(_.asLong(-1L)).getOrElse(-1L),
              Option(err.get("message")).map(_.asText("")).getOrElse(""))
          } else RpcError(resp.statusCode(), s"HTTP ${resp.statusCode()}")
        } catch {
          // transport failure: connect refused, read timeout, TLS —
          // transient by nature, retried on the same budget. 599 is a
          // conventional network-connect-timeout marker, in the 5xx
          // retryable band.
          case e: java.io.IOException => RpcError(599, s"transport: ${e.getMessage}")
        }
      if (failure.retryable && attempt < config.maxRetries) {
        sleep(config.retryBaseMs << attempt)
        attempt += 1
      } else throw failure
    }
    throw new IllegalStateException("unreachable")
  }
}

object RpcClient {
  /** A [[graft.ingest.Backfill.BlockFetcher]] backed by live RPC. The
    * returned function is serializable (it closes over the plain-data
    * config, not the client); each executor partition lazily builds its
    * own client on first use — the reference's connection-per-worker.
    */
  def fetcher(config: RpcConfig): graft.ingest.Backfill.BlockFetcher = {
    val cfg = config // avoid capturing an outer scope in the closure
    new Function1[Long, Option[String]] with Serializable {
      @transient private lazy val client = new RpcClient(cfg)
      def apply(slot: Long): Option[String] = client.getBlock(slot)
    }
  }
}

/** Nanotime token bucket: each `acquire` claims the next free slot on a
  * fixed `1/ratePerSec` cadence and parks until it arrives. Single-
  * threaded: one client per fetch partition, so no locking. */
private[sources] final class RateLimiter(ratePerSec: Double,
    nanoTime: () => Long = () => System.nanoTime(),
    park: Long => Unit = java.util.concurrent.locks.LockSupport.parkNanos) {
  private val intervalNanos: Long =
    if (ratePerSec <= 0) 0L else (1e9 / ratePerSec).toLong
  private var nextFree: Long = Long.MinValue
  /** Blocks until a permit is free; returns the nanos waited (observable
    * for tests). Parks in a loop — parkNanos may return spuriously, and
    * the pacing contract is at-LEAST 1/rate between permits. */
  def acquire(): Long = {
    if (intervalNanos == 0L) return 0L
    val now = nanoTime()
    val deadline = if (nextFree == Long.MinValue) now else nextFree
    val wait = math.max(0L, deadline - now)
    nextFree = math.max(now, deadline) + intervalNanos
    var t = now
    while (t < deadline) { park(deadline - t); t = nanoTime() }
    wait
  }
}
