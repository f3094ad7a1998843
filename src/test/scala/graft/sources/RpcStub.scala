package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A scripted local JSON-RPC stub — no real network. */
object RpcStub {

  /** Serves `body` a stub URL for its duration. `script(method, slot,
    * attempt)` returns either Left(httpStatus -> body) or
    * Right(resultJson). Attempt numbers are PER SLOT for getBlock,
    * global for getSlot. */
  def withStub[T](
      script: (String, Option[Long], Int) => Either[(Int, String), String])(
      body: String => T): T = {
    // JDK HttpServer leaves Nagle on → ~40ms delayed-ACK stalls per
    // loopback request; irrelevant to correctness but it makes the
    // Spark end-to-end tests crawl
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
}
