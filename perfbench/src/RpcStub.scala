package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Which requests the primary endpoint refuses with 503.
  *
  * Stratified rather than Bernoulli so every work item carries the same
  * retry cost: in each run of 50 consecutive heights exactly one seeded
  * height fails its first attempt on one seeded route (`/block` or
  * `/block_results`), which is 1 % of first attempts. A client's heights
  * in `down` fail their first three `/block` attempts, so that client
  * exhausts its retries on the primary and rotates to the secondary. */
final case class FailurePlan(seed: Long, down: Map[String, Set[Long]] = Map.empty) {
  def failures(client: String, route: String, height: Long): Int =
    if (route == "/block" && down.get(client).exists(_.contains(height))) 3
    else {
      val stratum = (height - 1) / 50
      val pick = Chain.mix(seed ^ 0x5EEDL, stratum)
      val offset = java.lang.Math.floorMod(pick, 50L)
      val onBlock = ((pick >>> 32) & 1L) == 0L
      if (height == stratum * 50 + 1 + offset && (route == "/block") == onBlock) 1 else 0
    }
}

/** Two-endpoint in-process Tendermint RPC node over the JDK HTTP server.
  *
  * URLs carry a client prefix (`http://host:port/<client>/block?...`) so
  * independent clients (the untraced and traced warehouses of a traced
  * run) each meet the same failure plan. Per-endpoint counters record
  * requests, 503s, response bytes and handler busy time, so the stub's own
  * cost is never read as client cost. Threads: `threads - 1` for the
  * primary, one for the secondary. */
final class RpcStub(chain: Chain, plan: FailurePlan, threads: Int) extends AutoCloseable {
  // TCP_NODELAY on the stub's sockets: with Nagle on, the JDK server's
  // separate header and body writes meet the client's delayed ACK and every
  // response waits ~40 ms, a stub artefact that would read as fetch cost
  System.setProperty("sun.net.httpserver.nodelay", "true")

  final class Endpoint(val name: String, primary: Boolean, nThreads: Int) {
    val requests = new AtomicLong
    val refused = new AtomicLong
    val bytes = new AtomicLong
    val busyNanos = new AtomicLong
    private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
    private val pool: ExecutorService = Executors.newFixedThreadPool(nThreads, new ThreadFactory {
      private val n = new AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"rpc-stub-$name-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()

    def base(client: String): String = s"http://127.0.0.1:${server.getAddress.getPort}/$client"

    private def handle(ex: HttpExchange): Unit = {
      val t0 = System.nanoTime()
      try {
        val uri = ex.getRequestURI
        val full = uri.getRawPath
        val cut = full.indexOf('/', 1)
        val client = if (cut < 0) "" else full.substring(1, cut)
        val route = if (cut < 0) full else full.substring(cut)
        val query = Option(uri.getRawQuery)
        val path = route + query.map("?" + _).getOrElse("")
        requests.incrementAndGet()
        val planned =
          if (!primary || route == "/status") 0
          else query.filter(_.startsWith("height=")).map(q => plan.failures(client, route, q.drop(7).toLong)).getOrElse(0)
        val attempt =
          if (planned == 0) Int.MaxValue
          else attempts.computeIfAbsent(full + "?" + query.getOrElse(""), _ => new AtomicInteger).incrementAndGet()
        if (attempt <= planned) {
          refused.incrementAndGet()
          respond(ex, 503, "{\"error\":\"service unavailable\"}")
        } else chain.respond(path) match {
          case Some(body) => respond(ex, 200, body)
          case None => respond(ex, 404, "{\"error\":\"not found\"}")
        }
      } finally busyNanos.addAndGet(System.nanoTime() - t0)
    }

    private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val out = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, out.length)
      ex.getResponseBody.write(out)
      ex.close()
      bytes.addAndGet(out.length)
    }

    def stop(): Unit = {
      server.stop(0)
      pool.shutdownNow()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  val primary = new Endpoint("primary", primary = true, math.max(1, threads - 1))
  val secondary = new Endpoint("secondary", primary = false, 1)

  def endpoints(client: String): Seq[String] = Seq(primary.base(client), secondary.base(client))

  def counters: RpcStub.Counters = RpcStub.Counters(
    primary.requests.get + secondary.requests.get,
    primary.refused.get + secondary.refused.get,
    primary.bytes.get + secondary.bytes.get,
    primary.busyNanos.get + secondary.busyNanos.get,
    secondary.requests.get)

  /** Stops both endpoints together: each stop waits out its dispatcher's
    * one-second poll. */
  def close(): Unit = {
    val t = new Thread(() => secondary.stop())
    t.start()
    primary.stop()
    t.join()
  }
}

object RpcStub {
  final case class Counters(requests: Long, refused: Long, bytes: Long, busyNanos: Long,
                            secondaryRequests: Long) {
    def -(o: Counters): Counters = Counters(requests - o.requests, refused - o.refused,
      bytes - o.bytes, busyNanos - o.busyNanos, secondaryRequests - o.secondaryRequests)
    def +(o: Counters): Counters = Counters(requests + o.requests, refused + o.refused,
      bytes + o.bytes, busyNanos + o.busyNanos, secondaryRequests + o.secondaryRequests)
  }
}
