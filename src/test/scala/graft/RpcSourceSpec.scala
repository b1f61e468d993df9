package graft

import java.util.concurrent.ExecutionException
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{RpcClient, RpcConfig, RpcSource}

/** The sliced, overlapped fetch: each task keeps a bounded window of
  * heights in flight, returns heights as they complete, and on a height
  * that fails every attempt fails with `RpcClient`'s own error and sends
  * nothing more. */
class RpcSourceSpec extends SparkTestBase {
  import RpcSourceSpec._

  private def heightsOf(client: RpcClient, lo: Long, hi: Long) =
    RpcSource.fetchEnvelopes(spark, client, lo, hi, parallelism = 1)
      .collect().map(r => (r.getLong(0), r.getAs[String]("app_hash")))

  test("fetchEnvelopes overlaps a slice's round trips within the window; a backoff holds one height") {
    reset(failing = Set.empty, flaky = Set(3L))
    // the flaky height's first /block attempt fails and sleeps 300 ms
    val client = new RpcClient(RpcConfig(Seq("http://a"), sleeper = ms => Thread.sleep(ms / 2)),
      transport)
    val rows = heightsOf(client, 1, 60)
    assert(rows.map(_._1).sorted.toSeq === (1L to 60L))
    assert(rows.forall { case (h, hash) => hash == s"AH$h" })
    assert(maxInFlight.get() > 2, "the requests of several heights overlap")
    assert(maxInFlight.get() <= 2 * RpcSource.FetchWindow, s"in flight ${maxInFlight.get()}")
    // heights behind the backing-off one went on and completed first
    assert(rows.map(_._1).indexOf(3L) > 10, rows.map(_._1).mkString(","))
  }

  test("fetchEnvelopes: a height failing every attempt fails with RpcClient's error, then no request") {
    reset(failing = Set(7L), flaky = Set.empty)
    val client = new RpcClient(
      RpcConfig(Seq("http://a", "http://b"), retriesPerEndpoint = 2, sleeper = _ => ()), transport)
    val e = intercept[Exception](heightsOf(client, 1, 200))
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage)
      .startsWith("All RPC endpoints failed for path: /block?height=7")), chain.mkString("\n"))
    assert(!chain.exists(_.isInstanceOf[ExecutionException]), chain.mkString("\n"))
    val sent = calls.get()
    Thread.sleep(500)
    assert(calls.get() === sent, "requests after the task failed")
    assert(sent < 2 * 200, s"$sent requests: the slice kept fetching past the failure")
    assert(maxInFlight.get() <= 2 * RpcSource.FetchWindow, s"in flight ${maxInFlight.get()}")
  }
}

object RpcSourceSpec {
  val calls = new AtomicInteger
  val inFlight = new AtomicInteger
  val maxInFlight = new AtomicInteger
  @volatile var failing: Set[Long] = Set.empty
  /** Heights whose first /block attempt fails. */
  private val flakyLeft = new java.util.concurrent.ConcurrentHashMap[Long, AtomicInteger]()

  def reset(failing: Set[Long], flaky: Set[Long]): Unit = {
    Seq(calls, inFlight, maxInFlight).foreach(_.set(0))
    this.failing = failing
    flakyLeft.clear()
    flaky.foreach(h => flakyLeft.put(h, new AtomicInteger(1)))
  }

  /** A fixture chain answering after 5 ms; counts requests and the most in
    * flight at once. */
  val transport: (String, String) => String = (_, path) => {
    calls.incrementAndGet()
    maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
    try {
      Thread.sleep(5)
      val h = path.substring(path.indexOf("height=") + 7).toLong
      val isBlock = !path.startsWith("/block_results")
      if (isBlock && (failing(h) ||
          Option(flakyLeft.get(h)).exists(_.getAndDecrement() > 0)))
        throw new java.io.IOException(s"503 for $path")
      if (isBlock)
        s"""{"result":{"block":{"header":{"time":"2025-07-01T00:00:00Z","app_hash":"AH$h"},"data":{"txs":[]}}}}"""
      else """{"result":{"txs_results":[],"finalize_block_events":[]}}"""
    } finally { inFlight.decrementAndGet(); () }
  }
}
