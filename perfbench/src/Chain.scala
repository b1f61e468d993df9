package perfbench

import java.time.Instant
import java.util.{Base64, SplittableRandom}

/** Seeded synthetic Tendermint chain. Every height's `/block` and
  * `/block_results` body is a pure function of (seed, height), so the RPC
  * stub and the correctness oracles see the same chain without storing it.
  *
  * Shape: a tx count per block with mean ~5 (one block in ten is empty),
  * 2 events x 2 attributes per tx, 0-2 finalize-block events per block,
  * and one block per ~60 s of chain time (so a run spans several MV days).
  * Serializable: the in-memory transport ships it to Spark tasks. */
final case class Chain(seed: Long, tip: Long) {

  private val genesis = Instant.parse("2025-06-01T00:00:00Z").getEpochSecond
  private val eventTypes = Array("message", "message", "wasm", "wasm", "transfer", "coin_spent")
  private val attrKeys = Array("action", "sender", "receiver", "amount", "module", "_contract_address")

  private def rng(height: Long, salt: Long) =
    new SplittableRandom(Chain.mix(seed, height * 8 + salt))

  def txCount(height: Long): Int = {
    val r = rng(height, 1)
    if (r.nextInt(10) == 0) 0 else 1 + r.nextInt(9)
  }

  private def b64(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val bytes = new Array[Byte](minLen + r.nextInt(maxLen - minLen + 1))
    var i = 0
    while (i < bytes.length) { bytes(i) = r.nextInt(256).toByte; i += 1 }
    Base64.getEncoder.encodeToString(bytes)
  }

  private def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n * 2)
    for (_ <- 0 until n) sb.append(f"${r.nextInt(256)}%02X")
    sb.toString
  }

  private def attrs(sb: StringBuilder, r: SplittableRandom, height: Long, n: Int): Unit = {
    sb.append("\"attributes\":[")
    for (a <- 0 until n) {
      if (a > 0) sb.append(',')
      sb.append("{\"key\":\"").append(attrKeys(r.nextInt(attrKeys.length)))
        .append("\",\"value\":\"zig1").append(java.lang.Long.toHexString(r.nextLong() ^ height))
        .append("\",\"index\":").append(r.nextBoolean()).append('}')
    }
    sb.append(']')
  }

  def blockJson(height: Long): String = {
    val r = rng(height, 2)
    val secs = genesis + height * 60 + r.nextInt(60)
    val nanos = if (r.nextInt(4) == 0) 0 else r.nextInt(1000000000)
    val sb = new StringBuilder(1024)
    sb.append("{\"jsonrpc\":\"2.0\",\"id\":-1,\"result\":{\"block_id\":{\"hash\":\"")
      .append(hex(r, 32)).append("\"},\"block\":{\"header\":{\"chain_id\":\"zigchain-1\",\"height\":\"")
      .append(height).append("\",\"time\":\"").append(Instant.ofEpochSecond(secs, nanos))
      .append("\",\"app_hash\":\"").append(hex(r, 32)).append("\"},\"data\":{\"txs\":[")
    val tr = rng(height, 3)
    for (i <- 0 until txCount(height)) {
      if (i > 0) sb.append(',')
      sb.append('"').append(b64(tr, 40, 160)).append('"')
    }
    sb.append("]}}}}").toString
  }

  def blockResultsJson(height: Long): String = {
    val n = txCount(height)
    val r = rng(height, 4)
    val sb = new StringBuilder(2048)
    sb.append("{\"jsonrpc\":\"2.0\",\"id\":-1,\"result\":{\"height\":\"").append(height)
      .append("\",\"txs_results\":")
    if (n == 0) sb.append("null")
    else {
      sb.append('[')
      for (i <- 0 until n) {
        if (i > 0) sb.append(',')
        val wanted = 80000 + r.nextInt(220000)
        val code = if (r.nextInt(20) == 0) 1 + r.nextInt(12) else 0
        sb.append("{\"code\":").append(code)
          .append(",\"gas_wanted\":\"").append(wanted)
          .append("\",\"gas_used\":\"").append(wanted * (30 + r.nextInt(70)) / 100)
          .append("\",\"data\":\"").append(if (r.nextInt(3) == 0) "" else b64(r, 8, 24))
          .append("\",\"log\":\"").append(if (code == 0) "" else s"out of gas in location: $code")
          .append("\",\"events\":[")
        for (e <- 0 until 2) {
          if (e > 0) sb.append(',')
          sb.append("{\"type\":\"").append(eventTypes(r.nextInt(eventTypes.length))).append("\",")
          attrs(sb, r, height, 2)
          sb.append('}')
        }
        sb.append("]}")
      }
      sb.append(']')
    }
    sb.append(",\"finalize_block_events\":[")
    for (e <- 0 until r.nextInt(3)) {
      if (e > 0) sb.append(',')
      sb.append("{\"type\":\"").append(if (e == 0) "coin_received" else "mint").append("\",")
      attrs(sb, r, height, 2)
      sb.append('}')
    }
    sb.append("],\"validator_updates\":[],\"consensus_param_updates\":null}}").toString
  }

  def statusJson: String =
    s"""{"jsonrpc":"2.0","id":-1,"result":{"node_info":{"network":"zigchain-1"},"sync_info":{"latest_block_height":"$tip","catching_up":false}}}"""

  /** Body for an RPC path (`/status`, `/block?height=h`, `/block_results?height=h`). */
  def respond(path: String): Option[String] = {
    val q = path.indexOf('?')
    val route = if (q < 0) path else path.substring(0, q)
    def height = path.substring(path.indexOf("height=") + 7).toLong
    route match {
      case "/status" => Some(statusJson)
      case "/block" => Some(blockJson(height))
      case "/block_results" => Some(blockResultsJson(height))
      case _ => None
    }
  }

  /** `(base, path) => body` transport that answers from this chain without
    * HTTP: the oracle-side decode of exactly what the stub serves. */
  def transport: (String, String) => String = {
    val c = this
    (_, path) => c.respond(path).getOrElse(throw new RuntimeException(s"no route $path"))
  }
}

object Chain {
  /** SplitMix64 finaliser over (seed, key): independent streams per height. */
  def mix(seed: Long, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + key
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
