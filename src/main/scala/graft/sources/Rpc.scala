package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** S1–S5: the Tendermint RPC source layer.
  *
  * Transport is pluggable (`String => String`, path -> response body): this
  * container has no egress, production passes a real HTTP GET; tests pass a
  * fixture lookup. Retry/rotation semantics follow the reference
  * (`/root/reference/src/core/worker.js:21-45`, `scripts/retry_failed.js:32-54`):
  * rotate to the next endpoint after `retriesPerEndpoint` consecutive
  * failures, linear backoff capped at 5× base, give up after one full cycle
  * of retries × endpoints.
  */
final case class RpcConfig(
    endpoints: Seq[String],
    retriesPerEndpoint: Int = 3,
    backoffMs: Long = 600,
    sleeper: Long => Unit = Thread.sleep)

/** Serializable so executors can fetch inside mapPartitions. */
class RpcClient(cfg: RpcConfig, transport: (String, String) => String)
    extends Serializable {

  /** S5: bounded retry with endpoint rotation. (Plain while loop: a `return`
    * from inside a for-comprehension closure is a ControlThrowable that a
    * broad catch would swallow.) */
  def get(path: String): String = {
    var endpointIdx = 0
    var lastErr: Throwable = null
    val maxAttempts = cfg.retriesPerEndpoint * math.max(1, cfg.endpoints.length)
    var attempt = 1
    while (attempt <= maxAttempts) {
      val url = cfg.endpoints(endpointIdx % cfg.endpoints.length)
      try {
        val body = transport(url, path)
        if (body == null || body.isEmpty)
          throw new RuntimeException(s"empty response from $url$path")
        return body
      } catch {
        case scala.util.control.NonFatal(e) =>
          lastErr = e
          if (attempt % cfg.retriesPerEndpoint == 0) endpointIdx += 1
          if (attempt < maxAttempts)
            cfg.sleeper(cfg.backoffMs * math.min(attempt, 5))
      }
      attempt += 1
    }
    throw new RuntimeException(s"All RPC endpoints failed for path: $path", lastErr)
  }

  /** S3: tip discovery — latest_block_height from /status (scalar fetch). */
  def latestHeight(): Long = {
    val body = get("/status")
    // minimal extraction without a JSON lib on the driver hot path
    val m = """"latest_block_height"\s*:\s*"?(\d+)"?""".r
    m.findFirstMatchIn(body).map(_.group(1).toLong)
      .getOrElse(throw new RuntimeException("no latest_block_height in /status"))
  }
}

object RpcSource {

  /** S1+S2: distributed fetch of a height range -> envelope DataFrame.
    * Heights are range-partitioned so each task fetches a contiguous chunk
    * (the reference's splitRange → worker processes, here Spark tasks); the
    * per-task loop is the reference's per-height fetch pair. */
  def fetchEnvelopes(spark: SparkSession, client: RpcClient,
                     start: Long, end: Long, parallelism: Int): DataFrame = {
    import spark.implicits._
    val raw = spark.range(start, end + 1)
      .repartitionByRange(math.max(1, parallelism), col("id"))
      .map { h =>
        (h, client.get(s"/block?height=$h"), client.get(s"/block_results?height=$h"))
      }
      .toDF("height", "block_json", "block_results_json")
    val parsed = raw.select(
      col("height"),
      from_json(col("block_json"), Schemas.blockRpc).as("b"),
      from_json(col("block_results_json"), Schemas.blockResultsRpc).as("r"))
    parsed.select(
      col("height"),
      col("b.result.block.header.time").as("time"),
      col("b.result.block.header.app_hash").as("app_hash"),
      col("b.result.block.data.txs").as("txs"),
      col("r.result.txs_results").as("txs_results"),
      col("r.result.finalize_block_events").as("finalize_block_events"))
  }
}
