package graft.sources

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, Future}

import scala.collection.mutable

import org.apache.spark.TaskContext
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
      // a cancelled fetch stops here, whatever the sleeper and transport do
      if (Thread.interrupted()) throw new InterruptedException(s"RPC fetch of $path cancelled")
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

  /** Heights one fetch task keeps in flight: both requests of each go out
    * together, so a task has at most twice this many requests open. */
  private[graft] val FetchWindow = 8

  /** One fixed pool per JVM for every task's round trips, daemon threads
    * like `Ingest.writePool`'s. Its threads wait on the network or sleep in
    * [[RpcClient]]'s backoff, so it is sized for four tasks' full windows
    * rather than for the cores; more tasks share it, their requests queue. */
  private lazy val fetchPool = Executors.newFixedThreadPool(64,
    (r: Runnable) => {
      val t = new Thread(r, "graft-rpc-fetch")
      t.setDaemon(true)
      t
    })

  /** S1+S2: distributed fetch of a height range -> envelope DataFrame.
    * The heights are sliced into `parallelism` contiguous chunks
    * (`SparkContext.range`: no sampling job, no shuffle, no per-range
    * generated class), one Spark task each — the reference's splitRange →
    * worker processes. A task overlaps its round trips on the JVM's fetch
    * pool: each height's `/block` and `/block_results` go out together
    * (the reference's `Promise.all`, worker.js:404-407), [[FetchWindow]]
    * heights are in flight, and heights are returned as they complete, so a
    * height sleeping in [[RpcClient]]'s backoff holds one slot of the
    * window, not the rest of its slice. A height that fails every attempt
    * fails the task with [[RpcClient.get]]'s own error; the task's
    * outstanding requests are then cancelled and no more are sent. */
  def fetchEnvelopes(spark: SparkSession, client: RpcClient,
                     start: Long, end: Long, parallelism: Int): DataFrame = {
    import spark.implicits._
    val raw = spark.sparkContext.range(start, end + 1, 1, math.max(1, parallelism))
      .mapPartitions(heights => new SliceFetch(client, heights))
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

  /** One task's heights as `(height, block, block_results)` bodies, in
    * completion order, with at most [[FetchWindow]] heights in flight. All
    * state is touched only from the task's thread (Spark runs completion
    * listeners there too). */
  private final class SliceFetch(client: RpcClient, heights: Iterator[Long])
      extends Iterator[(Long, String, String)] {
    private val completed = new ExecutorCompletionService[(Long, Boolean, String)](fetchPool)
    private val outstanding = mutable.Set.empty[Future[(Long, Boolean, String)]]
    /** The body of the half that completed first, by height. */
    private val halves = mutable.Map.empty[Long, String]
    private var inFlight = 0
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      outstanding.foreach(_.cancel(true))
      outstanding.clear()
    })

    private def submit(h: Long, isBlock: Boolean): Unit = {
      val path = if (isBlock) s"/block?height=$h" else s"/block_results?height=$h"
      outstanding += completed.submit(() => (h, isBlock, client.get(path)))
    }

    private def fill(): Unit =
      while (inFlight < FetchWindow && heights.hasNext) {
        val h = heights.next()
        submit(h, isBlock = true)
        submit(h, isBlock = false)
        inFlight += 1
      }

    def hasNext: Boolean = { fill(); inFlight > 0 }

    def next(): (Long, String, String) = {
      if (!hasNext) throw new NoSuchElementException("no heights left in this slice")
      var out: (Long, String, String) = null
      while (out == null) {
        val f = completed.take()
        outstanding -= f
        val (h, isBlock, body) =
          try f.get() catch { case e: ExecutionException => throw e.getCause }
        halves.remove(h) match {
          case None => halves(h) = body
          case Some(other) =>
            inFlight -= 1
            out = if (isBlock) (h, body, other) else (h, other, body)
        }
      }
      out
    }
  }
}
