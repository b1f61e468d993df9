package graft.ingest

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.Tune
import graft.functions.Fns
import graft.queries.Mvs
import graft.store.Store

/** The one ingest writer (SURVEY §2.9/§2.10): flatten an envelope batch once
  * and write its 13 outputs — the 10 analytic tables and the 3 MV partial
  * aggregates — the reference's worker insert plus the insert-time MV
  * triggers ClickHouse fires on it, whichever process made the insert. The
  * driver loop (`Pipeline.ingest`), the exactly-once stream
  * (`StreamingIngest.startExactlyOnce`) and `Bench`'s ingest timing all
  * write through [[write]].
  */
object Ingest {

  /** What one [[write]] wrote: the flattened tables and the blocks write's
    * `graft_ingest` observation. */
  final class Ingested(val tables: FlatTables, blocksObserved: Observation) {
    /** Highest height the blocks write committed (None when it wrote no
      * rows). Waits for the observation, which Spark's listener bus
      * delivers after the write; a delivery that never comes fails loudly
      * instead of blocking forever. */
    def maxHeight: Option[Long] = {
      val row = scala.concurrent.Await.result(blocksObserved.future,
        scala.concurrent.duration.Duration(5, "min"))
      Option(row.getAs[java.lang.Long]("max_height")).map(_.longValue)
    }
  }

  /** Submit independent write jobs CONCURRENTLY and await them all. The
    * 13 per-batch outputs write disjoint paths from one cached input, so
    * serializing them pays 13 × job-submission latency for no ordering
    * benefit — measured as the dominant cost of the 4-batch file-stream
    * gate at sf0.1. Spark's scheduler accepts concurrent job submission
    * from multiple threads (each write is its own job); cached lineages
    * fill the cache cooperatively under BlockManager's per-partition locks,
    * so concurrent writes never recompute (or re-fetch) an input partition
    * whose fill succeeded; a failed fill is retried by the next write that
    * needs the partition (hence the eager fill before unkeyed appends in
    * [[write]]). Failures propagate — but only AFTER every sibling write has come to
    * rest: rethrowing on the first failure while other writes are still in
    * flight would let a retry of the same batch run concurrently with
    * leftover writes to the same table paths (two jobs sharing one output's
    * _temporary dir), corrupting the partition overwrite the exactly-once
    * contract depends on. So: await ALL futures to completion (success or
    * failure), then rethrow the first failure. */
  private lazy val writePool =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        // 16, not 8: a batch fans out 13 writes (10 tables + 3 MVs); an
        // 8-thread pool splits that into two waves and the second wave's
        // stragglers serialize — measured 30 s → (see BENCH) at the sf1
        // flat_stream_mv gate. The writes are I/O-commit-bound on tiny
        // per-batch partitions, so 16 in flight don't contend for cores.
        16,
        (r: Runnable) => {
          val t = new Thread(r, "graft-ingest-write")
          t.setDaemon(true)
          t
        }))

  private def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.util.Try
    val fs = tasks.map(t => Future(t())(writePool))
    // Await every future to quiescence first (Try absorbs the failure so a
    // later await is never skipped), THEN surface the first error.
    val results = fs.map(f => Try(Await.result(f, Duration.Inf)))
    results.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
  }

  /** The input column carrying the batch's processing stamp (an ISO-8601
    * instant string). */
  private val Stamp = "_graft_processed_at"

  /** Flatten `envelopes` and write all 13 outputs under `warehouse`,
    * concurrently. Tables are `height_bucket`-partitioned, height-sorted
    * and bloom-indexed per `Store.bloomColsFor`; the blocks write carries
    * the A16 `observe()` metrics named "graft_ingest" (processed_blocks /
    * total_txs / empty_blocks — the reference worker's streaming counters,
    * worker.js:64-68,495-501 — plus max_height, which the driver loop's
    * height watermark advances from), retrievable via a
    * QueryExecutionListener or [[Ingested.maxHeight]] without a second
    * pass over the data.
    *
    * `key = None` appends. `key = Some(k)` is the exactly-once layout:
    * every output carries `ingest_batch = k` as its LEADING partition
    * directory and the write runs in dynamic partition-overwrite mode, so a
    * redelivery of batch k overwrites exactly the `ingest_batch=k`
    * directories the earlier delivery created — and nothing else. That
    * makes a foreachBatch write idempotent in its batch id (the sink write
    * and the checkpoint commit are two non-atomic steps, so a crash between
    * them replays the batch), mirroring the reference's idempotent
    * ReplacingMergeTree re-insert (worker.js:216-236). Readers drop
    * `ingest_batch` by name like `height_bucket`. The overwrite mode rides
    * each WRITER, never the session conf: a session-global set/restore
    * races concurrent streams sharing the session.
    *
    * An append cannot be undone, so `key = None` caches the input and
    * fills the cache with one pass BEFORE any write starts: an input that
    * cannot be read (an RPC height failing every retry) then fails the call
    * with nothing committed. Without it the failure would sink only the
    * write whose task held that partition's cache lock; each sibling write
    * would re-fetch the height itself and could commit, and the caller's
    * retry of the whole range would append those rows twice.
    *
    * After that fill the unkeyed input is coalesced to the partition count
    * [[Tune.partitionsFor]] gives for the filled cache's size (floor 1):
    * the 13 outputs already write concurrently, so splitting each one
    * across the cores adds per-task cost and files, not parallelism. A
    * 200-height driver-loop item writes 13 single-task jobs and one file
    * per table (was 4 of each on 4 cores). The keyed path keeps its
    * input's partitioning.
    *
    * The batch is stamped once: one processing time, taken when the call
    * starts, fills the `created_at` of `tx_event_attrs_json`, `type_wasm`
    * and `type_message` (the reference's now(), worker.js:216,226,236).
    * It rides the input as a string column that Flatten reads as data
    * through the cache: behind the cache boundary the optimizer cannot fold
    * it into a timestamp literal, so no write's generated code holds the
    * stamp's value and a warm item's 13 writes reuse the classes the
    * previous item compiled. (An uncached keyed input, `cacheInput =
    * false`, still folds it into each write's code.)
    *
    * The MV partials group each tx and event by the `date` Flatten carried
    * down from its own envelope row (`FlatTables.datedTxs`/`datedTxEvents`),
    * with no join back to `blocks`.
    *
    * `cacheInput = false` (keyed writes only; a redelivery overwrites any
    * partial commit) skips caching the input:
    * right when the source is COLUMNAR (parquet staging / landing zone),
    * where 13 concurrent re-scans of a page-cached micro-batch file are
    * cheaper than building one compressed InMemoryRelation of nested rows —
    * the cache build is per-partition SERIAL, so every write lineage queues
    * behind it (measured: the whole fan-out stalled in the fill's 2-5 s
    * shadow at the sf1 stream gate). Keep true for JSON arrival, where
    * re-parsing 13× dwarfs the cache build. A keyed write does no eager
    * fill: the fill overlaps the write fan-out. */
  def write(warehouse: String, envelopes: DataFrame, key: Option[Long],
            cacheInput: Boolean = true): Ingested = {
    def save(df: DataFrame, name: String, partitionCols: Seq[String],
             sortCols: Seq[String]): Unit =
      Store.writeTable(
        key.fold(df)(k => df.withColumn("ingest_batch", lit(k))),
        s"$warehouse/$name",
        partitionCols = key.map(_ => "ingest_batch").toSeq ++ partitionCols,
        sortCols = sortCols,
        bloomCols = Store.bloomColsFor.getOrElse(name, Nil),
        overwritePartitions = key.isDefined)

    val cached = cacheInput || key.isEmpty
    val stamped = envelopes.withColumn(Stamp, lit(java.time.Instant.now().toString))
    val env = if (cached) stamped.cache() else stamped
    try {
      val input =
        if (key.isDefined) env
        else {
          // the fill: one job, no shuffle (a count would add an aggregate
          // stage); computing each cached partition stores all of it
          env.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
          env.coalesce(writePartitions(env))
        }
      val tables = Flatten(input, processedAt = col(Stamp).cast("timestamp"))
      val blocksObserved = Observation("graft_ingest")
      val tableWrites = tables.all.map { case (name, df) => () =>
        val observed =
          if (name == "blocks")
            df.observe(blocksObserved,
              count(lit(1)).as("processed_blocks"),
              coalesce(sum("txs_results_count"), lit(0L)).as("total_txs"),
              count(when(col("txs_results_count") === 0, 1)).as("empty_blocks"),
              max("height").as("max_height"))
          else df
        save(observed.withColumn("height_bucket", Fns.heightBucket(col("height"))),
          name, Seq("height_bucket"), Seq("height"))
      }
      val mvWrites = Seq(
        () => save(Mvs.dailyBlockStatsDelta(tables.blocks), "mv_daily_block_stats", Nil, Nil),
        () => save(Mvs.dailyTxStatsDelta(tables.datedTxs), "mv_daily_tx_stats", Nil, Nil),
        () => save(Mvs.eventTypeStatsDelta(tables.datedTxEvents), "mv_event_type_stats", Nil, Nil))
      runConcurrently(tableWrites ++ mvWrites)
      new Ingested(tables, blocksObserved)
    } finally { if (cached) { env.unpersist(); () } }
  }

  /** Write partitions of an unkeyed batch whose input cache `filled` was
    * just filled: [[Tune.partitionsFor]] over the bytes the cache holds,
    * read live from the cached relation (a plan's memoized statistics could
    * predate the fill). An input that is not cached keeps its partitions. */
  private def writePartitions(filled: DataFrame): Int = {
    val ds = filled.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val bytes = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .fold(BigInt(Long.MaxValue))(_.cachedRepresentation.computeStats().sizeInBytes)
    Tune.partitionsFor(bytes.min(BigInt(Long.MaxValue)).toLong, floor = 1)
  }
}
