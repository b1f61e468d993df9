package graft.ingest

import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileScanRDD, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
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
    * needs the partition (hence the eager fill before any write of a cached
    * batch in [[write]]). Failures propagate — but only AFTER every sibling write has come to
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
    * The batch's own plan picks one of two input modes; `key` only picks
    * the layout ([[parquetScan]]):
    *
    *  - A plain scan of parquet files — a parquet read, or a parquet file
    *    stream's micro-batch — is read directly by every write: 13
    *    concurrent re-scans of a page-cached columnar file are cheaper than
    *    building one compressed InMemoryRelation of nested rows, whose
    *    per-partition SERIAL build every write lineage would queue behind
    *    (measured: the whole fan-out stalled in the fill's 2-5 s shadow at
    *    the sf1 stream gate). Each write re-reads the same bytes.
    *  - Any other batch (RPC fetches, JSON arrivals, computed frames) is
    *    stamped, cached and filled with one pass BEFORE any write starts.
    *    An input that cannot be read (an RPC height failing every retry)
    *    then fails the call with nothing committed: without the fill the
    *    failure would sink only the write whose task held that partition's
    *    cache lock; each sibling write would re-fetch the height itself and
    *    could commit, and an unkeyed caller's retry of the whole range
    *    would append those rows twice. The filled input is then coalesced
    *    to the partition count [[Tune.partitionsFor]] gives for the cache's
    *    size (floor 1): the 13 outputs already write concurrently, so
    *    splitting each one across the cores adds per-task cost and files,
    *    not parallelism. A 200-height driver-loop item writes 13
    *    single-task jobs and one file per table (was 4 of each on 4 cores).
    *
    * The batch is stamped once: one processing time, taken when the call
    * starts, fills the `created_at` of `tx_event_attrs_json`, `type_wasm`
    * and `type_message` (the reference's now(), worker.js:216,226,236).
    * It rides the input as a string column that Flatten reads as data
    * through the cache: behind the cache boundary the optimizer cannot fold
    * it into a timestamp literal, so no write's generated code holds the
    * stamp's value and a warm item's 13 writes reuse the classes the
    * previous item compiled. (A parquet scan, read directly, still folds it
    * into each write's code.)
    *
    * The MV partials group each tx and event by the `date` Flatten carried
    * down from its own envelope row (`FlatTables.datedTxs`/`datedTxEvents`),
    * with no join back to `blocks`. */
  def write(warehouse: String, envelopes: DataFrame, key: Option[Long]): Ingested = {
    def save(df: DataFrame, name: String, partitionCols: Seq[String],
             sortCols: Seq[String]): Unit =
      Store.writeTable(
        key.fold(df)(k => df.withColumn("ingest_batch", lit(k))),
        s"$warehouse/$name",
        partitionCols = key.map(_ => "ingest_batch").toSeq ++ partitionCols,
        sortCols = sortCols,
        bloomCols = Store.bloomColsFor.getOrElse(name, Nil),
        overwritePartitions = key.isDefined)

    val direct = parquetScan(envelopes)
    val stamped = envelopes.withColumn(Stamp, lit(java.time.Instant.now().toString))
    try {
      val input =
        if (direct) stamped
        else {
          stamped.cache()
          // the fill: one job, no shuffle (a count would add an aggregate
          // stage); computing each cached partition stores all of it
          stamped.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
          stamped.coalesce(writePartitions(stamped))
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
    } finally { if (!direct) { stamped.unpersist(); () } }
  }

  /** Whether `batch` is a plain scan of parquet files: a parquet read, or
    * the [[LogicalRDD]] foreachBatch hands a file-stream micro-batch over
    * as, whose RDD is a one-to-one chain down to a [[FileScanRDD]] running
    * the parquet format's reader. A reader this check does not recognize
    * makes the batch cached: slower for a parquet batch, never wrong. */
  private def parquetScan(batch: DataFrame): Boolean = {
    @annotation.tailrec
    def parquetRdd(rdd: RDD[_]): Boolean = (rdd, rdd.dependencies) match {
      case (scan: FileScanRDD, _) => ReadFunction.exists(_.get(scan).getClass.getName
        .startsWith(classOf[ParquetFileFormat].getName))
      case (_, Seq(dep: OneToOneDependency[_])) => parquetRdd(dep.rdd)
      case _ => false
    }
    batch.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.fileFormat.isInstanceOf[ParquetFileFormat]
      case l: LogicalRDD => parquetRdd(l.rdd)
      case _ => false
    }
  }

  /** FileScanRDD's per-file reader function (a constructor field, not API). */
  private lazy val ReadFunction: Option[java.lang.reflect.Field] =
    classOf[FileScanRDD].getDeclaredFields.find(_.getName.endsWith("readFunction"))
      .map { f => f.setAccessible(true); f }

  /** Write partitions of a batch whose input cache `filled` was just
    * filled: [[Tune.partitionsFor]] over the bytes the cache holds,
    * read live from the cached relation (a plan's memoized statistics could
    * predate the fill). An input that is not cached keeps its partitions. */
  private def writePartitions(filled: DataFrame): Int = {
    val ds = filled.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val bytes = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .fold(BigInt(Long.MaxValue))(_.cachedRepresentation.computeStats().sizeInBytes)
    Tune.partitionsFor(bytes.min(BigInt(Long.MaxValue)).toLong, floor = 1)
  }
}
