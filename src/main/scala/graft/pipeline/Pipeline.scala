package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.ingest.{FlatTables, Ingest}
import graft.plans.{Intervals, Iv}
import graft.schema.Schemas
import graft.store.Store
import Pipeline.{IndexRow, LoopState, WorkItem}

/** Batch ingest pipeline (SURVEY §2.10/§3.1): the reference's orchestrator +
  * worker processes collapsed into one driver program over DataFrames.
  * Process/queue plumbing becomes Spark task scheduling; the work_queue /
  * index_state / failed_blocks tables survive as audit/state Parquet tables
  * (upsert-by-insert, FINAL semantics through [[readTable]]).
  *
  * The driver loop's own state — the FINAL rows of work_queue and
  * index_state, the next work-item id and the blocks height watermark — is
  * held on the driver, the way the reference's orchestrator reads it with
  * one indexed row lookup per step. It is loaded once, cold, when the
  * Pipeline is constructed, and updated in memory on each transition;
  * every transition still appends its row (one parquet file written on the
  * driver, `Store.appendRows`), so the parquet tables stay the durable log
  * and Monitor's reads of them do not change. Every blocks write this
  * Pipeline makes advances the watermark from the write's own `observe()`
  * max(height). So resume, seeding, claim, the status and index-state
  * appends and the watermark run no Spark job. Once per [[runOnce]] (and
  * per [[seedWorkQueue]]) a listing of the two state tables, no Spark job,
  * checks that the state has not gone stale: a file this instance did not
  * write reloads the state from the FINAL views, and a table past
  * `StateFileBound` files is compacted (`Store.compact`), which bounds both
  * the listing and the table.
  *
  * Reference dataflow: orchestrator.js:373-385 (resume), 574-636 (seeding),
  * 93-240 (claim→split→dispatch→finalize), 393-430 (completeness/reconcile),
  * worker.js:335-380 (failure backoff).
  */
final case class PipelineConfig(
    warehouse: String,
    component: String = "main_indexer",
    startHeight: Long = 1L,
    assignRange: Long = 1000L,
    numWorkers: Int = 10,
    backfillMode: Boolean = false,
    backfillWindow: Long = 50000L,
    maxRetries: Int = 10,
    // injected clock for deterministic tests (epoch seconds)
    now: () => Long = () => System.currentTimeMillis() / 1000)

class Pipeline(spark: SparkSession, cfg: PipelineConfig) {

  private def path(table: String) = s"${cfg.warehouse}/$table"

  /** Existence goes through the Hadoop FileSystem API (like Store.compact /
    * tableStats), so a warehouse on s3a://, hdfs://, or any non-local scheme
    * resolves correctly — a java.io.File check would report every remote
    * table as missing, silently resetting resume heights and re-seeding the
    * whole queue on a cluster deployment. */
  private def tableExists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** State tables with genuine update semantics, read FINAL. `blocks` is
    * ALSO registry-versioned (for the FINAL hint / compaction), but its
    * pipeline reads are observational — gap detection counts arrivals,
    * max-height over appends equals max over FINAL — and injecting a window
    * over the largest fact table on every internal read would buy nothing,
    * so it stays raw here. */
  private val finalTables = Set("work_queue", "index_state", "failed_blocks")

  /** Read a state/analytic table: the versioned STATE tables return their
    * latest-per-key view (`Store.latest` with the registry spec — the plan
    * the FINAL hint builds), ClickHouse's `final = 1` stance for exactly
    * the tables with update semantics. Append-audit readers (requeue-loop
    * detection, file-layout audits) use [[readTableRaw]]. */
  def readTable(table: String): DataFrame = {
    val raw = readTableRaw(table)
    if (finalTables.contains(table)) Store.latest(raw, Store.versionedTables(table))
    else raw
  }

  /** Raw-append read: every inserted row, superseded versions included,
    * typed by the table's schema (so planning a read runs no footer-reading
    * schema-inference job; partition columns such as `height_bucket` are
    * still discovered from the directories), empty-but-typed when not yet
    * written. The explicit opt-out for call
    * sites whose SEMANTICS are the insert log (requeue-loop detection counts
    * re-inserts; file-layout audits count appends).
    *
    * The existence probe lives INSIDE Store.withReadRetry (a miss throws and
    * is retried): a concurrent Store.compact publish has a millisecond
    * window where the directory is mid-swap, and a single miss must NOT
    * read as "empty table" — that would silently reset resume heights and
    * re-seed the whole queue. A genuinely-absent table exhausts the (short)
    * retry and yields the typed empty frame; the ~100 ms worst case only
    * happens on the cold-start path. If the table was EVER seen to exist
    * during the retries, exhaustion rethrows instead of returning the empty
    * frame — a compact mid-swap outlasting the backoff is a loud failure,
    * never a silent resume-height reset. */
  def readTableRaw(table: String): DataFrame = {
    @volatile var everExisted = false
    try Store.withReadRetry(attempts = 4, backoffMs = 30) {
      if (!tableExists(table))
        throw new java.io.FileNotFoundException(path(table))
      everExisted = true
      spark.read.schema(schemaOf(table)).parquet(path(table))
    } catch {
      case e: java.io.FileNotFoundException =>
        if (everExisted) throw new java.io.IOException(
          s"table $table existed during read retries but reads kept failing " +
            "(concurrent compact outlasted the backoff?) — refusing to " +
            "return an empty frame", e)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schemaOf(table))
    }
  }

  private def schemaOf(table: String) = table match {
    case "blocks" => Schemas.blocks
    case "index_state" => Schemas.indexState
    case "work_queue" => Schemas.workQueue
    case "failed_blocks" => Schemas.failedBlocks
    case other => throw new IllegalArgumentException(other)
  }

  /** Process-monotonic micro-stamp: epoch micros from the injected seconds
    * clock, forced strictly increasing by a per-WAREHOUSE last-issued
    * register (max(last+1, clock-derived) — no per-instance counter, no
    * modulo wrap). Version columns built from this are strictly monotonic
    * even when two state transitions land in the same wall-clock second,
    * across all Pipeline instances writing the same store — ClickHouse
    * ReplacingMergeTree resolves equal versions by insert order, but parquet
    * appends have none, so the version itself must carry the order
    * (Store.latest ties are otherwise nondeterministic). Keyed by warehouse,
    * not JVM-global: unrelated pipelines (with their own injected clocks)
    * must not drag each other's stamps forward. */
  private def nextMicros(): Long = Pipeline.nextMicros(cfg.warehouse, cfg.now())

  // ------------------------------------------------------------- ingest ----

  /** Flatten one envelope batch and append its 13 outputs — the 10 tables
    * and the 3 MV partials — through the one ingest writer (`Ingest.write`,
    * which also carries the A16 `observe()` counters). The blocks write's
    * observed max(height) advances the height watermark. */
  def ingest(envelopes: DataFrame): FlatTables = {
    val written = Ingest.write(cfg.warehouse, envelopes, None)
    written.maxHeight.foreach { h =>
      state = state.copy(watermark = Some(state.watermark.fold(h)(math.max(_, h))))
    }
    written.tables
  }

  // -------------------------------------------------- driver-held state ----

  private var state: LoopState = LoopState(Map.empty, Map.empty, None)
  /** Per state table, the data files the held state accounts for: those
    * listed by the last cold load plus those this instance wrote since. */
  private var known: Map[String, Set[String]] = Map.empty
  coldLoad()

  /** The loop state this instance holds (tests compare it to a cold read). */
  private[graft] def loopState: LoopState = state

  /** Data files of a state table (Spark's hidden-file rule: names starting
    * with `_` or `.` are not data); empty when the table does not exist. */
  private def stateFiles(table: String): Set[String] = {
    val dir = new org.apache.hadoop.fs.Path(path(table))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }
  }

  /** Read the state from the FINAL views and the blocks table. The files
    * are listed BEFORE the reads: a file landing in between is unknown to
    * the next [[sync]], which then loads again. */
  private def coldLoad(): Unit = {
    val listed = Pipeline.StateTables.map(t => t -> stateFiles(t)).toMap
    val queue = workQueue()
      .select(col("id"), col("start_height"), col("end_height"), col("status"),
        col("worker_id"), col("error_message"),
        unix_micros(col("created_at")), unix_micros(col("updated_at")))
      .collect().map(r => r.getLong(0) -> WorkItem(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getString(3), r.getString(4), r.getString(5),
        r.getLong(6), r.getLong(7))).toMap
    val index = readTable("index_state")
      .select(col("index_name"), col("last_processed_height"), unix_micros(col("updated_at")))
      .collect().map(r => r.getString(0) -> IndexRow(r.getLong(1), r.getLong(2))).toMap
    val watermark = readTable("blocks").agg(max("height")).head()
    state = LoopState(queue, index,
      if (watermark.isNullAt(0)) None else Some(watermark.getLong(0)))
    known = listed
  }

  /** The staleness check, no Spark job unless it finds something: list
    * both state tables; if a listing differs from the files the held state
    * accounts for (another writer appended, compacted or deleted), load the
    * state again from the FINAL views; compact a table past
    * `StateFileBound` files. */
  private def sync(): Unit = {
    val listed = Pipeline.StateTables.map(t => t -> stateFiles(t)).toMap
    if (listed.exists { case (t, files) => files != known(t) }) coldLoad()
    for ((t, files) <- listed if files.size > Pipeline.StateFileBound) {
      Store.compact(spark, path(t), Store.latest(_, Store.versionedTables(t)))
      known += t -> stateFiles(t)
    }
  }

  /** Append state rows as one driver-written file (`Store.appendRows`, no
    * Spark job) and account for it as this instance's own. */
  private def appendState(table: String, rows: Seq[Seq[Any]]): Unit = {
    val file = Store.appendRows(spark.sparkContext.hadoopConfiguration,
      path(table), schemaOf(table), rows)
    known += table -> (known(table) + file)
  }

  private def queueRows(items: Seq[WorkItem]): Seq[Seq[Any]] = items.map(w =>
    Seq(w.id, w.start, w.end, w.status, w.workerId, w.error, w.createdAt, w.updatedAt))

  // -------------------------------------------------------------- state ----

  /** A2 resume point: GREATEST(recorded index_state height, observed
    * MAX(blocks.height)), defaulting to startHeight-1 (orchestrator.js:373-385). */
  def lastIndexedHeight(): Long = {
    val none = cfg.startHeight - 1
    math.max(state.index.get(cfg.component).fold(none)(_.height),
      state.watermark.getOrElse(none))
  }

  /** Advance index_state by appending a fresh row (upsert-by-insert). */
  def advanceIndexState(height: Long): Unit = {
    val stamp = nextMicros()
    appendState("index_state", Seq(Seq(cfg.component, height, stamp)))
    state = state.copy(index = state.index.updated(cfg.component, IndexRow(height, stamp)))
  }

  /** Latest view of the work queue (FINAL). */
  def workQueue(): DataFrame = readTable("work_queue")

  /** Seed work items for [from, to], subtracting already-queued
    * pending/processing ranges (J4; orchestrator.js:574-636). */
  def seedWorkQueue(from: Long, to: Long): Seq[Iv] = Pipeline.seedLock.synchronized {
    sync()
    seed(from, to)
  }

  /** [[seedWorkQueue]] over the held state; the caller holds
    * `Pipeline.seedLock` and has just run [[sync]]. Ids continue from
    * max(existing)+1: with the lock and the sync, concurrent in-process
    * seeders can't mint colliding ids. (Multi-process seeders would need a
    * coordinator-issued range, like the reference's DB sequence —
    * documented single-driver invariant.) */
  private def seed(from: Long, to: Long): Seq[Iv] = {
    if (to < from) return Seq.empty
    val range = Iv(from, to)
    val queued = state.queue.values.toSeq
      .filter(w => (w.status == "pending" || w.status == "processing") &&
        Intervals.overlaps(range, Iv(w.start, w.end)))
      .map(w => Iv(w.start, w.end))
    val items = Intervals.planWorkItems(from, to, cfg.assignRange, queued)
    if (items.nonEmpty) {
      val base = state.nextId
      val stamp = nextMicros()
      val rows = items.zipWithIndex.map { case (iv, i) =>
        WorkItem(base + i, iv.start, iv.end, "pending", null, null, stamp, stamp)
      }
      appendState("work_queue", queueRows(rows))
      state = state.copy(queue = state.queue ++ rows.map(w => w.id -> w))
    }
    items
  }

  /** P1 claim: lowest-id pending item within the forward-priority window and
    * optional target cap (orchestrator.js:126-150). */
  def claimNext(syncTarget: Option[Long] = None): Option[(Long, Iv)] = {
    val minAllowed =
      if (cfg.backfillMode) Long.MinValue
      else math.max(cfg.startHeight, maxBlockHeight() - cfg.backfillWindow)
    state.queue.values
      .filter(w => w.status == "pending" && w.start >= minAllowed &&
        syncTarget.forall(w.end <= _))
      .minByOption(_.id)
      .map(w => (w.id, Iv(w.start, w.end)))
  }

  /** Status transition = fresh full row (latest FULL row wins, no column
    * merge). Without `range` the replacing row zeroes start/end exactly like
    * the reference's partial insert (clickhouse_queries.js:173-185) — callers
    * that know the range pass it so downstream reads (reconcile) keep it. */
  def updateWorkStatus(id: Long, status: String, error: String = null,
                       range: Option[Iv] = None): Unit = {
    val (s, e) = range.map(iv => (iv.start, iv.end)).getOrElse((0L, 0L))
    val stamp = nextMicros()
    val row = WorkItem(id, s, e, status, null, error, stamp, stamp)
    appendState("work_queue", queueRows(Seq(row)))
    state = state.copy(queue = state.queue.updated(id, row))
  }

  /** The height watermark: max(blocks.height), 0 for no blocks. */
  def maxBlockHeight(): Long = state.watermark.getOrElse(0L)

  // ------------------------------------------------------------ verify -----

  /** `blocks` rows with height in [start, end]: the `height_bucket` filter
    * prunes partition directories, the height filter row groups (the files
    * are height-sorted). The bucket filter is explicit, so the pruning does
    * not depend on the session carrying `GraftExtensions`' derivation of
    * it. A table not yet written reads as the typed empty frame, which has
    * no bucket column to prune. */
  private[graft] def blocksIn(start: Long, end: Long): DataFrame = {
    val blocks = readTable("blocks")
    val inBuckets =
      if (!blocks.columns.contains("height_bucket")) blocks
      else blocks.filter(col("height_bucket")
        .between(Fns.heightBucket(lit(start)), Fns.heightBucket(lit(end))))
    inBuckets.filter(col("height").between(start, end))
  }

  /** J3 gap detection over the ingested blocks (orchestrator.js:393-405),
    * pruned to the range. spark.range is the scale path: the series is
    * generated distributed. */
  def findGaps(start: Long, end: Long): DataFrame =
    spark.range(start, end + 1).toDF("height")
      .join(blocksIn(start, end).select("height").distinct(), Seq("height"), "left_anti")

  /** Whether every height in [start, end] is in `blocks`: each task of the
    * pruned scan marks its heights in a bitset over the range, and the
    * driver ORs the bitsets — one job, no shuffle. */
  def isRangeComplete(start: Long, end: Long): Boolean = {
    val n = end - start + 1
    if (n <= 0) return true
    require(n <= Int.MaxValue, s"range [$start, $end] too long for one check")
    import spark.implicits._
    val lo = start
    val size = n.toInt
    val seen = new java.util.BitSet(size)
    blocksIn(start, end).select("height").as[Long]
      .mapPartitions { hs =>
        val bits = new java.util.BitSet(size)
        hs.foreach(h => bits.set((h - lo).toInt))
        Iterator.single(bits.toByteArray)
      }
      .collect().foreach(b => seen.or(java.util.BitSet.valueOf(b)))
    seen.cardinality() == size
  }

  /** Reconcile lingering 'processing' items whose range is fully ingested
    * (orchestrator.js:408-430). Returns number fixed. */
  def reconcile(limit: Int = 50): Int = {
    val items = state.queue.values.toSeq.filter(_.status == "processing")
      .sortBy(_.id).take(limit)
    var fixed = 0
    items.foreach { w =>
      if (isRangeComplete(w.start, w.end)) {
        updateWorkStatus(w.id, "done", "[auto_mark_done_reconcile]")
        fixed += 1
      }
    }
    fixed
  }

  // ------------------------------------------------------------ failure ----

  /** Record a block failure with exponential backoff; permanent after
    * maxRetries (worker.js:335-380). Single-height convenience over the
    * batched form. */
  def recordFailedBlock(height: Long, errorType: String, errorMessage: String,
                        workerId: String = "driver"): Unit = {
    import spark.implicits._
    recordFailedBlocks(Seq(height).toDF("height"), errorType, errorMessage, workerId)
  }

  /** Batched failure records: ONE FINAL read joins prior retry counts for
    * every height, ONE append writes all failure rows (coalesced to a single
    * file — state appends are tiny). A failed 1 000-height work item is one
    * Spark job, not ~2 000 (the per-height loop did a full read + a
    * single-row write per height). `heights` must have a long `height` col. */
  def recordFailedBlocks(heights: DataFrame, errorType: String,
                         errorMessage: String,
                         workerId: String = "driver"): Unit = {
    val prior = readTable("failed_blocks")
      .select(col("block_height").as("height"),
        col("retry_count").as("__prior_retry"))
    val ts = nextMicros()
    val rows = heights.select(col("height").cast("long").as("height"))
      .join(prior, Seq("height"), "left")
      .withColumn("retry_count",
        coalesce(col("__prior_retry") + 1, lit(0)).cast("int"))
      .select(
        col("height").as("block_height"),
        (lit(ts) + col("height")).as("id"), // unique per batch (heights distinct)
        lit(errorType).as("error_type"),
        lit(errorMessage).as("error_message"),
        lit(workerId).as("worker_id"),
        col("retry_count"),
        lit(cfg.maxRetries).as("max_retries"),
        when(col("retry_count") >= cfg.maxRetries, "failed_permanently")
          .otherwise("pending").as("status"),
        timestamp_micros(
          lit(ts) + Fns.blockRetryDelaySeconds(col("retry_count")) * 1000000L)
          .as("next_retry_at"),
        timestamp_micros(lit(ts)).as("last_retry_at"))
    rows.coalesce(1).write.mode("append").parquet(path("failed_blocks"))
  }

  /** P7: blocks eligible for retry now. */
  def retryEligible(): DataFrame =
    readTable("failed_blocks")
      .filter(col("status") === "pending" &&
        col("retry_count") < col("max_retries") &&
        col("next_retry_at") <= timestamp_seconds(lit(cfg.now())))

  /** §3.3 retry pass (scripts/retry_failed.js:96-216 semantics): take the
    * top-`batch` eligible failures by (next_retry_at, last_retry_at) (O3),
    * refetch + re-ingest their heights, then mark recovered heights done
    * (upsert-by-insert; the reference's batched DELETE) and push the backoff
    * forward for heights still missing. Returns (recovered, stillFailed). */
  def retryFailedBlocks(fetch: Seq[Long] => DataFrame, batch: Int = 800): (Long, Long) = {
    val eligible = retryEligible()
      .orderBy(col("next_retry_at").asc, col("last_retry_at").asc)
      .limit(batch)
      .select("block_height").collect().map(_.getLong(0)).toSeq
    if (eligible.isEmpty) return (0L, 0L)
    ingest(fetch(eligible))
    import spark.implicits._
    val present = blocksIn(eligible.min, eligible.max).select("height").distinct()
      .join(eligible.toDF("height"), Seq("height"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    // both outcomes are batched: one append of 'recovered' rows (the FINAL
    // view drops them from the retry set — the reference DELETEs; our delete
    // is the view) and one recordFailedBlocks for the still-missing set
    if (present.nonEmpty) {
      val ts = nextMicros()
      Store.appendRows(spark.sparkContext.hadoopConfiguration, path("failed_blocks"),
        Schemas.failedBlocks, present.toSeq.sorted.map(h =>
          Seq(h, ts + h, "resolved", "", "driver", 0, cfg.maxRetries, "recovered", ts, ts)))
    }
    val missing = eligible.filterNot(present)
    if (missing.nonEmpty)
      recordFailedBlocks(missing.toDF("height"), "retry_failed",
        "still missing after retry")
    (present.size.toLong, (eligible.size - present.size).toLong)
  }

  // -------------------------------------------------------------- drive ----

  /** One driver-loop iteration: staleness check → seed → claim →
    * fetch+ingest → verify → finalize → advance offset. `fetch` maps a
    * height interval to an envelope DataFrame (RpcSource.fetchEnvelopes in
    * prod, fixtures in tests). Returns the claimed interval, if any. */
  def runOnce(tip: Long, fetch: Iv => DataFrame): Option[Iv] = {
    Pipeline.seedLock.synchronized {
      sync()
      val last = lastIndexedHeight()
      seed(last + 1, math.min(last + cfg.assignRange * cfg.numWorkers, tip))
    }
    claimNext(Some(tip)).map { case (id, iv) =>
      updateWorkStatus(id, "processing", range = Some(iv))
      try {
        ingest(fetch(iv))
        if (isRangeComplete(iv.start, iv.end)) {
          updateWorkStatus(id, "done", range = Some(iv))
          advanceIndexState(maxBlockHeight())
        } else {
          updateWorkStatus(id, "failed", "[incomplete_range]", Some(iv))
          recordFailedBlocks(findGaps(iv.start, iv.end),
            "missing", "gap after ingest")
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          updateWorkStatus(id, "failed", String.valueOf(e.getMessage), Some(iv))
          recordFailedBlocks(spark.range(iv.start, iv.end + 1).toDF("height"),
            "ingest_error", String.valueOf(e.getMessage))
      }
      iv
    }
  }
}

object Pipeline {
  /** One FINAL work_queue row; stamps in epoch micros. */
  final case class WorkItem(id: Long, start: Long, end: Long, status: String,
                            workerId: String, error: String,
                            createdAt: Long, updatedAt: Long)

  /** One FINAL index_state row; `updatedAt` in epoch micros. */
  final case class IndexRow(height: Long, updatedAt: Long)

  /** The driver loop's state: work_queue and index_state FINAL rows by key,
    * and the blocks height watermark. */
  final case class LoopState(queue: Map[Long, WorkItem], index: Map[String, IndexRow],
                             watermark: Option[Long]) {
    def nextId: Long = if (queue.isEmpty) 1L else queue.keys.max + 1
  }

  /** The state tables the loop holds on the driver. */
  private val StateTables = Seq("work_queue", "index_state")

  /** Data files a state table may reach before [[Pipeline]]'s staleness
    * check compacts it: the loop appends ~2 work_queue files and 1
    * index_state file per item. */
  private[graft] val StateFileBound = 64

  /** Last-issued micro-stamp per warehouse. `updateAndGet(max(last+1,
    * computed))` can never go backwards or repeat for one store, even across
    * Pipeline instances or >1e6 stamps within one injected-clock second (the
    * stamp then runs ahead of the clock instead of wrapping). */
  private val lastIssuedMicros =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicLong]
  private[pipeline] def nextMicros(warehouse: String, nowSeconds: Long): Long =
    lastIssuedMicros
      .getOrElseUpdate(warehouse, new java.util.concurrent.atomic.AtomicLong(Long.MinValue))
      .updateAndGet(last => math.max(last + 1, nowSeconds * 1000000L))

  /** Serializes work-queue seeding across Pipeline instances in this JVM —
    * seedWorkQueue's max(id)+1 is a read-modify-write over the appended
    * table, which each seeder re-syncs its held queue from under this lock.
    * Multi-PROCESS seeders remain out of scope by design: the reference gets
    * its ids from a Postgres sequence (a central coordinator); our
    * single-driver deployment model keeps one seeder per warehouse. */
  private[pipeline] val seedLock = new Object
}
