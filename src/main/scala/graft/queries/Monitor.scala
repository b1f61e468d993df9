package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.store.Store

/** The health/invariant suite (`/root/reference/scripts/monitor_indexer.js:17-238`)
  * over the engine's own warehouse state tables — gap scan, queue status,
  * stuck/stale/looping work detection, failure analysis, throughput — each a
  * small DataFrame program over `Pipeline` state reads (FINAL views).
  *
  * `nowSecs` is injected for determinism (the reference uses NOW()). */
class Monitor(spark: SparkSession, p: Pipeline, nowSecs: () => Long) {

  private def now = timestamp_seconds(lit(nowSecs()))

  /** Gap scan over the first `limit` heights from `start` (J3 + A11;
    * monitor_indexer.js:91-105). */
  def gapReport(start: Long, end: Long): DataFrame =
    p.findGaps(start, end).agg(
      count(lit(1)).as("missing_count"),
      coalesce(min("height"), lit(0L)).as("first_missing"),
      coalesce(max("height"), lit(0L)).as("last_missing"))

  /** Queue status rollup (A4; monitor_indexer.js:46-53). */
  def queueStatus(): DataFrame =
    p.workQueue().groupBy("status").agg(
      count(lit(1)).as("cnt"),
      coalesce(min("start_height"), lit(0L)).as("min_start"),
      coalesce(max("end_height"), lit(0L)).as("max_end"))
      .orderBy("status")

  /** Failure analysis by (status, error_type) (A5; monitor_indexer.js:65-72). */
  def failureReport(): DataFrame =
    p.readTable("failed_blocks")
      .groupBy("status", "error_type").agg(
        count(lit(1)).as("cnt"),
        min("block_height").as("min_height"),
        max("block_height").as("max_height"))
      .orderBy("status", "error_type")

  /** Stuck work: 'processing' items older than `minutes` (P3;
    * monitor_indexer.js:119-129). */
  def stuckProcessing(minutes: Int = 30): DataFrame =
    p.workQueue()
      .filter(col("status") === "processing" &&
        col("updated_at") < now - expr(s"INTERVAL $minutes MINUTES"))
      .withColumn("age_minutes",
        floor((unix_timestamp(now) - unix_timestamp(col("updated_at"))) / 60))
      .select("id", "start_height", "end_height", "age_minutes")
      .orderBy("id")

  /** Stale pending: unclaimed items older than an hour (monitor_indexer.js:215-222). */
  def stalePending(minutes: Int = 60): DataFrame =
    p.workQueue()
      .filter(col("status") === "pending" &&
        col("created_at") < now - expr(s"INTERVAL $minutes MINUTES"))
      .select("id", "start_height", "end_height")
      .orderBy("id")

  /** Looping ranges: the same (start,end) queued more than twice within the
    * window (A9; monitor_indexer.js:177-188). Counts distinct queue ids per
    * range over ALL inserts (the raw table, not the FINAL view — requeues of
    * one id are re-inserts). */
  def loopingRanges(withinMinutes: Int = 120): DataFrame =
    p.readTableRaw("work_queue") // raw BY SEMANTICS: requeues are re-inserts
      .filter(col("created_at") > now - expr(s"INTERVAL $withinMinutes MINUTES"))
      .filter(col("start_height") =!= 0 || col("end_height") =!= 0)
      .groupBy("start_height", "end_height")
      .agg(countDistinct("id").as("times_queued"))
      .filter(col("times_queued") > 2)
      .orderBy("start_height")

  /** Duplicate pending: distinct pending items covering the same range (A10;
    * monitor_indexer.js:197-206). */
  def duplicatePending(): DataFrame =
    p.workQueue()
      .filter(col("status") === "pending")
      .groupBy("start_height", "end_height")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)

  /** Recent ingest throughput: blocks whose created_at falls in the last
    * window (monitor_indexer.js:136-142,161-168 flavor). */
  def recentThroughput(minutes: Int = 60): DataFrame =
    Store.latest(p.readTable("blocks"), Store.versionedTables("blocks"))
      .filter(col("created_at") > now - expr(s"INTERVAL $minutes MINUTES"))
      .agg(
        count(lit(1)).as("blocks_ingested"),
        coalesce(sum("txs_results_count"), lit(0L)).as("txs_ingested"))

  /** One-row overall summary (A12 multi-scalar shape). */
  def summary(): DataFrame = {
    val blocks = Store.latest(p.readTable("blocks"), Store.versionedTables("blocks"))
    blocks.agg(
      count(lit(1)).as("n_blocks"),
      coalesce(min("height"), lit(0L)).as("min_height"),
      coalesce(max("height"), lit(0L)).as("max_height"))
      .crossJoin(p.workQueue().filter(col("status") === "pending")
        .agg(count(lit(1)).as("n_pending")))
  }
}
