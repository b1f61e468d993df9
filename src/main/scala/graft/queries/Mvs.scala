package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.store.Store

/** The three materialized views (SURVEY A6–A8; ref
  * `/root/reference/scripts/init_clickhouse.js:384-434`), re-expressed two
  * ways:
  *
  *  - `*Recompute`: batch recompute over the (deduplicated) base tables —
  *    correct and simple, used for reads and verification.
  *  - `*Delta` + `readMv`: the incremental path. Each ingest batch appends
  *    PARTIAL aggregate rows (the SummingMergeTree model); readers finish the
  *    aggregation with a group-by-sum, exactly like ClickHouse readers must
  *    (`sum()`/GROUP BY over unmerged parts). Append-only — no rewrite — so
  *    it scales to any ingest rate.
  *
  * Deviation from the reference, by design: MV2's `avg_gas_used` is stored in
  * ClickHouse as a SummingMergeTree column and is NOT merge-correct there; we
  * store (sum, count) and derive the true average on read (SURVEY §7 risks).
  */
object Mvs {

  private def blocksLatest(blocks: DataFrame) =
    Store.latest(blocks, Store.versionedTables("blocks"))

  /** MV1: per-day block stats (init_clickhouse.js:384-395). */
  def dailyBlockStatsRecompute(blocks: DataFrame): DataFrame =
    blocksLatest(blocks)
      .groupBy(to_date(col("created_at")).as("date"))
      .agg(
        count(lit(1)).as("blocks_count"),
        sum("txs_results_count").as("total_txs"),
        sum("finalize_events_count").as("total_events"))

  /** MV2: per-day tx stats over txs ⋈ blocks (init_clickhouse.js:399-415). */
  def dailyTxStatsRecompute(txs: DataFrame, blocks: DataFrame): DataFrame =
    Store.latestAnyRow(txs, Seq("height", "tx_index"))
      .join(blocksLatest(blocks).select("height", "created_at"), Seq("height"))
      .groupBy(to_date(col("created_at")).as("date"))
      .agg(
        count(lit(1)).as("tx_count"),
        sum("gas_used").as("total_gas_used"),
        avg("gas_used").as("avg_gas_used"),
        count(when(col("code") =!= 0, 1)).as("failed_txs"))

  /** MV3: per-(day, event type) counts (init_clickhouse.js:419-434). */
  def eventTypeStatsRecompute(txEvents: DataFrame, blocks: DataFrame): DataFrame =
    Store.latestAnyRow(txEvents, Seq("height", "tx_index", "event_index"))
      .join(blocksLatest(blocks).select("height", "created_at"), Seq("height"))
      .groupBy(to_date(col("created_at")).as("date"), col("type"))
      .agg(count(lit(1)).as("event_count"))

  // ----------------------------------------------------------- incremental --

  /** Partial-aggregate delta for MV2 from ONE ingest batch (insert-time MV
    * trigger semantics: the SELECT runs over the inserted block only). */
  def dailyTxStatsDelta(batchTxs: DataFrame, batchBlocks: DataFrame): DataFrame =
    batchTxs
      .join(batchBlocks.select("height", "created_at"), Seq("height"))
      .groupBy(to_date(col("created_at")).as("date"))
      .agg(
        count(lit(1)).as("tx_count"),
        sum("gas_used").as("total_gas_used"),
        count(when(col("code") =!= 0, 1)).as("failed_txs"))

  def dailyBlockStatsDelta(batchBlocks: DataFrame): DataFrame =
    batchBlocks.groupBy(to_date(col("created_at")).as("date"))
      .agg(
        count(lit(1)).as("blocks_count"),
        sum("txs_results_count").as("total_txs"),
        sum("finalize_events_count").as("total_events"))

  def eventTypeStatsDelta(batchTxEvents: DataFrame, batchBlocks: DataFrame): DataFrame =
    batchTxEvents
      .join(batchBlocks.select("height", "created_at"), Seq("height"))
      .groupBy(to_date(col("created_at")).as("date"), col("type"))
      .agg(count(lit(1)).as("event_count"))

  /** Finish-aggregation read over appended partials: group by the key cols,
    * sum everything else (the ClickHouse reader contract). */
  def readMv(partials: DataFrame, keys: Seq[String]): DataFrame = {
    val sumCols = partials.columns.filterNot(keys.contains)
      .map(c => sum(c).as(c))
    partials.groupBy(keys.map(col): _*).agg(sumCols.head, sumCols.tail: _*)
  }

  /** MV2 read with the derived (merge-correct) average. */
  def readDailyTxStats(partials: DataFrame): DataFrame =
    readMv(partials, Seq("date"))
      .withColumn("avg_gas_used", col("total_gas_used") / col("tx_count"))
}
