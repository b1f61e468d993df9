package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.store.Store

/** Batch recompute of the three MVs over the (deduplicated) base tables —
  * the reference the specs compare every incremental MV read
  * (`Mvs.*Delta` partials finished by `Mvs.readMv`) against. */
object MvRecompute {

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
}
