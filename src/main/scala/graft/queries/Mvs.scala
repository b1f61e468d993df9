package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three materialized views (SURVEY A6–A8; the reference's
  * `scripts/init_clickhouse.js:384-434`), maintained
  * incrementally: each ingest batch appends PARTIAL aggregate rows
  * (`*Delta`, the SummingMergeTree model); readers finish the aggregation
  * with a group-by-sum ([[readMv]]), exactly like ClickHouse readers must
  * (`sum()`/GROUP BY over unmerged parts). Append-only — no rewrite — so it
  * scales to any ingest rate. The specs check every read against a batch
  * recompute over the deduplicated base tables.
  *
  * Deviation from the reference, by design: MV2's `avg_gas_used` is stored in
  * ClickHouse as a SummingMergeTree column and is NOT merge-correct there; we
  * store (sum, count) and a reader derives the true average as
  * `total_gas_used / tx_count` (SURVEY §7 risks).
  */
object Mvs {

  /** Partial-aggregate delta for MV2 from ONE ingest batch (insert-time MV
    * trigger semantics: the SELECT runs over the inserted block only). The
    * batch's txs carry their block's `date` (`FlatTables.datedTxs`), so the
    * delta needs no join to `blocks`. */
  def dailyTxStatsDelta(batchTxs: DataFrame): DataFrame =
    batchTxs.groupBy(col("date"))
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

  /** MV3's delta over the batch's tx events with their block's `date`
    * (`FlatTables.datedTxEvents`). */
  def eventTypeStatsDelta(batchTxEvents: DataFrame): DataFrame =
    batchTxEvents.groupBy(col("date"), col("type"))
      .agg(count(lit(1)).as("event_count"))

  /** Finish-aggregation read over appended partials: group by the key cols,
    * sum everything else (the ClickHouse reader contract). */
  def readMv(partials: DataFrame, keys: Seq[String]): DataFrame = {
    val sumCols = partials.columns.filterNot(keys.contains)
      .map(c => sum(c).as(c))
    partials.groupBy(keys.map(col): _*).agg(sumCols.head, sumCols.tail: _*)
  }
}
