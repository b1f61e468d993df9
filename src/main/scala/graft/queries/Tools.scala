package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.schema.Schemas
import graft.sources.RpcClient

/** Operator-composing utilities mirroring the reference's debug/ops scripts:
  * the per-tx message-action debug oracle
  * (`/root/reference/src/tools/check_msgs.js:22-54`) and the one-command
  * connection/health probe (`/root/reference/scripts/test_connection.js:6-76`).
  * Both are thin compositions of already-oracle-verified operators (S1/S4
  * fetch, F1 tx hash, F4-family action extraction, S11 catalog, A2 resume). */
object Tools {

  /** All message-action values of a tx's event array, distinct and sorted.
    * Unlike Fns.messageAction (F4: FIRST non-empty action, else 'unknown'),
    * check_msgs collects EVERY action value, keeps empties, and dedups
    * (`check_msgs.js:39-46` filter/flatMap/Set) — reproduced exactly. */
  private[queries] def allActions(events: org.apache.spark.sql.Column) =
    array_sort(array_distinct(flatten(transform(
      filter(events, e => e.getField("type") === "message"),
      e => transform(
        filter(e.getField("attributes"), a => a.getField("key") === "action"),
        a => a.getField("value"))))))

  /** check_msgs debug oracle: for every tx in [start, end], compare the
    * warehouse's recorded message actions against a fresh RPC readback.
    *
    *   - RPC side (the reference's loop, distributed): fetch each block,
    *     hash its raw txs (sha256-upper of the decoded bytes, F1), fetch
    *     each tx by hash via `/tx?hash=0x…`, and extract the distinct
    *     message actions from its `tx_result.events`.
    *   - DB side: `type_message` ⋈ `type_message_attrs` on the event key,
    *     actions per (height, tx_hash).
    *
    * Returns one row per RPC tx: (height, tx_hash, rpc_actions, db_actions,
    * matches) — a tx missing from the warehouse or recorded with different
    * actions comes back `matches = false`. Heights are sliced
    * into `parallelism` contiguous ranges like RpcSource.fetchEnvelopes
    * (no sampling job, no shuffle); candidate tx rows never collect to the
    * driver. */
  def checkMessages(spark: SparkSession, client: RpcClient,
                    typeMessage: DataFrame, typeMessageAttrs: DataFrame,
                    start: Long, end: Long, parallelism: Int = 4): DataFrame = {
    import spark.implicits._
    val blocks = spark.sparkContext.range(start, end + 1, 1, math.max(1, parallelism))
      .map(h => (h, client.get(s"/block?height=$h")))
      .toDF("height", "block_json")
    val rawTxs = blocks
      .select(col("height"),
        from_json(col("block_json"), Schemas.blockRpc).as("b"))
      .select(col("height"), explode(col("b.result.block.data.txs")).as("raw_tx"))
      .select(col("height"), graft.functions.Fns.txHash(col("raw_tx")).as("tx_hash"))
    val rpc = rawTxs.as[(Long, String)]
      .map { case (h, hash) => (h, hash, client.get(s"/tx?hash=0x$hash")) }
      .toDF("height", "tx_hash", "tx_json")
      .select(col("height"), col("tx_hash"),
        allActions(from_json(col("tx_json"), Schemas.txRpc)
          .getField("result").getField("tx_result").getField("events"))
          .as("rpc_actions"))
    val db = typeMessage
      .join(typeMessageAttrs, Seq("height", "tx_index", "event_index"))
      .filter(col("key") === "action")
      .groupBy("height", "tx_hash")
      .agg(array_sort(collect_set(col("value"))).as("db_actions"))
    rpc.join(db, Seq("height", "tx_hash"), "left")
      .withColumn("matches",
        col("rpc_actions") ===
          coalesce(col("db_actions"), array().cast("array<string>")))
      .orderBy("height", "tx_hash")
  }

  /** test_connection.js analogue as one call: (1) RPC reachability + tip,
    * (2) expected warehouse tables present (Hadoop FS existence — works on
    * any scheme), (3) index-state height + recency. One row, always returns
    * (probe failures are data, not exceptions). */
  def healthProbe(spark: SparkSession, warehouse: String, p: Pipeline,
                  client: Option[RpcClient], nowSecs: () => Long,
                  expected: Seq[String] = Seq("blocks", "txs", "index_state",
                    "work_queue", "failed_blocks")): DataFrame = {
    import spark.implicits._
    val (rpcOk, tip) = client.fold((false, -1L)) { c =>
      try (true, c.latestHeight())
      catch { case scala.util.control.NonFatal(_) => (false, -1L) }
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(warehouse), spark.sparkContext.hadoopConfiguration)
    val missing = expected.filterNot(t =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$warehouse/$t")))
    val state = p.readTable("index_state")
      .agg(
        coalesce(max("last_processed_height"), lit(-1L)).as("h"),
        coalesce(max(unix_timestamp(col("updated_at"))), lit(-1L)).as("u"))
      .collect()(0)
    val updatedAgo = if (state.getLong(1) < 0) -1L else nowSecs() - state.getLong(1)
    Seq((rpcOk, tip, expected.size, expected.size - missing.size,
        missing.sorted.mkString(","), state.getLong(0), updatedAgo))
      .toDF("rpc_ok", "tip", "tables_expected", "tables_present",
        "tables_missing", "last_height", "updated_secs_ago")
  }
}
