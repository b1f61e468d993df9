package graft.schema

import org.apache.spark.sql.types._

/** Fixed, declared-up-front schemas (SURVEY §1.2-1.4): the block-envelope
  * ingest schema and the 13-table catalog. No schema inference anywhere —
  * mirrors the reference's idempotent DDL (`/root/reference/src/database/models.js:9-311`).
  */
object Schemas {

  // ---------------------------------------------------------------- ingest --

  /** One event attribute as served by Tendermint RPC. */
  val attribute: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("index", BooleanType)))

  /** One ABCI event (tx event or finalize-block event). */
  val event: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("attributes", ArrayType(attribute))))

  /** One tx execution result from /block_results (gas fields arrive as
    * decimal strings; ref worker.js:139-140 parseInt's them). */
  val txResult: StructType = StructType(Seq(
    StructField("code", IntegerType),
    StructField("gas_wanted", StringType),
    StructField("gas_used", StringType),
    StructField("data", StringType),
    StructField("log", StringType),
    StructField("events", ArrayType(event))))

  /** The joined (/block, /block_results) pair for one height — the unit the
    * flatten consumes (ref worker.js:72-92 reads exactly these fields). */
  val envelope: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("time", StringType),                 // RFC3339, may carry nanos
    StructField("app_hash", StringType),
    StructField("txs", ArrayType(StringType)),       // base64-encoded raw txs
    StructField("txs_results", ArrayType(txResult)),
    StructField("finalize_block_events", ArrayType(event))))

  /** Raw /block RPC response shape (only the fields the engine reads). */
  val blockRpc: StructType = StructType(Seq(
    StructField("result", StructType(Seq(
      StructField("block", StructType(Seq(
        StructField("header", StructType(Seq(
          StructField("time", StringType),
          StructField("app_hash", StringType)))),
        StructField("data", StructType(Seq(
          StructField("txs", ArrayType(StringType)))))))))))))

  /** Raw /block_results RPC response shape. */
  val blockResultsRpc: StructType = StructType(Seq(
    StructField("result", StructType(Seq(
      StructField("height", StringType),
      StructField("txs_results", ArrayType(txResult)),
      StructField("finalize_block_events", ArrayType(event)))))))

  /** Raw /tx RPC response shape (per-tx point query, only the fields the
    * check_msgs debug oracle reads; ref src/tools/check_msgs.js:17-20,36). */
  val txRpc: StructType = StructType(Seq(
    StructField("result", StructType(Seq(
      StructField("hash", StringType),
      StructField("height", StringType),
      StructField("tx_result", StructType(Seq(
        StructField("events", ArrayType(event))))))))))

  // --------------------------------------------------------------- catalog --

  /** blocks (ref models.js:85-100). created_at is the block time truncated to
    * seconds and doubles as the ReplacingMergeTree version column. */
  val blocks: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("app_hash", StringType, nullable = false),
    StructField("txs_results_count", IntegerType, nullable = false),
    StructField("finalize_events_count", IntegerType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** txs (ref models.js:103-121). '' (not null) convention for data/log. */
  val txs: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("tx_index", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("gas_wanted", LongType),
    StructField("gas_used", LongType),
    StructField("data", StringType, nullable = false),
    StructField("tx_hash", StringType, nullable = false),
    StructField("log", StringType, nullable = false)))

  val txEvents: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("tx_index", IntegerType, nullable = false),
    StructField("event_index", IntegerType, nullable = false),
    StructField("type", StringType, nullable = false)))

  val txEventAttrsJson: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("tx_index", IntegerType, nullable = false),
    StructField("event_index", IntegerType, nullable = false),
    StructField("attrs_kv", StringType, nullable = false),
    StructField("attrs_map", StringType, nullable = false),
    StructField("attr_count", IntegerType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  val blockEvents: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("event_index", IntegerType, nullable = false),
    StructField("type", StringType, nullable = false)))

  val blockEventAttrs: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("event_index", IntegerType, nullable = false),
    StructField("attr_index", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("indexed", IntegerType, nullable = false)))

  /** type_wasm / type_message share one shape (ref models.js:213-228,262-277). */
  val typeEvent: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("tx_index", IntegerType, nullable = false),
    StructField("event_index", IntegerType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("tx_hash", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** type_wasm_attrs / type_message_attrs (ref models.js:237-254,286-303). */
  val typeEventAttrs: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("tx_index", IntegerType, nullable = false),
    StructField("event_index", IntegerType, nullable = false),
    StructField("attr_index", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("indexed", IntegerType, nullable = false)))

  // ------------------------------------------------------------ management --

  /** index_state (ref models.js:9-20); version col = updated_at. */
  val indexState: StructType = StructType(Seq(
    StructField("index_name", StringType, nullable = false),
    StructField("last_processed_height", LongType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))

  /** work_queue (ref models.js:38-53); version col = updated_at. */
  val workQueue: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("start_height", LongType, nullable = false),
    StructField("end_height", LongType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("worker_id", StringType),
    StructField("error_message", StringType),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))

  /** failed_blocks (ref models.js:56-75); version col = last_retry_at. */
  val failedBlocks: StructType = StructType(Seq(
    StructField("block_height", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("error_type", StringType, nullable = false),
    StructField("error_message", StringType, nullable = false),
    StructField("worker_id", StringType),
    StructField("retry_count", IntegerType, nullable = false),
    StructField("max_retries", IntegerType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("next_retry_at", TimestampType, nullable = false),
    StructField("last_retry_at", TimestampType, nullable = false)))
}
