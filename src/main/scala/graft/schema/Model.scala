package graft.schema

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Typed model (case-class Encoders) for the catalog rows where compile-time
  * field checks help: state-machine logic (work queue, failed blocks) and the
  * core analytic rows. `DataFrame` remains the interchange type at module
  * boundaries; these are for driver logic and `Dataset` pipelines. */
object Model {

  final case class Block(
      height: Long, app_hash: String, txs_results_count: Int,
      finalize_events_count: Int, created_at: Timestamp)

  final case class Tx(
      height: Long, tx_index: Int, code: Int,
      gas_wanted: Option[Long], gas_used: Option[Long],
      data: String, tx_hash: String, log: String)

  final case class WorkItem(
      id: Long, start_height: Long, end_height: Long, status: String,
      worker_id: Option[String], error_message: Option[String],
      created_at: Timestamp, updated_at: Timestamp)

  def blocks(df: DataFrame): Dataset[Block] = {
    val spark = df.sparkSession; import spark.implicits._
    df.selectExpr("height", "app_hash", "txs_results_count",
      "finalize_events_count", "created_at").as[Block]
  }

  def txs(df: DataFrame): Dataset[Tx] = {
    val spark = df.sparkSession; import spark.implicits._
    df.selectExpr("height", "tx_index", "code", "gas_wanted", "gas_used",
      "data", "tx_hash", "log").as[Tx]
  }

  def workItems(df: DataFrame): Dataset[WorkItem] = {
    val spark = df.sparkSession; import spark.implicits._
    df.selectExpr("id", "start_height", "end_height", "status", "worker_id",
      "error_message", "created_at", "updated_at").as[WorkItem]
  }
}
