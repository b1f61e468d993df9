package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ExtQueries, Queries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private val all: Seq[(String, Queries.Q, Option[String])] =
    Queries.inventory ++ ExtQueries.inventory

  /** Flagship: the MV2 daily-tx-stats shape (SURVEY A7, ref
    * init_clickhouse.js:399-415) on sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.inventory.collectFirst {
      case ("a7_mv2_daily_tx_stats", q, _) => q(spark, "/root/testdata/sf0.001")
    }.get

  /** One entry per implemented operator from SURVEY.md §2 (+ LLM ext). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, q, _) => n -> q }.toMap

  /** DuckDB-equivalent SQL per query (omitted => rows-only check). */
  def oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql }.toMap

  /** Oracles whose SQL depends on a data-derived artifact (the IVF centroid
    * literals) — resolved at Verify dump time with the live session so the
    * oracle uses exactly the centroids the query used. */
  def dynamicOracleSql(spark: SparkSession, sfDir: String): Map[String, String] = {
    val ivf = ExtQueries.ivfOracleSql(spark, sfDir)
    Map("x_ann_ivf" -> ivf, "x_ann_ivf_indexed" -> ivf,
      "x_ann_ivf_append" -> ivf,
      "x_ann_index_stats" -> ExtQueries.ivfStatsOracleSql(spark, sfDir),
      "x_ann_ivf_batch" -> ExtQueries.ivfBatchOracleSql(spark, sfDir),
      "x_semdedup" -> ExtQueries.semDedupOracleSql(spark, sfDir),
      "x_cluster_sample" -> ExtQueries.clusterSampleOracleSql(spark, sfDir),
      "x_pq_codes" -> ExtQueries.pqCodesOracleSql(spark, sfDir),
      "x_ann_pq" -> ExtQueries.pqAdcOracleSql(spark, sfDir),
      "x_ann_ivfpq" -> ExtQueries.ivfPqOracleSql(spark, sfDir),
      "x_lm_score" -> ExtQueries.lmOracleSql(spark, sfDir),
      "x_lm_score3" -> ExtQueries.lmOracleSql3(spark, sfDir),
      "x_dsir_weights" -> ExtQueries.dsirOracleSql(spark, sfDir),
      "x_ccnet_buckets" -> ExtQueries.ccnetOracleSql(spark, sfDir))
  }
}
