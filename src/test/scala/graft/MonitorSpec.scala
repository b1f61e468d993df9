package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.queries.Monitor
import graft.schema.Schemas

/** Monitor/invariant suite + the §3.3 retry-failed pass over a live
  * warehouse fixture. */
class MonitorSpec extends SparkTestBase {
  import spark.implicits._

  private var clock = 2000000L
  private def tick(): Long = { clock += 10; clock }

  private def envelopes(heights: Seq[Long]): DataFrame = {
    val json = heights.map(h =>
      s"""{"height":$h,"time":"2025-06-01T12:00:00Z","app_hash":"AH","txs":["dGVzdA=="],"txs_results":[{"code":0,"gas_wanted":"1","gas_used":"1","data":"","log":"","events":[]}],"finalize_block_events":[]}""")
    spark.read.schema(Schemas.envelope).json(json.toDS)
  }

  private def mk(): (Pipeline, Monitor, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mon").toString
    val p = new Pipeline(spark, PipelineConfig(
      warehouse = dir, startHeight = 1, assignRange = 10,
      backfillMode = true, now = () => tick()))
    (p, new Monitor(spark, p, () => clock), dir)
  }

  test("monitor: gaps, queue status, stuck/stale detection") {
    val (p, m, _) = mk()
    p.ingest(envelopes(Seq(1L, 2L, 4L, 5L))) // 3 missing
    val gaps = m.gapReport(1, 5).collect()(0)
    assert(gaps.getAs[Long]("missing_count") === 1L)
    assert(gaps.getAs[Long]("first_missing") === 3L)

    p.seedWorkQueue(1, 20)
    val Some((id, iv)) = p.claimNext(None)
    p.updateWorkStatus(id, "processing", range = Some(iv))
    val status = m.queueStatus().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(status === Map("pending" -> 1L, "processing" -> 1L))

    // nothing stuck yet (just updated)
    assert(m.stuckProcessing(30).count() === 0)
    // advance the clock 31 minutes -> stuck + stale
    clock += 31 * 60
    val stuck = m.stuckProcessing(30).collect()
    assert(stuck.length === 1 && stuck(0).getAs[Long]("id") === id)
    assert(stuck(0).getAs[Long]("age_minutes") >= 31)
    assert(m.stalePending(30).count() === 1)
  }

  test("monitor: looping + duplicate pending, throughput, summary") {
    val (p, m, dir) = mk()
    p.ingest(envelopes(Seq(1L, 2L)))
    // requeue the same range 3 times under different ids -> looping
    (1 to 3).foreach { i =>
      Seq((100L + i, 50L, 59L, "pending", null: String, null: String))
        .toDF("id", "start_height", "end_height", "status", "worker_id", "error_message")
        .withColumn("created_at", timestamp_seconds(lit(tick())))
        .withColumn("updated_at", timestamp_seconds(lit(clock)))
        .write.mode("append").parquet(s"$dir/work_queue")
    }
    val loops = m.loopingRanges(120).collect()
    assert(loops.length === 1 && loops(0).getAs[Long]("times_queued") === 3L)
    val dups = m.duplicatePending().collect()
    assert(dups.length === 1 && dups(0).getAs[Long]("cnt") === 3L)
    val sum = m.summary().collect()(0)
    assert(sum.getAs[Long]("n_blocks") === 2L)
    assert(sum.getAs[Long]("n_pending") === 3L)
  }

  test("failureReport: counts each height's FINAL row; a version tie goes to the larger id") {
    val (_, m, dir) = mk()
    def ts(s: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
    // height 7's two rows share last_retry_at; the smaller id is written
    // first, so a read that drops failed_blocks' id tie-break keeps it
    val rows = Seq(
      Row(3L, 1L, "missing", "gap", "driver", 0, 10, "pending", ts(400), ts(100)),
      Row(3L, 2L, "missing", "gap", "driver", 1, 10, "pending", ts(900), ts(200)),
      Row(7L, 3L, "missing", "gap", "driver", 0, 10, "pending", ts(800), ts(500)),
      Row(7L, 4L, "ingest_error", "rpc down", "driver", 10, 10, "failed_permanently",
        ts(800), ts(500)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.failedBlocks)
      .coalesce(1).write.parquet(s"$dir/failed_blocks")
    val got = m.failureReport().collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(
      ("failed_permanently", "ingest_error", 1L, 7L, 7L),
      ("pending", "missing", 1L, 3L, 3L)))
  }

  test("recentThroughput: FINAL blocks whose created_at falls in the window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mon_tp").toString
    val p = new Pipeline(spark, PipelineConfig(warehouse = dir))
    val m = new Monitor(spark, p,
      () => java.time.Instant.parse("2025-06-01T12:45:00Z").getEpochSecond)
    def env(h: Long, time: String, nTxs: Int) =
      s"""{"height":$h,"time":"2025-06-01T${time}Z","app_hash":"AH",""" +
        s""""txs":[${Seq.fill(nTxs)("\"dGVzdA==\"").mkString(",")}],""" +
        s""""txs_results":[${Seq.fill(nTxs)("""{"code":0,"gas_wanted":"1",""" +
          """"gas_used":"1","data":"","log":"","events":[]}""").mkString(",")}],""" +
        """"finalize_block_events":[]}"""
    def ingest(envs: String*) =
      p.ingest(spark.read.schema(Schemas.envelope).json(envs.toDS))
    // height 1: two versions in the window, the later carries 2 txs;
    // height 2: one row inserted twice; height 3: before the window
    ingest(env(1, "12:10:00", 1), env(2, "12:00:00", 1), env(3, "10:00:00", 1))
    ingest(env(1, "12:40:00", 2), env(2, "12:00:00", 1))
    val got = m.recentThroughput(60).collect()(0)
    assert(got.getAs[Long]("blocks_ingested") === 2L)
    assert(got.getAs[Long]("txs_ingested") === 3L)
    assert(m.recentThroughput(24 * 60).collect()(0).getAs[Long]("blocks_ingested") === 3L)
  }

  test("retryFailedBlocks: recovers refetchable heights, backs off the rest") {
    val (p, _, _) = mk()
    p.recordFailedBlock(3, "missing", "gap")
    p.recordFailedBlock(7, "missing", "gap")
    clock += 400 // past the 5-minute base backoff
    assert(p.retryEligible().count() === 2)
    // the refetch can only produce height 3; 7 stays missing
    val (ok, bad) = p.retryFailedBlocks(hs => envelopes(hs.filter(_ == 3L)))
    assert((ok, bad) === ((1L, 1L)))
    // 3 is recovered (no longer eligible even far in the future);
    // 7 got a fresh backoff row with retry_count=1
    clock += 100000
    val eligible = p.retryEligible().collect()
    assert(eligible.map(_.getAs[Long]("block_height")).toSeq === Seq(7L))
    assert(eligible(0).getAs[Int]("retry_count") === 1)
  }
}
