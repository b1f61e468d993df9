package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.plans.Iv
import graft.schema.Schemas
import graft.sources.{RpcClient, RpcConfig, RpcSource}

/** End-to-end driver-loop semantics (SURVEY §2.10/§3.1) over fixture
  * envelopes: resume, seeding with overlap subtraction, claim, ingest, gap
  * verify, reconcile, failure backoff — all against a temp warehouse. */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private var clock = 1000000L
  private def mkPipeline(): Pipeline = {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    new Pipeline(spark, PipelineConfig(
      warehouse = dir, startHeight = 1, assignRange = 10, numWorkers = 2,
      backfillMode = true, now = () => { clock += 1; clock }))
  }

  private def envelopes(heights: Seq[Long]): DataFrame = {
    val json = heights.map(h =>
      s"""{"height":$h,"time":"2025-06-01T12:00:0${h % 10}Z","app_hash":"AH$h",
         |"txs":["dGVzdA=="],
         |"txs_results":[{"code":0,"gas_wanted":"10","gas_used":"5","data":"","log":"",
         | "events":[{"type":"message","attributes":[{"key":"action","value":"/a.b.MsgC","index":true}]}]}],
         |"finalize_block_events":[]}""".stripMargin.replaceAll("\n", ""))
    spark.read.schema(Schemas.envelope).json(json.toDS)
  }

  test("runOnce: seeds, claims lowest-id item, ingests, marks done, advances offset") {
    val p = mkPipeline()
    val claimed = p.runOnce(tip = 25, fetch = iv => envelopes(iv.start to iv.end))
    assert(claimed === Some(Iv(1, 10)))
    assert(p.maxBlockHeight() === 10L)
    assert(p.lastIndexedHeight() === 10L)
    val wq = p.workQueue().orderBy("id").collect()
    // target caps at last + assignRange*numWorkers = 20: [1,10] done, [11,20] pending
    assert(wq.length === 2)
    assert(wq(0).getAs[String]("status") === "done")
    assert(wq.count(_.getAs[String]("status") === "pending") === 1)
    // second iteration picks the next range without re-seeding overlaps
    val second = p.runOnce(tip = 25, fetch = iv => envelopes(iv.start to iv.end))
    assert(second === Some(Iv(11, 20)))
    assert(p.lastIndexedHeight() === 20L)
  }

  test("readTable is FINAL by default for state tables; readTableRaw keeps appends") {
    val p = mkPipeline()
    p.runOnce(tip = 10, fetch = iv => envelopes(iv.start to iv.end))
    // the claim→processing→done transitions appended multiple versions of
    // the one queue item: FINAL collapses them, raw keeps the insert log
    val fin = p.readTable("work_queue")
    val raw = p.readTableRaw("work_queue")
    assert(raw.count() > fin.count(), "superseded versions only in raw")
    assert(fin.count() === fin.select("id").distinct().count())
    // row-identical to the explicit latest view over the raw log
    assert(fin.orderBy("id", "updated_at").collect().toSeq ===
      graft.store.Store.latest(raw, Seq("id"), "updated_at")
        .orderBy("id", "updated_at").collect().toSeq)
    // blocks stays raw under the default (observational fact reads)
    assert(p.readTable("blocks").queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "blocks reads must not grow a window")
  }

  test("failed ingest: incomplete range -> failed status + failed_blocks with backoff") {
    val p = mkPipeline()
    // fetch drops height 3 -> gap
    val claimed = p.runOnce(tip = 10,
      fetch = iv => envelopes((iv.start to iv.end).filter(_ != 3)))
    assert(claimed === Some(Iv(1, 10)))
    val wq = p.workQueue().orderBy("id").collect()
    assert(wq(0).getAs[String]("status") === "failed")
    val failed = p.retryEligible().collect()
    assert(failed.length === 0) // backoff: next_retry_at is 5 min out
    val recorded = p.readTable("failed_blocks").collect()
    assert(recorded.length === 1 && recorded(0).getAs[Long]("block_height") === 3L)
    // escalating retries raise the backoff and eventually go permanent
    (1 to 10).foreach(_ => p.recordFailedBlock(3, "missing", "still missing"))
    val last = graft.store.Store.latest(
      p.readTable("failed_blocks"), Seq("block_height"), "last_retry_at").collect()(0)
    assert(last.getAs[String]("status") === "failed_permanently")
    assert(last.getAs[Int]("retry_count") === 10)
  }

  test("failure path is batched: one append (one file) for a many-height failure") {
    val p = mkPipeline()
    // fetch throws -> the whole 10-height range fails in one catch
    val claimed = p.runOnce(tip = 10,
      fetch = _ => throw new RuntimeException("rpc down"))
    assert(claimed === Some(Iv(1, 10)))
    val fbDir = new java.io.File(p.readTable("failed_blocks")
      .inputFiles.head.replaceFirst("file:", "")).getParentFile
    val files = fbDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1,
      s"expected ONE coalesced failure append, got ${files.length} files")
    val recorded = p.readTable("failed_blocks").orderBy("block_height").collect()
    assert(recorded.length === 10)
    assert(recorded.map(_.getAs[Long]("block_height")).toSeq === (1L to 10L))
    assert(recorded.forall(_.getAs[Int]("retry_count") === 0))
    // a second batched failure increments every retry_count via ONE more file
    p.recordFailedBlocks(spark.range(1, 11).toDF("height"), "missing", "again")
    val after = graft.store.Store.latest(
      p.readTable("failed_blocks"), Seq("block_height"), "last_retry_at",
      tieBreak = Seq("id")).collect()
    assert(after.length === 10 && after.forall(_.getAs[Int]("retry_count") === 1))
    assert(fbDir.listFiles().count(_.getName.endsWith(".parquet")) === 2)
  }

  test("same-second transitions keep a deterministic FINAL order (monotonic micro-stamps)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_tie").toString
    // FROZEN clock: every transition lands in the same wall-clock second —
    // the reference resolves this via insert order; we must via the version
    val p = new Pipeline(spark, PipelineConfig(
      warehouse = dir, startHeight = 1, assignRange = 10, backfillMode = true,
      now = () => 7777L))
    val items = p.seedWorkQueue(1, 10)
    assert(items === Seq(Iv(1, 10)))
    val Some((id, iv)) = p.claimNext(None)
    p.updateWorkStatus(id, "processing", range = Some(iv))
    p.updateWorkStatus(id, "done", range = Some(iv))
    // latest must be 'done' even though all rows share the same second
    assert(p.workQueue().collect().map(_.getAs[String]("status")).toSeq === Seq("done"))
    // failed_blocks: record + recover in the same second -> recovered wins
    p.recordFailedBlock(5, "missing", "gap")
    p.ingest(envelopes(Seq(5L)))
    p.retryEligible() // (not yet eligible; just exercising the read)
    // seeding twice in the same second must not collide ids
    val more = p.seedWorkQueue(11, 30)
    assert(more === Seq(Iv(11, 20), Iv(21, 30)))
    val ids = p.readTable("work_queue").select("id").distinct().collect().map(_.getLong(0))
    assert(ids.length >= 3, s"distinct ids expected, got ${ids.toSeq.sorted}")
    val pending = p.workQueue().filter(col("status") === "pending").collect()
    assert(pending.map(r => Iv(r.getAs[Long]("start_height"), r.getAs[Long]("end_height"))).toSet
      === Set(Iv(11, 20), Iv(21, 30)))
  }

  test("seedWorkQueue subtracts queued overlaps (J4 end-to-end)") {
    val p = mkPipeline()
    val first = p.seedWorkQueue(1, 30)
    assert(first === Seq(Iv(1, 10), Iv(11, 20), Iv(21, 30)))
    val again = p.seedWorkQueue(1, 35)
    assert(again === Seq(Iv(31, 35))) // only the uncovered tail
  }

  test("reconcile: processing item whose range is complete flips to done") {
    val p = mkPipeline()
    p.seedWorkQueue(1, 10)
    val Some((id, iv)) = p.claimNext(None)
    p.updateWorkStatus(id, "processing", range = Some(iv))
    p.ingest(envelopes(iv.start to iv.end))
    assert(p.workQueue().filter(col("status") === "processing").count() === 1)
    assert(p.reconcile() === 1)
    assert(p.workQueue().filter(col("status") === "done").count() === 1)
  }

  test("ingest writes height-bucketed tables readable via the store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh2").toString
    val p = new Pipeline(spark, PipelineConfig(
      warehouse = dir, backfillMode = true, now = () => { clock += 1; clock }))
    p.ingest(envelopes(Seq(1L, 100001L)))
    assert(p.readTable("blocks").count() === 2)
    // physical layout: one directory per height bucket
    val buckets = new java.io.File(s"$dir/blocks").listFiles()
      .map(_.getName).filter(_.startsWith("height_bucket=")).toSet
    assert(buckets === Set("height_bucket=0", "height_bucket=1"))
    // derived type tables landed too
    assert(spark.read.parquet(s"$dir/type_message").count() === 2)
    assert(spark.read.parquet(s"$dir/type_message_attrs").count() === 2)
  }

  test("runOnce keeps the three MVs current: each MV read equals its recompute") {
    import graft.queries.Mvs
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_mv").toString
    val p = new Pipeline(spark, PipelineConfig(
      warehouse = dir, startHeight = 1, assignRange = 10, numWorkers = 2,
      backfillMode = true, now = () => { clock += 1; clock }))
    // two items over heights spread across two days, with failed txs
    val fetch = (iv: Iv) => {
      val json = (iv.start to iv.end).map(h =>
        s"""{"height":$h,"time":"2025-06-0${1 + h % 2}T12:00:00Z","app_hash":"AH$h","txs":["dGVzdA=="],"txs_results":[{"code":${h % 3},"gas_wanted":"10","gas_used":"${h * 7}","data":"","log":"","events":[{"type":"${if (h % 2 == 0) "message" else "wasm"}","attributes":[]}]}],"finalize_block_events":[{"type":"fin","attributes":[]}]}""")
      spark.read.schema(Schemas.envelope).json(json.toDS)
    }
    assert(p.runOnce(tip = 20, fetch) === Some(Iv(1, 10)))
    assert(p.runOnce(tip = 20, fetch) === Some(Iv(11, 20)))
    val blocks = p.readTable("blocks")
    val txs = spark.read.parquet(s"$dir/txs")
    val txEvents = spark.read.parquet(s"$dir/tx_events")
    def partials(mv: String) = spark.read.parquet(s"$dir/$mv")
    def rows(df: DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

    val mv1 = Seq("date", "blocks_count", "total_txs", "total_events")
    assert(rows(Mvs.readMv(partials("mv_daily_block_stats"), Seq("date")), mv1: _*) ===
      rows(MvRecompute.dailyBlockStatsRecompute(blocks), mv1: _*))
    val mv2 = Seq("date", "tx_count", "total_gas_used", "failed_txs", "avg_gas_used")
    val mv2Read = rows(Mvs.readMv(partials("mv_daily_tx_stats"), Seq("date"))
      .withColumn("avg_gas_used", col("total_gas_used") / col("tx_count")), mv2: _*)
    assert(mv2Read.size === 2)
    assert(mv2Read === rows(MvRecompute.dailyTxStatsRecompute(txs, blocks), mv2: _*))
    val mv3 = Seq("date", "type", "event_count")
    assert(rows(Mvs.readMv(partials("mv_event_type_stats"), Seq("date", "type")), mv3: _*) ===
      rows(MvRecompute.eventTypeStatsRecompute(txEvents, blocks), mv3: _*))
  }

  test("runOnce over a lazy RPC fetch failing one height once: nothing commits, the retry equals one clean delivery") {
    val client = new RpcClient(
      RpcConfig(Seq("http://one"), retriesPerEndpoint = 2, sleeper = _ => ()), FlakyChain.transport)
    val fetch = (lo: Long, hi: Long) => RpcSource.fetchEnvelopes(spark, client, lo, hi, parallelism = 2)
    def warehouse(prefix: String) = {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      (dir, new Pipeline(spark, PipelineConfig(
        warehouse = dir, startHeight = 1, assignRange = 10, numWorkers = 2,
        backfillMode = true, now = () => { clock += 1; clock })))
    }
    val (clean, pClean) = warehouse("graft_wh_clean")
    FlakyChain.failuresLeft.set(0)
    pClean.ingest(fetch(1, 10))

    val (wh, p) = warehouse("graft_wh_flaky")
    // the first fetch of the flaky height fails both attempts on the one
    // endpoint; any later fetch of it succeeds
    FlakyChain.failuresLeft.set(2)
    assert(p.runOnce(tip = 10, iv => fetch(iv.start, iv.end)) === Some(Iv(1, 10)))
    assert(p.workQueue().collect().map(_.getAs[String]("status")).toSeq === Seq("failed"))
    for (o <- IngestSpec.outputs)
      assert(!new java.io.File(wh, o).exists(), s"$o committed by a failed fetch")
    clock += 3600 // past the retry backoff
    assert(p.retryFailedBlocks(hs => fetch(hs.min, hs.max)) === ((10L, 0L)))
    for (o <- IngestSpec.outputs)
      assert(IngestSpec.digest(spark, wh, o) === IngestSpec.digest(spark, clean, o),
        s"$o after the failed item and its retry")
  }

  test("claimNext: forward-priority window skips old ranges unless backfilling") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh3").toString
    val p = new Pipeline(spark, PipelineConfig(
      warehouse = dir, startHeight = 1, assignRange = 10,
      backfillMode = false, backfillWindow = 100,
      now = () => { clock += 1; clock }))
    // blocks are at height 500; window = [400, inf)
    p.ingest(envelopes(Seq(500L)))
    p.seedWorkQueue(1, 10)     // old range, below window
    p.seedWorkQueue(450, 459)  // inside window
    val claimed = p.claimNext(None)
    assert(claimed.map(_._2) === Some(Iv(450, 459))) // old range skipped
    // same queue in backfill mode claims the oldest range
    val pb = new Pipeline(spark, PipelineConfig(
      warehouse = dir, startHeight = 1, assignRange = 10,
      backfillMode = true, now = () => { clock += 1; clock }))
    assert(pb.claimNext(None).map(_._2) === Some(Iv(1, 10)))
  }

  private def backfillConfig(dir: String) = PipelineConfig(
    warehouse = dir, startHeight = 1, assignRange = 10, numWorkers = 2,
    backfillMode = true, now = () => { clock += 1; clock })

  test("driver-held state equals a fresh instance's cold read after every transition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_state").toString
    val cfg = backfillConfig(dir)
    val p = new Pipeline(spark, cfg)
    def coldRead(after: String): Unit =
      assert(p.loopState === new Pipeline(spark, cfg).loopState, s"after $after")
    coldRead("construction")
    assert(p.seedWorkQueue(1, 40).size === 4)
    coldRead("seed")
    val Some((id, iv)) = p.claimNext(None)
    coldRead("claim")
    p.updateWorkStatus(id, "processing", range = Some(iv))
    coldRead("processing")
    p.ingest(envelopes(iv.start to iv.end))
    coldRead("ingest")
    p.updateWorkStatus(id, "done", range = Some(iv))
    p.advanceIndexState(p.maxBlockHeight())
    coldRead("done")
    // [11, 20] fetches without height 15: failed, with a failed_blocks row
    assert(p.runOnce(tip = 40, iv => envelopes((iv.start to iv.end).filter(_ != 15))) ===
      Some(Iv(11, 20)))
    assert(p.loopState.queue.values.exists(_.status == "failed"))
    coldRead("failed")
    // a complete 'processing' item: reconcile marks it done with no range
    val Some((id3, iv3)) = p.claimNext(None)
    p.updateWorkStatus(id3, "processing", range = Some(iv3))
    p.ingest(envelopes(iv3.start to iv3.end))
    assert(p.reconcile() === 1)
    assert(p.loopState.queue(id3).start === 0L)
    coldRead("reconcile")
    clock += 3600 // past the retry backoff
    assert(p.retryFailedBlocks(hs => envelopes(hs)) === ((1L, 0L)))
    coldRead("retryFailedBlocks")
    // killed mid-item: 'processing' and half the range ingested, then the
    // instance is dropped; a new one resumes from what is on disk
    val Some((id4, iv4)) = p.claimNext(None)
    p.updateWorkStatus(id4, "processing", range = Some(iv4))
    p.ingest(envelopes(iv4.start to iv4.start + 4))
    coldRead("a partial ingest")
    val resumed = new Pipeline(spark, cfg)
    assert(resumed.lastIndexedHeight() === iv4.start + 4)
    assert(resumed.reconcile() === 0)
    assert(resumed.loopState === p.loopState)
  }

  test("a foreign append between two items is seen by the next runOnce") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_foreign").toString
    val cfg = backfillConfig(dir)
    val fetch = (iv: Iv) => envelopes(iv.start to iv.end)
    val p = new Pipeline(spark, cfg)
    assert(p.runOnce(tip = 40, fetch) === Some(Iv(1, 10)))
    // a second instance finishes the pending [11, 20] behind p's back
    val other = new Pipeline(spark, cfg)
    val Some((id, iv)) = other.claimNext(None)
    assert(iv === Iv(11, 20))
    other.ingest(fetch(iv))
    other.updateWorkStatus(id, "done", range = Some(iv))
    other.advanceIndexState(20)
    assert(p.runOnce(tip = 40, fetch) === Some(Iv(21, 30)))
    assert(p.lastIndexedHeight() === 30L)
    assert(p.loopState === new Pipeline(spark, cfg).loopState)
  }

  test("the staleness check compacts a state table past its file bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_compact").toString
    val cfg = backfillConfig(dir)
    val p = new Pipeline(spark, cfg)
    p.seedWorkQueue(1, 10)
    val Some((id, iv)) = p.claimNext(None)
    (0 to Pipeline.StateFileBound).foreach(_ =>
      p.updateWorkStatus(id, "processing", range = Some(iv)))
    def files = new java.io.File(dir, "work_queue").list().count(n => !n.startsWith(".") && !n.startsWith("_"))
    assert(files > Pipeline.StateFileBound)
    // the one item is 'processing': nothing to seed or claim
    assert(p.runOnce(tip = 10, iv => envelopes(iv.start to iv.end)) === None)
    assert(files <= 4, "work_queue not compacted")
    assert(p.readTableRaw("work_queue").count() === 1L)
    assert(p.loopState === new Pipeline(spark, cfg).loopState)
    // the compacted files are this instance's own: no reload, and the loop goes on
    p.updateWorkStatus(id, "pending", range = Some(iv))
    assert(p.runOnce(tip = 10, iv => envelopes(iv.start to iv.end)) === Some(Iv(1, 10)))
    assert(p.loopState === new Pipeline(spark, cfg).loopState)
  }

  test("claimNext's forward-priority window follows a direct ingest") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_window").toString
    val p = new Pipeline(spark, PipelineConfig(
      warehouse = dir, startHeight = 1, assignRange = 10,
      backfillMode = false, backfillWindow = 100,
      now = () => { clock += 1; clock }))
    p.seedWorkQueue(1, 10)
    p.seedWorkQueue(450, 459)
    // no blocks yet: the window starts at startHeight
    assert(p.claimNext(None).map(_._2) === Some(Iv(1, 10)))
    p.ingest(envelopes(Seq(500L)))
    assert(p.maxBlockHeight() === 500L)
    assert(p.claimNext(None).map(_._2) === Some(Iv(450, 459)))
  }

  test("findGaps, isRangeComplete and retryFailedBlocks read only the range's height buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    val p = mkPipeline()
    val heights = Seq(1L, 2L, 4L, 99999L, 100001L, 100003L, 200001L)
    p.ingest(envelopes(heights))
    def bucketPruned(scans: Seq[FileSourceScanExec]): Boolean =
      scans.nonEmpty && scans.forall(_.partitionFilters.exists(_.references.exists(_.name == "height_bucket")))
    def blocksScans(qe: QueryExecution): Seq[FileSourceScanExec] =
      qe.sparkPlan.collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == "blocks") => s
      }
    /** The blocks scans of every query `body` runs, from a QueryExecutionListener.
      * Delivery is asynchronous but ordered: once a marker query arrives, every
      * earlier query has, so markers before and after `body` fence its queries. */
    def scansOf(body: => Unit): Seq[FileSourceScanExec] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { seen.add(qe); () }
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      def fence(marker: String): Unit = {
        spark.range(1).toDF(marker).collect()
        val deadline = System.currentTimeMillis() + 10000
        def arrived = seen.toArray.exists(_.asInstanceOf[QueryExecution].analyzed.output
          .exists(_.name == marker))
        while (!arrived && System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(arrived, s"listener never saw the $marker query")
      }
      spark.listenerManager.register(l)
      try {
        fence("scans_of_start")
        seen.clear()
        body
        fence("scans_of_end")
      } finally spark.listenerManager.unregister(l)
      seen.toArray.toSeq.map(_.asInstanceOf[QueryExecution]).flatMap(blocksScans)
    }
    def unprunedGaps(s: Long, e: Long): Seq[Long] =
      spark.range(s, e + 1).toDF("height")
        .join(p.readTable("blocks").select("height").distinct(), Seq("height"), "left_anti")
        .collect().map(_.getLong(0)).toSeq.sorted
    for ((s, e) <- Seq((1L, 5L), (99998L, 100004L), (100001L, 100001L), (1L, 200001L))) {
      val gaps = p.findGaps(s, e)
      assert(bucketPruned(blocksScans(gaps.queryExecution)), s"findGaps($s, $e) plan")
      assert(gaps.collect().map(_.getLong(0)).toSeq.sorted === unprunedGaps(s, e))
      var complete = false
      assert(bucketPruned(scansOf { complete = p.isRangeComplete(s, e) }), s"isRangeComplete($s, $e)")
      assert(complete === unprunedGaps(s, e).isEmpty, s"isRangeComplete($s, $e)")
    }
    // 3 and 100002 fail, then a retry can refetch 100002 only
    p.recordFailedBlocks(Seq(3L, 100002L).toDF("height"), "missing", "gap")
    clock += 3600
    var outcome = (0L, 0L)
    val scans = scansOf {
      outcome = p.retryFailedBlocks(hs => envelopes(hs.filter(_ == 100002L)))
    }
    assert(outcome === ((1L, 1L)))
    assert(bucketPruned(scans), "retryFailedBlocks' read of the refetched heights")
    assert(unprunedGaps(100001L, 100003L).isEmpty)
  }

  test("RpcClient: rotation + retry, tip discovery, fetchEnvelopes end-to-end") {
    var calls = Vector.empty[(String, String)]
    val transport: (String, String) => String = (url, pth) => {
      calls = calls :+ ((url, pth))
      if (url == "http://bad") throw new RuntimeException("boom")
      if (pth == "/status")
        """{"result":{"sync_info":{"latest_block_height":"42"}}}"""
      else if (pth.startsWith("/block_results"))
        """{"result":{"txs_results":[],"finalize_block_events":[]}}"""
      else
        """{"result":{"block":{"header":{"time":"2025-06-01T12:00:00Z","app_hash":"AH"},"data":{"txs":[]}}}}"""
    }
    val client = new RpcClient(
      RpcConfig(Seq("http://bad", "http://good"), retriesPerEndpoint = 2, sleeper = _ => ()),
      transport)
    assert(client.latestHeight() === 42L)
    // rotation happened: bad tried twice then good succeeded
    assert(calls.take(3).map(_._1) === Vector("http://bad", "http://bad", "http://good"))
    val env = RpcSource.fetchEnvelopes(spark, client, 1, 3, parallelism = 2)
    val rows = env.orderBy("height").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.forall(_.getAs[String]("app_hash") === "AH"))
  }

  test("version stamps: strictly monotonic across Pipeline instances under a frozen clock") {
    // Two instances sharing a warehouse, clock frozen at one second: a
    // per-instance counter would stamp all three writes second*1e6 + 0 and
    // the FINAL view's tie-break would be nondeterministic; the JVM-wide
    // last-issued register orders them by write order.
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val frozen = () => 7777777L
    val p1 = new Pipeline(spark, PipelineConfig(warehouse = dir, now = frozen))
    val p2 = new Pipeline(spark, PipelineConfig(warehouse = dir, now = frozen))
    p1.advanceIndexState(10L)
    p2.advanceIndexState(20L)
    p1.advanceIndexState(30L)
    assert(p1.lastIndexedHeight() === 30L)
    val stamps = spark.read.parquet(s"$dir/index_state")
      .select(unix_micros(col("updated_at")).as("us"), col("last_processed_height"))
      .orderBy("us").collect()
    assert(stamps.map(_.getLong(1)).toSeq === Seq(10L, 20L, 30L))
    assert(stamps.map(_.getLong(0)).distinct.length === 3, "stamps must be unique")
  }

  test("warehouse on a non-file: URI scheme: resume + seed survive (Hadoop FS table IO)") {
    // mockfs:// resolves through the Hadoop FileSystem API only — a
    // java.io.File existence check against the URI string is always false,
    // which used to reset resume heights and re-seed everything on any
    // non-local warehouse (the s3a/hdfs deployment landmine).
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_mock").toString
    val wh = s"mockfs://$dir"
    val p = new Pipeline(spark, PipelineConfig(
      warehouse = wh, startHeight = 1, assignRange = 10, numWorkers = 2,
      backfillMode = true, now = () => { clock += 1; clock }))
    assert(p.runOnce(tip = 25, fetch = iv => envelopes(iv.start to iv.end))
      === Some(Iv(1, 10)))
    assert(p.lastIndexedHeight() === 10L)
    // a FRESH instance over the same remote-scheme warehouse resumes (no
    // height reset) and does not re-seed the already-queued range
    val p2 = new Pipeline(spark, PipelineConfig(
      warehouse = wh, startHeight = 1, assignRange = 10, numWorkers = 2,
      backfillMode = true, now = () => { clock += 1; clock }))
    assert(p2.lastIndexedHeight() === 10L)
    assert(p2.runOnce(tip = 25, fetch = iv => envelopes(iv.start to iv.end))
      === Some(Iv(11, 20)))
    val statuses = p2.workQueue().orderBy("id").collect()
      .map(r => (r.getAs[Long]("start_height"), r.getAs[String]("status")))
    assert(statuses.count(_._2 == "done") === 2)
    assert(statuses.map(_._1).distinct.length === statuses.length,
      "re-seeding duplicated work items")
  }
}

/** A one-endpoint RPC chain over heights that fill all 13 ingest outputs;
  * `/block` at `FlakyHeight` fails while `failuresLeft` is positive. The
  * counter is JVM-wide, so in local mode a Spark task that fetches the
  * height after an earlier failed fetch sees the recovery. */
object FlakyChain {
  val FlakyHeight = 3L
  val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(0)
  val transport: (String, String) => String = (_, path) => {
    val h = path.substring(path.indexOf("height=") + 7).toLong
    if (path.startsWith("/block_results"))
      s"""{"result":{"txs_results":[{"code":${h % 2},"gas_wanted":"10","gas_used":"${h * 10}","data":"","log":"","events":[{"type":"${if (h % 2 == 0) "message" else "wasm"}","attributes":[{"key":"k","value":"v$h","index":true}]}]}],"finalize_block_events":[{"type":"fin","attributes":[{"key":"fk","value":"fv$h","index":false}]}]}}"""
    else if (h == FlakyHeight && failuresLeft.getAndDecrement() > 0)
      throw new java.io.IOException(s"503 for height $h")
    else
      s"""{"result":{"block":{"header":{"time":"2025-07-0${1 + h % 2}T00:00:00Z","app_hash":"A$h"},"data":{"txs":["dGVzdA=="]}}}}"""
  }
}

/** RawLocalFileSystem re-registered under a non-file scheme: mockfs:// paths
  * hit the local disk, but ONLY through the Hadoop FileSystem API — exactly
  * what a java.io.File-based existence check cannot see. */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}
