package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ingest.Ingest
import graft.queries.Mvs
import graft.streaming.StreamingIngest

/** Streaming ingest + incremental MV maintenance over a file-source stream
  * of envelope JSON, including restart/exactly-once via the checkpoint. */
class StreamingSpec extends SparkTestBase {

  private def writeEnvelopeFile(dir: String, name: String, heights: Seq[Long]): Unit = {
    val lines = heights.map(h =>
      s"""{"height":$h,"time":"2025-06-0${1 + (h % 2)}T12:00:00Z","app_hash":"AH$h","txs":["dGVzdA=="],"txs_results":[{"code":${h % 2},"gas_wanted":"10","gas_used":"${h * 10}","data":"","log":"","events":[{"type":"transfer","attributes":[{"key":"amount","value":"1","index":false}]}]}],"finalize_block_events":[]}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/$name"),
      lines.mkString("\n").getBytes)
  }

  test("streaming ingest: micro-batches flatten, append, and maintain MVs") {
    val in = java.nio.file.Files.createTempDirectory("graft_in").toString
    val wh = java.nio.file.Files.createTempDirectory("graft_swh").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_cp").toString

    writeEnvelopeFile(in, "batch1.json", Seq(1L, 2L))
    // AvailableNow self-terminates; a bounded wait could leave the stream
    // running under CPU contention and corrupt the shared checkpoint.
    val q1 = StreamingIngest.startExactlyOnce(spark, in, wh, cp, Trigger.AvailableNow())
    q1.awaitTermination()

    assert(spark.read.parquet(s"$wh/blocks").count() === 2)
    assert(spark.read.parquet(s"$wh/txs").count() === 2)

    // second file arrives; restart from checkpoint picks up ONLY the new file
    writeEnvelopeFile(in, "batch2.json", Seq(3L))
    val q2 = StreamingIngest.startExactlyOnce(spark, in, wh, cp, Trigger.AvailableNow())
    q2.awaitTermination()

    val blocks = spark.read.parquet(s"$wh/blocks")
    assert(blocks.count() === 3) // no reprocessing of batch1
    assert(blocks.select("height").orderBy("height").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L))

    // one ingest_batch partition per micro-batch: 0, then 1 after restart
    assert(blocks.select(col("ingest_batch").cast("long")).distinct().orderBy("ingest_batch")
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 1L))

    // MV partials were written per batch; read finishes the aggregation
    val mv2 = Mvs.readMv(
        spark.read.parquet(s"$wh/mv_daily_tx_stats").drop("ingest_batch"), Seq("date"))
      .withColumn("avg_gas_used", col("total_gas_used") / col("tx_count"))
      .orderBy("date").collect()
    // heights 1,3 -> day 2025-06-02 (h%2=1), height 2 -> 2025-06-01
    val byDate = mv2.map(r => r.getDate(0).toString ->
      (r.getAs[Long]("tx_count"), r.getAs[Long]("total_gas_used"),
        r.getAs[Long]("failed_txs"))).toMap
    assert(byDate("2025-06-01") === ((1L, 20L, 0L)))
    assert(byDate("2025-06-02") === ((2L, 40L, 2L))) // gas 10+30, two failed (code=1)
    val avg = mv2.find(_.getDate(0).toString == "2025-06-02").get
      .getAs[Double]("avg_gas_used")
    assert(avg === 20.0)

    // MV recompute over base tables agrees with the incremental read
    val recomputed = MvRecompute.dailyTxStatsRecompute(
      spark.read.parquet(s"$wh/txs"), spark.read.parquet(s"$wh/blocks"))
      .orderBy("date").collect()
      .map(r => r.getDate(0).toString -> r.getAs[Long]("tx_count")).toMap
    assert(recomputed === byDate.map { case (k, v) => k -> v._1 })
  }

  test("startExactlyOnce rejects an unknown stream format") {
    val in = java.nio.file.Files.createTempDirectory("graft_fmt_in").toString
    val e = intercept[IllegalArgumentException](StreamingIngest.startExactlyOnce(
      spark, in, s"$in/wh", s"$in/cp", Trigger.AvailableNow(), format = "parqet"))
    assert(e.getMessage.contains("'parqet'"))
  }

  test("exactly-once ingest: redelivered batch is absorbed per-table, new batch lands") {
    val wh = java.nio.file.Files.createTempDirectory("graft_eowh").toString
    import spark.implicits._
    def env(heights: Seq[Long]) = spark.read.schema(graft.schema.Schemas.envelope)
      .json(heights.map(h =>
        s"""{"height":$h,"time":"2025-07-0${1 + (h % 2)}T00:00:00Z","app_hash":"A$h","txs":["dGVzdA=="],"txs_results":[{"code":0,"gas_wanted":"10","gas_used":"${h * 10}","data":"","log":"","events":[{"type":"${if (h % 2 == 0) "message" else "wasm"}","attributes":[{"key":"k","value":"v$h","index":true}]}]}],"finalize_block_events":[{"type":"fin","attributes":[{"key":"fk","value":"fv","index":false}]}]}""").toDS)

    val allTables = Seq("blocks", "txs", "tx_events", "tx_event_attrs_json",
      "type_wasm", "type_wasm_attrs", "type_message", "type_message_attrs",
      "block_events", "block_event_attrs")
    def counts(): Map[String, Long] =
      allTables.map(t => t -> spark.read.parquet(s"$wh/$t").count()).toMap

    Ingest.write(wh, env(Seq(1, 2)), Some(0L))
    val after0 = counts()
    assert(after0("blocks") === 2 && after0("txs") === 2)
    assert(after0("type_wasm") === 1 && after0("type_message") === 1)
    assert(after0("block_events") === 2 && after0("block_event_attrs") === 2)

    // planted redelivery of batch 0: every table must be byte-for-count
    // identical — the dynamic partition overwrite replaces ingest_batch=0
    Ingest.write(wh, env(Seq(1, 2)), Some(0L))
    assert(counts() === after0, "redelivered batch must not change any table")

    // a NEW batch id appends next to it (its own partitions)
    Ingest.write(wh, env(Seq(3)), Some(1L))
    val after1 = counts()
    assert(after1("blocks") === 3 && after1("txs") === 3)

    // MV read (partials summed, redelivery absorbed) agrees with recompute
    // over base tables for MV1 and MV3
    val mv1 = Mvs.readMv(spark.read.parquet(s"$wh/mv_daily_block_stats")
        .drop("ingest_batch"), Seq("date"))
      .orderBy("date").collect()
      .map(r => r.getDate(0).toString -> r.getAs[Long]("blocks_count")).toSeq
    val re1 = MvRecompute.dailyBlockStatsRecompute(spark.read.parquet(s"$wh/blocks"))
      .orderBy("date").collect()
      .map(r => r.getDate(0).toString -> r.getAs[Long]("blocks_count")).toSeq
    assert(mv1 === re1)
    val mv3 = Mvs.readMv(spark.read.parquet(s"$wh/mv_event_type_stats")
        .drop("ingest_batch"), Seq("date", "type"))
      .orderBy("date", "type").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getAs[Long]("event_count"))).toSeq
    val re3 = MvRecompute.eventTypeStatsRecompute(
      spark.read.parquet(s"$wh/tx_events"), spark.read.parquet(s"$wh/blocks"))
      .orderBy("date", "type").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getAs[Long]("event_count"))).toSeq
    assert(mv3 === re3)
  }

  test("flattenFileRun: multi-batch stream + planted redelivery reproduces batch flatten") {
    import spark.implicits._
    val heights = (1L to 12L)
    val envDf = spark.read.schema(graft.schema.Schemas.envelope)
      .json(heights.map(h =>
        s"""{"height":$h,"time":"2025-08-0${1 + (h % 3)}T00:00:00Z","app_hash":"A$h","txs":["dGVzdA=="],"txs_results":[{"code":${h % 2},"gas_wanted":"7","gas_used":"${h}","data":"","log":"","events":[{"type":"transfer","attributes":[{"key":"amt","value":"$h","index":true}]}]}],"finalize_block_events":[]}""").toDS)

    val wh = StreamingIngest.flattenFileRun(spark, envDf, chunks = 3)

    // streamed tables == batch flatten of the same envelopes, per table
    val streamed = graft.ingest.Flatten(envDf)
    val blocks = spark.read.parquet(s"$wh/blocks")
    assert(blocks.count() === 12)
    assert(blocks.select("height").distinct().count() === 12,
      "planted redelivery must not duplicate heights")
    assert(spark.read.parquet(s"$wh/txs").count() === streamed.txs.count())
    assert(spark.read.parquet(s"$wh/tx_events").count() === streamed.txEvents.count())

    // MV2 read through the partials equals the batch recompute
    val mv2 = Mvs.readMv(
      spark.read.parquet(s"$wh/mv_daily_tx_stats").drop("ingest_batch"), Seq("date"))
      .orderBy("date").collect()
      .map(r => (r.getDate(0).toString, r.getAs[Long]("tx_count"),
        r.getAs[Long]("total_gas_used")))
    val re2 = MvRecompute.dailyTxStatsRecompute(
      spark.read.parquet(s"$wh/txs"), blocks)
      .orderBy("date").collect()
      .map(r => (r.getDate(0).toString, r.getAs[Long]("tx_count"),
        r.getAs[Long]("total_gas_used")))
    assert(mv2.toSeq === re2.toSeq)
  }

  test("two concurrent exactly-once streams share one warehouse; interleaved redeliveries absorbed") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft_2eo").toString
    val wh = s"$stage/wh"
    def mkdirs(p: String) = { java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(p)); p }
    val inA = mkdirs(s"$stage/inA"); val inB = mkdirs(s"$stage/inB")
    val cpA = s"$stage/cpA"; val cpB = s"$stage/cpB"

    def envJson(h: Long) =
      s"""{"height":$h,"time":"2025-07-0${1 + (h % 2)}T00:00:00Z","app_hash":"A$h","txs":["dGVzdA=="],"txs_results":[{"code":0,"gas_wanted":"10","gas_used":"${h * 10}","data":"","log":"","events":[{"type":"transfer","attributes":[{"key":"k","value":"v$h","index":true}]}]}],"finalize_block_events":[]}"""
    def writeFile(dir: String, name: String, heights: Seq[Long]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        heights.map(envJson).mkString("\n").getBytes)
    def envDf(heights: Seq[Long]) = spark.read
      .schema(graft.schema.Schemas.envelope).json(heights.map(envJson).toDS)

    // both streams live CONCURRENTLY against one warehouse, one file per
    // micro-batch, disjoint height ranges, distinct stream tags
    val qA = StreamingIngest.startExactlyOnce(spark, inA, wh, cpA,
      Trigger.ProcessingTime("0 seconds"), maxFilesPerTrigger = Some(1),
      streamTag = 1L)
    val qB = StreamingIngest.startExactlyOnce(spark, inB, wh, cpB,
      Trigger.ProcessingTime("0 seconds"), maxFilesPerTrigger = Some(1),
      streamTag = 2L)
    try {
      writeFile(inA, "a0.json", Seq(1L, 2L)); qA.processAllAvailable()
      writeFile(inB, "b0.json", Seq(101L, 102L)); qB.processAllAvailable()
      // interleaved REDELIVERY of A's batch 0 while stream B is live —
      // then B keeps ingesting: A's dynamic overwrite must touch only
      // (tag=1, batch=0) partitions, never B's
      Ingest.write(wh, envDf(Seq(1L, 2L)), Some(StreamingIngest.batchKey(1L, 0L)))
      writeFile(inB, "b1.json", Seq(103L)); qB.processAllAvailable()
      writeFile(inA, "a1.json", Seq(3L)); qA.processAllAvailable()
      // and a redelivery of B's batch 1 while A is live
      Ingest.write(wh, envDf(Seq(103L)), Some(StreamingIngest.batchKey(2L, 1L)))
    } finally { qA.stop(); qB.stop() }

    val blocks = spark.read.parquet(s"$wh/blocks")
    val heights = blocks.select("height").orderBy("height")
      .collect().map(_.getLong(0)).toSeq
    assert(heights === Seq(1L, 2L, 3L, 101L, 102L, 103L),
      "each stream's rows land exactly once despite interleaved redeliveries")
    // per-table idempotence across the whole envelope fan-out
    for (t <- Seq("txs", "tx_events", "tx_event_attrs_json")) {
      val df = spark.read.parquet(s"$wh/$t")
      assert(df.count() === df.dropDuplicates("height", "tx_index").count(),
        s"$t must hold no duplicate rows")
      assert(df.select("height").distinct().count() === 6, t)
    }
    // the namespaced batch keys are disjoint: tag 1 → 2^40+b, tag 2 → 2^41+b
    val batches = blocks.select("ingest_batch").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches === Set(1L << 40, (1L << 40) | 1L, 2L << 40, (2L << 40) | 1L))
    // MV read through partials equals recompute over the merged base tables
    val mv1 = Mvs.readMv(spark.read.parquet(s"$wh/mv_daily_block_stats")
        .drop("ingest_batch"), Seq("date"))
      .orderBy("date").collect()
      .map(r => r.getDate(0).toString -> r.getAs[Long]("blocks_count")).toSeq
    val re1 = MvRecompute.dailyBlockStatsRecompute(blocks)
      .orderBy("date").collect()
      .map(r => r.getDate(0).toString -> r.getAs[Long]("blocks_count")).toSeq
    assert(mv1 === re1)
  }

  test("MV1/MV3 recompute vs incremental agree after multiple batches") {
    val wh = java.nio.file.Files.createTempDirectory("graft_swh2").toString
    import spark.implicits._
    def env(heights: Seq[Long]) = spark.read.schema(graft.schema.Schemas.envelope)
      .json(heights.map(h =>
        s"""{"height":$h,"time":"2025-07-01T00:00:00Z","app_hash":"A","txs":[],"txs_results":[],"finalize_block_events":[{"type":"t$h","attributes":[]}]}""").toDS)
    Ingest.write(wh, env(Seq(1, 2)), None)
    Ingest.write(wh, env(Seq(3)), None)
    val mv1 = Mvs.readMv(
      spark.read.parquet(s"$wh/mv_daily_block_stats"), Seq("date")).collect()
    assert(mv1.length === 1)
    assert(mv1(0).getAs[Long]("blocks_count") === 3L)
    val recompute = MvRecompute.dailyBlockStatsRecompute(spark.read.parquet(s"$wh/blocks"))
      .collect()
    assert(recompute(0).getAs[Long]("blocks_count") === 3L)
  }
}
