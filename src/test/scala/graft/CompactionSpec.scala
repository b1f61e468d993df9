package graft

import org.apache.spark.sql.functions._
import graft.store.Store

/** Compaction (background-merge analogue) + A16 observe() ingest metrics. */
class CompactionSpec extends SparkTestBase {
  import spark.implicits._

  test("compact: versioned table shrinks to latest rows, view unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val p = s"$dir/work_queue"
    Seq((1L, "pending", 1), (2L, "pending", 1)).toDF("id", "status", "v")
      .write.mode("append").parquet(p)
    Seq((1L, "processing", 2), (1L, "done", 3)).toDF("id", "status", "v")
      .write.mode("append").parquet(p)

    val before = spark.read.parquet(p)
    assert(before.count() === 4)
    val viewBefore = Store.latest(before, Seq("id"), "v")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))

    Store.compact(spark, p, Store.latest(_, Seq("id"), "v"))

    val after = spark.read.parquet(p)
    assert(after.count() === 2) // superseded rows reclaimed
    val viewAfter = Store.latest(after, Seq("id"), "v")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(viewBefore.toSeq === viewAfter.toSeq)
    assert(viewAfter.toSeq === Seq((1L, "done"), (2L, "pending")))
    // no leftover tmp/old dirs
    assert(!new java.io.File(p + ".compact.tmp").exists())
    assert(!new java.io.File(p + ".compact.old").exists())
  }

  test("compact: partitioned version-less table dedups any-row per key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact2").toString
    val p = s"$dir/txs"
    val df = Seq((1L, 0, "a"), (1L, 0, "a"), (100001L, 1, "b"))
      .toDF("height", "tx_index", "s")
      .withColumn("height_bucket", graft.functions.Fns.heightBucket(col("height")))
    df.write.mode("append").partitionBy("height_bucket").parquet(p)
    Store.compact(spark, p, Store.latestAnyRow(_, Seq("height", "tx_index")),
      partitionCols = Seq("height_bucket"), sortCols = Seq("height"))
    val after = spark.read.parquet(p)
    assert(after.count() === 2)
    // partition layout preserved
    val buckets = new java.io.File(p).listFiles().map(_.getName)
      .filter(_.startsWith("height_bucket=")).toSet
    assert(buckets === Set("height_bucket=0", "height_bucket=1"))
  }

  test("compact publish window: concurrent retried reads never fail, counts stay sane") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact3").toString
    val p = s"$dir/state"
    Seq((1L, "a", 1), (2L, "b", 1), (1L, "c", 2)).toDF("id", "s", "v")
      .write.mode("append").parquet(p)

    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val reader = new Thread(() => {
      while (!stop) {
        try counts.add(Store.withReadRetry() { spark.read.parquet(p).count() })
        catch { case t: Throwable => failures.add(t); stop = true }
      }
    })
    reader.start()
    try {
      // repeated compacts maximize the chance a read lands in the publish
      // window; appends between them keep each compact non-trivial
      (1 to 5).foreach { i =>
        Seq((i.toLong + 10, "x", i)).toDF("id", "s", "v")
          .write.mode("append").parquet(p)
        Store.compact(spark, p, Store.latest(_, Seq("id"), "v"))
      }
    } finally { stop = true; reader.join(30000) }
    assert(failures.isEmpty, s"concurrent read failed: ${failures.peek()}")
    assert(!counts.isEmpty, "reader thread never completed a read")
    // every observed count is a legal table size (post-compact sizes range
    // from the initial 4 rows down/up through the appended generations)
    counts.forEach(c => assert(c >= 2L && c <= 9L, s"implausible count $c"))
  }

  test("A16: observe() metrics surface via QueryExecutionListener") {
    import graft.pipeline.{Pipeline, PipelineConfig}
    val metrics = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => metrics.put(k, v) }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_obs").toString
      val p = new Pipeline(spark, PipelineConfig(warehouse = dir, backfillMode = true))
      val env = spark.read.schema(graft.schema.Schemas.envelope).json(Seq(
        """{"height":1,"time":"2025-06-01T00:00:00Z","app_hash":"A","txs":["dGVzdA=="],"txs_results":[{"code":0,"gas_wanted":"1","gas_used":"1","data":"","log":"","events":[]}],"finalize_block_events":[]}""",
        """{"height":2,"time":"2025-06-01T00:00:01Z","app_hash":"B","txs":[],"txs_results":[],"finalize_block_events":[]}""").toDS)
      p.ingest(env)
      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (!metrics.containsKey("graft_ingest") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val m = metrics.get("graft_ingest")
      assert(m != null, s"graft_ingest metrics not observed; got ${metrics.keySet()}")
      assert(m.getAs[Long]("processed_blocks") === 2L)
      assert(m.getAs[Long]("total_txs") === 1L)
      assert(m.getAs[Long]("empty_blocks") === 1L)
    } finally spark.listenerManager.unregister(listener)
  }
}
