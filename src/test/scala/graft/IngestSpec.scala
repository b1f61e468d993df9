package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Ingest
import graft.streaming.StreamingIngest

/** The one ingest writer under a failed output: a keyed batch whose write
  * fails on one of its 13 outputs, redelivered under the same key, leaves
  * the warehouse a clean single delivery would. */
class IngestSpec extends SparkTestBase {
  import spark.implicits._
  import IngestSpec.outputs
  private def digest(wh: String, name: String) = IngestSpec.digest(spark, wh, name)

  /** Every output gets rows: odd heights carry a wasm event, even ones a
    * message event, and every block a finalize event with an attribute. */
  private def batch0: DataFrame = batch(Seq(1L, 2L, 3L))

  private def batch(heights: Seq[Long]): DataFrame = spark.read.schema(graft.schema.Schemas.envelope)
    .json(heights.map(h =>
      s"""{"height":$h,"time":"2025-07-0${1 + (h % 2)}T00:00:00Z","app_hash":"A$h","txs":["dGVzdA=="],"txs_results":[{"code":${h % 2},"gas_wanted":"10","gas_used":"${h * 10}","data":"","log":"","events":[{"type":"${if (h % 2 == 0) "message" else "wasm"}","attributes":[{"key":"k","value":"v$h","index":true}]}]}],"finalize_block_events":[{"type":"fin","attributes":[{"key":"fk","value":"fv$h","index":false}]}]}""").toDS)

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("keyed write fails on any one of 13 outputs; redelivery equals a clean run") {
    val clean = tmpDir("graft_ingest_clean")
    Ingest.write(clean, batch0, Some(0L))
    val expected = outputs.map(o => o -> digest(clean, o)).toMap
    assert(expected.values.forall(_._1 > 0), s"every output gets rows: $expected")

    for (failing <- outputs) {
      val wh = tmpDir("graft_ingest_fault")
      val planted = java.nio.file.Paths.get(wh, failing)
      java.nio.file.Files.write(planted, "not a table".getBytes)
      intercept[Exception](Ingest.write(wh, batch0, Some(0L)))
      // the failure surfaced only after every sibling write had committed:
      // a dynamic-overwrite job stages under .spark-staging-<job> and only
      // its commit moves the ingest_batch=0 partition into place
      for (o <- outputs if o != failing) {
        val dir = new java.io.File(wh, o)
        assert(new java.io.File(dir, "ingest_batch=0").isDirectory,
          s"$failing failed: $o not committed")
        assert(!dir.list().exists(_.startsWith(".spark-staging")),
          s"$failing failed: $o still staging")
      }
      java.nio.file.Files.delete(planted)
      Ingest.write(wh, batch0, Some(0L))
      for (o <- outputs)
        assert(digest(wh, o) === expected(o), s"$o after a failed $failing write and redelivery")
    }
  }

  test("unkeyed 200-height write: one file per table, the same rows as a 4-partition write") {
    val env = batch(1L to 200L).repartition(4)
    val single = tmpDir("graft_ingest_single")
    Ingest.write(single, env, None)
    // a keyed batch that is not a parquet scan gets the same fill and coalesce
    val keyed = tmpDir("graft_ingest_keyed")
    Ingest.write(keyed, env, Some(0L))
    // a parquet scan is read directly and keeps its 4 files' partitions
    val staged = tmpDir("graft_ingest_staged") + "/env"
    env.write.parquet(staged)
    val split = tmpDir("graft_ingest_split")
    Ingest.write(split, spark.read.schema(graft.schema.Schemas.envelope).parquet(staged), Some(0L))
    def dataFiles(wh: String, o: String): Int = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(wh, o))
      try it.toArray.count(f => f.toString.endsWith(".parquet")) finally it.close()
    }
    for (o <- outputs.take(10); wh <- Seq(single, keyed))
      assert(dataFiles(wh, o) === 1, s"$o files under $wh")
    assert(dataFiles(split, "blocks") === 4)
    for (o <- outputs; wh <- Seq(keyed, split))
      assert(IngestSpec.digest(spark, single, o) ===
        IngestSpec.digest(spark, wh, o, drop = Seq("ingest_batch")), s"$o under $wh")
  }

  test("input policy: a parquet scan is read directly by every write, any other batch from its cache") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.util.QueryExecutionListener
    // (warehouse, output) -> whether that output's write read a cached input
    val cachedRead = new java.util.concurrent.ConcurrentHashMap[(String, String), Boolean]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.collectFirst { case cmd: InsertIntoHadoopFsRelationCommand => cmd.outputPath }
          .foreach(out => cachedRead.put((out.getParent.toUri.getPath, out.getName),
            qe.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation])))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val heights = 1L to 20L
    val stagedPq = tmpDir("graft_policy_pq")
    batch(heights).write.mode("overwrite").parquet(stagedPq)
    val stagedJson = tmpDir("graft_policy_json")
    batch(heights).write.mode("overwrite").json(stagedJson)
    def stream(format: String, in: String)(wh: String): Unit =
      StreamingIngest.startExactlyOnce(spark, in, wh, tmpDir("graft_policy_ckpt"),
        Trigger.AvailableNow(), format = format).awaitTermination()
    // (case, write, whether every write reads the cache)
    val cases: Seq[(String, String => Unit, Boolean)] = Seq(
      ("keyed parquet read", wh => Ingest.write(wh,
        spark.read.schema(graft.schema.Schemas.envelope).parquet(stagedPq), Some(0L)), false),
      ("parquet file stream", stream("parquet", stagedPq), false),
      ("keyed JSON batch", wh => Ingest.write(wh, batch(heights), Some(0L)), true),
      ("JSON file stream", stream("json", stagedJson), true),
      ("keyed computed batch", wh => Ingest.write(wh,
        graft.fixtures.Fixtures.envelopes(spark, 1, 20), Some(0L)), true),
      ("unkeyed JSON batch", wh => Ingest.write(wh, batch(heights), None), true))
    spark.listenerManager.register(listener)
    val seen = try cases.map { case (name, run, _) =>
      val wh = tmpDir("graft_policy_wh")
      run(wh)
      val path = new org.apache.hadoop.fs.Path(wh).toUri.getPath
      def reads = outputs.flatMap(o => Option(cachedRead.get((path, o))))
      val deadline = System.nanoTime() + 30000000000L
      while (reads.size < outputs.size && System.nanoTime() < deadline) Thread.sleep(50)
      name -> reads
    } finally spark.listenerManager.unregister(listener)
    for (((name, reads), (_, _, cached)) <- seen.zip(cases)) {
      assert(reads.size === outputs.size, s"$name: writes seen")
      assert(reads.forall(_ == cached), s"$name: cached reads $reads")
    }
  }

  test("warm unkeyed items reuse the generated code of all 13 output writes") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    import org.apache.spark.sql.util.QueryExecutionListener
    // output name -> whole-stage sources of its write, per warehouse
    val sources = new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[String]]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.collectFirst { case cmd: InsertIntoHadoopFsRelationCommand => cmd.outputPath }
          .foreach(out => sources.put((out.getParent.toUri.getPath, out.getName),
            codegenStringSeq(qe.executedPlan).map(_._2)))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val items = Seq(tmpDir("graft_ingest_warm1") -> (1L to 200L),
      tmpDir("graft_ingest_warm2") -> (201L to 400L))
    spark.listenerManager.register(listener)
    try {
      for (((wh, heights), i) <- items.zipWithIndex) {
        if (i > 0) Thread.sleep(1100) // a later stamp for the second item
        Ingest.write(wh, batch(heights).repartition(4), None)
      }
      val deadline = System.nanoTime() + 30000000000L
      while (sources.size < 2 * outputs.size && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    def code(wh: String, o: String): Seq[String] =
      Option(sources.get((new org.apache.hadoop.fs.Path(wh).toUri.getPath, o)))
        .getOrElse(fail(s"no write of $o under $wh seen"))
    val Seq(first, second) = items.map(_._1)
    for (o <- outputs) {
      assert(code(first, o).nonEmpty, s"$o: no whole-stage code")
      assert(code(first, o) === code(second, o), s"$o: generated code differs between items")
    }
  }
}

object IngestSpec {
  /** The 13 outputs `Ingest.write` writes under a warehouse. */
  val outputs: Seq[String] = Seq("blocks", "txs", "tx_events", "tx_event_attrs_json",
    "type_wasm", "type_wasm_attrs", "type_message", "type_message_attrs",
    "block_events", "block_event_attrs",
    "mv_daily_block_stats", "mv_daily_tx_stats", "mv_event_type_stats")

  /** Row count plus the sorted multiset of row hashes: order-independent.
    * `created_at` outside `blocks` is processing time, so it is left out. */
  def digest(spark: SparkSession, wh: String, name: String,
             drop: Seq[String] = Nil): (Long, Seq[Long]) = {
    val df = spark.read.parquet(s"$wh/$name").drop(drop: _*)
    val cols = df.columns.filterNot(c => c == "created_at" && name != "blocks")
    val hashes = df.select(xxhash64(cols.map(col): _*)).collect().map(_.getLong(0)).sorted
    (hashes.length.toLong, hashes.toSeq)
  }
}
