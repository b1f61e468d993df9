package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.Ingest
import graft.schema.Schemas

/** Structured-Streaming ingest (SURVEY §2.10): the reference's 10-second
  * polling loop becomes a file-source stream of envelope JSON with a
  * processing-time trigger; offset tracking/resume is the stream checkpoint
  * (replacing index_state for the streaming path); each micro-batch goes
  * through the one ingest writer (`Ingest.write`), which flattens, writes
  * the 10 tables and maintains the three MVs incrementally by writing
  * partial aggregates per micro-batch (insert-time MV trigger semantics —
  * readers finish with group-by-sum via `Mvs.readMv`).
  */
object StreamingIngest {

  /** Exactly-once ingest stream: every micro-batch writes through
    * `Ingest.write` keyed by its batch id, so a batch REDELIVERED after a
    * failure (foreachBatch's at-least-once contract: crash after a partial
    * write, before the checkpoint commit) replaces its own output instead of
    * appending a second copy.
    *
    * `streamTag` namespaces the batch-id partition key so MULTIPLE
    * concurrent streams can feed ONE warehouse: without it, two streams
    * both writing `ingest_batch=0` would dynamic-overwrite each other's
    * partitions. The effective key is [[batchKey]] — room for 2^40
    * batches per stream and 2^23 streams, both orders of magnitude beyond
    * any trigger cadence × retention. */
  def startExactlyOnce(spark: SparkSession, inputDir: String, warehouse: String,
                       checkpointDir: String,
                       trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                       maxFilesPerTrigger: Option[Int] = None,
                       streamTag: Long = 0L,
                       format: String = "json"): StreamingQuery = {
    var reader = spark.readStream.schema(Schemas.envelope)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    // format: "json" (line-delimited envelope objects — the RPC-shaped
    // arrival format) or "parquet" (pre-staged envelopes — an upstream
    // landing zone that already columnarized; also what the bench harness
    // stages so the gate measures the streaming path, not JSON codec cost).
    // Ingest.write reads the batch's own plan to decide how to read it.
    val src = format match {
      case "parquet" => reader.parquet(inputDir)
      case "json" => reader.json(inputDir)
      case other => throw new IllegalArgumentException(
        s"unknown stream format '$other': expected \"json\" or \"parquet\"")
    }
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Ingest.write(warehouse, batch, Some(batchKey(streamTag, batchId)))
        ()
      }
      .start()
  }

  /** The `ingest_batch` partition key of micro-batch `batchId` of stream
    * `streamTag`. */
  def batchKey(streamTag: Long, batchId: Long): Long = (streamTag << 40) | batchId

  /** File-stream harness for the FULL 10-table flatten (the streaming twin
    * of the batch flatten gates): stage `envelopes` as `chunks` height-range
    * PARQUET files (columnar staging — the JSON round-trip of the round-9
    * harness serialized + re-parsed every nested envelope per batch and was
    * the gate's dominant cost, harness not engine; the exactly-once path
    * under test is format-agnostic past the source), replay them through a
    * running [[startExactlyOnce]] stream one file per micro-batch
    * ([[StreamStage.replay]]), then PLANT a redelivery by re-running the
    * final batch through `Ingest.write` with the same batch key after the
    * stream stops, proving the overwrite absorbs it. Returns the warehouse
    * directory. The JSON arrival format keeps its own streaming coverage in
    * StreamingSpec (startExactlyOnce defaults to `format = "json"`).
    * `stageInputs`, the paths `envelopes` reads, builds the chunk staging
    * once per state of those inputs: every rep of the gate stages the
    * IDENTICAL frame (~5 s at sf1). No inputs stage afresh. */
  def flattenFileRun(spark: SparkSession, envelopes: DataFrame, chunks: Int = 4,
                     stageInputs: Seq[String] = Nil): String = {
    val parts = StreamStage.staged(spark, Seq("flatten", chunks), stageInputs) { dir =>
      envelopes
        .repartitionByRange(chunks, col("height"))
        // SMALL ROW GROUPS (1 MiB vs the 128 MiB default): a chunk written
        // as one row group can never scan in parallel — parquet splits
        // beyond a row-group boundary read zero rows, so every downstream
        // lineage decoded the whole micro-batch on ONE core regardless of
        // maxPartitionBytes (measured: the tx_event_attrs_json write alone
        // was the 4.5 s batch wall at sf1; with row groups + the
        // split-tuned session below it runs 0.9 s). A landing file written
        // for a parallel consumer sizes row groups to the consumer's split,
        // which is exactly what this staging models.
        .write.mode("overwrite").option("parquet.block.size", 1L << 20)
        .parquet(dir)
    }

    // Split-tuned CLONED session for the stream (and the redelivery read):
    // a micro-batch arrives as ONE staged parquet file, and the session
    // default split (128 MB) scans it as a SINGLE task — so each of the 13
    // fanned-out write lineages serialized its whole flatten chain on one
    // core (measured: batch wall ~4.5-6.6 s at sf1 ≈ the slowest lineage
    // alone; the fan-out's concurrency only overlapped the 13 lineages, not
    // the work inside one). Derive the split from the chunk size so each
    // lineage's scan spreads toward the core count: ceil(chunkBytes/cores),
    // floor 1 MiB (don't shred tiny gate chunks into empty splits), capped
    // at the session's own default so a CLUSTER-scale batch (where
    // bytes/cores already exceeds 128 MB) keeps the standard split — the
    // formula converges to stock behavior as batches grow; it only acts in
    // the small-batch regime where the default under-parallelizes. A scan
    // split (unlike a repartition) costs no shuffle and is shared by
    // nothing: each write lineage re-scans its slice in parallel, which is
    // what `Ingest.write` does with a parquet-scan batch (13 page-cached
    // re-scans beat one serial InMemoryRelation build).
    val chunkBytes = StreamStage.partBytes(spark, parts).maxOption.getOrElse(0L)
    val cores = spark.sparkContext.defaultParallelism
    val splitBytes = math.min(
      spark.sessionState.conf.filesMaxPartitionBytes,
      math.max(1L << 20, (chunkBytes + cores - 1) / cores))
    // the MV date derivation is timezone-sensitive: pin the clone to the
    // parent session's zone rather than trusting SparkConf inheritance
    val ss = spark.newSession()
    ss.conf.set("spark.sql.files.maxPartitionBytes", splitBytes)
    ss.conf.set("spark.sql.session.timeZone", spark.sessionState.conf.sessionLocalTimeZone)
    // ONE file per micro-batch, delivered ATOMICALLY: a multi-file group
    // under the continuously polling 0-second trigger can SPLIT into
    // unplanned micro-batches (maxFilesPerTrigger is a max, not a min — the
    // source may commit a batch between two deliveries), which would
    // desynchronize the planted redelivery's batch id from the stream's
    // actual last batch and corrupt the exactly-once equality this gate
    // proves. Callers that want fewer batch constants lower `chunks`
    // instead — batch count IS the knob here, not files-per-trigger.
    val wh = StreamStage.replay(spark, parts) { (in, out, ckpt) =>
      startExactlyOnce(ss, in, out, ckpt,
        trigger = Trigger.ProcessingTime("0 seconds"),
        maxFilesPerTrigger = Some(1),
        format = "parquet")
    }
    if (parts.nonEmpty) {
      // the redelivery reads the final batch's bytes (its staged master)
      // through the split-tuned session: the same parallel scan shape as
      // the stream's own delivery
      val redelivered = ss.read.schema(Schemas.envelope).parquet(parts.last.toString)
      Ingest.write(wh, redelivered, Some(batchKey(0L, parts.length - 1L)))
    }
    wh
  }
}
