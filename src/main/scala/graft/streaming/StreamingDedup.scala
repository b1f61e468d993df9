package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming deduplication for document ingest (LLM-pipeline extension):
  * exact dedup on the content hash as documents arrive, instead of a
  * periodic batch pass over everything ingested so far.
  *
  * Scale stance: state is kept PER DISTINCT CONTENT HASH, bounded by the
  * watermark/TTL horizon — never proportional to total documents seen.
  * At 100 TB the state store holds one 16-byte hash + a few longs per
  * distinct recent document, sharded by Spark's state-store partitioning on
  * the group key (the same hash-shuffle a batch groupBy would use).
  *
  * [[firstSeenWins]]: `flatMapGroupsWithState` with event-time timeout —
  * per-key bookkeeping: every document is EMITTED (annotated first/dup +
  * running dup ordinal), not silently dropped, so downstream can filter,
  * count, or route dups differently.
  */
object StreamingDedup {

  /** Input contract for the typed path. */
  final case class Doc(doc_id: Long, text: String, event_time: Timestamp)

  /** Per-hash state: who was first, and how many dups followed. */
  final case class SeenState(first_id: Long, dups: Long)

  /** One output row per input document. `dup_ordinal` is 0 for the first
    * occurrence, then 1, 2, … for subsequent duplicates of the same hash. */
  final case class Deduped(doc_id: Long, content_hash: String,
                           is_first: Boolean, dup_ordinal: Long)

  /** First-seen-wins with explicit state: group by content hash, remember
    * the first doc_id, annotate every arrival. State for a hash expires
    * `stateTtl` past the watermark — a hash not seen for that long is
    * eligible to be "first" again (the dedup horizon, same contract as
    * dropDuplicatesWithinWatermark's). */
  def firstSeenWins(docs: Dataset[Doc], lateness: String,
                    stateTtlMs: Long): Dataset[Deduped] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ttlMs = stateTtlMs

    def update(hash: String, docs: Iterator[Doc],
               state: GroupState[SeenState]): Iterator[Deduped] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        // Deterministic within-batch order: by event time then id (iterator
        // order from shuffle is not guaranteed).
        val sorted = docs.toSeq.sortBy(d => (d.event_time.getTime, d.doc_id))
        var st = state.getOption.getOrElse(SeenState(-1L, -1L))
        val out = sorted.map { d =>
          st = if (st.first_id < 0) SeenState(d.doc_id, 0L)
               else st.copy(dups = st.dups + 1)
          Deduped(d.doc_id, hash, st.dups == 0L, st.dups)
        }
        state.update(st)
        // Anchor the TTL on event time, not the watermark alone: on the
        // first batch the watermark is still unset (0), and 0 + ttl would be
        // 1970 — instantly expired once real event times advance it.
        val maxEvent = sorted.last.event_time.getTime
        state.setTimeoutTimestamp(
          math.max(state.getCurrentWatermarkMs(), maxEvent) + ttlMs)
        out.iterator
      }
    }

    docs
      .withWatermark("event_time", lateness)
      .groupByKey(d => {
        // md5 of the text, hex — same hash as the batch-side exactDedup
        java.security.MessageDigest.getInstance("MD5")
          .digest(d.text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
      })
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** File-stream harness: replay a documents parquet directory through
    * [[firstSeenWins]] as a REAL multi-batch stream — no driver collect on
    * either side. The corpus is staged as `chunks` doc_id-range files which
    * are then FED to the running query one at a time via Hadoop FS rename
    * (drained with processAllAvailable between arrivals) — arrival order is
    * the order of appearance, so the harness needs no mtime mutation and
    * works on any Hadoop filesystem scheme, like the band store.
    *
    * `arrivalOrder` (a permutation of 0 until chunks) injects out-of-order
    * arrival: with the default in-order feed, event time is monotone in
    * doc_id, so first-seen-by-arrival equals first-by-(event_time, doc_id)
    * and the batch-window oracle stays exact. An out-of-order feed exercises
    * the watermark path: a late-but-within-lateness chunk must still be
    * emitted, with firsts/ordinals decided by ARRIVAL (the operator's actual
    * contract). Output goes to a parquet sink (streaming files, not driver
    * memory) and is read back as the returned DataFrame. */
  def firstSeenWinsFileRun(spark: org.apache.spark.sql.SparkSession,
                           docsParquetDir: String, chunks: Int = 4,
                           lateness: String = "10 minutes",
                           stateTtlMs: Long = 7L * 86400000L,
                           arrivalOrder: Seq[Int] = Seq.empty,
                           filesPerTrigger: Int = 1): DataFrame = {
    import org.apache.hadoop.fs.Path
    val stage = graft.Scratch.dir("graft_stream_stage")
    val inDir = s"$stage/in"
    val outDir = s"$stage/out"; val ckpt = s"$stage/ckpt"

    // chunk staging is SHARED across the four replay gates (same frame,
    // same range partitioning — StreamStage builds it once per JVM)
    val parts = StreamStage.stagedParts(spark, docsParquetDir, chunks)
    val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
    val order = if (arrivalOrder.nonEmpty) arrivalOrder else parts.indices.toSeq
    require(order.sorted == parts.indices.toSeq,
      s"arrivalOrder must be a permutation of 0 until ${parts.length}, got $order")
    fs.mkdirs(new Path(inDir))

    // The stream runs on a cloned session with few shuffle partitions: the
    // state store writes one checkpoint delta PER state partition PER
    // micro-batch, and 32 partitions × chunks batches of tiny files is pure
    // fixed overhead at this state size (thousands of keys). Purely a
    // partitioning knob — results are identical; the caller's session is
    // untouched.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    // No-data micro-batches exist to advance the watermark for eviction/
    // append finalization between data batches; with per-chunk drains each
    // data batch is immediately followed by one, DOUBLING the per-batch
    // planning + state-commit rounds. State eviction timing is not part of
    // this harness' contract (TTL is generous; StreamingDedupSpec covers
    // expiry), so skip them.
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    import ss.implicits._
    // filesPerTrigger groups staged chunks into fewer, larger micro-batches
    // (r13 verdict item 5 — the per-batch planning/commit constant is the
    // dominant replay cost, see candidatesFileRun). The state op sorts each
    // batch by (event_time, doc_id), so grouping in-order chunks preserves
    // first-seen assignment exactly; permuted feeds keep their cross-batch
    // inversions and the ooo gate's oracle is arrival-independent.
    val inStream = ss.readStream
      .schema("doc_id LONG, text STRING, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(inDir)
      .as[Doc]
    val q = firstSeenWins(inStream, lateness, stateTtlMs)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      order.zipWithIndex.grouped(filesPerTrigger).foreach { group =>
        group.foreach { case (part, i) => StreamStage.feed(spark, parts(part), inDir, i) }
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.read.parquet(outDir)
  }
}
