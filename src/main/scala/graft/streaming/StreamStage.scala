package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The one replay driver of the file-stream harnesses
  * ([[StreamingDedup.firstSeenWinsFileRun]] /
  * [[StreamingNearDup.candidatesFileRun]] /
  * [[StreamingIngest.flattenFileRun]]): chunk staging, the stage layout,
  * the atomic feed and the drain loop. A harness supplies only the query it
  * starts and the settings of its cloned session.
  *
  * All four replay CORRECTNESS gates (dedup/neardup × in-order/permuted)
  * stage the IDENTICAL frame — (doc_id, text, event_time) doc_id-range
  * chunks of the same documents table — and every rep of the flatten gate
  * stages the identical height-range envelope chunks, so staging is built
  * ONCE per input state and each run COPIES the part files into its own
  * input dir (the old per-run staging re-ran the read + range shuffle +
  * write per gate, ~2.5-5 s each at sf1 — VERDICT r12 item 5; the ooo
  * twins differ from eq only in ARRIVAL ORDER, which the feed loop
  * controls, never the bytes). Copy, not rename: the master files must
  * survive for the next gate.
  */
object StreamStage {
  /** The part files `write(dir)` leaves in its chunk dir, in part-name
    * order (== range-partition order for a range-partitioned write). With
    * `inputs` (the paths the staged frame reads) the chunk dir is an
    * [[graft.Artifacts.stored]] artifact keyed by `params` and built once
    * per input state; with no inputs it is built afresh in a scratch dir. */
  def staged(spark: SparkSession, params: Seq[Any], inputs: Seq[String])(
      write: String => Unit): Seq[Path] = {
    val chunkDir =
      if (inputs.nonEmpty) graft.Artifacts.stored(spark, "stream_chunks", params, inputs, None)(write)
      else { val d = graft.Scratch.dir("graft_stream_chunks") + "/chunks"; write(d); d }
    val fs = new Path(chunkDir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(chunkDir)).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
  }

  /** The staged doc_id-range chunk part files for (docsParquetDir, chunks),
    * in doc_id order. Built on first use per state of the documents. */
  def stagedParts(spark: SparkSession, docsParquetDir: String,
                  chunks: Int): Seq[Path] =
    staged(spark, Seq("docs", chunks), Seq(docsParquetDir)) { chunkDir =>
      spark.read.parquet(docsParquetDir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          timestamp_seconds(lit(1000000000L) + col("doc_id")).as("event_time"))
        .repartitionByRange(chunks, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(chunkDir)
    }

  /** Byte size of each staged part (0 for one that cannot be listed). */
  def partBytes(spark: SparkSession, parts: Seq[Path]): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    parts.map(p => try p.getFileSystem(conf).getFileStatus(p).getLen catch { case _: Exception => 0L })
  }

  /** TTL of the dedup harnesses' state: a week, far past any gate's
    * event-time spread, so nothing expires mid-replay. */
  val StateTtlMs: Long = 7L * 86400000L

  /** Feed `parts` to the stream `start(in, out, ckpt)` starts, and return
    * its `out` dir once every part has been drained. The three dirs sit
    * under one fresh scratch stage; `start` must read `in` and must not
    * create it.
    *
    * `arrivalOrder` (a permutation of the part indices; empty = in order)
    * injects out-of-order arrival. Parts are fed `filesPerTrigger` at a
    * time, each group drained with `processAllAvailable` before the next
    * lands — arrival order is the order of appearance, so no mtime mutation
    * is needed and any Hadoop filesystem scheme works. The query stops in
    * `finally`. */
  def replay(spark: SparkSession, parts: Seq[Path], arrivalOrder: Seq[Int] = Nil,
             filesPerTrigger: Int = 1)(
      start: (String, String, String) => StreamingQuery): String = {
    val order = if (arrivalOrder.nonEmpty) arrivalOrder else parts.indices
    require(order.sorted == parts.indices,
      s"arrivalOrder must be a permutation of 0 until ${parts.length}, got $order")
    val stage = graft.Scratch.dir("graft_stream_stage")
    val (in, out, ckpt) = (s"$stage/in", s"$stage/out", s"$stage/ckpt")
    new Path(in).getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(new Path(in))
    val q = start(in, out, ckpt)
    try {
      order.zipWithIndex.grouped(filesPerTrigger).foreach { group =>
        group.foreach { case (part, i) => feed(spark, parts(part), in, i) }
        q.processAllAvailable()
      }
    } finally q.stop()
    out
  }

  /** [[replay]] of staged document chunks ([[stagedParts]]) through
    * `query` into a parquet sink (streaming files, not driver memory — no
    * driver collect on either side), read back through `spark`. The stream
    * runs on a clone of `spark` with `stateParts` shuffle (= state store)
    * partitions — the store writes one checkpoint delta per partition per
    * micro-batch — and no no-data micro-batches: with per-group drains each
    * data batch would be followed by one, doubling the planning and
    * state-commit rounds for a watermark advance whose eviction timing is
    * spec territory (the harness TTL is generous).
    *
    * `filesPerTrigger` groups staged chunks into fewer, larger micro-batches
    * (r13 verdict item 5): the dominant replay cost is the per-micro-batch
    * constant. Both state ops order a batch's rows by (event_time, doc_id)
    * ([[StateExpiry]]), so grouping in-order chunks never changes
    * first-seen or registration order (hash-identical output); permuted
    * feeds keep their cross-group inversions. */
  def replayDocs(spark: SparkSession, parts: Seq[Path], arrivalOrder: Seq[Int],
                 filesPerTrigger: Int, stateParts: Long)(
      query: DataFrame => Dataset[_]): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", stateParts)
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", false)
    spark.read.parquet(replay(spark, parts, arrivalOrder, filesPerTrigger) { (in, out, ckpt) =>
      query(ss.readStream
          .schema("doc_id LONG, text STRING, event_time TIMESTAMP")
          .option("maxFilesPerTrigger", filesPerTrigger.toString)
          .parquet(in))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    })
  }

  /** Copy master chunk `part` into `inDir` as the `i`-th arrival —
    * ATOMICALLY: the copy lands on a sibling tmp path first and RENAMES
    * into the watched dir, because the continuously polling file source
    * could otherwise list a half-written file with no parquet footer and
    * kill the query. The master is kept (the next gate reuses it). */
  private def feed(spark: SparkSession, part: Path, inDir: String, i: Int): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = part.getFileSystem(conf)
    val dest = new Path(inDir, f"chunk-$i%05d.parquet")
    val tmp = new Path(new Path(inDir).getParent, s"feedtmp-${dest.getName}")
    FileUtil.copy(fs, part, fs, tmp, false, conf)
    fs.rename(tmp, dest)
    ()
  }
}
