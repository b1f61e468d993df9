package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shared chunk staging for the file-stream replay harnesses
  * ([[StreamingDedup.firstSeenWinsFileRun]] /
  * [[StreamingNearDup.candidatesFileRun]] /
  * [[StreamingIngest.flattenFileRun]]).
  *
  * All four replay CORRECTNESS gates (dedup/neardup × in-order/permuted)
  * stage the IDENTICAL frame — (doc_id, text, event_time) doc_id-range
  * chunks of the same documents table — and every rep of the flatten gate
  * stages the identical height-range envelope chunks, so staging is built
  * ONCE per key per JVM and each run COPIES the part files into its own
  * input dir (the old per-run staging re-ran the read + range shuffle +
  * write per gate, ~2.5-5 s each at sf1 — VERDICT r12 item 5; the ooo
  * twins differ from eq only in ARRIVAL ORDER, which the copy loop
  * controls, never the bytes). Copy, not rename: the master files must
  * survive for the next gate.
  */
object StreamStage {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** The part files `write(dir)` leaves in a fresh scratch dir, in part-name
    * order (== range-partition order for a range-partitioned write). Built
    * once per JVM per non-empty `key`; an empty key builds afresh. */
  def staged(spark: SparkSession, key: String)(write: String => Unit): Seq[Path] = {
    def build(): Array[String] = {
      val chunkDir = graft.Scratch.dir("graft_stream_chunks") + "/chunks"
      write(chunkDir)
      val fs = new Path(chunkDir).getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(new Path(chunkDir)).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .sortBy(_.getName)
        .map(_.toString)
    }
    val parts = if (key.isEmpty) build() else cache.computeIfAbsent(key, _ => build())
    parts.toSeq.map(new Path(_))
  }

  /** The staged doc_id-range chunk part files for (docsParquetDir, chunks),
    * in doc_id order. Built on first use per JVM. */
  def stagedParts(spark: SparkSession, docsParquetDir: String,
                  chunks: Int): Seq[Path] =
    staged(spark, s"$docsParquetDir#$chunks") { chunkDir =>
      spark.read.parquet(docsParquetDir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          timestamp_seconds(lit(1000000000L) + col("doc_id")).as("event_time"))
        .repartitionByRange(chunks, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(chunkDir)
    }

  /** Copy master chunk `part` into `inDir` as the `i`-th arrival —
    * ATOMICALLY: the copy lands on a sibling tmp path first and RENAMES
    * into the watched dir, because the continuously polling file source
    * could otherwise list a half-written file with no parquet footer and
    * kill the query. The master is kept (the next gate reuses it). */
  def feed(spark: SparkSession, part: Path, inDir: String, i: Int): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = part.getFileSystem(conf)
    val dest = new Path(inDir, f"chunk-$i%05d.parquet")
    val tmp = new Path(new Path(inDir).getParent, s"feedtmp-${dest.getName}")
    FileUtil.copy(fs, part, fs, tmp, false, conf)
    fs.rename(tmp, dest)
    ()
  }
}
