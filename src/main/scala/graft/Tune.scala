package graft

/** Scale-adaptive session tuning, applied by [[Session]] to every session
  * it builds.
  *
  * The r16 optimization round measured the old `shuffle.partitions = cpus`
  * default as the dominant constant on the heavy sf0.1 queries: with ~17 MB
  * of input, every one of a query's shuffles produced 32 reduce partitions
  * of a few KB each, and the per-partition constants (M×R shuffle blocks,
  * checkpoint block registration, range-sampling) cost more than the
  * compute they spread. Interleaved same-session A/B at sf0.1/local[32]:
  * x_winnow_pairs 3.42 s @32 partitions → 1.58 s @8, x_simhash16 0.58 →
  * 0.36, x_span_scrub 1.89 → 1.30 — while AQE coalescing (even with
  * parallelismFirst=false) recovered none of it, because coalescing merges
  * partitions at READ time and the per-block constants are paid at shuffle
  * CREATION.
  *
  * So the default derives the partition count from the INPUT SIZE instead
  * of the core count — the guide's §2.2 sizing rule ("partitions in the
  * 100 MB–1 GB range, not a few MB") applied at session build: one reduce
  * partition per ~4 MiB of compressed input (≈ tens of MB uncompressed
  * shuffle bytes for zstd/snappy parquet over text), floor 4 so post-shuffle
  * stages keep a minimum of parallelism, cap 4096 to bound task counts on
  * petabyte inputs (AQE splits skewed partitions at runtime where that
  * matters). Measured: sf0.1 → 5 partitions (the best band, 4–8, in the
  * A/B above); sf1 → 47 (within noise of the old 32 on every probed heavy
  * query). A cluster deployment sizes this to its own data via the same
  * rule; [[Session]] reads SPARK_GRAFT_SHUFFLE_PARTITIONS as the explicit
  * override used by the p2048 cluster-profile rehearsal.
  *
  * The rule has a second caller: `graft.ingest.Ingest.write` sizes the
  * write partitions of an unkeyed batch from its filled input cache with
  * [[partitionsFor]] at floor 1. Its 13 outputs already write concurrently,
  * so splitting each output across the cores only adds per-task cost and
  * files. */
object Tune {

  private val BytesPerPartition: Long = 4L << 20

  /** Total bytes of the files under `dir` on any Hadoop FS scheme
    * ([[graft.store.Store.filesUnder]]). 0 when unreadable. */
  def inputBytes(dir: String): Long =
    try graft.store.Store.filesUnder(new org.apache.hadoop.conf.Configuration(), dir)
      .map(_.getLen).sum
    catch { case _: Exception => 0L }

  /** The sizing rule: one partition per ~4 MiB of `bytes`, at least
    * `floor`, at most 4096. */
  def partitionsFor(bytes: Long, floor: Int): Int =
    math.min(4096L,
      math.max(floor.toLong, (bytes + BytesPerPartition - 1) / BytesPerPartition)).toInt

  /** Size-derived shuffle-partition default; see object doc. */
  def shufflePartitions(sfDir: String): Int = {
    val bytes = inputBytes(sfDir)
    if (bytes <= 0L) 200 // unknown input: fall back to Spark's own default
    else partitionsFor(bytes, floor = 4)
  }
}
