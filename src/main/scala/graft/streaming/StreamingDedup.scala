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
  final case class Doc(doc_id: Long, text: String, event_time: Timestamp) extends Arrival

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

    def update(hash: String, docs: Iterator[Doc],
               state: GroupState[SeenState]): Iterator[Deduped] =
      StateExpiry(state, docs, stateTtlMs) { sorted =>
        var st = state.getOption.getOrElse(SeenState(-1L, -1L))
        val out = sorted.map { d =>
          st = if (st.first_id < 0) SeenState(d.doc_id, 0L)
               else st.copy(dups = st.dups + 1)
          Deduped(d.doc_id, hash, st.dups == 0L, st.dups)
        }
        state.update(st)
        out
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
    * [[firstSeenWins]] as a REAL multi-batch stream ([[StreamStage.replayDocs]]:
    * `chunks` doc_id-range files fed `filesPerTrigger` per micro-batch, a
    * parquet sink read back as the returned DataFrame).
    *
    * With the default in-order feed, event time is monotone in doc_id, so
    * first-seen-by-arrival equals first-by-(event_time, doc_id) and the
    * batch-window oracle stays exact. An out-of-order `arrivalOrder`
    * exercises the watermark path: a late-but-within-lateness chunk must
    * still be emitted, with firsts/ordinals decided by ARRIVAL (the
    * operator's actual contract).
    *
    * 4 state partitions: the state store writes one checkpoint delta PER
    * state partition PER micro-batch, and 32 partitions × chunks batches of
    * tiny files is pure fixed overhead at this state size (thousands of
    * keys). Purely a partitioning knob — results are identical. */
  def firstSeenWinsFileRun(spark: org.apache.spark.sql.SparkSession,
                           docsParquetDir: String, chunks: Int = 4,
                           lateness: String = "10 minutes",
                           arrivalOrder: Seq[Int] = Seq.empty,
                           filesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    StreamStage.replayDocs(spark, StreamStage.stagedParts(spark, docsParquetDir, chunks),
      arrivalOrder, filesPerTrigger, stateParts = 4)(docs =>
      firstSeenWins(docs.as[Doc], lateness, StreamStage.StateTtlMs))
  }
}

/** A row of an event-time state op: a document arriving at `event_time`. */
trait Arrival { def doc_id: Long; def event_time: Timestamp }

/** The state-expiry rule of both event-time state ops
  * ([[StreamingDedup.firstSeenWins]], [[StreamingNearDup.candidateStream]]).
  * An object of its own: a state op's update function must not capture a
  * non-serializable enclosing object. */
object StateExpiry {
  /** A group whose state timed out drops it and emits nothing. Otherwise
    * `step` sees the group's rows in (event_time, doc_id) order — shuffle
    * iterator order is not guaranteed — and the timeout moves to
    * max(watermark, the batch's max event time) + `ttlMs`. The anchor is
    * the event time, not the watermark alone: on the first batch the
    * watermark is still unset (0), and 0 + ttl would be 1970 — instantly
    * expired once real event times advance it. */
  def apply[R <: Arrival, S, O](state: GroupState[S], rows: Iterator[R], ttlMs: Long)(
      step: Seq[R] => Seq[O]): Iterator[O] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val sorted = rows.toSeq.sortBy(r => (r.event_time.getTime, r.doc_id))
      val out = step(sorted)
      state.setTimeoutTimestamp(
        math.max(state.getCurrentWatermarkMs(), sorted.last.event_time.getTime) + ttlMs)
      out.iterator
    }
}
