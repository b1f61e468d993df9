package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.{Doc, Deduped}

/** Streaming exact-dedup: first-seen-wins state machine across micro-batches,
  * state expiry past the watermark horizon, and the built-in
  * dropDuplicatesWithinWatermark form. */
class StreamingDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = 1735689600000L // 2025-01-01T00:00:00Z
  private def ts(sec: Long) = new Timestamp(base + sec * 1000)

  test("firstSeenWins: dup ordinals across batches; state expires past TTL") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Doc]
    val out = StreamingDedup.firstSeenWins(ms.toDS(), lateness = "10 seconds",
      stateTtlMs = 60000L)
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def table(): Map[Long, Deduped] =
        spark.table("dedup_out").as[Deduped].collect().map(d => d.doc_id -> d).toMap

      // batch 1: two distinct texts + an in-batch dup
      ms.addData(Doc(1, "hello world", ts(0)), Doc(2, "other text", ts(1)),
        Doc(3, "hello world", ts(2)))
      q.processAllAvailable()
      val t1 = table()
      assert(t1(1).is_first && t1(1).dup_ordinal === 0)
      assert(t1(2).is_first)
      assert(!t1(3).is_first && t1(3).dup_ordinal === 1)
      assert(t1(1).content_hash === t1(3).content_hash)
      assert(t1(1).content_hash !== t1(2).content_hash)

      // batch 2: cross-batch dup continues the ordinal
      ms.addData(Doc(4, "hello world", ts(5)))
      q.processAllAvailable()
      assert(!table()(4).is_first && table()(4).dup_ordinal === 2)

      // advance event time far past lateness + TTL, then let the timeout
      // fire (timeouts are processed on the batch AFTER the watermark moves)
      ms.addData(Doc(5, "unrelated a", ts(700)))
      q.processAllAvailable()
      ms.addData(Doc(6, "unrelated b", ts(701)))
      q.processAllAvailable()

      // the "hello world" state expired -> first-seen again
      ms.addData(Doc(7, "hello world", ts(702)))
      q.processAllAvailable()
      assert(table()(7).is_first && table()(7).dup_ordinal === 0)
    } finally q.stop()
  }

  test("firstSeenWinsFileRun: multi-batch file stream matches the batch window") {
    // a tiny corpus with cross-chunk duplicates: doc_ids 0..19, text cycling
    // through 5 distinct values so every chunk contains dups of earlier ones
    val dir = java.nio.file.Files.createTempDirectory("graft_filerun_docs").toString
    val docs = (0L until 20L).map(i => (i, s"text ${i % 5}", "xx"))
      .toDF("doc_id", "text", "lang")
    docs.write.mode("overwrite").parquet(dir)

    val got = StreamingDedup.firstSeenWinsFileRun(spark, dir, chunks = 4)
      .select("doc_id", "is_first", "dup_ordinal")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap

    assert(got.size === 20) // every doc emitted, none dropped
    (0L until 20L).foreach { i =>
      val expectFirst = i < 5            // first occurrence of each text
      val expectOrd = i / 5              // one dup per later cycle
      assert(got(i) === ((expectFirst, expectOrd)),
        s"doc $i: got ${got(i)}, want ($expectFirst, $expectOrd)")
    }
  }

  test("firstSeenWinsFileRun: late-but-within-lateness chunk lands, firsts by arrival") {
    // same 20-doc corpus, but chunk 1 (doc_ids 5..9) arrives BEFORE chunk 0:
    // chunk 0 is then a late batch whose event times trail the watermark's
    // high-water chunk but sit inside the lateness window, so every row must
    // still be emitted — and first-seen is decided by ARRIVAL, not doc_id.
    val dir = java.nio.file.Files.createTempDirectory("graft_filerun_ooo").toString
    val docs = (0L until 20L).map(i => (i, s"text ${i % 5}", "xx"))
      .toDF("doc_id", "text", "lang")
    docs.write.mode("overwrite").parquet(dir)

    val got = StreamingDedup.firstSeenWinsFileRun(spark, dir, chunks = 4,
      arrivalOrder = Seq(1, 0, 2, 3))
      .select("doc_id", "is_first", "dup_ordinal")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap

    assert(got.size === 20) // the late chunk was NOT dropped by the watermark
    (0L until 20L).foreach { i =>
      // per text t = i%5, arrival order is: 5+t (chunk 1), t (late chunk 0),
      // 10+t, 15+t — so chunk 1 holds the firsts and chunk 0's ordinal is 1
      val expect: (Boolean, Long) = (i / 5) match {
        case 0 => (false, 1L)
        case 1 => (true, 0L)
        case c => (false, c.toLong)
      }
      assert(got(i) === expect, s"doc $i: got ${got(i)}, want $expect")
    }
   }
}
