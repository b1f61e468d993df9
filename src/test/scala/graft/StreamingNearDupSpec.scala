package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.streaming.StreamingNearDup
import graft.streaming.StreamingNearDup.{BandRow, Cand}

/** Streaming MinHash-LSH near-dup candidates: the per-row signature must
  * equal the batch explode+groupBy signature value-for-value, the multi-batch
  * file stream must reproduce the batch candidate join's pair set, and the
  * online bucket-cap saturation + at-least-once redelivery guards must hold. */
class StreamingNearDupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = 1735689600000L
  private def ts(sec: Long) = new Timestamp(base + sec * 1000)

  test("perRowSig equals batch minhashSig on the sf0.001 corpus") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val batch = Dedup.minhashSig(docs, "text", "doc_id")
    val perRow = StreamingNearDup.perRowSig(docs, "text", "doc_id")
    // batch drops nothing either (shinglesOfWords emits >= 1 shingle per doc)
    assert(perRow.count() === batch.count())
    assert(perRow.exceptAll(batch).isEmpty && batch.exceptAll(perRow).isEmpty)
  }

  test("multi-batch file stream reproduces the batch candidate pair set") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_eq").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val streamed = StreamingNearDup
      .candidatesFileRun(spark, s"$dir/documents.parquet", chunks = 3)
      .select("a_id", "b_id").distinct()
    val batch = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhashSig(docs, "text", "doc_id"), "doc_id"),
      "doc_id")
    assert(batch.count() > 0, "fixture must produce candidate pairs")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("out-of-order chunk arrival: unordered pair set is arrival-invariant") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_ooo").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // generous lateness: every out-of-order chunk is within the horizon, so
    // nothing is watermark-dropped — the knob under test is ORIENTATION
    val streamed = StreamingNearDup
      .candidatesFileRun(spark, s"$dir/documents.parquet", chunks = 3,
        lateness = "2 days", arrivalOrder = Seq(2, 0, 1))
      .select(least(col("a_id"), col("b_id")).as("lo"),
        greatest(col("a_id"), col("b_id")).as("hi"))
      .distinct()
    val batch = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhashSig(docs, "text", "doc_id"), "doc_id"),
      "doc_id")
      .select(col("a_id").as("lo"), col("b_id").as("hi"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("bucket saturation cap and redelivery guard") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[BandRow]
    val out = StreamingNearDup.candidateStream(
      ms.toDS().as[BandRow],
      lateness = "10 seconds", stateTtlMs = 600000L, maxBucket = 2)
    val name = "neardup_cap_out"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      def pairs(): Set[(Long, Long)] =
        spark.table(name).as[Cand].collect().map(c => (c.a_id, c.b_id)).toSet

      // batch 1: two members fill the bucket to the cap; one pair emitted
      ms.addData(BandRow(1, 0, "bkt", ts(0)), BandRow(2, 0, "bkt", ts(1)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 2L)))

      // batch 2: redelivery of id 2 is a no-op; id 3 arrives at a SATURATED
      // bucket — no match, no registration
      ms.addData(BandRow(2, 0, "bkt", ts(2)), BandRow(3, 0, "bkt", ts(3)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 2L)))

      // a different bucket is independent state: id 3 pairs there
      ms.addData(BandRow(1, 1, "other", ts(4)), BandRow(3, 1, "other", ts(5)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 2L), (1L, 3L)))
    } finally q.stop()
    spark.catalog.dropTempView(name)
  }

  test("bucket state expires past its TTL; a later arrival registers afresh") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[BandRow]
    val out = StreamingNearDup.candidateStream(
      ms.toDS().as[BandRow], lateness = "10 seconds", stateTtlMs = 60000L)
    val name = "neardup_ttl_out"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      def pairs(): Set[(Long, Long)] =
        spark.table(name).as[Cand].collect().map(c => (c.a_id, c.b_id)).toSet

      ms.addData(BandRow(1, 0, "bkt", ts(0)), BandRow(2, 0, "bkt", ts(1)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 2L)))

      // advance event time far past lateness + TTL in other buckets, then
      // let the timeout fire (timeouts are processed on the batch AFTER the
      // watermark moves)
      ms.addData(BandRow(10, 1, "a", ts(700)))
      q.processAllAvailable()
      ms.addData(BandRow(11, 1, "b", ts(701)))
      q.processAllAvailable()

      // "bkt" forgot 1 and 2: id 3 pairs with nobody and registers, so id 4
      // pairs with 3 alone
      ms.addData(BandRow(3, 0, "bkt", ts(702)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 2L)))
      ms.addData(BandRow(4, 0, "bkt", ts(703)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 2L), (3L, 4L)))
    } finally q.stop()
    spark.catalog.dropTempView(name)
  }

  test("cross-band duplicates collapse under distinct; pair order is arrival") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[BandRow]
    val out = StreamingNearDup.candidateStream(
      ms.toDS().as[BandRow],
      lateness = "10 seconds", stateTtlMs = 600000L)
    val name = "neardup_xband_out"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // same doc pair collides in two bands; later-arriving doc is b_id
      ms.addData(
        BandRow(7, 0, "x", ts(0)), BandRow(7, 3, "y", ts(0)),
        BandRow(9, 0, "x", ts(1)), BandRow(9, 3, "y", ts(1)))
      q.processAllAvailable()
      val rows = spark.table(name).as[Cand].collect()
      assert(rows.length === 2 && rows.forall(c => c.a_id == 7L && c.b_id == 9L))
      assert(rows.map(_.band).toSet === Set(0, 3))
      assert(spark.table(name).select("a_id", "b_id").distinct().count() === 1)
    } finally q.stop()
    spark.catalog.dropTempView(name)
  }
}
