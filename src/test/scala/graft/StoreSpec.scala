package graft

import org.apache.spark.sql.functions._
import graft.store.Store

/** FINAL / latest-row-per-key semantics (SURVEY A15/W1, §1.4) including the
  * partial-row-replace subtlety: the latest FULL ROW wins, dropped columns are
  * NOT merged from older rows (ref clickhouse_queries.js:173-185). */
class StoreSpec extends SparkTestBase {
  import spark.implicits._

  private def wq(rows: (Long, Long, Long, String, Int)*) =
    rows.toSeq.toDF("id", "start_height", "end_height", "status", "v")

  test("latest: work_queue status ladder pending->processing->done") {
    val df = wq(
      (1L, 100L, 199L, "pending", 1), (1L, 100L, 199L, "processing", 2),
      (1L, 100L, 199L, "done", 3),
      (2L, 200L, 299L, "pending", 1), (2L, 200L, 299L, "processing", 2))
    val got = Store.latest(df, Seq("id"), "v").orderBy("id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(3))).toSeq ===
      Seq((1L, "done"), (2L, "processing")))
  }

  test("latest: partial-update row zeroes unwritten columns (no column merge)") {
    // The reference's status update inserts {id, status, updated_at} with
    // start/end defaulting to 0 — consumers must see 0, not the old range.
    val df = wq((1L, 100L, 199L, "pending", 1), (1L, 0L, 0L, "done", 2))
    val got = Store.latest(df, Seq("id"), "v").collect()(0)
    assert(got.getAs[Long]("start_height") === 0L)
    assert(got.getAs[Long]("end_height") === 0L)
    assert(got.getAs[String]("status") === "done")
  }

  test("latest: version ties broken by tieBreak column, deterministically") {
    val df = Seq((1L, "a", 5, 10), (1L, "b", 5, 20)).toDF("k", "val", "v", "tb")
    val got = Store.latest(df, Seq("k"), "v", Seq("tb")).collect()(0)
    assert(got.getAs[String]("val") === "b")
  }

  test("latest is idempotent: latest(latest(df)) == latest(df)") {
    val df = wq((1L, 1L, 2L, "pending", 1), (1L, 1L, 2L, "done", 9),
      (3L, 5L, 9L, "pending", 4))
    val once = Store.latest(df, Seq("id"), "v")
    val twice = Store.latest(once, Seq("id"), "v")
    assert(once.orderBy("id").collect().toSeq === twice.orderBy("id").collect().toSeq)
  }

  test("insertIfAbsent: only new keys survive (ON CONFLICT DO NOTHING)") {
    val existing = Seq((1L, "old"), (2L, "old")).toDF("id", "s")
    val incoming = Seq((2L, "new2"), (3L, "new3")).toDF("id", "s")
    val got = Store.insertIfAbsent(existing, incoming, Seq("id")).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(3L))
    assert(got(0).getString(1) === "new3")
  }

  test("upsert: last write wins across existing+incoming") {
    val existing = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "s", "v")
    val incoming = Seq((2L, "b2", 2), (3L, "c", 1)).toDF("id", "s", "v")
    val got = Store.upsert(existing, incoming, Seq("id"), "v")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("latestAnyRow keeps exactly one row per key") {
    val df = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "s")
    assert(Store.latestAnyRow(df, Seq("k")).count() === 2)
  }

  test("writeTable: height-bucket partition layout prunes on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    val df = Seq((100001L, "a"), (250000L, "b"), (99999L, "c"))
      .toDF("height", "s")
      .withColumn("height_bucket", graft.functions.Fns.heightBucket(col("height")))
    Store.writeTable(df, s"$dir/t", Seq("height_bucket"), Seq("height"))
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() === 3)
    // directory layout exists per bucket
    val buckets = new java.io.File(s"$dir/t").listFiles().map(_.getName).filter(_.startsWith("height_bucket="))
    assert(buckets.toSet === Set("height_bucket=0", "height_bucket=1", "height_bucket=2"))
    // partition filter prunes to a single bucket's files
    val pruned = back.filter(col("height_bucket") === 1)
    assert(pruned.count() === 1)
    assert(pruned.collect()(0).getAs[String]("s") === "a")
  }

  test("tableStats: rows/bytes per table directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$dir/t1")
    Seq((1, "x"), (2, "y")).toDF("a", "b").write.parquet(s"$dir/t2")
    // a nested table: its files sit under height_bucket= partition dirs
    Seq((1L, "x"), (100001L, "y"), (200002L, "z")).toDF("height", "b")
      .withColumn("height_bucket", graft.functions.Fns.heightBucket(col("height")))
      .write.partitionBy("height_bucket").parquet(s"$dir/t3")
    val stats = Store.tableStats(spark, dir).collect()
    assert(stats.map(r => (r.getString(0), r.getLong(1))).toMap ===
      Map("t1" -> 1L, "t2" -> 2L, "t3" -> 3L))
    assert(stats.forall(_.getAs[Long]("bytes") > 0))
    // every data file counted once, bytes are their lengths (no .crc files)
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val t3 = parquetFiles(new java.io.File(s"$dir/t3"))
    assert(t3.map(_.getParentFile.getName).toSet ===
      Set("height_bucket=0", "height_bucket=1", "height_bucket=2"))
    val row = stats.find(_.getString(0) == "t3").get
    assert(row.getAs[Long]("n_files") === t3.size.toLong)
    assert(row.getAs[Long]("bytes") === t3.map(_.length).sum)
  }
}
