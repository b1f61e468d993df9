package graft

import java.nio.file.Files

/** The size rule behind every session's shuffle-partition count, and the
  * settings graft.Session gives the session the suites share. */
class SessionSpec extends SparkTestBase {

  test("Tune: unreadable dir falls back to Spark's default of 200") {
    assert(Tune.inputBytes("/nonexistent/graft/sf") === 0L)
    assert(Tune.shufflePartitions("/nonexistent/graft/sf") === 200)
  }

  test("Tune: sf0.001 (well under 4 MiB per partition) gets the floor of 4") {
    assert(Tune.inputBytes(sf0001) > 0L)
    assert(Tune.shufflePartitions(sf0001) === 4)
  }

  test("Tune: one partition per 4 MiB, capped at 4096 over 16 GiB") {
    val dir = Files.createTempDirectory("graft_tune")
    val f = dir.resolve("part-0.parquet").toFile
    def sized(bytes: Long): Int = {
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(bytes) finally raf.close() // sparse: no disk blocks
      Tune.shufflePartitions(dir.toString)
    }
    try {
      assert(sized((4L << 20) * 10 + 1) === 11)
      assert(sized(16L << 30) === 4096)
      assert(sized((17L << 30) + 5) === 4096)
    } finally { f.delete(); Files.delete(dir) }
  }

  test("Session: UTC, AQE on, Tune-sized partitions and the GraftExtensions rules") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      Session.shufflePartitions(sf0001).toString)
    if (!sys.env.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS"))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
    val analyzerRules = spark.sessionState.analyzer.extendedResolutionRules
    assert(analyzerRules.contains(plans.FinalHintResolution))
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(plans.HeightBucketPruning))
  }
}
