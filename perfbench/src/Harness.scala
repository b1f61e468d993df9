package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, data: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath)
  }
}

/** Result of one run: the last stdout line's fields plus human-readable
  * notes (percentile behind `op_tail_s`, blocks/min, trace summary) that go
  * to stderr. */
final class Result {
  var correct = true
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  val problems = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** A failed output check: the run is not correct and the op counts as failed. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { correct = false; problems += what }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest whole percentile (nearest rank) with at least ten samples
    * above it: (value, percentile, samples beyond). Below eleven samples
    * no percentile qualifies and the maximum is returned as p100. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 100, 0)
    else (99 to 1 by -1).iterator.map { p =>
      val idx = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
      (s(idx), p, n - 1 - idx)
    }.find(_._3 >= 10).getOrElse((s.last, 100, 0))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Harness {
  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(a: Args): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", graft.Tune.shufflePartitions(a.data.toString).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.hadoop.hadoop.tmp.dir", a.work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  type Hash = (Long, java.math.BigDecimal)

  /** Order-independent content hash per table, all tables in one job:
    * (rows, sum of row xxhash64 as an exact decimal). Duplicated rows
    * change both. Columns in `drop` (partition keys, wall-clock stamps)
    * are left out. */
  def contentHashes(tables: Seq[(String, DataFrame, Set[String])]): Map[String, Hash] = {
    val parts = tables.map { case (name, df, drop) =>
      val cols = df.columns.filterNot(drop).sorted.map(col).toIndexedSeq
      df.select(lit(name).as("t"), xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
    }
    val sums = parts.reduce(_ unionByName _).groupBy("t")
      .agg(count(lit(1)).as("n"), sum("h").as("s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)): Hash)).toMap
    tables.map { case (name, _, _) =>
      name -> sums.getOrElse(name, (0L, java.math.BigDecimal.ZERO))
    }.toMap
  }

  /** Hash each table of `actual` and of `expected` (same names) in one
    * job, and record a failed check for each pair that differs. */
  def compareTables(res: Result, what: String, actual: Seq[(String, DataFrame)],
                    expected: Seq[(String, DataFrame)]): Unit = {
    def drop(t: String) = partitionCols ++ wallClockCols.getOrElse(t, Set.empty)
    val hashes = contentHashes(
      actual.map { case (t, df) => (s"actual/$t", df, drop(t)) } ++
        expected.map { case (t, df) => (s"expected/$t", df, drop(t)) })
    for ((t, _) <- expected) {
      val (got, want) = (hashes(s"actual/$t"), hashes(s"expected/$t"))
      res.check(got == want, s"$what: table $t hash $got != expected $want")
    }
  }

  /** Bytes and file count of the parquet files under `dir`. */
  def parquetFootprint(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        var bytes = 0L
        var files = 0L
        s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .forEach { p => bytes += Files.size(p); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  /** Wall-clock ingest stamps (`processedAt`) that differ between two
    * ingests of the same data, per table. */
  val wallClockCols: Map[String, Set[String]] = Map(
    "tx_event_attrs_json" -> Set("created_at"),
    "type_wasm" -> Set("created_at"),
    "type_message" -> Set("created_at"))

  val partitionCols: Set[String] = Set("height_bucket")

  val tables: Seq[String] = Seq("blocks", "txs", "tx_events", "tx_event_attrs_json", "type_wasm",
    "type_wasm_attrs", "type_message", "type_message_attrs", "block_events", "block_event_attrs")
}
