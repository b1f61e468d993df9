package perfbench

import java.nio.file.Files

/** Benchmark JVM entry: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir>`. Writes the result object to
  * `<work>/result.json` and its notes to stderr; `run.py` prints it. */
object Main {
  val workloads: Map[String, (org.apache.spark.sql.SparkSession, Args, Result) => Unit] = Map(
    "backfill_rpc" -> Backfill.run,
    "query_inventory" -> Inventory.run)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val body = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    Files.createDirectories(a.work)
    val jvmUpS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val (spark, sessionS) = Harness.secondsOf(Harness.session(a))
    val res = new Result
    val (_, bodyS) = try Harness.secondsOf(body(spark, a, res)) finally spark.stop()
    res.notes += f"jvm up $jvmUpS%.1f s, session $sessionS%.1f s, workload $bodyS%.1f s, " +
      f"peak RSS ${Jvm.peakRssMiB}%.0f MiB"
    res.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    res.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    Files.writeString(a.work.resolve("result.json"), res.json)
  }
}
