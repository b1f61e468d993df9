package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: Bench, Verify, PlanDump, SfGen,
  * Probe and the test base all take their session from here, so a benched
  * plan, a verified plan and a dumped plan come from the same settings.
  *
  *  - master `local[n]`: n is `SPARK_GRAFT_CPUS`, else every available
  *    processor;
  *  - shuffle partitions sized from the input ([[Tune.shufflePartitions]]
  *    over `dataDir`); `SPARK_GRAFT_SHUFFLE_PARTITIONS` overrides it, e.g.
  *    2048 for the cluster-profile rehearsal;
  *  - AQE on (r16 measured AQE-off as a wash), UTC session time zone, UI
  *    off, the [[graft.plans.GraftExtensions]] rules, WARN logging. */
object Session {

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def shufflePartitions(dataDir: String): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.trim.toInt)
      .getOrElse(Tune.shufflePartitions(dataDir))

  def build(dataDir: String, cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(dataDir).toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
