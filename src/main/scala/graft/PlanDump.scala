package graft

/** Diagnostic main: dump `explain("formatted")` for the headline queries to
  * a directory (one .txt per query) — the source for PLANS.md's plan audit
  * and the quickest way to re-check a plan shape after a change.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [query ...]
  * With no query names, dumps the curated headline set. */
object PlanDump {

  /** Queries whose physical shape carries the 100 TB argument. */
  val headline: Seq[String] = Seq(
    "j1_fact_dim_join", "j3_gap_detection", "j5_broadcast_dict",
    "a7_mv2_daily_tx_stats", "a15_latest_per_key", "p4_range_cap",
    "x_near_dup", "x_cosine_topk", "x_ann_ivf_indexed", "x_embed_near_dup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_plans")
    val names = if (args.length > 2) args.drop(2).toSeq else headline
    // the Bench session (graft.Session): same master, partitions, AQE and
    // extensions, so a dumped plan is the benched plan
    val spark = Session.build(sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$name.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"[plandump] wrote $outDir/$name.txt")
      }
    }
    spark.stop()
  }
}
