package perfbench

import scala.collection.mutable

/** The per-layer metric catalogue printed by every traced run. A layer a
  * workload does not load reports 0. */
object Layers {
  val families: Seq[String] = Seq("a", "f", "flat", "j", "o", "p", "s", "set", "w")
  val extGroups: Seq[String] = Seq("Dedup", "Similarity", "Url", "Psl", "Lm", "Dsir", "Bpe",
    "TextFns", "Sampling", "Multimodal", "Warc", "Plans")
  /** Inventory groups whose query runs a `graft.streaming` ingest. */
  val streamingGroups: Seq[String] = Seq("StreamingIngest")

  val units: Seq[(String, String)] = Seq(
    "sources.fetch_s" -> "s", "sources.tip_s" -> "s", "sources.requests" -> "count",
    "sources.requests_per_block" -> "ratio", "sources.retries" -> "count",
    "sources.rotations" -> "count", "sources.response_bytes" -> "B", "sources.stub_busy_s" -> "s",
    "pipeline.resume_s" -> "s", "pipeline.seed_s" -> "s", "pipeline.claim_s" -> "s",
    "pipeline.status_s" -> "s", "pipeline.ingest_s" -> "s", "pipeline.verify_s" -> "s",
    "pipeline.advance_s" -> "s", "pipeline.state_s" -> "s", "pipeline.jobs_per_item" -> "count",
    "pipeline.item_growth" -> "ratio",
    "ingest.flatten_s" -> "s", "ingest.rows_out" -> "count",
    "store.files_written" -> "count", "store.bytes_written" -> "B", "store.state_files" -> "count",
    "store.latest_s" -> "s", "store.bytes_per_block" -> "B/block") ++
    streamingGroups.map(g => s"streaming.${g}_s" -> "s") ++
    families.map(f => s"queries.${f}_s" -> "s") ++
    extGroups.map(g => s"ext.${g}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.cpu_ratio" -> "ratio",
    "spark.gc_s" -> "s", "spark.planning_s" -> "s", "spark.input_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "jvm.peak_rss_mb" -> "MiB", "trace.coverage" -> "ratio", "trace.overhead_ratio" -> "ratio")

  def zero(): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(units.map(_._1 -> 0.0): _*)

  /** `spark.*` per op: counts and times divided by `ops`. */
  def spark(m: mutable.Map[String, Double], t: EngineTotals, gcS: Double, ops: Int): Unit = {
    val n = math.max(1, ops).toDouble
    m("spark.jobs") = t.jobs / n
    m("spark.stages") = t.stages / n
    m("spark.tasks") = t.tasks / n
    m("spark.executor_run_s") = t.runS / n
    m("spark.executor_cpu_s") = t.cpuS / n
    m("spark.cpu_ratio") = t.cpuRatio
    m("spark.gc_s") = gcS / n
    m("spark.planning_s") = t.planningS / n
    m("spark.input_bytes") = t.inputBytes / n
    m("spark.shuffle_write_bytes") = t.shuffleWriteBytes / n
    m("spark.spill_bytes") = t.spillBytes / n
  }

  def emit(res: Result, m: mutable.Map[String, Double]): Unit = {
    m("jvm.peak_rss_mb") = Jvm.peakRssMiB
    for ((name, unit) <- units) res.metric(name, m(name), unit)
  }

  /** Self time per span name, summed over `spans`, largest first. */
  def selfTimes(tr: Tracer, spans: Seq[Span]): String =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(tr.selfSeconds).sum }
      .toSeq.sortBy(-_._2).map { case (n, s) => f"$n=$s%.3f" }.mkString("self time (s): ", " ", "")
}
