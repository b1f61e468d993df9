package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `query_inventory`: the read side. One query per group of the inventory
  * (each relational family, and each `graft.ext` / streaming / plans
  * object the `x_` queries exercise; `data/query_groups.tsv` marks the
  * sampled one) over the sample tables, in name order on a session warmed
  * the way `graft.Bench` warms it. The sample includes `flat_stream_mv`,
  * the exactly-once micro-batch stream with MV deltas and a planted
  * redelivery, so the streaming ingest is measured here too.
  *
  * An op runs one query and collects its rows, as a client reading an
  * answer does. After an untimed warm-up pass, the window runs whole
  * passes, at least `MinPasses`, until the run's seconds are spent; the
  * rows of each query's first measured execution are then written as
  * parquet for the DuckDB oracle compare, outside the timed ops. */
object Inventory {
  /** The session warm-up `graft.Bench` uses. */
  val WarmUp: Seq[String] = Seq("a1_max_default", "j2_events_dim_join")

  /** Measured passes a run makes at least. A query's time is the median of
    * its executions, so host steal that slows one pass moves no query's
    * time. The streaming ingest (~10 s, commit-bound) runs in the first
    * pass only. */
  val MinPasses = 3

  /** The sampled queries and their groups, from `query_groups.tsv`. */
  def sample(data: Path): Seq[(String, String)] =
    Files.readAllLines(data.getParent.resolve("query_groups.tsv")).asScala.toSeq
      .filterNot(_.startsWith("#")).map(_.split('\t'))
      .collect { case Array(q, g, "1") => q -> g }.sortBy(_._1)

  def layerOf(group: String): String =
    if (Layers.families.contains(group)) s"queries.$group"
    else if (Layers.streamingGroups.contains(group)) s"streaming.$group"
    else s"ext.$group"

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val dir = a.data.toString
    val queries = SparkEntry.queries
    val chosen = sample(a.data)
    for ((q, _) <- chosen) res.check(queries.contains(q), s"sampled query $q is not in SparkEntry.queries")
    def noop(q: String): Unit = queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

    // set-up, three times (once when tracing, which omits setup_s): open
    // every sample table and run the warm-up queries
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
    val setups = (1 to (if (a.trace) 1 else 3)).map { _ =>
      Harness.secondsOf {
        tables.foreach(t => graft.queries.Td.t(spark, dir, t).schema)
        WarmUp.foreach(noop)
      }._2
    }
    // warm-up, untimed: one pass of the sample, less the streaming ingest
    // (commit-bound, not compile-bound), so the measured passes time plans
    // whose code is generated and JIT-compiled; a failure here shows again
    // in the measured passes
    val (_, warmS) = Harness.secondsOf {
      for ((q, g) <- chosen if !Layers.streamingGroups.contains(g))
        scala.util.Try(queries(q)(spark, dir).collect())
    }

    val rec = if (a.trace) Some(EngineRecorder.setup(spark)) else None
    val tr = new Tracer(a.trace)
    val gc0 = Jvm.gcSeconds
    val ops = mutable.ArrayBuffer.empty[(String, String, Double)]
    val passes = mutable.ArrayBuffer.empty[Double]
    val results = mutable.Map.empty[String, (Array[Row], StructType)]
    val broken = mutable.Set.empty[String]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (passes.size < MinPasses || System.nanoTime() < deadline) {
      val first = passes.isEmpty
      val (_, passS) = Harness.secondsOf {
        for ((q, g) <- chosen if first || !Layers.streamingGroups.contains(g)) {
          val (out, s) = tr.inOp(q)(Harness.secondsOf(tr.span(layerOf(g)) {
            try { val df = queries(q)(spark, dir); Some((df.collect(), df.schema)) }
            catch { case e: Throwable => res.check(ok = false, s"$q failed: ${e.getMessage}"); None }
          }))
          out match {
            case Some(r) => results.getOrElseUpdate(q, r)
            case None => broken += q
          }
          ops += ((q, g, s))
        }
      }
      passes += passS
    }
    val gcS = Jvm.gcSeconds - gc0
    val t0 = System.nanoTime()

    // the rows each query returned, as parquet, for the DuckDB compare
    val out = a.work.resolve("out")
    for ((q, (rows, schema)) <- results)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(out.resolve(q).toString)
    val oracle = SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, dir)
    writeJson(a.work.resolve("oracle_sql.json"), chosen.map(_._1)
      .flatMap(q => oracle.get(q).map(sql => q -> sql.replace("{{SF}}", dir))))
    writeJson(a.work.resolve("ops.json"),
      ops.groupBy(_._1).toSeq.sortBy(_._1).map { case (q, os) => q -> os.size.toString })
    res.notes += f"phases: set-up x${setups.size} ${setups.sum}%.1f s, warm-up pass $warmS%.1f s, window ${passes.sum}%.1f s, " +
      f"result writes and oracle SQL ${(System.nanoTime() - t0) / 1e9}%.1f s"
    res.attempted = ops.size
    res.failed = ops.count(o => broken(o._1))

    // per query: the median of its executions
    val times = ops.groupBy(_._1).values.map(os => Stats.median(os.map(_._3).toSeq)).toSeq
    if (!a.trace) {
      val (tail, pct, beyond) = Stats.tail(times)
      res.metric("setup_s", Stats.median(setups), "s")
      res.metric("op_p50_s", Stats.median(times), "s")
      res.metric("op_tail_s", tail, "s")
      res.metric("throughput_per_min", ops.size / passes.sum * 60, "1/min")
      res.notes += f"op_tail_s is p$pct over ${times.size} queries ($beyond beyond it)"
      res.notes += ops.sortBy(-_._3).take(5).map(o => f"${o._1}=${o._3}%.2f").mkString("slowest ops (s): ", " ", "")
      res.notes += f"passes (s): ${passes.map(p => f"$p%.2f").mkString(" ")}; the first, of ${chosen.size} queries, is inventory_s"
    } else {
      val rc = rec.get
      rc.drain(spark)
      val spans = tr.spans
      val m = Layers.zero()
      for ((g, os) <- ops.groupBy(_._2) if m.contains(s"${layerOf(g)}_s"))
        m(s"${layerOf(g)}_s") = Stats.median(os.map(_._3).toSeq)
      Layers.spark(m, EngineTotals.of(rc, spans, spans), gcS, ops.size)
      m("trace.coverage") = spans.map(_.seconds).sum / passes.sum
      Layers.emit(res, m)
      res.notes += Layers.selfTimes(tr, spans)
      tr.writeTo(a.work.resolve("spans.jsonl"))
    }
  }

  private def writeJson(path: Path, entries: Seq[(String, String)]): Unit = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    Files.writeString(path, entries.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}"))
  }
}
