package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Flatten
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.plans.Iv
import graft.queries.Monitor
import graft.sources.{HttpTransport, RpcClient, RpcConfig, RpcSource}

/** `backfill_rpc`: the production driver loop, closed-loop from one driver
  * thread. Each op is one work item of 200 heights: tip discovery over RPC,
  * then `Pipeline.runOnce` with `RpcSource.fetchEnvelopes` (parallelism =
  * cores) through `RpcClient` (default `RpcConfig`) over `HttpTransport`
  * against the in-process two-endpoint stub.
  *
  * A traced run alternates two warehouses item by item: A runs `runOnce`
  * untraced, B replays `runOnce`'s steps one by one under spans (the fetch
  * materialised before `Pipeline.ingest`). A's items give the untraced
  * rate for the tracing overhead, and A and B must end hash-equal. */
object Backfill {
  val ItemHeights = 200L
  val WarmUpHeights = 50L
  /** Far beyond what a run reaches: the loop ends on time, not on the tip. */
  val Tip = 1000000L

  final class Lane(spark: SparkSession, a: Args, val name: String, val stub: RpcStub,
                   heights: Long = ItemHeights) {
    val wh: String = a.work.resolve(s"backfill-$name").toString
    val p = new Pipeline(spark, PipelineConfig(warehouse = wh, assignRange = heights))
    val client = new RpcClient(RpcConfig(stub.endpoints(name)), HttpTransport.transport())
    val fetch: Iv => DataFrame = iv => RpcSource.fetchEnvelopes(spark, client, iv.start, iv.end, a.cores)
    val walls = mutable.ArrayBuffer.empty[Double]
    var items = 0

    /** Bootstrap an empty warehouse: resume point and the first queue seed. */
    def bootstrap(): Unit = {
      val last = p.lastIndexedHeight()
      p.seedWorkQueue(last + 1, last + ItemHeights * 10)
    }

    def runOnce(): Option[Iv] = {
      items += 1
      p.runOnce(client.latestHeight(), fetch)
    }

    /** `Pipeline.runOnce`, step by step in its order, one span per call. */
    def tracedOnce(tr: Tracer): Option[Iv] = {
      items += 1
      val tip = tr.span("sources.tip")(client.latestHeight())
      val last = tr.span("pipeline.resume")(p.lastIndexedHeight())
      val target = math.min(last + ItemHeights * 10, tip)
      tr.span("pipeline.seed")(p.seedWorkQueue(last + 1, target))
      tr.span("pipeline.claim")(p.claimNext(Some(tip))).map { case (id, iv) =>
        tr.span("pipeline.status")(p.updateWorkStatus(id, "processing", range = Some(iv)))
        try {
          val env = tr.span("sources.fetch") { val e = fetch(iv).cache(); e.count(); e }
          tr.span("pipeline.ingest")(p.ingest(env))
          if (tr.span("pipeline.verify")(p.isRangeComplete(iv.start, iv.end))) {
            tr.span("pipeline.status")(p.updateWorkStatus(id, "done", range = Some(iv)))
            tr.span("pipeline.advance")(p.advanceIndexState(p.maxBlockHeight()))
          } else {
            tr.span("pipeline.status")(p.updateWorkStatus(id, "failed", "[incomplete_range]", Some(iv)))
            tr.span("pipeline.advance")(p.recordFailedBlocks(p.findGaps(iv.start, iv.end),
              "missing", "gap after ingest"))
          }
        } catch {
          case NonFatal(e) =>
            p.updateWorkStatus(id, "failed", String.valueOf(e.getMessage), Some(iv))
            p.recordFailedBlocks(spark.range(iv.start, iv.end + 1).toDF("height"),
              "ingest_error", String.valueOf(e.getMessage))
        }
        iv
      }
    }
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val chain = Chain(a.seed, Tip)
    // traced runs: one seeded height of the warm-up item loses the primary
    // for three attempts, so the client rotates once, outside the timed
    // items (untraced runs leave out the rotation's 3.6 s of backoff)
    val down =
      if (!a.trace) Map.empty[String, Set[Long]]
      else Map("warmup" -> Set(1 + java.lang.Math.floorMod(Chain.mix(a.seed, 77), WarmUpHeights)))
    // the RPC node is not the indexer's to set up: one stub serves the run
    val stub = new RpcStub(chain, FailurePlan(a.seed, down), a.cores)
    try {
      // JIT and codegen warm-up: one small item end to end on a throwaway lane
      val (_, warmS) = Harness.secondsOf(new Lane(spark, a, "warmup", stub, WarmUpHeights).runOnce())
      res.notes += f"warm-up item of $WarmUpHeights heights $warmS%.1f s"
      if (a.trace) traced(spark, a, res, chain, stub)
      else untraced(spark, a, res, chain, stub)
    } finally stub.close()
  }

  private def untraced(spark: SparkSession, a: Args, res: Result, chain: Chain, stub: RpcStub): Unit = {
    // set-up, three times: client and pipeline over an empty warehouse,
    // bootstrapped (resume point, first queue seed); the last one runs
    val setups = (1 to 3).map { rep =>
      Harness.secondsOf { val l = new Lane(spark, a, s"a$rep", stub); l.bootstrap(); l }
    }
    setups.init.foreach { case (l, _) => Harness.deleteTree(java.nio.file.Paths.get(l.wh)) }
    val setupS = Stats.median(setups.map(_._2))
    val lane = setups.last._1
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (lane.walls.isEmpty || System.nanoTime() < deadline) {
      val (_, s) = Harness.secondsOf(lane.runOnce())
      lane.walls += s
    }
    val ops = lane.walls.toSeq
    val (done, verifyS) = Harness.secondsOf(verify(spark, a, res, chain, lane))
    res.notes += f"phases: set-up x3 ${setups.map(_._2).sum}%.1f s, window ${ops.sum}%.1f s, checks $verifyS%.1f s"
    res.attempted = ops.size
    res.failed = ops.size - done
    val (tail, pct, beyond) = Stats.tail(ops)
    val bpm = done * ItemHeights / ops.sum * 60
    res.metric("setup_s", setupS, "s")
    res.metric("op_p50_s", Stats.median(ops), "s")
    res.metric("op_tail_s", tail, "s")
    res.metric("throughput_per_min", bpm, "1/min")
    res.notes += f"op_tail_s is p$pct over ${ops.size} items ($beyond beyond it)"
    res.notes += f"blocks_per_min $bpm%.1f over ${ops.size} items in ${ops.sum}%.2f s"
    val (bytes, _) = Harness.parquetFootprint(java.nio.file.Paths.get(lane.wh))
    res.notes += f"stored_bytes_per_block ${bytes.toDouble / math.max(1L, done * ItemHeights)}%.1f"
  }

  /** Output checks on one lane; returns the number of items verified done.
    *  - every claimed item is `done` per `Monitor.queueStatus`;
    *  - `Monitor.gapReport(1, last)` reports nothing missing;
    *  - every table hash-equals a direct `Flatten` of the generated
    *    envelopes over the same heights (wall-clock stamps excluded). */
  def verify(spark: SparkSession, a: Args, res: Result, chain: Chain, lane: Lane): Int = {
    val mon = new Monitor(spark, lane.p, () => System.currentTimeMillis() / 1000)
    val status = mon.queueStatus().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val done = status.getOrElse("done", 0L).toInt
    res.check(done == lane.items, s"${lane.name}: $done of ${lane.items} items done ($status)")
    res.check(!status.contains("failed") && !status.contains("processing"),
      s"${lane.name}: queue holds failed/processing items ($status)")
    val last = lane.p.lastIndexedHeight()
    res.check(last == done * ItemHeights, s"${lane.name}: resume height $last after $done items")
    val missing = mon.gapReport(1, last).head().getLong(0)
    res.check(missing == 0, s"${lane.name}: gapReport finds $missing missing heights")
    val env = RpcSource.fetchEnvelopes(spark,
      new RpcClient(RpcConfig(Seq("mem")), chain.transport), 1, last, a.cores).cache()
    val direct = Flatten(env).all
    try Harness.compareTables(res, lane.name,
      direct.map { case (t, df) => t -> spark.read.schema(df.schema).parquet(s"${lane.wh}/$t") }, direct)
    finally env.unpersist()
    if (res.correct) done else 0
  }

  /** The traced lane's warehouse must equal the `runOnce` lane's: the 10
    * tables plus the state tables' FINAL views, wall-clock stamps left out. */
  def lanesAgree(spark: SparkSession, res: Result, runOnce: Lane, traced: Lane): Unit = {
    def snapshot(l: Lane) = Harness.tables.map(t => t -> spark.read.parquet(s"${l.wh}/$t")) ++ Seq(
      "work_queue" -> l.p.readTable("work_queue").drop("created_at", "updated_at"),
      "index_state" -> l.p.readTable("index_state").drop("updated_at"))
    Harness.compareTables(res, "traced lane vs runOnce lane", snapshot(traced), snapshot(runOnce))
  }

  private def traced(spark: SparkSession, a: Args, res: Result, chain: Chain, stub: RpcStub): Unit = {
    val rec = EngineRecorder.setup(spark)
    val tr = new Tracer(enabled = true)
    val laneA = new Lane(spark, a, "a", stub)
    val laneB = new Lane(spark, a, "b", stub)
    var gcS = 0.0
    val probeFlatten = mutable.ArrayBuffer.empty[Double]
    val probeLatest = mutable.ArrayBuffer.empty[Double]
    var busyNanos = 0L
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var k = 0
    while (k == 0 || System.nanoTime() < deadline) {
      k += 1
      laneA.walls += Harness.secondsOf(laneA.runOnce())._2
      val (c0, gc0) = (stub.counters, Jvm.gcSeconds)
      val (iv, sb) = tr.inOp(s"item$k")(Harness.secondsOf(tr.span("backfill.item")(laneB.tracedOnce(tr))))
      busyNanos += stub.counters.busyNanos - c0.busyNanos
      gcS += Jvm.gcSeconds - gc0
      laneB.walls += sb
      // probes outside the item's wall: the flatten alone (noop sink) on the
      // item's envelopes, and the FINAL view of the work queue
      tr.inOp(s"item$k") {
        for (r <- iv) {
          val env = RpcSource.fetchEnvelopes(spark,
            new RpcClient(RpcConfig(Seq("mem")), chain.transport), r.start, r.end, a.cores).cache()
          env.count()
          probeFlatten += Harness.secondsOf(tr.span("ingest.flatten") {
            Flatten(env).all.foreach(_._2.write.format("noop").mode("overwrite").save())
          })._2
          env.unpersist()
        }
        probeLatest += Harness.secondsOf(tr.span("store.latest")(finalQueueRows(laneB)))._2
      }
    }
    rec.drain(spark)
    val spans = tr.spans
    tr.writeTo(a.work.resolve("spans.jsonl"))

    // lane A needs no checks of its own: it must equal lane B, which gets them
    val doneB = verify(spark, a, res, chain, laneB)
    lanesAgree(spark, res, laneA, laneB)
    res.attempted = laneB.walls.size
    res.failed = if (res.correct) 0 else laneB.walls.size

    val items = spans.filter(_.name == "backfill.item")
    val n = math.max(1, items.size).toDouble
    def per(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    val blocks = items.size * ItemHeights
    val bpmA = laneA.walls.size * ItemHeights / laneA.walls.sum * 60
    val bpmB = blocks / laneB.walls.sum * 60
    val itemTotals = EngineTotals.of(rec, spans, items)
    val ingestTotals = EngineTotals.of(rec, spans, spans.filter(_.name == "pipeline.ingest"))
    val coverage = Stats.mean(items.map { it =>
      spans.filter(_.parent == it.id).map(_.seconds).sum / it.seconds })
    val q = math.max(1, items.size / 4)
    val growth = Stats.mean(laneB.walls.takeRight(q).toSeq) / Stats.mean(laneB.walls.take(q).toSeq)
    val (whBytes, _) = Harness.parquetFootprint(java.nio.file.Paths.get(laneB.wh))
    val whFiles = Harness.tables.map(t =>
      Harness.parquetFootprint(java.nio.file.Paths.get(laneB.wh, t))._2).sum
    val stateFiles = Seq("work_queue", "index_state", "failed_blocks").map(t =>
      Harness.parquetFootprint(java.nio.file.Paths.get(laneB.wh, t))._2).sum

    val m = Layers.zero()
    m("sources.fetch_s") = per("sources.fetch")
    m("sources.tip_s") = per("sources.tip")
    // RPC counts cover the whole run (warm-up and both lanes): every height
    // fetched once per lane
    val counters = stub.counters
    m("sources.requests") = counters.requests.toDouble
    m("sources.requests_per_block") =
      counters.requests.toDouble / (WarmUpHeights + laneA.walls.size * ItemHeights + blocks)
    m("sources.retries") = counters.refused.toDouble
    m("sources.rotations") = counters.secondaryRequests.toDouble
    m("sources.response_bytes") = counters.bytes.toDouble
    m("sources.stub_busy_s") = busyNanos / 1e9 / n
    m("pipeline.resume_s") = per("pipeline.resume")
    m("pipeline.seed_s") = per("pipeline.seed")
    m("pipeline.claim_s") = per("pipeline.claim")
    m("pipeline.status_s") = per("pipeline.status")
    m("pipeline.ingest_s") = per("pipeline.ingest")
    m("pipeline.verify_s") = per("pipeline.verify")
    m("pipeline.advance_s") = per("pipeline.advance")
    m("pipeline.state_s") = Seq("resume", "seed", "claim", "status", "verify", "advance")
      .map(s => per(s"pipeline.$s")).sum
    m("pipeline.jobs_per_item") = itemTotals.jobs / n
    m("pipeline.item_growth") = growth
    m("ingest.flatten_s") = Stats.mean(probeFlatten.toSeq)
    m("ingest.rows_out") = ingestTotals.outputRows / n
    m("store.files_written") = whFiles.toDouble / math.max(1, doneB)
    m("store.bytes_written") = ingestTotals.outputBytes / n
    m("store.state_files") = stateFiles.toDouble
    m("store.latest_s") = Stats.mean(probeLatest.toSeq)
    m("store.bytes_per_block") = whBytes.toDouble / math.max(1L, doneB * ItemHeights)
    Layers.spark(m, itemTotals, gcS, items.size)
    m("trace.coverage") = coverage
    m("trace.overhead_ratio") = bpmA / bpmB
    Layers.emit(res, m)
    res.notes += f"traced blocks_per_min $bpmB%.1f vs untraced $bpmA%.1f over ${items.size} item pairs"
    res.notes += Layers.selfTimes(tr, spans)
  }

  private def finalQueueRows(l: Lane): Long = l.p.workQueue().count()
}
