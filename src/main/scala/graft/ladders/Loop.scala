package graft.ladders

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Probe, Scratch}
import graft.fixtures.Fixtures
import graft.ingest.Ingest
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.plans.Iv

/** Scale ladder for the driver loop, `graft.Probe loop [preloaded=400000]
  * [items=8]`: one `Ingest.write` pre-loads heights 1..preloaded of
  * synthetic envelopes ([[Fixtures.envelopes]]), then `Pipeline.runOnce`
  * runs one warm-up item and `items` timed backfill items of 200 heights
  * above them, fetching from the same generator (no RPC). The warm-up
  * (`item_first_sec`) takes the cold-JVM cost a rung with nothing
  * pre-loaded would otherwise put into its timed items. An item's wall
  * should not grow with the pre-loaded warehouse: compare the p50 of a rung
  * against the rung with 0 pre-loaded blocks. `verify_p50_sec` re-times
  * `isRangeComplete` on each timed item's range outside the item walls. */
object Loop {
  val ItemHeights = 200L

  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Probe.Fields = {
    val preloaded = args.headOption.map(_.toLong).getOrElse(400000L)
    val items = args.lift(1).map(_.toInt).getOrElse(8)
    val r = new Probe.Receipt
    r.add("preloaded_blocks", preloaded)
    r.add("items", items)
    val wh = Scratch.dir("graft-loopprobe")
    r.timed("preload") {
      if (preloaded > 0) Ingest.write(wh, Fixtures.envelopes(spark, 1, preloaded), None)
    }
    val p = r.timed("setup")(new Pipeline(spark, PipelineConfig(
      warehouse = wh, assignRange = ItemHeights, backfillMode = true)))
    val tip = preloaded + (items + 1) * ItemHeights
    val fetch = (iv: Iv) => Fixtures.envelopes(spark, iv.start, iv.end)
    val first = Probe.time(p.runOnce(tip, fetch))._1
    val runs = (1 to items).map(_ => Probe.time(p.runOnce(tip, fetch)))
    val walls = runs.map(_._1)
    val verify = runs.flatMap(_._2).map(iv => Probe.time(p.isRangeComplete(iv.start, iv.end))._1)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    r.add("item_first_sec", first)
    r.add("item_p50_sec", p50(walls))
    r.add("item_max_sec", if (walls.isEmpty) 0.0 else walls.max)
    r.add("verify_p50_sec", p50(verify))
    r.add("n_done", p.workQueue().filter(col("status") === "done").count())
    r.add("state_files", Seq("work_queue", "index_state").map(t =>
      Option(new java.io.File(wh, t).list()).fold(0)(
        _.count(n => !n.startsWith("_") && !n.startsWith(".")))).sum)
    r.fields
  }
}
