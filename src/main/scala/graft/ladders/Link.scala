package graft.ladders

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Probe, Scratch}
import graft.ext.{LinkGraph, Url}

/** Scale ladder for the crawl-loop family (outlinks → frontier discovery →
  * URL rank), `graft.Probe link [nRows=10000000] [iterations=3]`: N
  * synthesized fetched pages ([[Probe.fetchedPages]], ~8 fetchable anchors
  * per page, so the edge list is ~8N rows), each stage timed. */
object Link {
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Probe.Fields = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val r = new Probe.Receipt
    r.add("n_rows", n)
    val scratch = Scratch.dir("graft-linkprobe")
    val docs = Probe.fetchedPages(spark, n, scratch)

    // production composition: the edge list is a pipeline PRODUCT —
    // extracted once, materialized, then consumed by the frontier and the
    // rank iteration (the resolve regex chain over html is the dominant
    // cost; a lazy composition re-runs it per consumer and per pagerank
    // iteration — 3.4x at this rung, see PLANS.md)
    val (links, edges) = r.timed("outlinks") {
      val links = Scratch.materialize(
        Url.outlinks(docs, "doc_id", "url", "html"), scratch, "links")
      (links, links.agg(count(lit(1)), approx_count_distinct("link_key")).first())
    }
    r.add("n_edges", edges.getLong(0))
    r.add("approx_link_keys", edges.getLong(1))
    r.add("n_new", r.timed("frontier") {
      Url.discoveredFromLinks(links,
          docs.select(Url.canonicalKey(col("url"))), expectedItems = n)
        .agg(count(lit(1))).first().getLong(0)
    })
    r.add("pagerank_iters", iters)
    val rank = r.timed("pagerank") {
      LinkGraph.pageRank(links, "src_key", "link_key",
          iterations = iters, materialize = true)
        .agg(count(lit(1)), max("rank_fp")).first()
    }
    r.add("n_nodes", rank.getLong(0))
    r.add("max_rank_fp", rank.getLong(1))
    r.fields
  }
}
