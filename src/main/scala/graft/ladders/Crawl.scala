package graft.ladders

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Probe, Scratch}
import graft.ext.{Crawl => CrawlOps, LinkGraph, Robots, Url}

/** Scale ladder for the COMPOSED crawl loop — the full pipeline a fetch
  * batch feeds, as one receipt (`graft.Probe crawl [nRows=1000000]
  * [cap=100]`): N synthesized fetched pages ([[Probe.fetchedPages]]), then
  *
  *   1. extract+resolve the outlink edge list ([[graft.ext.Url.outlinks]],
  *      parquet-materialized — it is a pipeline product),
  *   2. discover the new frontier ([[graft.ext.Url.discoveredFromLinks]] —
  *      Bloom-compressed fetched side),
  *   3. evaluate robots.txt politeness over the frontier
  *      ([[graft.ext.Robots.decide]] — per-host rule arrays, broadcast),
  *   4. rank domains ([[graft.ext.LinkGraph.domainRank]] — fixed-point
  *      integer iteration over the weighted edge compaction),
  *   5. order the fetch queue ([[graft.ext.Crawl.frontierOrder]] —
  *      rank-joined, per-domain-capped).
  *
  * Records per-stage wall seconds and kept-fractions. The robots fixture is
  * the x_frontier_order gate's: digit-derived rules with a wildcard rescue,
  * ~3/4 of hosts publishing rules.
  */
object Crawl {
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Probe.Fields = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cap = args.lift(1).map(_.toInt).getOrElse(100)
    val r = new Probe.Receipt
    r.add("n_rows", n)
    r.add("cap", cap)
    val scratch = Scratch.dir("graft-crawlprobe")
    def mat(df: org.apache.spark.sql.DataFrame, name: String) =
      Scratch.materialize(df, scratch, name)
    val docs = Probe.fetchedPages(spark, n, scratch)

    def counted(df: org.apache.spark.sql.DataFrame) = (df, df.count())
    val (links, nEdges) = r.timed("outlinks") {
      counted(mat(Url.outlinks(docs, "doc_id", "url", "html"), "links"))
    }
    r.add("n_edges", nEdges)
    val (frontier, nFrontier) = r.timed("frontier") {
      counted(mat(Url.discoveredFromLinks(links,
        docs.select(Url.canonicalKey(col("url"))), expectedItems = n), "frontier"))
    }
    r.add("n_frontier", nFrontier)
    r.add("frontier_frac_of_edges", Probe.frac(nFrontier, nEdges))
    // robots over the frontier's own hosts (the gate fixture: a wildcard
    // rescue + a digit-keyed ban, ~3/4 of hosts publish rules)
    val hosts = frontier.select(Url.hostOf(col("link_key")).as("host"))
      .distinct().filter(pmod(length(col("host")), lit(4)) =!= 0)
    val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
    val robots = hosts.withColumn("txt", concat(
      lit("User-agent: *\nDisallow: /A/\nAllow: /a/*x="),
      (dig % 5).cast("string"),
      lit("$\nDisallow: /r/"), (dig % 11).cast("string"), lit("\n")))
    val nAllowed = r.timed("robots") {
      Robots.decide(frontier, "link", robots, "host", "txt")
        .filter(col("allowed")).count()
    }
    r.add("n_allowed", nAllowed)
    r.add("allowed_frac", Probe.frac(nAllowed, nFrontier))
    val (rank, nDomains) = r.timed("rank") {
      counted(mat(LinkGraph.domainRank(links, materialize = true), "rank"))
    }
    r.add("n_domains", nDomains)
    val nQueue = r.timed("order") {
      CrawlOps.frontierOrder(frontier, robots, "host", "txt", rank, cap = cap)
        .count()
    }
    r.add("n_queue", nQueue)
    r.add("queue_frac_of_allowed", Probe.frac(nQueue, nAllowed))
    r.fields
  }
}
