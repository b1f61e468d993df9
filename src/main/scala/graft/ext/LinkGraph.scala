package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality over a crawl's edge list — the URL-level quality
  * signal web-corpus pipelines rank fetch queues and weight documents with
  * (Common Crawl publishes exactly this as its host/domain ranking; OPIC /
  * harmonic-centrality frontier ordering is the same consumer). Composes
  * with [[Url.outlinks]]: page canonical key → link canonical key edges in,
  * per-node rank out.
  *
  * The rank is FIXED-POINT INTEGER PageRank, not float: every quantity is a
  * scaled long (`scale` = 1.0), the damping factor a permille int, and each
  * edge's contribution `(rank * dampingMilli) div (1000 * outdeg)` an exact
  * integer floor-division. Long addition is associative and commutative, so
  * the result is bit-identical regardless of partitioning, aggregation
  * order, or engine — a float implementation cannot promise that (partial
  * sums re-order under shuffle), and this operator's correctness gate
  * hash-compares against an independent engine. The cost is the classical
  * PageRank invariants holding only approximately (each floor drops < 1
  * rank unit per edge per iteration; dangling-node mass is dropped rather
  * than redistributed — both documented, both deterministic).
  *
  * Scale stance: the canonical two-shuffle-per-iteration Spark shape —
  * contributions shuffle on src (the edges⋈ranks equi-join), fold on dst
  * (one groupBy), ranks rebuild from the static node table. The edge list
  * is never exchanged more than once per iteration and nothing is ever
  * collected; `materialize` truncates the iterative lineage (a PARQUET
  * round-trip per artifact) for long runs — without it a 20-iteration plan
  * doubles its depth per pass and the optimizer re-plans the whole history.
  *
  * Why parquet and not `localCheckpoint`: a checkpoint pins the full
  * deserialized edge list in EXECUTOR STORAGE, which is exactly the wrong
  * primitive for the one table here that outgrows memory — the round-13
  * 30 M-page probe (240 M edges) OOM-killed twice at 96 g heap from the
  * checkpointed edge list alone. A parquet round-trip streams the table
  * through columnar files instead: the iteration re-reads a compressed scan
  * (with column pruning — the contribution join reads 3 columns), heap
  * pressure is bounded by batch size not table size, and on a real cluster
  * the write is a distributed-FS file that survives executor loss, which a
  * storage-level checkpoint does not.
  */
object LinkGraph {

  /** The shared lineage-truncating materializer ([[graft.Scratch.materialize]]):
    * exact round-trip for pageRank's string/long columns — both gate hashes
    * unchanged vs the lazy form, LinkGraphSpec-pinned. */
  private def matParquet(df: DataFrame, scratchDir: String, name: String): DataFrame =
    graft.Scratch.materialize(df, scratchDir, name)

  /** Fixed-point PageRank. Input: an edge list (duplicate edges count —
    * a multigraph link is a stronger endorsement); output: (node, rank_fp)
    * with rank_fp the scaled-integer rank (divide by `scale` for the ~1.0
    * interpretation). Isolated DESTINATIONS (no out-edges) keep the base
    * rank plus what they receive; their own mass is dropped, not
    * redistributed. `scale` must be divisible by 1000 so the base term
    * `(1000 - dampingMilli) * scale / 1000` is exact. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 3, dampingMilli: Int = 850,
               scale: Long = 1000000L,
               materialize: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingMilli >= 0 && dampingMilli <= 1000,
      s"dampingMilli must be a permille in [0,1000], got $dampingMilli")
    require(scale % 1000L == 0L,
      s"scale must be divisible by 1000 for an exact base term, got $scale")
    // compact the multigraph to WEIGHTED edges through one exchange: a
    // duplicate (src,dst) edge contributes the identical floored share, so
    // per-edge summation equals share x count bit-for-bit — and every
    // downstream consumer (node universe, out-degrees, each iteration's
    // contribution join) now hangs off the SAME exchange subtree, which
    // ReuseExchange deduplicates. Without this, a lazily-composed edge
    // list (e.g. the gate's inline outlinks) re-ran its extraction ~6x:
    // once per consumer subtree (x_domain_rank measured 8.8 s at sf1 from
    // exactly that).
    val scratch = if (materialize) graft.Scratch.dir("graft-pagerank") else ""
    var ec = edges.select(col(srcCol).cast("string").as("__src"),
        col(dstCol).cast("string").as("__dst"))
      .groupBy("__src", "__dst").agg(count(lit(1)).as("__w"))
    if (materialize) ec = matParquet(ec, scratch, "edges")
    // static per-iteration inputs: the node universe and src out-degrees —
    // under materialize they are computed ONCE (each eager per-iteration
    // materialization job would otherwise redo both distincts)
    var nodes = ec.select(col("__src").as("node"))
      .union(ec.select(col("__dst").as("node"))).distinct()
    var deg = ec.groupBy(col("__src")).agg(sum("__w").as("__outdeg"))
    if (materialize) {
      nodes = matParquet(nodes, scratch, "nodes")
      deg = matParquet(deg, scratch, "deg")
    }
    val base = (1000L - dampingMilli) * scale / 1000L
    var ranks = nodes.withColumn("rank_fp", lit(scale))
    for (i <- 1 to iterations) {
      val contribs = ec
        .join(ranks.withColumnRenamed("node", "__src"), Seq("__src"))
        .join(deg, Seq("__src"))
        .select(col("__dst").as("node"),
          expr(s"((rank_fp * $dampingMilli) div (1000L * __outdeg)) * __w")
            .as("__c"))
        .groupBy("node").agg(sum("__c").as("__contrib"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("__contrib"), lit(0L))).as("rank_fp"))
      if (materialize) ranks = matParquet(ranks, scratch, s"ranks-$i")
    }
    ranks
  }

  /** [[pageRank]] rolled up to REGISTRABLE DOMAINS — the granularity the
    * public web rankings actually publish (Common Crawl's domain-level
    * ranks) and the one domain caps / blocklists act at. Edges collapse to
    * (domain of page, domain of target) with INTRA-domain edges dropped:
    * site navigation links every page to its siblings, and keeping them
    * lets any large site vote for itself — the standard domain-graph
    * hygiene rule. `domainOf` is the same pluggable policy hook as the
    * cap/blocklist family ([[Url.registrableDomain]] default,
    * `Psl.registrableDomain(_)` for exact PSL grouping). Duplicate
    * (src-domain, dst-domain) edges count — 100 pages of A linking B is
    * stronger evidence than 1. `links` is a materialized [[Url.outlinks]]
    * table (or any frame with `src_key`/`link_key`). */
  def domainRank(links: DataFrame, iterations: Int = 3,
                 dampingMilli: Int = 850,
                 domainOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                   Url.registrableDomain,
                 materialize: Boolean = false): DataFrame = {
    val edges = links.select(
        domainOf(Url.hostOf(col("src_key"))).as("src_domain"),
        domainOf(Url.hostOf(col("link_key"))).as("dst_domain"))
      .where(col("src_domain") =!= col("dst_domain"))
    pageRank(edges, "src_domain", "dst_domain", iterations, dampingMilli,
      materialize = materialize)
  }
}
