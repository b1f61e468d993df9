package graft

import org.apache.spark.sql.functions._
import graft.ext.{LinkGraph, Url}

class LinkGraphSpec extends SparkTestBase {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int,
                    materialize: Boolean = false): Map[String, Long] =
    LinkGraph.pageRank(edges.toDF("s", "d"), "s", "d", iterations = iters,
        materialize = materialize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // hand-computed fixed-point vectors (scale 1e6, damping 850/1000):
  // edges A->B, A->C, B->C, C->A; outdeg A=2, B=1, C=1; base = 150000.
  //   iter1: contrib(B) = (1e6*850) div 2000 = 425000
  //          contrib(C) = 425000 + (1e6*850) div 1000 = 1275000
  //          contrib(A) = 850000
  //   r1:    A=1000000, B=575000, C=1425000
  //   iter2: contrib(B) = (1000000*850) div 2000           = 425000
  //          contrib(C) = 425000 + (575000*850) div 1000   = 913750
  //          contrib(A) = (1425000*850) div 1000           = 1211250
  //   r2:    A=1361250, B=575000, C=1063750
  private val Triangle = Seq("A" -> "B", "A" -> "C", "B" -> "C", "C" -> "A")

  test("pageRank: hand-computed integer vectors, 1 and 2 iterations") {
    assert(ranks(Triangle, 1) ===
      Map("A" -> 1000000L, "B" -> 575000L, "C" -> 1425000L))
    assert(ranks(Triangle, 2) ===
      Map("A" -> 1361250L, "B" -> 575000L, "C" -> 1063750L))
  }

  test("pageRank: dangling destination keeps base + received; its mass drops") {
    // A->B only: B has no out-edges. iter1: B = 150000 + 850000; A = base.
    // iter2: B receives (150000*850) div 1000 = 127500 from A's new rank.
    assert(ranks(Seq("A" -> "B"), 1) ===
      Map("A" -> 150000L, "B" -> 1000000L))
    assert(ranks(Seq("A" -> "B"), 2) ===
      Map("A" -> 150000L, "B" -> 277500L))
  }

  test("pageRank: duplicate edges count (multigraph endorsement)") {
    // A->B twice, A->C once: outdeg(A)=3, B gets 2 shares, C one
    val r = ranks(Seq("A" -> "B", "A" -> "B", "A" -> "C"), 1)
    assert(r("B") === 150000L + 2L * ((1000000L * 850L) / 3000L))
    assert(r("C") === 150000L + (1000000L * 850L) / 3000L)
  }

  test("pageRank: deterministic under repartitioning and materialize") {
    // the fixed-point design's whole point: partitioning/aggregation order
    // cannot change a single bit
    val e = (0L until 400L).map(i => (s"n${i % 37}", s"n${(i * 17 + 5) % 41}"))
    val a = ranks(e, 3)
    val b = LinkGraph.pageRank(
        e.toDF("s", "d").repartition(13, col("d")), "s", "d", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(ranks(e, 3, materialize = true) === a)
  }

  test("domainRank: intra-domain edges drop, cross-domain multi-edges count") {
    // page-level edges: two a.com pages -> b.com (2 edges), b.com -> a.com
    // (1), a.com -> a.com sibling nav (dropped). Domain graph: outdeg
    // a.com=2 (both to b.com), b.com=1.
    val links = Seq(
      ("a.com/1", "b.com/x"), ("a.com/2", "b.com/y"),
      ("b.com/z", "a.com/1"), ("a.com/1", "a.com/2"))
      .toDF("src_key", "link_key")
    val r = LinkGraph.domainRank(links, iterations = 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // iter1: b.com gets 2 * (1e6*850) div (1000*2) = 850000; a.com gets
    // (1e6*850) div 1000 = 850000; both + base 150000
    assert(r === Map("a.com" -> 1000000L, "b.com" -> 1000000L))
    // asymmetry appears at iteration 2 through the out-degree split
    val r2 = LinkGraph.domainRank(links, iterations = 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2 === Map(
      "a.com" -> (150000L + (1000000L * 850L) / 1000L),
      "b.com" -> (150000L + 2L * ((1000000L * 850L) / 2000L))))
  }

  test("urlRank: self-loop pages and cross-links rank over canonical keys") {
    val docs = Seq(
      (1L, "https://a.com/1",
        "<a href=\"https://b.com/2\">x</a> <a href=\"https://a.com/1\">self</a>"),
      (2L, "https://b.com/2?utm_source=z",
        "<a href=\"https://a.com/1\">y</a>"))
      .toDF("doc_id", "url", "html")
    val r = LinkGraph.pageRank(Url.outlinks(docs, "doc_id", "url", "html"),
        "src_key", "link_key", iterations = 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // canonical endpoints: a.com/1 (outdeg 2: b.com/2 + self), b.com/2
    // (outdeg 1, tracking param collapsed): a.com/1 gets 425000 (self) +
    // 850000 (from b) + base; b.com/2 gets 425000 + base
    assert(r === Map("a.com/1" -> 1425000L, "b.com/2" -> 575000L))
  }
}
