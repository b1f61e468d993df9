package graft

import graft.queries.{ExtQueries, Queries}

/** Plan-hygiene gate (VERDICT r1 item 10): the most expensive queries must
  * have the plans we'd want at 100 TB — broadcasts on dim joins, pushed
  * filters, no accidental cartesian products, codegen in the hot path. */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String = {
    val q = (Queries.inventory ++ ExtQueries.inventory)
      .find(_._1 == name).get._2
    q(spark, sf0001).queryExecution.executedPlan.toString
  }

  test("j5_broadcast_dict: dimension join is a broadcast hash join") {
    val p = plan("j5_broadcast_dict")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("j1_fact_dim_join: equi join, no cartesian/nested-loop") {
    val p = plan("j1_fact_dim_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("a7_mv2 (flagship): no cartesian, single agg over the join") {
    val p = plan("a7_mv2_daily_tx_stats")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"))
  }

  test("x_segment_dedup: frequent set is a broadcast 1-row side, no segment-keyed join") {
    val p = plan("x_segment_dedup")
    // the doc-side rebuild joins only the broadcast 1-row frequent array
    // (nested-loop against a singleton is the cheap shape here); a
    // SortMergeJoin would mean the rebuild shuffled on segment text
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("s4_point_lookup: key filter is pushed to the parquet scan") {
    val p = plan("s4_point_lookup")
    assert(p.contains("PushedFilters") &&
      p.replaceAll("\\s", "").contains("EqualTo(l_orderkey,1)"), p.take(3000))
  }

  test("column pruning: 2-col projection reads a 2-col schema") {
    val p = plan("f8_height_bucket")
    // ReadSchema should mention only o_orderkey (bucket derives from it)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("o_orderkey") && !read.contains("o_totalprice"), read)
  }

  test("x_ann_index_stats: occupancy audit never decodes vector bytes") {
    val p = plan("x_ann_index_stats")
    // the per-list count must read only the partition column: the scan's
    // ReadSchema carries no data columns (embedding stays on disk)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("embedding") && !p.contains("CartesianProduct"),
      read + "\n" + p.take(1500))
  }

  test("x_lsh_pairs: candidate generation is an equi join on (band,bucket)") {
    val p = plan("x_lsh_pairs")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Join") || p.contains("join"))
  }

  test("x_mm_phash_dup: MIH candidates come from an equi join, never a product") {
    val p = plan("x_mm_phash_dup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Join") || p.contains("join"))
  }

  test("a15_latest_per_key: one shuffle for the window, no global sort") {
    val p = plan("a15_latest_per_key")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("p3_time_window: scalar max is broadcast, not shuffled into the scan") {
    val p = plan("p3_time_window")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("x_sample_stratified / x_split_assign: map-side filter shapes, no joins") {
    // The keep/split decision is a scalar expression: nothing may shuffle or
    // join before the audit agg — the 100 TB sample is one pass over the scan.
    for (name <- Seq("x_sample_stratified", "x_split_assign")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name: ${p.take(1500)}")
      // exactly the agg's exchange — no extra repartition/sort network round
      val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
      assert(exchanges <= 2, s"$name has $exchanges exchanges:\n${p.take(2000)}")
    }
  }

  test("x_pack_sequences: single shard-key shuffle feeds the window") {
    val p = plan("x_pack_sequences")
    assert(p.contains("Window"), p.take(1500))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"))
    // window partitions by shard: its sort is [shard, doc_id], never a global
    // order-by over the corpus
    val sortLines = p.linesIterator.filter(_.contains("Sort ")).mkString("\n")
    assert(sortLines.contains("shard"), sortLines)
  }

  test("x_token_quantiles: histogram shrink happens before the window") {
    val p = plan("x_token_quantiles")
    // partial+final HashAggregate pair on the value — the corpus-sized input
    // is reduced before the (single-partition) cumulative window runs
    assert(p.contains("HashAggregate"), p.take(1500))
    val windowIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(windowIdx >= 0, p.take(1500))
    assert(aggIdx > windowIdx, "histogram agg must sit BELOW the window in the plan")
  }

  test("x_asof_join: single-shuffle union+window — no join operator, no fan-out") {
    // The as-of trick's whole point: the only exchange is the hash partition
    // on the key that ANY join on it would pay, and no row ever multiplies
    // through a range-join blow-up.
    val p = plan("x_asof_join")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Window"), p.take(1500))
    assert(p.contains("Union"), p.take(1500))
  }

  test("x_sessions: both windows + the rollup share one key partitioning") {
    val p = plan("x_sessions")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Window"), p.take(1500))
    // lag-flag window and running-sum window share (user_id; ts, event_id):
    // Catalyst plans them into window evaluation over ONE hash exchange, and
    // the (user_id, session_id) agg rides the same partitioning — the output
    // sort's range exchange is the only other network round.
    val hashExchanges = p.linesIterator
      .count(l => l.trim.startsWith("Exchange hashpartitioning"))
    assert(hashExchanges <= 1, s"$hashExchanges hash exchanges:\n${p.take(2500)}")
  }

  test("prefix/containment joins: dictionary-encoded — no rank window, no cartesian") {
    // the round-8 rewrite replaced the per-doc row_number window with
    // dense-id array positions; a Window node reappearing means the
    // token-stream shuffle came back
    for (q <- Seq("x_prefix_pairs", "x_containment_pairs")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q grew a window:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct"), q)
      // round-9 count-filter form: the per-pair overlap comes from the
      // broadcast-index probe (MapPartitions over the encoded sets — the
      // path chosen at fixture scale) or from a count aggregate over the
      // token join (the at-scale shuffle path) — never a distinct + full-
      // array verify
      assert(p.contains("MapPartitions") || p.contains("count(1)"),
        s"$q lost the pair-count stage:\n${p.take(1500)}")
      // round-9: served from the persisted shingle store — every file scan
      // reads the artifact, never the raw documents (the shingle/frequency/
      // dictionary build must not reappear in the per-query plan)
      assert(p.contains("shingle_store"), s"$q not reading the shingle store")
      assert(!p.contains("documents.parquet"),
        s"$q re-reads raw documents:\n${p.take(1500)}")
    }
    // prefix join completes the intersection from the uncapped suffixes via
    // the native long-merge kernel; containment is exact by count alone
    assert(plan("x_prefix_pairs").contains("sortedIntersectCountLong"),
      "x_prefix_pairs suffix completion not native")
    assert(!plan("x_containment_pairs").contains("sortedIntersectCountLong"),
      "x_containment_pairs should need no array verify (count is exact)")
  }

  test("x_bloom_new_docs: bloom probe evaluated in the scan filter, no shuffle before it") {
    val p = plan("x_bloom_new_docs")
    assert(p.contains("mightContain"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("x_url_canon: pure expression pipeline — zero exchanges, codegen'd") {
    // the URL canonicalization family is all lower/regexp column work; a
    // shuffle or a codegen fallback here would mean the regex chain
    // regressed into something janino can't compile (the split/element_at
    // form it replaced did exactly that — 64KB method blowup)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("x_url_canon")
      // orderBy("doc_id") in the gate adds the final sort's exchange; the
      // canonicalization itself must add none beyond it
      assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
      assert(p.contains("*("), "canonicalization fell out of codegen: " + p.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("x_url_domain_psl: InSet probes, zero extra exchanges, codegen'd") {
    // the PSL resolution must stay a pure expression pipeline: membership
    // probes as InSet (the optimizer's hash-set form of the >10-entry In),
    // no join/shuffle introduced by the rule lookup, and the whole chain
    // inside whole-stage codegen — a regression to per-entry Or chains or
    // an exchange would break the zero-shuffle contract at 100 TB
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("x_url_domain_psl")
      assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500)) // gate's sort only
      assert(!p.contains("Join"), "PSL lookup regressed into a join: " + p.take(1500))
      assert(p.contains("*("), "PSL chain fell out of codegen: " + p.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("x_html_links: extract+resolve+dedup inside the row — zero extra exchanges") {
    // the outlink edge list must stay a per-row map (the whole point of
    // doing transform/filter/array_distinct INSIDE the array before the
    // explode): a shuffle here would mean per-doc dedup regressed into a
    // distinct(), which at 100 TB exchanges the full edge list
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("x_html_links")
      // the gate's own orderBy adds the final sort exchange, and the r15
      // Par.ensure route adds ONE small-input round-robin repartition (a
      // stats-based no-op at scale) below the heavy per-row map — so allow
      // two Exchanges total, but the regression this test exists to catch
      // (per-doc dedup falling out of the array into a distinct()) would
      // show up as a hashpartitioning exchange, which stays forbidden
      assert("Exchange".r.findAllIn(p).size <= 2, p.take(1500))
      assert(!p.contains("Exchange hashpartitioning"),
        "per-doc dedup regressed into a distinct(): " + p.take(1500))
      assert(!p.contains("Join"), "outlinks grew a join: " + p.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("x_anchor_text: struct-materialized extract — zero extra exchanges, no filter re-run") {
    // the anchor table must stay a per-row map like outlinks, AND the
    // null-drop must stay inside the array: a Filter node here would mean
    // the isNotNull was pushed through the resolving Project by alias
    // substitution and re-runs the whole chain (the r12 blocklist lesson)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("x_anchor_text")
      // gate's sort + the r15 Par.ensure round-robin (no-op at scale); a
      // hashpartitioning exchange would mean the per-row map regressed
      assert("Exchange".r.findAllIn(p).size <= 2, p.take(1500))
      assert(!p.contains("Exchange hashpartitioning"),
        "anchor extract regressed into a keyed shuffle: " + p.take(1500))
      assert(!p.contains("Join"), "outAnchors grew a join: " + p.take(1500))
      assert(!p.contains("Filter ("), "null-drop left the array: " + p.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("whole-stage codegen active in flagship plan") {
    // AQE wraps the plan pre-execution; disable it for this one inspection so
    // the WholeStageCodegen spans are visible in the physical plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("a7_mv2_daily_tx_stats")
      // codegen stages print as `*(N) Operator` in SparkPlan.toString
      assert(p.contains("*(") && p.contains("BroadcastHashJoin"), p.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
