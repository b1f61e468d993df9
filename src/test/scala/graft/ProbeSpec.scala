package graft

/** Smoke test of every graft.Probe ladder at its smallest rung on sf0.001,
  * in the shared session: each returns its full receipt and leaves the
  * session running. Nothing else runs the ladders. */
class ProbeSpec extends SparkTestBase {

  private def secs(names: String*) = names.map(_ + "_sec")
  private def ops(names: String*) = names.flatMap(n => Seq(s"${n}_sec", s"${n}_rows"))
  private val bins = Seq("j20_35", "j35_50", "j50_70", "j70plus")

  private val rungs: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("scale", Seq("500"),
      Seq("n_docs", "copies") ++ ops("exact_dedup", "minhash_sig", "lsh_candidates") ++
        Seq("max_bucket_sec", "max_bucket", "band_rows_dropped") ++
        ops("near_dup_pairs", "segment_frequent", "segment_dedup_dropped",
          "containment_pairs") ++
        Seq("cap_recall_sec", "cap_overcap_pair_bound", "cap_sample_permille") ++
        bins.flatMap(b => Seq(s"cap_lost_$b", s"cap_kept_$b")) ++
        Seq("cap_lost_exact_reachable", "cap_recall_permille",
          "cap_recall_j50plus_permille", "cap_recall_j70plus_permille") ++
        ops("prefix_join_pairs", "winnow_prints", "winnow_pairs", "span_dup_windows",
          "bpe_tokens") ++
        Seq("pairs_plus_clusters_sec", "pairs_plus_clusters_rows", "cluster_rounds") ++
        ops("band_store_build", "incr_probe", "bloom_new_docs", "token_topk",
          "curation_funnel")),
    ("ann", Seq("500", "4"),
      Seq("n_vecs", "n_lists", "k") ++ secs("brute", "train", "build", "probe") ++
        Seq("recall_at_k", "probe4_sec", "recall4_at_k", "scan_fraction") ++
        secs("append_base", "append_delta", "append_probe") ++
        Seq("append_matches_full", "batch_n", "batch_rows", "batch_sec",
          "batch_per_query_sec") ++
        Seq("lsh", "lsh_h1", "lsh_h2").flatMap(n => Seq(s"${n}_sec", s"${n}_recall")) ++
        secs("pq_train", "pq_encode") ++ Seq("pq_dup_rerank") ++
        Seq("pq", "pq_dup").flatMap(n => Seq(s"${n}_query_sec", s"${n}_recall")) ++
        secs("ivfpq_train", "ivfpq_build") ++
        Seq("ivfpq", "ivfpq_dup").flatMap(n => Seq(s"${n}_query_sec", s"${n}_recall")) ++
        secs("sq8_build") ++
        Seq("sq8", "sq8_dup").flatMap(n => Seq(s"${n}_query_sec", s"${n}_recall"))),
    ("link", Seq("1000", "2"),
      Seq("n_rows", "outlinks_sec", "n_edges", "approx_link_keys", "frontier_sec",
        "n_new", "pagerank_iters", "pagerank_sec", "n_nodes", "max_rank_fp")),
    // below ~12k rows the synthetic words are too short for the quality
    // gate, which then keeps nothing and leaves the caps stage idle
    ("funnel", Seq("12000"),
      Seq("n_rows") ++ secs("html_extract", "url_dedup", "exact", "paragraph_dedup",
        "near_dup", "quality", "caps") ++
        Seq("url", "exact", "near", "quality", "caps")
          .flatMap(s => Seq(s"n_after_$s", s"${s}_kept_frac")) ++
        Seq("end_to_end_kept_frac")),
    ("crawl", Seq("1000", "20"),
      Seq("n_rows", "cap", "outlinks_sec", "n_edges", "frontier_sec", "n_frontier",
        "frontier_frac_of_edges", "robots_sec", "n_allowed", "allowed_frac",
        "rank_sec", "n_domains", "order_sec", "n_queue", "queue_frac_of_allowed")),
    ("loop", Seq("0", "2"),
      Seq("preloaded_blocks", "items") ++ secs("preload", "setup") ++
        secs("item_first", "item_p50", "item_max", "verify_p50") ++
        Seq("n_done", "state_files")))

  test("Probe.ladders is exactly the recorded ladders") {
    assert(Probe.ladders.keySet === rungs.map(_._1).toSet)
  }

  for ((name, args, expected) <- rungs)
  test(s"Probe $name: smallest rung returns every receipt field") {
    val fields = Probe.ladders(name)(spark, sf0001, args)
    val keys = fields.map(_._1)
    assert(keys.distinct.size === keys.size, s"duplicate fields: $keys")
    assert(keys.toSet === expected.toSet,
      s"missing ${expected.diff(keys)}, unexpected ${keys.diff(expected)}")
    fields.foreach {
      case (k, d: Double) => assert(!d.isNaN && !d.isInfinite && d >= 0.0, s"$k = $d")
      case (k, l: Long) => assert(l >= 0L, s"$k = $l")
      case (k, i: Int) => assert(i >= 0, s"$k = $i")
      case (k, v) => assert(v != null, k)
    }
    val empty = fields.collect { case (k, v: Long) if k.startsWith("n_") && v == 0L => k }
    assert(empty.isEmpty, s"stages left without rows: $empty")
    assert(!spark.sparkContext.isStopped)
    assert(Probe.json(fields).startsWith("{\"" + keys.head + "\":"))
  }
}
