package graft.ladders

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Probe, Scratch}
import graft.ext.{Dedup, Sampling, TextFns}

/** Scale ladder for the LLM-pipeline operator stack: synthesize an
  * N-document corpus (100–1000× the shipped fixtures) and time the headline
  * dedup/text operators on it (`graft.Probe scale [nDocs=50000]`).
  *
  * Why it exists: the 100 TB design claims (LSH candidates are Σ bucket²
  * not n², cluster cost scales with the pair graph, sampling/packing are
  * one-pass) should be MEASURED, not argued. This is the local stand-in for
  * a cluster soak test; PLANS.md records the resulting scaling table.
  *
  * Corpus synthesis: each of the sf base docs is copied `N/|base|` times.
  * Copy 0 keeps the original text (preserving the base corpus's own
  * near-dup structure); copies >= 1 re-order words by md5(word ⊕ base ⊕
  * copy) — a PER-DOCUMENT key, so reordered copies share no shingle runs
  * with anything (a common sort key would manufacture cross-doc runs out
  * of overlapping vocabulary and melt LSH into a dense pair clique — the
  * first version of this probe did exactly that). Word multisets survive,
  * so token statistics stay realistic.
  *
  * Each op records `<op>_sec` and `<op>_rows`; every op runs on every rung.
  */
object Scale {
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Probe.Fields = {
    val n = args.headOption.map(_.toInt).getOrElse(50000)
    val r = new Probe.Receipt
    def op(name: String)(body: => Long): Unit = r.add(s"${name}_rows", r.timed(name)(body))

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("base_id"), col("text"), col("lang"))
    val nBase = base.count()
    val copies = math.max(1L, n / nBase)

    val dir = Scratch.dir("graft_scale_docs")
    val synth = base
      .join(spark.range(copies).toDF("k")) // cross: |base| × copies
      .select(
        (col("base_id") * copies + col("k")).as("doc_id"),
        expr("CASE WHEN k = 0 THEN text ELSE concat_ws(' ', transform(" +
          "array_sort(transform(split(text, ' '), " +
          "w -> struct(md5(concat(w, CAST(k AS STRING), '|', " +
          "CAST(base_id AS STRING))) AS h, w AS w))), " +
          "s -> s.w)) END").as("text"),
        col("lang"))
      .repartition(spark.sparkContext.defaultParallelism)
    synth.write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val nDocs = docs.count()
    r.add("n_docs", nDocs)
    r.add("copies", copies)

    op("exact_dedup") { Dedup.exactDedup(docs, "text", "doc_id").count() }
    op("minhash_sig") { Dedup.minhashSig(docs, "text", "doc_id").count() }

    // Stage-level diagnostics: candidate volume is THE LSH health metric
    // (Σ min(bucket, cap)²); a candidate blow-up shows here before the
    // verify pays it. The first 50 k run of this probe measured 83M
    // candidates (4068 true pairs) from boilerplate-shingle buckets of 11 k
    // docs — that finding produced Dedup.DefaultMaxBucket.
    op("lsh_candidates") {
      val sig = Dedup.minhashSig(docs, "text", "doc_id")
      Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id"), "doc_id").count()
    }

    // Bucket-size health: the largest bucket and how many band rows the
    // degenerate-bucket cap excludes (0 on healthy corpora).
    val (maxBucket, dropped) = r.timed("max_bucket") {
      val sizes = Dedup.lshBands(Dedup.minhashSig(docs, "text", "doc_id"), "doc_id")
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      val s = sizes.agg(max("n").as("max_bucket"),
        sum(when(col("n") > Dedup.DefaultMaxBucket, col("n")).otherwise(0L)).as("dropped"))
        .collect()(0)
      (s.getLong(0), s.getLong(1))
    }
    r.add("max_bucket", maxBucket)
    r.add("band_rows_dropped", dropped)

    op("near_dup_pairs") {
      Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.2)
        .select("a_id", "b_id").count()
    }

    // ---- segment dedup: does the frequent set stay broadcast-sized? ----
    // The op's 100 TB viability rests on |frequent| (segments in > maxDocs
    // distinct docs — the boilerplate) growing with the BOILERPLATE, not the
    // corpus: reordered copies contribute no repeated segments, duplicated
    // docs repeat existing ones. Record its cardinality next to the
    // end-to-end time and dropped-occurrence volume.
    op("segment_frequent") {
      Dedup.frequentSegments(
        Dedup.segmentsOf(docs, "doc_id", "text", 4), maxDocs = 1).count()
    }
    op("segment_dedup_dropped") {
      Dedup.segmentDedup(docs, "doc_id", "text")
        .agg(sum("n_dropped")).collect()(0).getLong(0)
    }

    // ---- containment join: does the asymmetric index stay bounded? ----
    // The contained side prefixes to its rarest grams, but the container
    // side indexes EVERY capped gram — candidate volume is Σ over prefix
    // tokens of df(token), bounded by the frequency cap. Measured so the
    // asymmetry's real cost (vs the symmetric prefix join) is on record.
    op("containment_pairs") {
      Dedup.containmentPairs(docs, "text", "doc_id", threshold = 0.5).count()
    }

    capRecall(docs, r)

    // The lossless marginal-threshold path: prefix-filter set-similarity
    // join at the same J >= 0.2. Contrast rows: capped LSH keeps ~21 % of
    // true pairs here (cap_recall_permille); the prefix join is lossless
    // modulo its OWN cap — shingles whose global frequency exceeds
    // DefaultMaxBucket leave candidate generation, and on this dense
    // synthetic corpus that bites (reported, not hidden: pairs found vs the
    // kept+lost estimate above tells the recall story).
    op("prefix_join_pairs") {
      Dedup.prefixJoinPairs(docs, "text", "doc_id", threshold = 0.2).count()
    }

    // ---- winnowing: prints are scan-bound (zero shuffles); the pair join
    // cost tracks Σ df(print)² over the ≤ maxToken print index, at ~2/(w+1)
    // the density of the full gram index — measured here so the top-2 bench
    // entries (x_winnow_fp / x_winnow_pairs) have ladder numbers, not just
    // sf0.1 points.
    op("winnow_prints") {
      graft.ext.Par.ensure(docs.select("doc_id", "text"))
        .select(col("doc_id"), split(col("text"), " ").as("__ws"))
        .select(explode(TextFns.winnowedPrints(col("__ws"), 3, 4)).as("p"))
        .count()
    }
    op("winnow_pairs") { Dedup.winnowPairs(docs, "text", "doc_id").count() }

    // ---- duplicate spans: the window-frequency agg shuffles ~one row per
    // corpus TOKEN (the heaviest per-token shuffle in the stack) — measured
    // so its growth constant is on record next to the segment/winnow rows.
    op("span_dup_windows") {
      Dedup.duplicateSpanStats(docs, "doc_id", "text")
        .agg(sum("n_dup_windows")).collect()(0).getLong(0)
    }

    // ---- bulk BPE: one scan, zero shuffles; cost ∝ corpus chars ----
    op("bpe_tokens") {
      graft.ext.Bpe.tokenizeBulkNative(docs, "doc_id", "text",
          graft.ext.Bpe.DemoMerges)
        .agg(sum(size(col("tokens")))).collect()(0).getLong(0)
    }

    val (labels, rounds) = r.timed("pairs_plus_clusters") {
      // pairs materialized first so this times the cluster rounds, not a
      // recompute of the LSH pipeline
      val pairs = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.2)
        .select("a_id", "b_id").localCheckpoint()
      val (labels, rounds) = Dedup.dedupClustersWithRounds(pairs)
      (labels.count(), rounds)
    }
    r.add("pairs_plus_clusters_rows", labels)
    r.add("cluster_rounds", rounds)

    // The production refresh path: half the corpus is the "existing"
    // side, persisted once as the partitioned band store (the ingest-time
    // artifact); the other half probes it as the refresh batch. Store
    // build and probe are timed separately — the build amortizes across
    // refreshes.
    val half = nDocs / 2
    val storeDir = Scratch.dir("graft_scale_store")
    op("band_store_build") {
      Dedup.writeBands(
        Dedup.lshBands(
          Dedup.minhashSig(docs.filter(col("doc_id") < half), "text", "doc_id"),
          "doc_id"),
        storeDir)
      half
    }
    op("incr_probe") {
      Dedup.incrementalNearDupsFromBands(
        docs.filter(col("doc_id") >= half),
        spark.read.parquet(storeDir),
        docs.filter(col("doc_id") < half),
        "text", "doc_id", threshold = 0.2).count()
    }
    // Bloom-accelerated incremental EXACT dedup on the same refresh split:
    // filter build (treeAggregate over the corpus half) timed apart from
    // the probe, mirroring the band store's build/probe split.
    op("bloom_new_docs") {
      Dedup.bloomNewDocs(
        docs.filter(col("doc_id") >= half),
        docs.filter(col("doc_id") < half),
        "text", "doc_id", fpp = 0.01, expectedItems = half).count()
    }

    op("token_topk") {
      graft.ext.Par.ensure(docs.select("text"))
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20).count()
    }

    op("curation_funnel") {
      val staged = graft.ext.Par.ensure(docs.select("doc_id", "text", "lang"))
        .withColumn("__ws", split(col("text"), " "))
        .withColumn("fp", TextFns.shingleFingerprint(col("__ws")))
        .withColumn("q",
          round(TextFns.qualityScoreOfWords(col("text"), col("__ws")), 6) >= 0.5)
        .withColumn("smp", Sampling.hashPct(col("doc_id")) < 60)
      staged.agg(
        count(lit(1)).as("n_total"),
        countDistinct(when(col("q") && col("smp"), col("fp"))).as("n_unique"))
        .collect()(0).getLong(0)
    }

    r.fields
  }

  /** Cap recall: what does DefaultMaxBucket actually cost, per J?
    *
    * True near-dup pairs lost to the cap are pairs that (a) co-bucket ONLY
    * in over-cap buckets (an anti-join vs the capped candidate set credits
    * pairs still reachable via a healthy band), (b) survive the lossless
    * size-ratio prefilter, and (c) verify at J >= 0.2. The dropped pair set
    * is quadratic in degenerate-bucket size, so the sample rate is fixed UP
    * FRONT from the cheap Σ sz·(sz−1)/2 bound over over-cap buckets, and the
    * deterministic md5(a|b) predicate is pushed BELOW the distinct (pair
    * membership is a pure pair function, so it commutes) — the full dropped
    * set is never materialized. Losses are reported per J bin against the
    * kept pairs' bins: banded LSH at (b=4, r=2) has its S-curve midpoint at
    * t* = (1/b)^(1/r) ≈ 0.5, so the bins show whether the cap costs recall
    * in the J range where the banding itself promises any. Lost pairs with
    * identical text are counted separately: exact dedup catches those
    * regardless of LSH, so they are not really lost. */
  private def capRecall(docs: DataFrame, r: Probe.Receipt): Unit = {
    val CapThreshold = 0.2
    val SampleCap = 2000000L
    def jBin(j: Column): Column =
      when(j >= 0.7, "j70plus").when(j >= 0.5, "j50_70")
        .when(j >= 0.35, "j35_50").otherwise("j20_35")
    // xxhash64, not md5: the sample predicate runs on every enumerated pair
    // slot of the over-cap join (billions at 200 k docs) and is probe-
    // internal — deterministic is all it needs to be
    val pairKey = (a: Column, b: Column) => pmod(xxhash64(a, b), lit(1000L))
    val (overBound, permille, lostHist) = r.timed("cap_recall") {
      val sig = Dedup.minhashSig(docs, "text", "doc_id", withSetSize = true)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
      val sized = Dedup.lshBands(sig, "doc_id", carry = Seq("__nset"))
        .withColumn("__bsz", count(lit(1)).over(w))
        .localCheckpoint()
      val overBound = sized.filter(col("__bsz") > Dedup.DefaultMaxBucket)
        .select("band", "bucket", "__bsz").distinct()
        .agg(coalesce(sum(col("__bsz") * (col("__bsz") - 1) / 2), lit(0L))
          .cast("long"))
        .collect()(0).getLong(0)
      val permille =
        if (overBound <= SampleCap) 1000L
        else math.max(1L, SampleCap * 1000L / overBound)
      def pairsOf(bandRows: DataFrame, samplePermille: Long): DataFrame = {
        def side(tag: String) = bandRows.select(
          col("doc_id").as(s"${tag}_id"), col("__nset").as(s"__n$tag"),
          col("band"), col("bucket")).hint("shuffle_hash")
        val joined = side("a").join(side("b"), Seq("band", "bucket"))
          .filter(col("a_id") < col("b_id"))
          .filter(least(col("__na"), col("__nb")).cast("double") >=
            lit(CapThreshold) * greatest(col("__na"), col("__nb")))
        val sampled = if (samplePermille >= 1000L) joined
          else joined.filter(pairKey(col("a_id"), col("b_id")) < lit(samplePermille))
        sampled.select("a_id", "b_id").distinct()
      }
      val kept = pairsOf(sized.filter(col("__bsz") <= Dedup.DefaultMaxBucket), 1000L)
      val lostSampled = pairsOf(sized.filter(col("__bsz") > Dedup.DefaultMaxBucket), permille)
        .join(kept, Seq("a_id", "b_id"), "left_anti")
      val sets = graft.ext.Par.ensure(docs.select("doc_id", "text"))
        .select(col("doc_id"), split(col("text"), " ").as("__ws"), md5(col("text")).as("__th"))
        .select(col("doc_id"),
          array_distinct(Dedup.shinglesOfWords(col("__ws"), 3)).as("sset"), col("__th"))
      val lostHist = lostSampled
        .join(sets.select(col("doc_id").as("a_id"), col("sset").as("sa"),
          col("__th").as("ha")), Seq("a_id"))
        .join(sets.select(col("doc_id").as("b_id"), col("sset").as("sb"),
          col("__th").as("hb")), Seq("b_id"))
        .withColumn("__j", Dedup.jaccard(col("sa"), col("sb")))
        .filter(col("__j") >= CapThreshold)
        .groupBy(jBin(col("__j")).as("bin"))
        .agg(count(lit(1)).as("n"), sum((col("ha") === col("hb")).cast("long")).as("ex"))
        .collect().map(row => row.getString(0) -> ((row.getLong(1), row.getLong(2)))).toMap
      (overBound, permille, lostHist)
    }
    // kept verified pairs per J bin (one more nearDupPairs run, with J kept)
    val keptHist = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = CapThreshold)
      .groupBy(jBin(col("jaccard")).as("bin")).agg(count(lit(1)).as("n"))
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    r.add("cap_overcap_pair_bound", overBound)
    r.add("cap_sample_permille", permille)
    val bins = Seq("j20_35", "j35_50", "j50_70", "j70plus")
    // scaled estimates; exact-text losses (always J=1 -> j70plus) excluded
    // from the lost side of every recall, since exactDedup catches them
    val exactReachable = lostHist.values.map(_._2).sum * 1000L / permille
    val lostEst = bins.map { b =>
      val raw = lostHist.get(b).map(_._1).getOrElse(0L) -
        (if (b == "j70plus") lostHist.get(b).map(_._2).getOrElse(0L) else 0L)
      b -> raw * 1000L / permille
    }.toMap
    bins.foreach { b =>
      r.add(s"cap_lost_$b", lostEst(b))
      r.add(s"cap_kept_$b", keptHist.getOrElse(b, 0L))
    }
    r.add("cap_lost_exact_reachable", exactReachable)
    def recallPermille(fromBin: Int): Long = {
      val k = bins.drop(fromBin).map(b => keptHist.getOrElse(b, 0L)).sum
      val l = bins.drop(fromBin).map(lostEst).sum
      if (k + l <= 0L) 1000L else math.round(k * 1000.0 / (k + l))
    }
    r.add("cap_recall_permille", recallPermille(0))
    r.add("cap_recall_j50plus_permille", recallPermille(2))
    r.add("cap_recall_j70plus_permille", recallPermille(3))
  }
}
