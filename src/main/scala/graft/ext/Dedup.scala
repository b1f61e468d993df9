package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

object Par {
  /** Heavy per-row compute (md5 fan-out, shingling) must not run on the
    * scan's partitioning: a small parquet file is a single task no matter
    * how many cores exist. Round-robin up to the session's parallelism when
    * the input is small; a no-op on big inputs at cluster scale.
    *
    * The small-input test reads the OPTIMIZED LOGICAL plan's size estimate —
    * no physical planning, no RDD DAG, no file-split computation (the
    * previous `df.rdd.getNumPartitions` paid all three per call, measurable
    * when composed per-query). An input below target × maxPartitionBytes
    * cannot scan into `target` partitions, so it round-robins; anything
    * bigger keeps its scan partitioning. */
  def ensure(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    plan match {
      // already round-robined to >= target (e.g. ensure composed twice):
      // a second shuffle would be pure waste
      case r: Repartition if r.shuffle && r.numPartitions >= target => df
      case r: RepartitionByExpression if r.optNumPartitions.exists(_ >= target) => df
      case _ =>
        val estBytes = plan.stats.sizeInBytes
        val small =
          if (estBytes == BigInt(spark.sessionState.conf.defaultSizeInBytes))
            // unknown stats (LogicalRDD from createDataFrame / checkpoint):
            // the conservative default would read as "big" and silently skip
            // the repartition exactly where few-partition heavy compute is
            // the hazard — pay the one-off physical partition check instead
            df.rdd.getNumPartitions < target
          else
            estBytes < BigInt(spark.sessionState.conf.filesMaxPartitionBytes) * target
        if (small) df.repartition(target) else df
    }
  }
}

/** Large-scale training-data deduplication operators (SURVEY §7 north-star).
  *
  * Scale stance (the 100 TB design point):
  *  - exact dedup is a hash-groupBy (one shuffle on the content hash), never
  *    an all-pairs comparison;
  *  - near-dup is MinHash + banded LSH: candidate pairs come from an EQUI-join
  *    on (band, bucket) — shuffle-partitionable, no quadratic blow-up; the
  *    expensive verify (true Jaccard) runs only on candidates.
  *
  * Hashes that CROSS the engine boundary (output columns, verify sets) are
  * md5-based so results are portable and independently checkable (the DuckDB
  * oracle reproduces them bit-for-bit). Purely internal shuffle keys whose
  * value never escapes the plan (span-window dup keys, unitDedup group keys)
  * may use the cheaper xxhash64 — see each site's collision note.
  */
object Dedup {

  /** k-word shingles from a PRE-MATERIALIZED words column (a bound attribute,
    * not an inline `split(...)`). Passing an unmaterialized expression here
    * re-evaluates it once per shingle position inside the lambda — O(n²)
    * regex splits per row, measured 100× slower at sf0.1. */
  def shinglesOfWords(ws: Column, k: Int): Column =
    when(size(ws) >= k,
      transform(sequence(lit(0), size(ws) - k),
        i => concat_ws(" ", slice(ws, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", ws)))

  /** Exact dedup: group by content hash, keep the smallest id.
    * One shuffle on the 128-bit hash; streams at any scale. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))

  /** Winnowing-print candidate pairs: docs sharing ≥ `minShared` winnowed
    * fingerprints ([[TextFns.winnowedPrints]]). The winnowed set samples
    * ~2/(w+1) of grams yet guarantees a hit for any shared run of w+k−1
    * words — so this equi-join probes a fingerprint index that is ~3×
    * sparser than the full gram index at the same run-detection guarantee
    * (the MOSS trade). Same bounded-cost knob as the other joins: prints
    * whose global frequency exceeds `maxToken` are excluded from evidence
    * (boilerplate runs), mirrored in the oracle. */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
                  shingleK: Int = 3, window: Int = 4, minShared: Int = 2,
                  maxToken: Int = AutoMaxToken): DataFrame = {
    val big = sizeRatioPrefilterWorthIt(df)
    // derived print-frequency cap (see maxTokenFor); a count-star on the
    // doc source — parquet answers it from footer metadata
    val cap = resolveMaxToken(maxToken, df.count())
    // the print stream stays LAZY: the route decision below needs only the
    // print-frequency stats, and those live in the vocabulary-sized freq
    // table — so the checkpoint goes on FREQ (tiny: distinct prints ×
    // 16 B), not on the corpus-sized exploded print stream. Materializing
    // freq costs the one winnowing pass the cap filter needs anyway; the
    // query pass then re-derives prints lazily, where the shuffle route's
    // a/b sides share the work via AQE stage reuse and the probe route
    // checkpoints the capped token stream itself (docsP). Checkpointing pr
    // unconditionally — the round-9 shape — paid a corpus-print
    // materialization even when the shuffle route never re-read it
    // (measured +1.1 s at sf0.1 over the routing design's documented cost).
    lazy val scratch = graft.Scratch.dir("graft-winnow")
    val pr = Par.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol),
        explode(TextFns.winnowedPrints(col("__ws"), shingleK, window)).as("p"))
    // vocabulary-sized is CORPUS-scale for web text (r14 verdict): the
    // print-frequency table takes the size-routed materializer — parquet
    // past the big threshold, in-memory checkpoint at gate scale
    val freq = matRoute(pr.groupBy("p").agg(count(lit(1)).as("__f")),
      big, scratch, "freq")
    // route on MEASURED candidate volume, not corpus size: the probe's
    // fixed overhead (dictionary distinct+zipWithIndex, checkpoint, index
    // build) only pays off when the token join would enumerate far more
    // candidate pairs than it has postings — Σf² vs Σf over the capped
    // prints, one tiny aggregation on the vocabulary-sized freq table
    // (measured: ratio 7 at sf0.1 where the shuffle join wins, 2 622 at
    // sf1 where the probe halves the query)
    val capped = freq.filter(col("__f") <= cap)
    val st = capped.agg(
      coalesce(sum(col("__f")), lit(0L)),
      coalesce(sum(col("__f") * col("__f")), lit(0L))).first()
    val postings = st.getLong(0)
    val gainRatio = sys.props.get("graft.test.probeGainRatio")
      .map(_.toLong).getOrElse(64L)
    val probeWorthIt = postings <= probeIndexMaxPostings &&
      st.getLong(1) > postings * gainRatio
    // print-frequency table ∝ distinct prints: broadcast only when the
    // corpus is provably small, shuffle-join otherwise (same policy as
    // prefixJoinPairs); the a/b sides share the pr shuffle via ReuseExchange
    val freqSide = if (big) freq else broadcast(freq)
    // checkpointed only on the PROBE route (dict + encode + postings probe
    // re-read it); the shuffle route's a/b sides share one exchange via
    // ReuseExchange, where an eager checkpoint is pure overhead
    def tokRaw = pr.join(freqSide, Seq("p")).filter(col("__f") <= cap)
    // prints are per-doc DISTINCT (winnowedPrints array_distincts), so the
    // shared-print count is a plain set-intersection count — the same
    // broadcast-index probe as the prefix family applies when the capped
    // print postings fit the budget. Dense print ids come straight from
    // the CHECKPOINTED freq table: its capped rows ARE the distinct prints
    // (any dense numbering works — the probe only counts), so the r9 form's
    // throwaway distinct+zipWithIndex over the token stream — and the tok
    // checkpoint that fed it — are both gone: the probe route runs ONE pass
    // from pr (the dict join implies the cap filter) into the per-doc
    // arrays, checkpointed because the probe scans them three times (the
    // usePairProbe postings agg, the CSR build's toLocalIterator, the final
    // mapPartitions probe). PLANS.md r12 stage receipts: dict over tok 1.15 s
    // + tok checkpoint 0.96 s -> dict over capped ~0.2 s, one token pass.
    def docsP = {
      val spark = df.sparkSession
      val dict = {
        val rdd = capped.select(col("p")).rdd.zipWithIndex
          .map { case (r, i) => org.apache.spark.sql.Row(r.getLong(0), i) }
        spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("p",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("__tid",
            org.apache.spark.sql.types.LongType, nullable = false))))
      }
      pr.join(if (big) dict else broadcast(dict), Seq("p"))
        .groupBy(col(idCol))
        .agg(collect_list(col("__tid")).as("__ct"))
        .select(col(idCol), size(col("__ct")).as("__n"), col("__ct"),
          expr("CAST(array() AS ARRAY<BIGINT>)").as("__ut"))
        // in-memory checkpoint is SAFE here regardless of corpus size: this
        // route only fires when the capped postings fit the probe budget
        // (<= ProbeIndexMaxPostings entries), so the arrays are bounded
        .localCheckpoint()
    }
    val probeOk =
      df.schema(idCol).dataType == org.apache.spark.sql.types.LongType &&
        probeWorthIt
    lazy val docsPv = docsP
    if (probeOk && usePairProbe(docsPv, idCol))
      probeCountedPairs(docsPv, idCol, threshold = 0.0, containment = true,
        minCount = minShared)
        .select(col("a_id"), col("b_id"), col("__c").as("n_shared"))
    else {
      val a = tokRaw.select(col("p"), col(idCol).as("a_id")).hint("shuffle_hash")
      val b = tokRaw.select(col("p"), col(idCol).as("b_id")).hint("shuffle_hash")
      a.join(b, Seq("p"))
        .filter(col("a_id") < col("b_id"))
        // candidate-sized group population — same under-partitioning hazard
        // as the other pair-count aggregations (see pairAggPartitions)
        .repartition(pairAggPartitions(df.sparkSession),
          col("a_id"), col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .select("a_id", "b_id", "n_shared")
    }
  }

  /** NEAR-dup flavor of the overlap matrix: aggregate an (a_id, b_id) pair
    * set (e.g. [[prefixJoinPairs]] — lossless at its threshold — or
    * [[nearDupPairs]]) per unordered source pair. Two id→source lookup
    * joins (the projection is corpus-sized at scale, so no broadcast hint —
    * AQE broadcasts it when it actually fits) + one tiny agg on top of
    * whatever the pair join cost; `least/greatest` normalization keeps the
    * matrix upper-triangular. */
  def sourceOverlapFromPairs(pairs: DataFrame, docs: DataFrame,
                             idCol: String, sourceCol: String): DataFrame = {
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("a_id"), col(sourceCol).as("__sa")),
        Seq("a_id"))
      .join(src.select(col(idCol).as("b_id"), col(sourceCol).as("__sb")),
        Seq("b_id"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .select("source_a", "source_b", "n_pairs")
  }

  /** Cross-document SEGMENT dedup (CCNet/Gopher-style boilerplate removal):
    * split each doc into consecutive k-word segments, find the segments that
    * occur in more than `maxDocs` distinct documents, and rebuild each doc
    * from its surviving segments in original order. Output per doc:
    * (doc_id, n_segments, n_dropped, cleaned).
    *
    * Scale shape: ONE shuffle total — the global segment-frequency agg over
    * the exploded segments. The frequent set is small by definition (it IS
    * the boilerplate), so it comes back to the doc side as a broadcast
    * single-row sorted array and the rebuild is a pure per-row map over each
    * doc's segment array: no second shuffle, no re-aggregation of exploded
    * rows, no join keyed on segment text. The frequency agg keys on
    * xxhash64(segment) — 8 bytes/row through the one corpus shuffle
    * regardless of k (see the inline birthday-bound note). */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 4, maxDocs: Int = 1): DataFrame =
    unitDedup(segmentsOf(docs, idCol, textCol, k), maxDocs, joiner = " ")
      .withColumnRenamed("n_units", "n_segments")

  /** Cross-document PARAGRAPH dedup — the same boilerplate-removal
    * machinery over NATURAL units (the CCNet/Dolma dedup granularity:
    * paragraphs split on a literal delimiter, trimmed, empties dropped)
    * instead of aligned k-word blocks. A paragraph carried by more than
    * `maxDocs` distinct documents (nav bars, cookie banners, footers) is
    * dropped from every document, which is rebuilt from its surviving
    * paragraphs in original order, re-joined with the same delimiter.
    * Output per doc: (doc_id, n_units, n_dropped, cleaned). Identical
    * scale shape to [[segmentDedup]]: one xxhash64-keyed frequency
    * shuffle, broadcast frequent set, per-row rebuild. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     delim: String = "\n\n", maxDocs: Int = 1): DataFrame =
    unitDedup(paragraphsOf(docs, idCol, textCol, delim), maxDocs,
      joiner = delim)

  /** Shared frequent-unit drop + in-order rebuild over a (doc_id, __segs)
    * frame — the body [[segmentDedup]] and [[paragraphDedup]] both run. */
  private def unitDedup(base: DataFrame, maxDocs: Int,
                        joiner: String): DataFrame = {
    // The ONE corpus shuffle keys on xxhash64(unit), not the unit text:
    // 8 bytes/row instead of the words (the doc comment's "if profiles
    // demand it" knob, demanded by the 500 k ladder — 141 s with ~25-byte
    // keys). The broadcast frequent set and the rebuild probes are hashes
    // too; two distinct units colliding in 64 bits would merge their
    // document counts — same negligible birthday bound as [[hashedSetOf]],
    // and the oracle stays value-equal at any gate scale.
    // Per-doc units dedupe INSIDE the array before the explode, so the
    // document count is a plain count(1) with map-side partial aggregation
    // — ONE exchange. The countDistinct form planned as the double
    // aggregation (partial distinct on (hash, doc_id), exchange, count,
    // exchange): two corpus-scale shuffles where one suffices, since a doc
    // contributes each distinct unit exactly once either way (r16). Both
    // forms diverge from text-exact counting only under a 64-bit collision
    // (the object-level birthday note; a WITHIN-doc collision counts 1 in
    // the old form and 2 here — same negligible bound), and the oracle
    // stays value-equal at every verified scale.
    val frequent = base
      .select(col("doc_id"), explode(array_distinct(col("__segs"))).as("s"))
      .groupBy(xxhash64(col("s")).as("__h"))
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .agg(sort_array(collect_list("__h")).as("__freq"))
    // membership probes use the codegen'd binary search over the sorted
    // broadcast array: the builtin array_contains is a linear scan, which at
    // sf0.1 is already 5.4k frequent × 70k probes ≈ 4e8 compares
    val in = (x: Column) =>
      graft.functions.GraftExpressions.sorted_contains_long(
        col("__freq"), xxhash64(x))
    base.crossJoin(broadcast(frequent))
      .select(col("doc_id"),
        size(col("__segs")).cast("long").as("n_units"),
        size(filter(col("__segs"), x => in(x))).cast("long").as("n_dropped"),
        array_join(filter(col("__segs"), x => !in(x)), joiner).as("cleaned"))
  }

  /** (doc_id, __segs): each doc's trimmed non-empty delimiter units, in
    * order. The delimiter is LITERAL (Pattern.quote) — a paragraph split
    * must not interpret regex metacharacters. */
  private[graft] def paragraphsOf(docs: DataFrame, idCol: String,
                                  textCol: String, delim: String): DataFrame =
    Par.ensure(docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text")))
      .select(col("doc_id"),
        // NULL text coalesces to NO units (not NULL __segs): downstream
        // size()/array_join must read (0, 0, '') for such docs — the same
        // shape the DuckDB oracle twins emit (round-12 advice)
        coalesce(
          filter(
            transform(
              split(col("__text"), java.util.regex.Pattern.quote(delim)),
              x => trim(x)),
            x => x =!= ""),
          array().cast("array<string>")).as("__segs"))

  /** (doc_id, __segs): each doc's consecutive k-word segments, in order. */
  private[graft] def segmentsOf(docs: DataFrame, idCol: String,
                                textCol: String, k: Int): DataFrame =
    Par.ensure(docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text")))
      .select(col("doc_id"), split(col("__text"), " ").as("__ws"))
      // coalesce: NULL text (NULL __ws -> NULL transform) must read as NO
      // units so n_units/cleaned come out (0, '') — oracle-twin shape
      .select(col("doc_id"), coalesce(expr(
        s"transform(sequence(0, cast(ceil(size(__ws) / ${k}.0) as int) - 1), " +
          s"i -> array_join(slice(__ws, i * $k + 1, $k), ' '))"),
        array().cast("array<string>")).as("__segs"))

  /** Segments occurring in more than maxDocs distinct documents — the
    * broadcast side of [[segmentDedup]]; exposed so the scale probe can
    * measure its cardinality (the op's 100 TB viability question). */
  private[graft] def frequentSegments(segs: DataFrame, maxDocs: Int): DataFrame =
    segs.select(col("doc_id"), explode(col("__segs")).as("s"))
      .groupBy("s").agg(countDistinct("doc_id").as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select("s")

  /** Exact-substring (span-level) dedup stats, after Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): hash every k-word SLIDING window; a window whose
    * hash occurs more than once in the corpus (across documents or within
    * one) is a duplicated span. Per doc: occurrence count plus the MERGED
    * coverage of all duplicated spans (distinct word positions under any
    * duplicated window — overlapping spans are unioned, not summed) and its
    * fraction of the doc.
    *
    * Complement of [[segmentDedup]]: segments are ALIGNED k-word blocks
    * (boilerplate keyed by document frequency); sliding windows catch ANY
    * verbatim run of ≥ k words regardless of alignment — the suffix-array
    * criterion of the paper, realized as a hash-shuffle because a
    * distributed groupBy on window hashes is the scalable equivalent of the
    * suffix array: one shuffle keyed on a fixed-width digest with map-side
    * partial counts, no global sort, no index build.
    *
    * Scale shape: exploded windows ≈ one row per corpus token; ONE corpus
    * shuffle of that stream keyed on xxhash64 (8 bytes/row, no digest+hex
    * per window; the hash never reaches an output column), then a
    * count-over-window marks duplicated occurrences in place — the window
    * stream is tokenized exactly once (the r16 opt round measured the
    * agg + join-back form planning the whole subtree twice, see
    * dupSpanOccurrences); coverage merging is a per-doc agg whose state is
    * bounded by document length. */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8): DataFrame = {
    val base = spanBase(docs, idCol, textCol)
    val occ = dupSpanOccurrences(base, k)
    val perDoc = occ.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"),
        // merged coverage: union of [p, p+k-1] per occurrence; per-doc list
        // state is bounded by the doc's own window count (docs are
        // document-sized, not corpus-sized — no unbounded agg state)
        size(array_distinct(flatten(collect_list(
          sequence(col("__p"), col("__p") + lit(k - 1))))))
          .cast("long").as("dup_cov"))
    base.select("doc_id", "n_words")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_cov"), lit(0L)).as("dup_cov"),
        round(coalesce(col("dup_cov"), lit(0L)) / col("n_words"), 6)
          .as("dup_frac"))
  }

  /** Span-scrub companion of [[duplicateSpanStats]]: rebuild each doc with
    * every word under a duplicated k-window removed (the paper's "drop the
    * duplicated span" step). Output: (doc_id, n_words, n_dropped, cleaned).
    * Same single heavy shuffle as the stats form; the rebuild joins the
    * per-doc covered-position array back and filters by word index — a
    * per-row map whose cost is bounded by doc length (array_contains over a
    * ≤ doc-length int array, not a corpus-side structure). */
  def duplicateSpanScrub(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8): DataFrame = {
    val base = spanBase(docs, idCol, textCol)
    val cov = dupSpanOccurrences(base, k).groupBy("doc_id")
      .agg(array_distinct(flatten(collect_list(
        sequence(col("__p"), col("__p") + lit(k - 1))))).as("__cov"))
    base.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_dropped"),
        array_join(filter(col("__ws"), (w, i) =>
          !array_contains(coalesce(col("__cov"), array().cast("array<int>")), i)),
          " ").as("cleaned"))
  }

  /** (doc_id, __ws, n_words) with heavy-compute partitioning ensured. */
  private def spanBase(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    Par.ensure(docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text")))
      .select(col("doc_id"), split(col("__text"), " ").as("__ws"))
      .select(col("doc_id"), col("__ws"),
        size(col("__ws")).cast("long").as("n_words"))

  /** (doc_id, __p): 0-based positions of this doc's k-windows whose hash
    * occurs ≥2 times corpus-wide. Docs shorter than k emit no windows.
    * The window hash is INTERNAL plumbing (it never reaches an output
    * column — occurrences join back on it and emit positions only), so it
    * keys on xxhash64 like [[unitDedup]]'s one corpus shuffle: 8 bytes/row
    * through the exchange instead of a 32-char md5 hex string, and no
    * digest+hex per window (the r15 opt round measured the md5 form as the
    * dominant map-side cost of x_span_stats/x_span_scrub). Two distinct
    * windows colliding in 64 bits would mark both as duplicated — the
    * same birthday bound the unitDedup comment argues: negligible at any
    * verified gate scale, but at the 100 TB design point (~1e13 windows)
    * expected collisions number in the millions, so a deployment that must
    * stay bit-equal to an md5-keyed external verifier at that scale should
    * key on md5 and pay the digest. The oracle (which keys on its own md5)
    * stays value-equal at every verified scale because only positions
    * cross the engine boundary. */
  private def dupSpanOccurrences(base: DataFrame, k: Int): DataFrame = {
    val wins = base.filter(size(col("__ws")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("__ws")) - k),
          i => xxhash64(concat_ws(" ", slice(col("__ws"), i + 1, lit(k)))))))
      .select(col("doc_id"), col("pos").as("__p"), col("col").as("__h"))
    // Count-over-window instead of aggregate + join-back: the join form
    // planned the ENTIRE wins subtree twice (split + posexplode + xxhash64
    // per window, once to find duplicated keys and once as the probe side —
    // exchange reuse cannot unify them because the agg side exchanges
    // partial counts and the probe side gets broadcast-joined), which at
    // 100 TB is a second full corpus tokenization pass. The window form
    // computes wins ONCE: one exchange of the (doc_id, __p, __h) stream on
    // __h, sort within partitions, count over the whole-key frame (r16
    // interleaved A/B: full scrub pipeline 4.47 -> 2.89 s at sf1, 0.99 ->
    // 0.76 s at sf0.1; bit-identical outputs). Trade-off, noted for the
    // 100 TB point: WindowExec buffers each __h group (spilling past
    // memory), so a pathological boilerplate corpus where ONE k-window
    // dominates makes a straggler where the agg+join form's map-side
    // partial counts stay flat — a deployment facing that skew should
    // salt-split hot window hashes first (the same remedy the capping
    // family already routes through), not fall back to the double pass.
    wins.withColumn("__c",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("__h")))
      .filter(col("__c") > 1).select("doc_id", "__p")
  }

  /** MinHash signature from ONE md5 per shingle: the 128-bit digest splits
    * into two 56-bit halves (a, b) and permutation i is the universal hash
    * a + i*b (the double-hashing construction of Kirsch–Mitzenmacher 2006,
    * standard in minwise-sketch libraries). md5 is the dominant per-shingle
    * cost at scale — this is numHashes× fewer digests than hashing with
    * numHashes seeds, and a long min beats a hex-string min. 56-bit halves
    * keep a + i*b < 2^60 for i < 16: no BIGINT overflow on either engine
    * (Spark ANSI and DuckDB both throw on overflow), and the DuckDB oracle
    * reproduces the values bit-for-bit via hex parsing. */
  def minhashSig(df: DataFrame, textCol: String, idCol: String,
                 numHashes: Int = 8, shingleK: Int = 3,
                 withSetSize: Boolean = false): DataFrame = {
    require(numHashes <= 16, "56-bit halves guarantee no overflow only for i < 16")
    // ZERO-SHUFFLE per-row signatures (r15): a signature is a pure function
    // of the doc's own distinct-shingle set, so the exploded
    // groupBy-on-the-same-id form re-grouped rows by the id they were just
    // exploded FROM — at the 30 M-doc rung that one exchange was ~68 GB of
    // pure waste (over this box's disk budget; at 100 TB it is the
    // difference between a map-only stage and a corpus-wide shuffle).
    // Array expressions compute the identical values per row: min over the
    // group's (a + i*b) rows == array_min over the same values in the
    // row's own array — INCLUDING null-text docs, which shinglesOfWords'
    // short-text fallback folds to the [""] singleton in both forms (the
    // r15 review caught a draft filter that wrongly dropped them; the
    // exploded form never did — concat_ws over a NULL array is "").
    // The md5 halves materialize through a struct array FIRST (lambda
    // bodies get no common-subexpression elimination — the family's
    // standing rule), so md5/conv run once per shingle, not once per hash
    // function. __nset counts distinct shingle STRINGS where the pre-r13
    // countDistinct counted distinct md5 halves — equal up to md5
    // collision, the same assumption minhash rests on.
    val halves = Par.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol),
        transform(array_distinct(shinglesOfWords(col("__ws"), shingleK)),
          s => md5(s)).as("__ms"))
      .select(col(idCol),
        transform(col("__ms"), m => struct(
          conv(substring(m, 1, 14), 16, 10).cast("long").as("a"),
          conv(substring(m, 15, 14), 16, 10).cast("long").as("b"))).as("__ab"))
    val sigCols = (0 until numHashes).map(i =>
      array_min(transform(col("__ab"),
        p => p.getField("a") + lit(i.toLong) * p.getField("b"))).as(s"h$i")) ++
      (if (withSetSize)
        Seq(size(col("__ab")).cast("int").as("__nset")) else Nil)
    halves.select((col(idCol) +: sigCols): _*)
  }

  /** LSH banding: group the signature into bands of `bandSize` hashes; a band's
    * bucket key is the md5 of its member hashes joined with '|' (unambiguous
    * for variable-length decimal renderings). Output one row per
    * (id, band, bucket) — the join key for candidate generation. */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int = 8,
               bandSize: Int = 2, carry: Seq[String] = Nil): DataFrame = {
    val bandCols = (0 until numHashes by bandSize).map { b =>
      md5(concat_ws("|",
        (b until math.min(b + bandSize, numHashes)).map(i => col(s"h$i").cast("string")): _*))
    }
    sig.select((col(idCol) +: carry.map(col)) :+ posexplode(array(bandCols: _*)): _*)
      .select((col(idCol) +: carry.map(col)) ++
        Seq(col("pos").as("band"), col("col").as("bucket")): _*)
  }

  /** Degenerate-bucket cap: buckets larger than this are dropped from
    * candidate generation. Boilerplate shingles ("row row row" runs, common
    * templates) become the global minimum hash for THOUSANDS of documents,
    * and one such bucket contributes size² candidate pairs — the ScaleProbe
    * measured 83M candidates (4068 true pairs) from a 50 k-doc corpus before
    * this cap existed. Members of a dropped bucket stay eligible through
    * their other bands, and exact dedup still catches identical texts. The
    * real test-corpus buckets max out at 16 (sf0.1), so the cap is inert at
    * gate scale; the DuckDB oracle twins apply the identical cap, so the
    * hash-compare stays exact at ANY scale.
    *
    * The cap's recall price is MEASURED, per J stratum (ScaleProbe cap_*
    * columns; PLANS.md round-7 table): on the 50 k worst-case corpus the cap
    * loses ZERO true pairs at J ≥ 0.35 — every loss sits in J ∈ [0.2, 0.35),
    * where (b=4, r=2) banding's own collision probability is only
    * 1−(1−J²)⁴ ≈ 15–40 % even uncapped. A pipeline that needs reliable
    * recall at such marginal similarity must re-parameterize the banding
    * (more, narrower bands), not lean on a quadratic-cost degenerate bucket;
    * at the thresholds this operator is parameterized for (default 0.7,
    * S-curve midpoint ≈ 0.5) the cap is measured free. */
  val DefaultMaxBucket = 1000

  /** Corpus-derived gram-frequency cap for the pair-join family
    * ([[prefixJoinPairs]] / [[containmentPairs]] / [[winnowPairs]]):
    * max(DefaultMaxBucket, ⌈CapDocFraction · nDocs⌉).
    *
    * Why derived, not absolute: the cap excludes grams whose DOCUMENT
    * frequency exceeds it from candidate generation. An absolute knob is
    * scale-unsound in both directions — on a boilerplate-heavy corpus whose
    * template grams appear in a fixed FRACTION of documents, frequencies
    * grow ∝ corpus while an absolute cap stays put, silently excluding ever
    * more of the vocabulary (recall decays with growth); conversely a cap
    * raised for one corpus over-admits boilerplate on a smaller one. The
    * fractional form keeps the exclusion set stable under corpus replication
    * (SKEWPROBE_r09: recall flat across the 100 k→300 k boilerplate rungs),
    * while the DefaultMaxBucket floor keeps the old absolute behavior on
    * small corpora (sf gate corpora sit below the knee, so oracle hashes
    * are unchanged — the DuckDB twins compute the same
    * greatest(floor, ceil) formula). A gram in > 2 % of all documents is
    * template/boilerplate at
    * ANY scale — it carries no pair-discriminating signal, it only inflates
    * Σ df² — which is what makes one fraction serviceable from 60 k to 10⁹
    * docs. */
  val CapDocFraction = 0.02

  /** Sentinel default for `maxToken` params: derive via [[maxTokenFor]] from
    * the corpus document count. Pass an explicit value ≥ 0 for the old
    * absolute-cap behavior. */
  val AutoMaxToken: Int = -1

  def maxTokenFor(nDocs: Long): Int =
    math.min(Int.MaxValue.toLong,
      math.max(DefaultMaxBucket.toLong,
        math.ceil(CapDocFraction * nDocs).toLong)).toInt

  private def resolveMaxToken(maxToken: Int, nDocs: => Long): Int =
    if (maxToken >= 0) maxToken else maxTokenFor(nDocs)

  /** Candidate near-dup pairs: equi-join on (band, bucket), a < b, distinct.
    * THE scale property: cost is Σ min(bucket, cap)² per band, not n². The
    * shuffle_hash hint matters twice: broadcasting a corpus-sized band set
    * would OOM at scale, and with both sides shuffling the IDENTICAL
    * upstream subplan (scan → shingles → signature → bands) the exchange is
    * computed once and reused instead of once per join side.
    *
    * The cap is applied via aggregate + anti-join, NOT a count-over window:
    * a window partitioned by (band, bucket) must SORT every band row inside
    * each shuffle partition — and because the window sits above the reused
    * exchange, that sort runs once per join side. The aggregate collapses
    * map-side to one row per distinct bucket (partial combine), the over-cap
    * set it emits is tiny by construction (≤ |bands|/cap rows — each over-cap
    * bucket holds > cap rows), and the anti-join probes it hash-wise with no
    * sort at all. Same rows dropped, measured 2.1× faster candidate
    * generation at the 1 M-doc rung (SCALEPROBE_r09). */
  /** `sizeCol`/`sizeRatioMin`: when the band rows carry a set-size column
    * (minhashSig withSetSize + lshBands carry), pairs failing the lossless
    * size-ratio bound (J >= t forces t*max <= min) are killed AT BIRTH —
    * inside the band join, before the distinct() shuffle ever sees them. */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucket: Int = DefaultMaxBucket,
                     sizeCol: Option[String] = None,
                     sizeRatioMin: Double = 0.0): DataFrame = {
    val capped = dropOverCapBuckets(bands, maxBucket)
    def side(tag: String) = capped.select(
      (col(idCol).as(s"${tag}_id") +:
        sizeCol.map(c => col(c).as(s"__n$tag")).toSeq) ++
        Seq(col("band"), col("bucket")): _*).hint("shuffle_hash")
    val joined = side("a").join(side("b"), Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
    val ratioed = if (sizeCol.isDefined && sizeRatioMin > 0.0)
      joined.filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(sizeRatioMin) * greatest(col("__na"), col("__nb")))
    else joined
    // plain distinct, NOT a widened repartition + distinct: unlike the
    // pair-COUNT aggregations (where groups ≈ rows and partial aggregation
    // is worthless — see pairAggPartitions), the band join emits each
    // candidate once per colliding band, so the distinct's map-side partial
    // aggregate collapses that multiplicity before the shuffle; and the
    // final hash state (~10⁷ bare pairs over the session partitioning)
    // never spills. An explicit pre-repartition here shuffles the RAW
    // band-join emission — measured as a multi-GB straggler stage at the
    // 1 M-doc probe before this note.
    ratioed.select("a_id", "b_id").distinct()
  }

  /** Below this BANDS-plan size estimate the count-over-window form of the
    * bucket cap wins: the window is one pass over the already-shuffled band
    * rows, while the aggregate + anti-join pays a second fixed
    * aggregation/probe stage (~0.7 s at gate scale, round-9 measurement).
    * Above it the window's per-partition sort over every band row becomes a
    * multi-GB straggler (the round-9 1 M-doc finding — 2.1× slower
    * candidates) and the anti-join's no-sort hash probe wins. Same
    * measured-routing pattern as [[winnowPairs]]; the estimate comes from
    * the optimizer's plan stats (free — no job), and unknown stats read as
    * the huge default ⇒ anti-join, the right bias at scale. */
  val BucketCapWindowMaxBytes: Long = 8L << 20

  /** Drop every row of a (band, bucket) whose population exceeds `maxBucket`.
    * Route on measured band-row volume — window when provably small,
    * aggregate + hash anti-join otherwise: the grouped count
    * partial-aggregates map-side, the over-cap key set is ≤
    * |bands|/maxBucket rows, and the anti-join needs no sort. The hint pins
    * the no-sort hash strategy; on a healthy corpus the over-cap side is
    * empty and the probe is free. Both routes drop the identical row set. */
  private def dropOverCapBuckets(bands: DataFrame, maxBucket: Int): DataFrame = {
    val windowRoute = bands.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(sys.props.get("graft.test.bucketCapWindowMaxBytes").map(_.toLong)
        .getOrElse(BucketCapWindowMaxBytes))
    if (windowRoute) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
      bands.withColumn("__bsz", count(lit(1)).over(w))
        .filter(col("__bsz") <= maxBucket).drop("__bsz")
    } else {
      val overCap = bands.groupBy("band", "bucket")
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") > maxBucket)
        .select("band", "bucket")
        .hint("shuffle_hash")
      bands.join(overCap, Seq("band", "bucket"), "left_anti")
    }
  }

  /** n-gram Jaccard similarity between two (already distinct) shingle sets. */
  def jaccard(aSet: Column, bSet: Column): Column = {
    val inter = size(array_intersect(aSet, bSet)).cast("double")
    val union = size(array_union(aSet, bSet))
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** The size-ratio prefilter is lossless but not free: the distinct-shingle
    * count adds a countDistinct to the signature agg and 4 bytes to every
    * band row. Round-7 A/B forensics (quiet machine, min-of-5): at sf0.1
    * (584 KB, 844 candidate-scale) it COSTS 13 % on x_near_dup (2.66 →
    * 3.00 s); at 500 k docs (≈46 MB) it SAVES 31 % (264 → 182 s). The
    * crossover is corpus-size-shaped because its payoff is ∝ candidates
    * killed; gate on the optimized plan's size estimate (same source
    * Par.ensure reads — no extra work). Unknown stats read as the huge
    * default estimate ⇒ prefilter ON, the right bias at scale. */
  val SizeRatioPrefilterMinBytes: Long = 4L << 20

  /** Partition count for the pair-count aggregations of the token-join
    * family: candidate-pair populations run ~2 orders of magnitude above
    * scan row counts (Σf² vs Σf), so the session's scan-sized shuffle
    * partitioning under-partitions exactly this one exchange into
    * spill-sorting its hash state. 8× the session setting keeps the same
    * relative sizing a real cluster would get from thousands of shuffle
    * partitions. */
  private[ext] def pairAggPartitions(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions * 8

  private[ext] def sizeRatioPrefilterWorthIt(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(
      // test override: the "big corpus" code paths (shuffled dictionary /
      // verify joins instead of broadcasts, prefilter on) are the
      // production-at-scale paths — DedupSpec forces them onto fixture-
      // sized data via this property and asserts both paths emit identical
      // results. Read per call; never set outside tests.
      sys.props.get("graft.test.sizeRatioPrefilterMinBytes").map(_.toLong)
        .getOrElse(SizeRatioPrefilterMinBytes))

  /** Size-routed lineage-truncating materializer for the dedup family's
    * corpus-scale intermediates — the r14 link-graph lesson applied to the
    * family the r14 verdict flagged as still running on the disproved
    * primitive: `localCheckpoint` pins the full DESERIALIZED table in
    * executor storage (the r13 30 M-page probe OOM-killed twice at 96 g
    * from one checkpointed 240 M-row table), while a parquet round-trip
    * ([[graft.Scratch.materialize]]) streams through compressed,
    * column-prunable files whose heap pressure is bounded by batch size,
    * and on a real cluster survives executor loss. Routing: corpora the
    * `big` flag (the same measured [[sizeRatioPrefilterWorthIt]] estimate
    * that flips the family's other scale routes, or a measured row count
    * for the iterative consumers) calls small keep the in-memory
    * checkpoint — cheapest at gate scale, where eager parquet writes are
    * pure overhead; big corpora take parquet. `scratch` is by-name so the
    * temp dir is only created when the parquet route actually fires. */
  private[ext] def matRoute(df: DataFrame, big: Boolean,
                            scratch: => String, name: String): DataFrame =
    if (big) graft.Scratch.materialize(df, scratch, name)
    else df.localCheckpoint()

  /** Row count at and above which [[dedupClustersWithRounds]]' per-round
    * edge/label tables take the parquet route: 4 M label rows ≈ 160 MB
    * deserialized per round table — comfortably in-memory below it, and
    * the geometric pointer-jump keeps round counts ~log2(diameter), so a
    * corpus past it pays a handful of bounded parquet round-trips instead
    * of pinning O(rounds) full tables in executor storage. */
  val ClusterMatMinRows: Long = 4L * 1000 * 1000

  private def clusterMatMinRows: Long =
    sys.props.get("graft.test.clusterMatMinRows").map(_.toLong)
      .getOrElse(ClusterMatMinRows)

  /** End-to-end MinHash-LSH near-dup dedup: candidates from banding, verified
    * by true shingle Jaccard ≥ threshold.
    *
    * ZERO corpus shuffle before banding (r15; supersedes r13's "one corpus
    * pass", which was one pass but still one corpus-wide exchange): the
    * per-doc DISTINCT shingles stay inside their row — a struct-array
    * transform computes each shingle's md5 halves (the minhash permutation
    * base — md5 so the DuckDB oracle reproduces values bit-for-bit) AND its
    * xxhash64 verify identity side by side, then per-row array expressions
    * fold the signature mins (array_min), the exact set size (size) and
    * the sorted verify set (array_sort) — bit-identical to the exploded
    * groupBy's min/count/sort_array(collect_list), null-text docs
    * included (DedupSpec pins value equality). The first exchange a
    * corpus row pays is the (band, bucket) candidate join.
    *
    * `materialize`: batch callers that consume the result fully (the funnel,
    * the pair-store writer) should pass true — the fused sig+sets table is
    * materialized once and all three consumers (bands, a-verify, b-verify)
    * read materialized rows. The materializer is SIZE-ROUTED ([[matRoute]],
    * on the same measured estimate as the prefilter flag): at gate scale
    * it is an in-memory `localCheckpoint`, past the big threshold a PARQUET
    * round-trip — this table carries one row per doc with the full sorted
    * shingle-identity array (≈ the corpus's distinct-shingle bytes), which
    * is exactly the shape the r13/r14 link-graph probes proved must never
    * pin executor storage (r14 verdict item 1). Default false keeps the
    * operator lazy and PERSISTENCE-FREE (DedupSpec pins no leaked RDDs):
    * since the r15 zero-shuffle rewrite there is no exchange to reuse, so
    * the plan instantiates the per-doc subtree once per consumer — but the
    * split digest columns (see below) let pruning cut each copy to just
    * the digest that consumer needs, which measures level with the
    * materialized route at sf1 (the checkpointed RDD is reclaimed by the
    * ContextCleaner once the caller drops the DataFrame, but is VISIBLE in
    * getPersistentRDDs until then — the reason it is opt-in).
    *
    * Verify math: sets ride as sorted xxhash64 identities so the per-pair
    * verify is the native long merge ([[graft.functions.GraftExpressions
    * .sorted_intersect_count_long]]) at 8 B/gram, and
    * |A∪B| = |A|+|B|−|A∩B| — exact on distinct sets, no union allocation.
    *
    * Lossless size-ratio prefilter (the length filter of set-similarity-join
    * literature, e.g. Arasu et al. 2006): J(A,B) >= t forces
    * t*max(|A|,|B|) <= min(|A|,|B|). The set size free-rides the signature
    * aggregation and the band rows (4 ints), so failing pairs die inside
    * the band join — before the distinct() shuffle and long before any
    * shingle array moves. Provably no true pair is lost, so results (and
    * the DuckDB oracle) are unchanged. */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 8, bandSize: Int = 2, shingleK: Int = 3,
                   threshold: Double = 0.7,
                   maxBucket: Int = DefaultMaxBucket,
                   materialize: Boolean = false): DataFrame = {
    val prefilter = sizeRatioPrefilterWorthIt(df)
    // ZERO-SHUFFLE per-row sig+sets (r15, same rewrite as [[minhashSig]]):
    // signatures AND the sorted verify set are pure per-doc functions, so
    // the fused exploded groupBy (r13's "one corpus pass") still paid one
    // corpus-wide exchange to re-group rows by the id they were exploded
    // from — ~68 GB at the 30 M rung. Per-row array expressions compute
    // the identical values with NO exchange before banding: array_min
    // twins the group min, array_sort(transform(...x)) twins
    // sort_array(collect_list(x)) (same multiset, same ascending order),
    // size() twins count(1), and null-text docs keep their [""]-singleton
    // signature through shinglesOfWords' fallback in both forms (the r15
    // review caught a draft filter that wrongly dropped them). Struct
    // arrays materialize the md5/xxhash per shingle once (no CSE in
    // lambda bodies).
    // The md5 (signature) and xxhash64 (verify-set) derivations hang off a
    // SHARED distinct-shingle column instead of one fused struct array: in
    // the lazy route the plan instantiates this subtree once per consumer
    // (three scans — bands, a-verify, b-verify), and with separate columns
    // Catalyst's column pruning drops the md5+conv chain from both verify
    // scans and the xxhash64+sort from the bands scan, where the fused
    // struct forced every consumer to compute BOTH digests per shingle
    // (r16 interleaved A/B at sf1: 5.95 -> 5.23 s, matching the
    // materialized route's one-pass cost without its pinned table;
    // bit-identical outputs). The materialized route computes the same
    // projection once either way.
    val hx = Par.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol),
        array_distinct(shinglesOfWords(col("__ws"), shingleK)).as("__sh"))
      .select(col(idCol), col("__sh"),
        transform(col("__sh"), s => struct(md5(s).as("m"))).as("__m"))
      .select(col(idCol), col("__sh"),
        transform(col("__m"), p => struct(
          conv(substring(p.getField("m"), 1, 14), 16, 10).cast("long").as("a"),
          conv(substring(p.getField("m"), 15, 14), 16, 10).cast("long").as("b")))
          .as("__ab"))
    val sigCols = (0 until numHashes).map(i =>
      array_min(transform(col("__ab"),
        p => p.getField("a") + lit(i.toLong) * p.getField("b"))).as(s"h$i")) ++ Seq(
      size(col("__sh")).cast("int").as("__nset"),
      array_sort(transform(col("__sh"), s => xxhash64(s))).as("sset"))
    val sigSets0 = hx.select((col(idCol) +: sigCols): _*)
    val sigSets =
      if (materialize)
        matRoute(sigSets0, prefilter, graft.Scratch.dir("graft-neardup"),
          "sigsets")
      else sigSets0
    val cands =
      if (prefilter)
        candidatePairs(
          lshBands(sigSets, idCol, numHashes, bandSize, carry = Seq("__nset")),
          idCol, maxBucket, sizeCol = Some("__nset"), sizeRatioMin = threshold)
      else
        candidatePairs(lshBands(sigSets, idCol, numHashes, bandSize), idCol, maxBucket)
    val sets = sigSets.select(col(idCol), col("sset"))
    val inter = graft.functions.GraftExpressions
      .sorted_intersect_count_long(col("sa"), col("sb")).cast("double")
    cands
      .join(sets.select(col(idCol).as("a_id"), col("sset").as("sa")), Seq("a_id"))
      .join(sets.select(col(idCol).as("b_id"), col("sset").as("sb")), Seq("b_id"))
      .withColumn("jaccard", inter / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Distinct shingles as SORTED 64-bit identities (xxhash64) — the verify-
    * set representation for the LSH candidate families: built in the same
    * projection as the shingling (no extra pass or shuffle, unlike the
    * prefix join's dictionary, which needs global frequencies anyway), the
    * per-pair merge compares registers instead of ~20-byte grams, and set
    * payloads shrink ~2.5×. Distinct-THEN-hash, so sizes are exact; two
    * grams colliding in 64 bits would overcount one intersection slot —
    * expected colliding pairs ≈ v²/2⁶⁵ over a v-gram vocabulary, ~0.03 at
    * v = 10⁹ (birthday bound), zero at every gate/probe scale. */
  private def hashedSetOf(ws: Column, k: Int): Column =
    array_sort(transform(array_distinct(shinglesOfWords(ws, k)),
      s => xxhash64(s)))

  /** LOSSLESS set-similarity join via prefix filtering (the SSJoin /
    * AllPairs family — Chaudhuri et al., ICDE 2006; Bayardo et al., WWW
    * 2007): the linear-cost route to RELIABLE recall at marginal thresholds
    * (J ≈ 0.2–0.35), exactly where banded MinHash-LSH's S-curve surfaces
    * only 15–41 % of true pairs (measured — PLANS.md round-7 cap table).
    *
    * Principle: order all shingles by a global total order (ascending
    * frequency, ties lexicographic — frequency is the performance heuristic,
    * any total order is correct); each doc keeps only its first
    * |A| − ⌈t·|A|⌉ + 1 shingles (its "prefix"). Any pair with J ≥ t MUST
    * share a prefix shingle on both sides: the smallest common shingle c has
    * fewer than (1−t)|A| non-shared shingles before it, so it sits inside
    * the prefix — candidates come from an EQUI-join on the prefix shingle,
    * never an all-pairs pass. Rare shingles join first, boilerplate
    * shingles sit at prefix tails or outside them.
    *
    * Scale shape: one groupBy for global frequencies, one distributed
    * dictionary encode (sort + zipWithIndex, vocabulary-sized) replacing
    * any per-doc rank window, one integer equi-join on the prefix gram id
    * (+ the lossless size-ratio bound inside the join), long-merge Jaccard
    * verify on candidates only.
    * `maxToken` excludes shingles whose GLOBAL frequency exceeds it from
    * candidate generation (an upper bound of any prefix bucket's size) —
    * the same bounded-worst-case knob as the LSH cap, inert at gate scale
    * and mirrored in the DuckDB oracle; prefix lengths keep using the FULL
    * set size, so the prefix bound stays valid for every pair that shares
    * at least one uncapped shingle. The default cap is DERIVED from the
    * corpus document count ([[maxTokenFor]]: max(floor, ⌈0.02·nDocs⌉)), so
    * on a corpus whose boilerplate grams appear in a fixed FRACTION of
    * documents (frequencies ∝ corpus size — the ScaleProbe synthesis) the
    * exclusion set stays stable under growth instead of silently widening;
    * pass an explicit `maxToken` for an absolute budget. Zipf-shaped real
    * corpora grow vocabulary with size, keeping prefixes in the rare tail
    * at any scale — the AllPairs operating regime.
    *
    * vs [[nearDupPairs]]: LSH costs less at high thresholds (signatures
    * compress sets to 8 longs); prefix join carries real shingles but
    * misses NOTHING down to its threshold (cap aside). Use LSH at ≥ 0.5,
    * prefix join below. */
  def prefixJoinPairs(df: DataFrame, textCol: String, idCol: String,
                      shingleK: Int = 3, threshold: Double = 0.2,
                      maxToken: Int = AutoMaxToken): DataFrame = {
    val big = sizeRatioPrefilterWorthIt(df)
    val enc = buildIdSets(df, textCol, idCol, shingleK, big)
    // Ids are dense in (f, s) order, so the maxToken cap (global frequency
    // bound, derived from the INPUT row count by default — see maxTokenFor,
    // mirrored in the oracle as count(*) over the docs table; parquet
    // answers count-star from footer metadata) keeps exactly the ids below
    // the capped-vocabulary count: ONE long compare, and every capped id
    // sorts before every uncapped one.
    val cap = resolveMaxToken(maxToken, df.count())
    val nCapped: Long = enc.freq.filter(col("__f") <= cap).count()
    prefixPairsFromIdSets(enc.isets, idCol, threshold, nCapped, big)
  }

  /** Dictionary-encoded corpus: per-doc sorted dense-id sets over the FULL
    * gram universe + the vocabulary-sized gram frequency table — the shape
    * every member of the pair-join family consumes, built once and shared
    * (inline per call here; persisted across calls by
    * [[shingleStorePathFor]]). */
  private[ext] case class IdSetEncoding(isets: DataFrame, freq: DataFrame,
                                        dict: DataFrame)

  /** One corpus pass: distinct shingle sets → token stream → global
    * frequency table → dense dictionary encode → per-doc sorted id arrays.
    * Dictionary-encoding to DENSE ids in global (f, s) ascending order is
    * what makes everything downstream cheap: per-doc frequency rank becomes
    * array POSITION in the sorted id set (no per-doc row_number window over
    * the token stream), candidate equi-join keys and distincts are 8-byte
    * longs instead of ~20-byte grams, frequency caps become one integer
    * compare against the capped-vocabulary count, and set verifies are the
    * native long-merge loop. The encoding is a bijection, so candidate
    * sets, intersection counts, Jaccard and containment values are
    * identical to joining on the grams themselves (oracle contract
    * unchanged). */
  private[ext] def buildIdSets(df: DataFrame, textCol: String, idCol: String,
                               shingleK: Int, big: Boolean): IdSetEncoding = {
    val setsRaw = Par.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol),
        array_distinct(shinglesOfWords(col("__ws"), shingleK)).as("sset"))
    lazy val scratch = graft.Scratch.dir("graft-idsets")
    val sets = if (big) setsRaw else setsRaw.localCheckpoint()
    val tok = sets.select(col(idCol), explode(col("sset")).as("s"))
    // the frequency table feeds the dictionary sort and the capped-universe
    // counts downstream — without materialization each action re-runs the
    // token-stream groupBy. "Vocabulary-sized" is CORPUS-scale for web text
    // (r14 verdict), so it takes the size-routed materializer: parquet past
    // the big threshold, in-memory checkpoint at gate scale.
    val freq = matRoute(tok.groupBy("s").agg(count(lit(1)).as("__f")),
      big, scratch, "freq")
    val dict = gramDictionary(freq)
    val dictSide = if (big) dict else broadcast(dict)
    val tokI = tok.join(dictSide, Seq("s")).select(col(idCol), col("__tid"))
    // One shuffle by doc id rebuilds the sets in id space (sorted => in
    // global (f, s) order, capped ids first); materialized so candidate
    // generation and verify sides read the stored arrays instead of
    // re-running the encode join — size-routed like freq, because the
    // per-doc id-set arrays are the corpus's distinct-shingle volume at
    // 8 B/gram (the shape that must never pin executor storage at scale).
    // size(tids) == the full distinct set size (the dictionary covers the
    // full universe), so no separate __n rides.
    val isets = matRoute(tokI.groupBy(col(idCol))
        .agg(sort_array(collect_list(col("__tid"))).as("tids")),
      big, scratch, "isets")
    IdSetEncoding(isets, freq, dict)
  }

  /** Budget (posting-list entries) under which the pair-count families take
    * the BROADCAST-INDEX probe instead of the token-join shuffle: the
    * classic AllPairs inner loop (Bayardo et al., WWW 2007 §3) — each
    * partition scans its docs against an in-memory inverted index over the
    * capped vocabulary, counting partners in a local hash map, so the Σf²
    * candidate traffic never touches a shuffle (measured 86 s → seconds on
    * the 50 k-doc saturated-vocabulary sf1 probe, where Σf² ≈ 5·10⁸ rows).
    * ~16 B/entry ⇒ ≤ ~256 MB broadcast at the default — standard broadcast-
    * join economics. Above the budget (a 100 TB corpus' postings are
    * corpus-sized) the declarative shuffle form is the correct shape and is
    * kept bit-identical (DedupSpec forces both paths onto the same fixtures
    * via the test override). */
  val ProbeIndexMaxPostings: Long = 16L << 20

  private def probeIndexMaxPostings: Long =
    sys.props.get("graft.test.probeIndexMaxPostings").map(_.toLong)
      .getOrElse(ProbeIndexMaxPostings)

  /** Broadcast-index pair counting: returns rows
    * (a_id, b_id, __c, __na, __nb, __ua, __ub) for every unordered doc pair
    * sharing ≥ 1 capped gram that passes the caller's filters — exactly the
    * population the declarative join + count aggregation produces, computed
    * partition-locally against a driver-built CSR index. `containment`
    * selects which lossless pre-filter bounds the emit (the same ε-lenient
    * arithmetic as the declarative forms; the exact filters downstream
    * decide membership either way). */
  private def probeCountedPairs(docs: DataFrame, idCol: String,
                                threshold: Double,
                                containment: Boolean,
                                minCount: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // CSR postings over the dense capped vocabulary + a doc-stats map —
    // both bounded by the postings budget that gated this path. Streamed
    // into PRIMITIVE arrays via toLocalIterator: a collect() of 16 M boxed
    // Tuple4s is ~100 B/entry (≈1.6 GB transient at the budget — 6× the
    // index itself); the builders hold ~24 B/entry and boxes die young.
    val postDs = docs
      .select(explode(col("__ct")).as("t"), col(idCol).cast("long").as("i"),
        col("__n"), size(col("__ut")).as("__u"))
      .as[(Long, Long, Int, Int)]
    val tB = new scala.collection.mutable.ArrayBuilder.ofLong
    val iB = new scala.collection.mutable.ArrayBuilder.ofLong
    val nuB = new scala.collection.mutable.ArrayBuilder.ofLong
    postDs.toLocalIterator().forEachRemaining { r =>
      tB += r._1; iB += r._2
      nuB += (r._3.toLong << 32) | (r._4.toLong & 0xffffffffL)
    }
    val tArr = tB.result(); val iArr = iB.result(); val nuArr = nuB.result()
    var nTok = 0
    var p = 0
    while (p < tArr.length) {
      if (tArr(p) + 1 > nTok) nTok = (tArr(p) + 1).toInt
      p += 1
    }
    val counts = new Array[Int](nTok + 1)
    p = 0
    while (p < tArr.length) { counts(tArr(p).toInt + 1) += 1; p += 1 }
    var k = 0
    while (k < nTok) { counts(k + 1) += counts(k); k += 1 }
    val offsets = counts.clone()
    val pid = new Array[Long](tArr.length)
    val pnu = new Array[Long](tArr.length) // packed (n << 32) | u
    val fill = new Array[Int](nTok)
    p = 0
    while (p < tArr.length) {
      val ti = tArr(p).toInt
      val slot = offsets(ti) + fill(ti)
      pid(slot) = iArr(p); pnu(slot) = nuArr(p)
      fill(ti) += 1
      p += 1
    }
    val bc = spark.sparkContext.broadcast((offsets, pid, pnu))
    val t = threshold
    docs.select(col(idCol).cast("long"), col("__n"), size(col("__ut")),
        col("__ct"))
      .as[(Long, Int, Int, Array[Long])]
      .mapPartitions { it =>
        val (off, ids, nus) = bc.value
        val m = new PairCountMap
        it.flatMap { case (id, na, ua, ct) =>
          m.reset()
          var i = 0
          while (i < ct.length) {
            val tok = ct(i).toInt
            var s = off(tok); val e = off(tok + 1)
            while (s < e) {
              val p = ids(s)
              // each unordered pair is counted by its SMALLER id's probe
              if (p > id) m.bump(p, nus(s))
              s += 1
            }
            i += 1
          }
          val out = Seq.newBuilder[(Long, Long, Long, Int, Int, Int, Int)]
          m.foreach { (b, nb, ub, c) =>
            val keep = c >= minCount &&
              (if (containment) c.toDouble >= (t - 1e-6) * math.min(na, nb)
              else math.min(na, nb).toDouble >= t * math.max(na, nb) &&
                (c + math.min(ua, ub)).toDouble * (1.0 + t) >=
                  t * (na + nb).toDouble - 1e-9)
            if (keep) out += ((id, b, c.toLong, na, nb, ua, ub))
          }
          out.result() // survivors only; the map is reused by the next doc
        }
      }
      .toDF("a_id", "b_id", "__c", "__na", "__nb", "__ua", "__ub")
  }

  /** Primitive open-addressing partner-count map for the AllPairs probe
    * inner loop (Σf² `bump` calls — a boxed map here dominates the whole
    * join). Key = partner doc id; value packs the partner's (n, u) stats
    * and the running count into one long (20 bits each — 10⁶ distinct
    * grams per doc is far above any document). Epoch stamps make reset()
    * O(1); the touched list makes iteration survivor-sized. Partner ids
    * are strictly greater than the probing id, so Long.MinValue can never
    * be a live key — the empty-slot sentinel is safe. */
  private final class PairCountMap {
    private var cap = 1 << 13
    private var mask = cap - 1
    private var keys = Array.fill(cap)(Long.MinValue)
    private var vals = new Array[Long](cap)
    private var touched = new Array[Int](cap)
    private var n = 0
    def reset(): Unit = { // clear only the slots this doc used
      var i = 0
      while (i < n) { keys(touched(i)) = Long.MinValue; i += 1 }
      n = 0
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals; val on = n
      val ot = touched
      cap <<= 1; mask = cap - 1
      keys = Array.fill(cap)(Long.MinValue)
      vals = new Array[Long](cap)
      touched = new Array[Int](cap)
      n = 0
      var i = 0
      while (i < on) {
        val slot = ot(i)
        insert(ok(slot), ov(slot)); i += 1
      }
    }
    private def insert(k: Long, v: Long): Unit = {
      var s = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (keys(s) != Long.MinValue) s = (s + 1) & mask
      keys(s) = k; vals(s) = v; touched(n) = s; n += 1
    }
    def bump(k: Long, nu: Long): Unit = {
      var s = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (true) {
        val ks = keys(s)
        if (ks == k) { vals(s) += 1L; return }
        if (ks == Long.MinValue) {
          // pack partner stats + count: n(20) | u(20) | c(20)
          keys(s) = k
          vals(s) = ((nu >>> 32) << 40) | ((nu & 0xfffffL) << 20) | 1L
          touched(n) = s; n += 1
          if (n * 10 > cap * 7) grow()
          return
        }
        s = (s + 1) & mask
      }
    }
    def foreach(f: (Long, Int, Int, Int) => Unit): Unit = {
      var i = 0
      while (i < n) {
        val s = touched(i); val v = vals(s)
        f(keys(s), (v >>> 40).toInt, ((v >>> 20) & 0xfffffL).toInt,
          (v & 0xfffffL).toInt)
        i += 1
      }
    }
  }

  /** Route choice for the pair-count families: the broadcast-index probe
    * needs long ids (hash-map keys) and postings within the broadcast
    * budget; postings count is one cheap job over the checkpointed sets. */
  private def usePairProbe(docs: DataFrame, idCol: String): Boolean = {
    if (docs.schema(idCol).dataType != org.apache.spark.sql.types.LongType)
      return false
    val r = docs.agg(coalesce(sum(size(col("__ct"))), lit(0L)),
      coalesce(max(col("__n")), lit(0))).first()
    // the probe packs per-doc gram counts into 20 bits (PairCountMap);
    // a ≥2²⁰-gram document routes to the shuffle path instead
    r.getLong(0) <= probeIndexMaxPostings && r.getInt(1) < (1 << 20)
  }

  /** The symmetric set-similarity join over pre-encoded id sets — the
    * COUNT-FILTER form of AllPairs (the overlap/count filter of the SSJoin
    * literature — Chaudhuri et al. 2006 §4; PPJoin's positional bound is a
    * weaker per-match special case): equi-join every CAPPED gram of both
    * sides, aggregate the common-gram count per pair, and keep only pairs
    * whose count can still reach J ≥ t before any per-pair set work.
    *
    * Result-identical to the classic prefix-slice + distinct + full-set
    * verify it replaces: ids are dense in ascending (frequency, gram)
    * order, so the SMALLEST common gram of any pair sharing a capped gram
    * is itself capped and (by the prefix theorem) inside both prefixes —
    * the candidate set {pairs sharing ≥ 1 capped gram} is the same, and
    * the exact Jaccard filter decides membership in both forms.
    *
    * Why this form wins at scale: prefix slicing at marginal thresholds
    * barely trims (t = 0.2 keeps ~80 % of each set), and on a vocabulary-
    * saturated corpus nearly every candidate survives to the verify — the
    * sf1 probe (50 k docs, Zipf-flat 29 k-gram vocabulary) measured 268 M
    * distinct candidates feeding the array verify, which dominated the
    * 130 s runtime. The count filter prunes the same population to 527 k
    * pairs (508×) inside the aggregation, BEFORE any array moves: J ≥ t
    * forces |A∩B| ≥ t/(1+t)·(|A|+|B|), and |A∩B| ≤ c + min(uₐ, u_b)
    * where c is the counted capped overlap and u the per-doc count of
    * UNCAPPED grams. The verify then completes the exact intersection from
    * the uncapped SUFFIX arrays alone (tids is sorted, capped ids first,
    * so the uncapped tail is a slice): |A∩B| = c + |suffixₐ ∩ suffix_b|,
    * with suffixes bounded by the handful of grams above the frequency
    * cap — never the full sets. One Σf² token join (inherent to any
    * lossless join on this universe), one count aggregation, then
    * output-sized work. */
  private def prefixPairsFromIdSets(isets: DataFrame, idCol: String,
                                    threshold: Double, nCapped: Long,
                                    big: Boolean): DataFrame = {
    // split each sorted full-universe array at the capped boundary: capped
    // (rare) ids are exactly the array FRONT < nCapped
    val docs = isets
      .select(col(idCol), size(col("tids")).as("__n"),
        filter(col("tids"), t => t < nCapped).as("__ct"), col("tids"))
      .select(col(idCol), col("__n"), col("__ct"),
        slice(col("tids"), size(col("__ct")) + 1, col("__n")).as("__ut"))
    val ctok = docs.select(col(idCol), col("__n"), size(col("__ut")).as("__u"),
      explode(col("__ct")).as("__tid"))
    def side(tag: String) = ctok.select(col(idCol).as(s"${tag}_id"),
      col("__n").as(s"__n$tag"), col("__u").as(s"__u$tag"), col("__tid"))
      .hint("shuffle_hash")
    // join on EVERY capped gram (no prefix slice — the count below needs
    // the full capped overlap); the size-ratio bound still kills undersized
    // pairs inside the join, before the aggregation shuffle
    val counted = if (usePairProbe(docs, idCol))
      probeCountedPairs(docs, idCol, threshold, containment = false)
    else side("a").join(side("b"), Seq("__tid"))
      .filter(col("a_id") < col("b_id"))
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(threshold) * greatest(col("__na"), col("__nb")))
      // pair-grouped count. The group population is candidate-sized (~6 %
      // of n² on the sf1 probe: 300 M groups from 50 k docs), far above the
      // session's scan-sized shuffle partitioning — at 32 partitions the
      // per-partition hash state (~10 M groups) spills and the spill sort
      // dominates (measured 214 s vs 67 s for the same aggregation in a
      // columnar engine). Widen THIS exchange only; the explicit hash
      // repartitioning on the group keys satisfies the aggregate's
      // required distribution, so no second shuffle appears. Doc stats
      // ride as GROUP KEYS (functionally dependent on the pair), not
      // min() buffers — count is the only aggregation state.
      .repartition(pairAggPartitions(isets.sparkSession),
        col("a_id"), col("b_id"))
      .groupBy(col("a_id"), col("b_id"),
        col("__na"), col("__nb"), col("__ua"), col("__ub"))
      .agg(count(lit(1)).as("__c"))
      // lossless overlap bound (ε-lenient so IEEE rounding can only ADD
      // survivors; the exact Jaccard filter below decides):
      // J ≥ t ⟺ I·(1+t) ≥ t·(|A|+|B|), and I ≤ __c + min(uₐ, u_b)
      .filter((col("__c") + least(col("__ua"), col("__ub"))).cast("double") *
        lit(1.0 + threshold) >=
        lit(threshold) * (col("__na") + col("__nb")).cast("double") - lit(1e-9))
    // complete the exact intersection from the tiny uncapped suffixes; the
    // arrays are distinct and share no capped ids, so I = __c + |∩ suffix|
    // EXACTLY, and |A∪B| = |A|+|B|−I arithmetically — same IEEE division
    // as the full-set verify (and the oracle), bit-for-bit.
    def uside(tag: String) = {
      val s = docs.select(col(idCol).as(s"${tag}_id"), col("__ut").as(s"ut$tag"))
      if (big) s else broadcast(s)
    }
    val interU = graft.functions.GraftExpressions
      .sorted_intersect_count_long(col("uta"), col("utb")).cast("double")
    counted
      .join(uside("a"), Seq("a_id"))
      .join(uside("b"), Seq("b_id"))
      .withColumn("__i", col("__c").cast("double") + interU)
      .withColumn("jaccard",
        col("__i") / ((col("__na") + col("__nb")).cast("double") - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Dense-id dictionary over a gram frequency table `(s, __f)`: returns
    * `(s, __tid)` with ids 0,1,2,… assigned in ascending (__f, s) order —
    * the AllPairs global total order, materialized as integers. Distributed
    * at any vocabulary size: one range-sorted pass + zipWithIndex (ids are
    * numbered across the range-ordered partitions, preserving the sort).
    * (f, s) pairs are unique (s is distinct), so the order — and the ids —
    * are deterministic. */
  private def gramDictionary(freq: DataFrame): DataFrame = {
    val spark = freq.sparkSession
    val sorted = freq.orderBy(col("__f"), col("s"))
    val rdd = sorted.select(col("s")).rdd.zipWithIndex
      .map { case (r, i) => org.apache.spark.sql.Row(r.getString(0), i) }
    spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("__tid",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** LOSSLESS containment join (asymmetric set overlap): ordered pairs
    * (a, b) with C(A→B) = |A∩B| / |A| ≥ t — "a's grams are mostly inside
    * b" — the sub-document/quote-inclusion detector symmetric Jaccard
    * misses (a paragraph fully quoted inside a long doc has tiny J but
    * C = 1). RefinedWeb-style curation drops or attributes such contained
    * docs.
    *
    * Similarity universe: distinct `shingleK`-grams whose GLOBAL document
    * frequency is ≤ `maxToken` — the same absolute-frequency cap semantics
    * as [[prefixJoinPairs]], applied to BOTH candidates and verify (and
    * the oracle), so boilerplate grams neither blow up the index nor count
    * as containment evidence, and the prefix filter is exactly lossless on
    * the defined universe at any scale.
    *
    * Prefix filter, asymmetric form (Chaudhuri et al. 2006): C ≥ t needs
    * |A∩B| ≥ ⌈t·|A|⌉, so at most |A| − ⌈t·|A|⌉ of A's grams miss B —
    * among A's first |A| − ⌈t·|A|⌉ + 1 grams in global-frequency order at
    * least one must hit B. Only the CONTAINED side prefixes; the container
    * side indexes all its (capped) grams — the cost asymmetry is inherent
    * to containment. A lossless size bound (|B| ≥ ⌈t·|A|⌉, since
    * |A∩B| ≤ |B|) kills undersized containers inside the candidate join.
    *
    * Scale shape: one freq groupBy, one distributed dictionary encode
    * (sort + zipWithIndex over the CAPPED vocabulary — the similarity
    * universe here, so verify uses the same ids), integer equi-joins for
    * candidates, long-merge verify on candidate pairs only. Rank windows
    * are gone: ids are dense in (f, s) order, so per-doc rank = position
    * in the sorted id array. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleK: Int = 3, threshold: Double = 0.5,
                       maxToken: Int = AutoMaxToken): DataFrame = {
    val big = sizeRatioPrefilterWorthIt(df)
    val enc = buildIdSets(df, textCol, idCol, shingleK, big)
    val cap = resolveMaxToken(maxToken, df.count())
    val nCapped: Long = enc.freq.filter(col("__f") <= cap).count()
    containmentPairsFromIdSets(enc.isets, idCol, threshold, nCapped, big)
  }

  /** The asymmetric containment join over pre-encoded id sets. The capped
    * universe IS the similarity universe here (candidates AND verify), and
    * with ids dense in (f, s) order the capped subset of a full-universe
    * sorted array is exactly its ids < nCapped — an array filter, order
    * preserved, identical relative frequency order to a dictionary built
    * over the capped universe alone. Docs with zero capped grams drop out
    * (no tokens to index — they can neither contain nor be contained on
    * the defined universe). */
  private def containmentPairsFromIdSets(fullSets: DataFrame, idCol: String,
                                         threshold: Double, nCapped: Long,
                                         big: Boolean): DataFrame = {
    // COUNT-FILTER form (see prefixPairsFromIdSets): the similarity
    // universe here is the capped vocabulary itself, so the per-pair
    // common-gram count IS the exact intersection — no verify join at all.
    // One UNORDERED token join (half the ordered prefix×index emit),
    // counted, then both orientations read off the same row:
    // C(a→b) = c/|A|, C(b→a) = c/|B|. Result-identical to the ordered
    // prefix-filter + distinct + long-merge verify it replaces: both
    // compute {(a,b) : a≠b, A∩B ≠ ∅ on the capped universe,
    // round(|A∩B|/|A|, 6) ≥ t} — the Chaudhuri prefix was lossless over
    // exactly that candidate set, and the old size bound |B| ≥ ⌈t·|A|⌉ is
    // implied by C ≥ t.
    val isets = fullSets
      .select(col(idCol),
        filter(col("tids"), t => t < nCapped).as("tids"))
      .withColumn("__n", size(col("tids")))
      .filter(col("__n") > 0)
    // probe shape: the capped sets ARE the universe — empty uncapped tails
    val docsP = isets.select(col(idCol), col("__n"), col("tids").as("__ct"),
      expr("CAST(array() AS ARRAY<BIGINT>)").as("__ut"))
    val ctok = isets.select(col(idCol), col("__n"), explode(col("tids")).as("__tid"))
    def side(tag: String) = ctok.select(col(idCol).as(s"${tag}_id"),
      col("__n").as(s"__n$tag"), col("__tid")).hint("shuffle_hash")
    val counted = if (usePairProbe(docsP, idCol))
      probeCountedPairs(docsP, idCol, threshold, containment = true)
        .select("a_id", "b_id", "__na", "__nb", "__c")
    else side("a").join(side("b"), Seq("__tid"))
      .filter(col("a_id") < col("b_id"))
      // candidate-sized group population — widen this exchange only, stats
      // as group keys (see prefixPairsFromIdSets for the numbers)
      .repartition(pairAggPartitions(fullSets.sparkSession),
        col("a_id"), col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__c"))
      // ε-lenient lossless bound before expanding orientations: some
      // orientation passes only if c ≥ t·min(|A|,|B|) (up to the 6-decimal
      // round, absorbed by the ε); the rounded exact filter decides below
      .filter(col("__c").cast("double") >=
        (lit(threshold) - lit(1e-6)) *
          least(col("__na"), col("__nb")).cast("double"))
    counted
      .select(col("__c"), explode(array(
        struct(col("a_id").as("x"), col("b_id").as("y"), col("__na").as("n")),
        struct(col("b_id").as("x"), col("a_id").as("y"), col("__nb").as("n")))).as("o"))
      .select(col("o.x").as("a_id"), col("o.y").as("b_id"),
        round(col("__c").cast("double") / col("o.n").cast("double"), 6).as("containment"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
  }

  /** Persist a band table for incremental probing, partitioned by band so a
    * probe of one band prunes the rest at planning time. At 100 TB this is
    * the corpus signature store: written once at ingest, appended as the
    * corpus grows, orders of magnitude smaller than the text. */
  def writeBands(bands: DataFrame, path: String): Unit =
    bands.write.mode("append").partitionBy("band").parquet(path)

  /** Corpus-refresh dedup against a PERSISTED band store: `oldBands` is the
    * existing corpus' band table — `writeBands` output read back from
    * parquet — so the old side pays ZERO signature cost here. Cost is |new|
    * signatures + one equi-join against the stored bands + verify on
    * candidates; old text is read only to shingle the CANDIDATE old docs
    * (left-semi prune before the shingle projection), never the corpus.
    * This is the 100 TB shape: the band store is written at ingest, appended
    * as the corpus grows, probed per refresh batch.
    * Returns (new_id, old_id, jaccard >= threshold). */
  def incrementalNearDupsFromBands(newDf: DataFrame, oldBands: DataFrame,
                                   oldDf: DataFrame, textCol: String, idCol: String,
                                   numHashes: Int = 8, bandSize: Int = 2,
                                   shingleK: Int = 3, threshold: Double = 0.7,
                                   materializeCands: Boolean = true,
                                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val newBands = lshBands(minhashSig(newDf, textCol, idCol, numHashes, shingleK),
      idCol, numHashes, bandSize)
    // Degenerate-bucket cap on the COMBINED (new + old) bucket population —
    // banding is per-doc, so this equals the batch path's cap over the
    // unioned corpus (which is exactly what the oracle computes). Aggregate +
    // anti-join, not a window (see candidatePairs): both join sides filter
    // from the same capped subplan, and its exchange is reused, not
    // recomputed.
    val unionBands = newBands
      .select(col(idCol), col("band"), col("bucket"), lit(true).as("__new"))
      .union(oldBands.select(col(idCol), col("band"), col("bucket"), lit(false).as("__new")))
    val capped = dropOverCapBuckets(unionBands, maxBucket)
    // Materialized once (default): probed by both verify joins AND the
    // old-side candidate prune — without this the new-batch LSH replans 3x.
    // Size-routed like the rest of the family (parquet when either corpus
    // side measures big — candidate volume scales with the refresh corpus).
    // Tests pass materializeCands=false to keep the full lineage visible
    // (materialization truncates it, hiding the band-store scan from
    // inputFiles assertions).
    val candsPlan = capped.filter(col("__new"))
      .select(col(idCol).as("new_id"), col("band"), col("bucket")).hint("shuffle_hash")
      .join(capped.filter(!col("__new"))
        .select(col(idCol).as("old_id"), col("band"), col("bucket"))
        .hint("shuffle_hash"), Seq("band", "bucket"))
      .select("new_id", "old_id").distinct()
    val cands =
      if (materializeCands)
        matRoute(candsPlan,
          sizeRatioPrefilterWorthIt(oldDf) || sizeRatioPrefilterWorthIt(newDf),
          graft.Scratch.dir("graft-incr-neardup"), "cands")
      else candsPlan
    def setsOf(df: DataFrame) = Par.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol), hashedSetOf(col("__ws"), shingleK).as("sset"))
    def sizesOf(df: DataFrame) = Par.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol),
        size(array_distinct(shinglesOfWords(col("__ws"), shingleK))).as("__n"))
    val oldCandDocs = oldDf.join(
      cands.select(col("old_id").as(idCol)), Seq(idCol), "left_semi")
    // lossless size-ratio prefilter before the wide shingle joins — see
    // nearDupPairs; identical math, identical results. Size-gated like
    // there: the refresh corpus (old side) is what grows at scale.
    val narrowed =
      if (sizeRatioPrefilterWorthIt(oldDf) || sizeRatioPrefilterWorthIt(newDf))
        cands
          .join(sizesOf(newDf).select(col(idCol).as("new_id"), col("__n").as("__na")), Seq("new_id"))
          .join(sizesOf(oldCandDocs).select(col(idCol).as("old_id"), col("__n").as("__nb")), Seq("old_id"))
          .filter(least(col("__na"), col("__nb")).cast("double") >=
            lit(threshold) * greatest(col("__na"), col("__nb")))
          .select("new_id", "old_id")
      else cands
    val interIncr = graft.functions.GraftExpressions
      .sorted_intersect_count_long(col("sa"), col("sb")).cast("double")
    narrowed
      .join(setsOf(newDf).select(col(idCol).as("new_id"), col("sset").as("sa")), Seq("new_id"))
      .join(setsOf(oldCandDocs).select(col(idCol).as("old_id"), col("sset").as("sb")), Seq("old_id"))
      .withColumn("jaccard",
        interIncr / (size(col("sa")) + size(col("sb")) - interIncr))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
  }

  /** Bloom-accelerated incremental EXACT dedup — the refresh-batch
    * complement of [[incrementalNearDupsFromBands]] for verbatim
    * duplicates: which new-batch documents are genuinely NEW against the
    * ingested corpus?
    *
    * The naive shape is an anti-join of the new batch's fingerprints
    * against the corpus fingerprint table — at 100 TB that shuffles the
    * BATCH against a corpus-sized table every refresh. Here the corpus side
    * is compressed ONCE into a mergeable Bloom filter (distributed
    * `treeAggregate` build — partitions fill local filters, merged pairwise
    * up the tree; ~10 bits/doc at fpp 1 %, so a billion-doc corpus is a
    * ~1.2 GB broadcast artifact, rebuilt only as often as the corpus
    * grows). Each refresh then probes the broadcast filter in a codegen'd
    * projection ([[graft.functions.BloomProbe]]):
    *  - might-contain == false ⇒ DEFINITELY new (Bloom has no false
    *    negatives) — these rows SKIP the join entirely (the vast majority
    *    of a typical refresh batch);
    *  - might-contain == true ⇒ duplicate OR false positive — only these
    *    suspects (true dups + ~fpp of the batch) pay the exact anti-join
    *    backstop.
    * The output is therefore EXACT — the filter moves cost, never
    * correctness, which is what makes the operator oracle-checkable with a
    * plain anti-join twin (x_bloom_new_docs) at ANY fpp.
    *
    * Returns (idCol, content_hash) for genuinely-new docs.
    * `expectedItems` sizes the filter; <= 0 derives it from a corpus
    * count (one cheap agg — production passes the known corpus size). */
  def bloomNewDocs(newDf: DataFrame, oldDf: DataFrame,
                   textCol: String, idCol: String,
                   fpp: Double = 0.01, expectedItems: Long = -1L): DataFrame =
    bloomNewKeys(
      newDf.select(col(idCol), md5(col(textCol)).as("content_hash")),
      oldDf.select(md5(col(textCol)).as("content_hash")),
      idCol, "content_hash", fpp, expectedItems)

  /** Key-generic core of [[bloomNewDocs]]: rows of `newKeyed` (idCol,
    * keyCol) whose STRING key is absent from `oldKeys` (a 1-column frame of
    * the same keyCol). The corpus keys compress to a treeAggregate-built
    * Bloom filter probed in a codegen'd projection; definitely-new rows
    * skip the anti-join, might-contain suspects pay the exact backstop —
    * EXACT output at any fpp. The URL family reuses this verbatim with the
    * canonical URL key ([[Url.newUrlsOnly]] — incremental-crawl frontier
    * dedup) where the text family uses md5(text).
    *
    * Null keys: dropped from the filter build (putString(null) NPEs) and
    * routed around the probe — a NULL key never equi-matches, so the row
    * always comes out "new", matching the plain anti-join twin. */
  def bloomNewKeys(newKeyed: DataFrame, oldKeys: DataFrame,
                   idCol: String, keyCol: String,
                   fpp: Double = 0.01, expectedItems: Long = -1L): DataFrame = {
    val spark = newKeyed.sparkSession
    import spark.implicits._
    val oldFp = oldKeys.select(col(keyCol).as("__fp"))
      .filter(col("__fp").isNotNull)
    val expected = if (expectedItems > 0) expectedItems
      else math.max(1L, oldFp.count())
    // COALESCED build (r15): every treeAggregate task serializes one FULL
    // filter (size ∝ expected items), so over the scan's native partition
    // count the aggregation traffic is partitions × filter bytes — ~n² in
    // corpus size (measured: the 10 M-key frontier stage read 30× the 1 M
    // wall at 10× data from exactly this — ~80 tasks × 12 MB of bitset
    // ser/merge). A fixed small build width keeps the traffic at
    // width × filter bytes = LINEAR in keys, while each task's putString
    // loop stays cheap (string hashing, no allocation); the filter itself
    // is identical under any partitioning — puts commute, merge is OR —
    // so results are bit-unchanged (the gates pin this).
    val rdd0 = oldFp.as[String].rdd
    val width = math.max(1, math.min(rdd0.getNumPartitions, 16))
    val bf = rdd0.coalesce(width).treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(expected, fpp))(
      (f, s) => { f.putString(s); f }, (a, b) => a.mergeInPlace(b))
    val probed = newKeyed.select(col(idCol), col(keyCol))
      .withColumn("__might",
        graft.functions.GraftExpressions.bloom_might_contain(
          col(keyCol), bf))
    val definiteNew = probed.filter(col(keyCol).isNull || !col("__might"))
    val suspects = probed.filter(col(keyCol).isNotNull && col("__might"))
      .join(oldFp.select(col("__fp").as(keyCol)).distinct(),
        Seq(keyCol), "left_anti")
    definiteNew.unionByName(suspects).select(col(idCol), col(keyCol))
  }

  /** Build-once persisted band store per (dataset, corpus split, LSH
    * config), an [[graft.Artifacts.stored]] artifact: the existing corpus'
    * bands are written partitioned-by-band on first use (standing in for
    * the ingest-time append at scale); every later probe only READS the
    * parquet. `warehouse` picks where the artifact lives: Some(base) on
    * any Hadoop FS scheme, reusable across JVMs — the production shape —
    * while None (bench/test default) uses a JVM-local temp dir. */
  def bandStorePathFor(spark: org.apache.spark.sql.SparkSession, dir: String,
                       idCol: String, textCol: String, idUpperExclusive: Long,
                       numHashes: Int = 8, bandSize: Int = 2,
                       shingleK: Int = 3,
                       warehouse: Option[String] = None): String =
    graft.Artifacts.stored(spark, "band_store",
        Seq(idCol, textCol, idUpperExclusive, numHashes, bandSize, shingleK),
        Seq(s"$dir/documents.parquet"), warehouse) { path =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col(idCol) < idUpperExclusive)
      writeBands(lshBands(minhashSig(docs, textCol, idCol, numHashes, shingleK),
        idCol, numHashes, bandSize), path)
    }

  /** Build-once persisted SHINGLE store — the corpus-derived artifact every
    * member of the pair-join family consumes ([[prefixJoinPairs]],
    * [[containmentPairs]], source-overlap-from-pairs), so three queries
    * stop paying three identical shingle + frequency + dictionary-encode
    * passes. Two tables under one path, keyed like [[bandStorePathFor]] by
    * (dataset, columns, shingleK):
    *
    *  - `isets/` — (idCol, tids): per-doc SORTED dense-id gram sets over
    *    the FULL universe, ids assigned in global (frequency, gram)
    *    ascending order ([[gramDictionary]]);
    *  - `freq/`  — (__tid, __f): the vocabulary-sized id→frequency table,
    *    from which ANY `maxToken` cap is served as
    *    `count(__f <= cap)` — ids below that count are exactly the capped
    *    universe, so one artifact serves every threshold/cap combination.
    *
    * At 100 TB this is written at ingest next to the band store (id arrays
    * are ~8 B/gram — an order smaller than the text) and appended as the
    * corpus grows; queries only READ it. `warehouse` as in
    * [[bandStorePathFor]]: Some(base) persists across JVMs on any Hadoop
    * FS scheme, None (bench/test) uses a JVM-local temp dir. */
  def shingleStorePathFor(spark: org.apache.spark.sql.SparkSession, dir: String,
                          idCol: String, textCol: String, shingleK: Int = 3,
                          warehouse: Option[String] = None): String =
    // explicit top-level marker: the store is two parquet writes, so the
    // per-table _SUCCESS files can't signal whole-artifact completeness
    graft.Artifacts.stored(spark, "shingle_store", Seq(idCol, textCol, shingleK),
        Seq(s"$dir/documents.parquet"), warehouse, marker = "_GRAFT_READY") { path =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val enc = buildIdSets(docs, textCol, idCol, shingleK,
        big = sizeRatioPrefilterWorthIt(docs.select(col(idCol), col(textCol))))
      enc.isets.write.mode("overwrite").parquet(s"$path/isets")
      enc.freq.join(enc.dict, Seq("s"))
        .select(col("__tid"), col("__f"))
        .write.mode("overwrite").parquet(s"$path/freq")
    }

  /** [[prefixJoinPairs]] against the persisted shingle store: the corpus
    * pays shingling + dictionary encoding ONCE per (data, config) — every
    * later call (and every sibling in the pair-join family) starts from
    * the materialized id arrays. Result-identical to the inline form
    * (DedupSpec pins it). */
  def prefixJoinPairsFromStore(spark: org.apache.spark.sql.SparkSession,
                               dir: String, idCol: String, textCol: String,
                               shingleK: Int = 3, threshold: Double = 0.2,
                               maxToken: Int = AutoMaxToken,
                               warehouse: Option[String] = None): DataFrame = {
    val path = shingleStorePathFor(spark, dir, idCol, textCol, shingleK, warehouse)
    val isets = graft.Scratch.readCachedSchema(spark, s"$path/isets")
    val nCapped = cappedUniverse(spark, dir, path, maxToken)
    prefixPairsFromIdSets(isets, idCol, threshold, nCapped,
      big = sizeRatioPrefilterWorthIt(isets))
  }

  /** Size of the `maxToken`-capped gram universe of the shingle store at
    * `path`: `count(__f <= cap)` over its freq table, with the cap resolved
    * from the doc count of the SOURCE table (same basis as the inline form
    * and the oracle's count(*)). Both counts are store metadata, memoized
    * like the store itself (production keeps both in the catalog). */
  private def cappedUniverse(spark: org.apache.spark.sql.SparkSession, dir: String,
                             path: String, maxToken: Int): Long = {
    val docs = s"$dir/documents.parquet"
    val cap = resolveMaxToken(maxToken, graft.Artifacts.memo(spark, "doc_count", Nil,
      Seq(docs))(spark.read.parquet(docs).count()))
    graft.Artifacts.memo(spark, "capped_universe", Seq(cap), Seq(s"$path/freq")) {
      graft.Scratch.readCachedSchema(spark, s"$path/freq")
        .filter(col("__f") <= cap).count()
    }
  }

  /** [[containmentPairs]] against the persisted shingle store — see
    * [[prefixJoinPairsFromStore]]. */
  def containmentPairsFromStore(spark: org.apache.spark.sql.SparkSession,
                                dir: String, idCol: String, textCol: String,
                                shingleK: Int = 3, threshold: Double = 0.5,
                                maxToken: Int = AutoMaxToken,
                                warehouse: Option[String] = None): DataFrame = {
    val path = shingleStorePathFor(spark, dir, idCol, textCol, shingleK, warehouse)
    val isets = graft.Scratch.readCachedSchema(spark, s"$path/isets")
    val nCapped = cappedUniverse(spark, dir, path, maxToken)
    containmentPairsFromIdSets(isets, idCol, threshold, nCapped,
      big = sizeRatioPrefilterWorthIt(isets))
  }

  /** Build-once persisted near-dup PAIR GRAPH — the artifact the dedup
    * DECISION family consumes. [[nearDupPairs]] is the builder (full
    * MinHash-LSH + Jaccard verify); its (a_id, b_id, jaccard) output is
    * corpus-derived, orders of magnitude smaller than the corpus (pairs ∝
    * true duplicates), and every downstream curation decision — clustering
    * ([[dedupClusters]]), keep-one-per-cluster, keep-best-quality — re-reads
    * the same graph. At 100 TB the graph is written once at curation time
    * (next to the band and shingle stores) and the decision queries only
    * READ it; locally the same keying as [[bandStorePathFor]] (dataset,
    * LSH config, threshold) makes the first caller build and every sibling
    * probe. The builder's cost stays measured: the x_near_dup gate always
    * runs the full inline pipeline. */
  def nearDupPairsPathFor(spark: org.apache.spark.sql.SparkSession, dir: String,
                          idCol: String, textCol: String,
                          numHashes: Int = 8, bandSize: Int = 2,
                          shingleK: Int = 3, threshold: Double = 0.2,
                          maxBucket: Int = DefaultMaxBucket,
                          warehouse: Option[String] = None): String =
    graft.Artifacts.stored(spark, "near_dup_pairs",
        Seq(idCol, textCol, numHashes, bandSize, shingleK, threshold, maxBucket),
        Seq(s"$dir/documents.parquet"), warehouse) { path =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      // materialize: a batch write consumes the result fully, and the
      // checkpointed sig+sets RDD is dropped with this local reference
      nearDupPairs(docs, textCol, idCol, numHashes, bandSize, shingleK,
        threshold, maxBucket, materialize = true)
        .write.mode("overwrite").parquet(path)
    }

  /** The persisted near-dup pair graph as a DataFrame — see
    * [[nearDupPairsPathFor]]. Result-identical to the inline
    * [[nearDupPairs]] (DedupSpec pins it). */
  def nearDupPairsFromStore(spark: org.apache.spark.sql.SparkSession,
                            dir: String, idCol: String, textCol: String,
                            numHashes: Int = 8, bandSize: Int = 2,
                            shingleK: Int = 3, threshold: Double = 0.2,
                            maxBucket: Int = DefaultMaxBucket,
                            warehouse: Option[String] = None): DataFrame =
    graft.Scratch.readCachedSchema(spark, nearDupPairsPathFor(spark, dir, idCol, textCol,
      numHashes, bandSize, shingleK, threshold, maxBucket, warehouse))

  /** Near-dup CLUSTERS from the pair graph: connected components as plain
    * DataFrame joins. Each node starts labeled with itself; a round is
    *
    *   (1) one-hop min-label propagation — one join + one agg on node id —
    *       followed by
    *   (2) one pointer jump THROUGH THE ROUND'S OWN labels (cid := cid's
    *       label), the doubling step of pointer-jumping (Shiloach–Vishkin):
    *       label reach grows geometrically, so convergence is O(log
    *       diameter) rounds, not O(diameter) — a million-link near-dup
    *       chain (web boilerplate produces long A≈B≈C chains) converges in
    *       ~20 rounds instead of never.
    *
    * Convergence is observed via `observe()` riding the round's checkpoint
    * action — no separate probe job. The test is one-hop stability, which is
    * exact: if no label decreased, then for every edge (u,v) cid(u) <= cid(v)
    * and symmetrically, so labels are constant per component, and since label
    * values are node ids of the component, the constant is the component min.
    * Non-convergence at `maxIters` THROWS — returning partial labels would
    * make downstream keep-one-per-cluster silently keep duplicates.
    *
    * A per-round materialization truncates the growing lineage so round N
    * doesn't replan rounds 1..N-1 — SIZE-ROUTED ([[matRoute]]): below
    * [[ClusterMatMinRows]] measured edge rows it is an in-memory
    * `localCheckpoint`; at or above it every per-round table takes the
    * parquet round-trip instead (r14 verdict item 1 — pinning O(rounds)
    * full label tables in executor storage is the primitive the 30 M-edge
    * link probe OOM-killed on; the row count is MEASURED on the
    * materialized pair set, not estimated, because join-derived inputs
    * carry garbage estimates). Returns (id, cluster_id = min reachable
    * id): keep-one-per-cluster is then a filter on id == cluster_id. */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 32): DataFrame =
    dedupClustersWithRounds(pairs, maxIters)._1

  /** As [[dedupClusters]], also reporting how many rounds convergence took —
    * the health metric for the O(log diameter) claim (ScaleProbe records it
    * per corpus size). */
  def dedupClustersWithRounds(pairs: DataFrame,
                              maxIters: Int = 32): (DataFrame, Int) = {
    // Default 32: rounds grow as ~log2(component diameter) + 1 (the 200 k-doc
    // ScaleProbe chain graph measured 14), so 32 covers any diameter that
    // can physically exist; the non-convergence THROW stays the backstop.
    // Materialize the pair set BEFORE the symmetric union: both union
    // branches read the materialized rows instead of each re-running the
    // (potentially expensive — e.g. full near-dup) upstream pipeline. The
    // pair set itself routes on the optimizer's size ESTIMATE (join-derived
    // inputs err big, which errs safe — an over-estimate costs one small
    // parquet write, an under-estimate would pin an unbounded table); the
    // per-round tables route on the MEASURED edge count the materialized
    // pair set answers cheaply (parquet footer / checkpointed scan).
    lazy val scratch = graft.Scratch.dir("graft-clusters")
    val p = matRoute(pairs, sizeRatioPrefilterWorthIt(pairs), scratch, "pairs")
    val big = p.count() * 2 >= clusterMatMinRows
    val edges = matRoute(
      p.select(col("a_id").as("s"), col("b_id").as("t"))
        .union(p.select(col("b_id").as("s"), col("a_id").as("t"))),
      big, scratch, "edges")
    var labels = matRoute(edges.select(col("s").as("id")).distinct()
      .withColumn("cid", col("id")), big, scratch, "labels-0")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val neighborMin = edges.join(labels, edges("t") === labels("id"))
        .groupBy(col("s")).agg(min("cid").as("ncid"))
      val obs = org.apache.spark.sql.Observation()
      val oneHop = matRoute(
        labels.join(neighborMin, labels("id") === neighborMin("s"), "left")
          .select(col("id"), col("cid").as("__ocid"),
            least(col("cid"), coalesce(col("ncid"), col("cid"))).as("cid"))
          .observe(obs, sum(when(col("cid") < col("__ocid"), 1L).otherwise(0L)).as("changed"))
          .select("id", "cid"),
        big, scratch, s"onehop-$iter") // the action also populates `obs`
      val changed = Option(obs.get("changed")).fold(0L)(_.asInstanceOf[Long])
      if (changed == 0L) {
        converged = true // one-hop fixpoint: labels == oneHop, both final
      } else {
        // pointer jump: cid values are node ids, so each has a label row;
        // left + coalesce only guards the (impossible) missing-id case
        val jump = oneHop.select(col("id").as("__jid"), col("cid").as("__jcid"))
        labels = matRoute(oneHop.as("h")
          .join(jump, col("h.cid") === col("__jid"), "left")
          .select(col("h.id").as("id"),
            coalesce(col("__jcid"), col("h.cid")).as("cid")),
          big, scratch, s"labels-${iter + 1}")
      }
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dedupClusters did not converge within $maxIters rounds — component " +
        "diameter exceeds 2^maxIters; raise maxIters (partial labels would " +
        "let keep-one-per-cluster keep duplicates silently)")
    (labels, iter)
  }

  /** SimHash over raw words — the native kernel form (md5 consumed as
    * bytes, no hex strings materialized); bit-identical to DedupSpec's
    * fold over `transform(words, md5)` (asserted on corpus text). Hot paths
    * use this. The kernel propagates NULL for a null words array, so fold
    * it to 0L here to keep the fold-form contract (null text -> signature
    * 0, never a NULL band key). */
  def simhash16(words: Column): Column =
    coalesce(graft.functions.GraftExpressions.simhash16(words), lit(0L))

  /** Hamming distance between two small signatures (for simhash pairing). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Top-`limit` closest SimHash pairs via SIGNATURE COLLAPSE — result-
    * identical to banding every document's 16-bit signature into its two
    * bytes, self-joining documents on (band, byte), ranking the candidate
    * pairs by exact hamming and taking the top `limit` by
    * (hamming, a_id, b_id) — but never materializing the doc-level join.
    *
    * Why: the doc-level band join is quadratic in each band bucket. A
    * 16-bit signature space has only 65 536 values and 256 byte-keys per
    * band, so at n documents the average bucket holds n/256 docs and the
    * join emits Θ(n²/256) rows — 2.8 B rows at 600 k docs (measured 96 s at
    * the sf1 probe). But the band relation between two docs depends ONLY on
    * their signatures, and the pair order (hamming, a_id, b_id) ranks all
    * pairs of one signature-pair contiguously. So:
    *
    *  1. collapse docs to signatures (≤ 65 536 groups), keeping each
    *     signature's count and its `limit`+1 smallest doc ids — enough to
    *     reconstruct any signature-pair's `limit` smallest doc pairs: the
    *     k-th smallest (min,max)-lexicographic pair over two id sets uses
    *     only ids among the k+1 smallest of each side (any pair built on a
    *     deeper id is lex-beaten by ≥ k+1 pairs substituting a smaller id);
    *  2. band-join SIGNATURES on (band, byte) — ≤ 2·256·(256²/2) ≈ 16.7 M
    *     signature pairs REGARDLESS of corpus size, tiny rows, broadcast
    *     build side;
    *  3. rank signature pairs by (hamming, minimal doc pair) and keep the
    *     top `limit`: every doc pair belongs to exactly one signature pair,
    *     so a signature pair outside this top-`limit` is lex-beaten by ≥
    *     `limit` distinct minimal pairs and can contribute nothing;
    *  4. expand only those ≤ `limit` signature pairs into doc pairs
    *     (≤ `limit`·(`limit`+1)² rows) and take the global top `limit`.
    *
    * One corpus-sized shuffle (the per-signature window), then constant-
    * bounded work — O(n) at any scale. Reference behavior: simhash
    * near-dup ranking per SURVEY §2 x_simhash_pairs. */
  def simhashBandTopPairs(df: DataFrame, textCol: String, idCol: String,
                          limit: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigs = Par.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), simhash16(split(col(textCol), " ")).as("sh"))
    // limit+1 smallest ids per signature via a window (NOT collect_list over
    // the whole group: a saturated signature would buffer a corpus-sized
    // array in one aggregation state); counts ride the same shuffle.
    val w = Window.partitionBy("sh").orderBy("id")
    val sigTop = sigs
      .select(col("sh"), col("id"), row_number().over(w).as("__rn"),
        count(lit(1)).over(Window.partitionBy("sh")).as("cnt"))
      .filter(col("__rn") <= limit + 1)
      .groupBy("sh", "cnt")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .localCheckpoint() // ≤ 65 536 rows; cuts the corpus scan from reruns
    val bands = sigTop.select(col("sh"), element_at(col("ids"), 1).as("id0"),
      explode(array(
        struct(lit(0).as("band"), col("sh").bitwiseAND(lit(255L)).as("key")),
        struct(lit(1).as("band"), shiftright(col("sh"), 8).as("key")))).as("b"))
      .select(col("sh"), col("id0"), col("b.band").as("band"), col("b.key").as("key"))
    // cross signature pairs sharing a band; minimal doc pair of a CROSS
    // signature pair is (least, greatest) of the two per-signature minima
    // (ids are globally unique, each side's best partner is the other's
    // minimum). distinct() collapses the both-bands-match duplication —
    // every carried column is a function of (sh_a, sh_b).
    val cross = bands.as("x")
      .join(broadcast(bands.as("y")),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.sh") < col("y.sh"))
      .select(col("x.sh").as("sh_a"), col("y.sh").as("sh_b"),
        hamming(col("x.sh"), col("y.sh")).cast("long").as("hamming"),
        least(col("x.id0"), col("y.id0")).as("m1"),
        greatest(col("x.id0"), col("y.id0")).as("m2"))
      .distinct()
    // a signature with ≥ 2 docs pairs with itself (both bands equal);
    // hamming 0, minimal pair = its two smallest ids
    val selfs = sigTop.filter(col("cnt") >= 2)
      .select(col("sh").as("sh_a"), col("sh").as("sh_b"),
        lit(0L).as("hamming"),
        element_at(col("ids"), 1).as("m1"), element_at(col("ids"), 2).as("m2"))
    val topSigPairs = cross.unionByName(selfs)
      .orderBy("hamming", "m1", "m2").limit(limit)
    // expand the surviving signature pairs only; u ≠ v orientation-collapsed
    // to (least, greatest), so self pairs dedupe via the distinct()
    topSigPairs
      .join(broadcast(sigTop.select(col("sh").as("sh_a"), col("ids").as("ia"))), Seq("sh_a"))
      .join(broadcast(sigTop.select(col("sh").as("sh_b"), col("ids").as("ib"))), Seq("sh_b"))
      .select(col("hamming"), explode(col("ia")).as("u"), col("ib"))
      .select(col("hamming"), col("u"), explode(col("ib")).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a_id"),
        greatest(col("u"), col("v")).as("b_id"), col("hamming"))
      .distinct()
      .orderBy("hamming", "a_id", "b_id")
      .limit(limit)
      .select("a_id", "b_id", "hamming")
  }
}
