package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup
    (3L, "completely different text about spark query engines and columnar formats here"),
    (4L, "short doc")).toDF("doc_id", "text")

  /** Inline form: derives the old band table from the old text and delegates
    * to `Dedup.incrementalNearDupsFromBands`. Correctness-equivalent; prod and
    * the bench use the band-store form — re-LSHing the corpus per refresh is
    * exactly what the store exists to avoid. */
  private def incrementalNearDups(newDf: DataFrame, oldDf: DataFrame,
                                  textCol: String, idCol: String,
                                  numHashes: Int = 8, bandSize: Int = 2,
                                  shingleK: Int = 3, threshold: Double = 0.7,
                                  maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val oldBands = Dedup.lshBands(
      Dedup.minhashSig(oldDf, textCol, idCol, numHashes, shingleK),
      idCol, numHashes, bandSize)
    Dedup.incrementalNearDupsFromBands(newDf, oldBands, oldDf, textCol, idCol,
      numHashes, bandSize, shingleK, threshold, maxBucket = maxBucket)
  }

  /** 16-bit SimHash from a PRE-MATERIALIZED array of md5(word) hex strings,
    * in ONE pass: each word's 16 "hex digit p >= 8" flags collapse to a
    * 16-bit mask (one translate + one base-2 parse per word), and a single
    * `aggregate` folds all 16 vote counters at once — 16 bitmask tests per
    * word instead of 16 positional array passes, an order of magnitude less
    * array traffic than the per-bit formulation. Bit p of the result is the
    * majority vote of the top bit of hex digit p, weighted ±1 per token;
    * ties (vote == 0, incl. the empty array) set the bit. Bit-identical to
    * the per-bit original (DedupSpec asserts known vectors). */
  private def simhash16FromHashes(wordHashes: Column): Column = {
    // digit p of the hash maps to mask bit (16 - p): substring position 1
    // is the most significant binary digit of the conv() parse
    val masks = transform(wordHashes, h =>
      conv(translate(substring(h, 1, 16),
        "0123456789abcdef", "0000000011111111"), 2, 10).cast("long"))
    val packed = aggregate(
      masks,
      array((1 to 16).map(_ => lit(0)): _*),
      (acc, m) => array((1 to 16).map { p =>
        element_at(acc, p) +
          when(m.bitwiseAND(lit(1L << (16 - p))) =!= lit(0L), lit(1)).otherwise(lit(-1))
      }: _*),
      acc => (1 to 16).map { p =>
        when(element_at(acc, p) >= 0, lit(1L << (p - 1))).otherwise(lit(0L))
      }.reduce(_ + _))
    // null input folded to 0, matching the per-bit form (null vote -> bit 0)
    coalesce(packed, lit(0L))
  }

  test("exact dedup: dup group found, smallest id kept") {
    val got = Dedup.exactDedup(docs, "text", "doc_id").collect()
    assert(got.length === 4) // 5 docs, one exact pair
    val dupGroup = got.filter(_.getAs[Long]("cnt") === 2L)
    assert(dupGroup.length === 1)
    assert(dupGroup(0).getAs[Long]("keep_id") === 0L)
  }

  test("segmentDedup drops cross-doc boilerplate segments, keeps order") {
    val in = Seq(
      (1L, "ad ad ad ad a b c d e f g h"), // segs: boilerplate + 2 unique
      (2L, "ad ad ad ad p q r s"), //          segs: boilerplate + 1 unique
      (3L, "x y z w")).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(in, "doc_id", "text", k = 4, maxDocs = 1)
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) === 3L && got(0).getLong(2) === 1L)
    assert(got(0).getString(3) === "a b c d e f g h") // original order kept
    assert(got(1).getLong(1) === 2L && got(1).getLong(2) === 1L)
    assert(got(1).getString(3) === "p q r s")
    assert(got(2).getLong(2) === 0L && got(2).getString(3) === "x y z w")
  }

  test("paragraphDedup: delimiter units, literal delim, order kept, empties dropped") {
    val in = Seq(
      (1L, "cookie banner\n\nmy unique story\n\ncookie banner\n\nfooter"),
      (2L, "cookie banner\n\nanother tale\n\nfooter"),
      (3L, " \n\nsolo paragraph\n\n")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(in, "doc_id", "text", delim = "\n\n",
        maxDocs = 1)
      .orderBy("doc_id").collect()
    // doc 1: banner (x2 in-doc, cross-doc frequent) + footer dropped
    assert(got(0).getLong(1) === 4L && got(0).getLong(2) === 3L)
    assert(got(0).getString(3) === "my unique story")
    assert(got(1).getLong(1) === 3L && got(1).getLong(2) === 2L)
    assert(got(1).getString(3) === "another tale")
    // doc 3: whitespace-only unit never counted; unique paragraph survives
    assert(got(2).getLong(1) === 1L && got(2).getLong(2) === 0L)
    assert(got(2).getString(3) === "solo paragraph")
    // delimiter is literal: a '.' delim must not behave as regex-any
    val dots = Seq((1L, "aXbXa"), (2L, "c")).toDF("doc_id", "text")
    val lit = Dedup.paragraphDedup(dots, "doc_id", "text", delim = "X",
        maxDocs = 1).orderBy("doc_id").collect()
    assert(lit(0).getLong(1) === 3L) // a, b, a — split on literal X
  }

  test("paragraph/segment dedup: NULL text reads as (0 units, 0 dropped, '')") {
    // the DuckDB oracle twins emit 0/'' for NULL text; the Spark side must
    // not surface NULL n_units/cleaned (round-12 advice — parity at scale,
    // where NULL-text docs are routine)
    val in = Seq((1L, null: String), (2L, "real text here ok")).toDF("doc_id", "text")
    val para = Dedup.paragraphDedup(in, "doc_id", "text", delim = "\n\n",
        maxDocs = 1).orderBy("doc_id").collect()
    assert(para(0).getLong(1) === 0L && para(0).getLong(2) === 0L)
    assert(para(0).getString(3) === "")
    val seg = Dedup.segmentDedup(in, "doc_id", "text", k = 2, maxDocs = 1)
      .orderBy("doc_id").collect()
    assert(seg(0).getLong(1) === 0L && seg(0).getLong(2) === 0L)
    assert(seg(0).getString(3) === "")
    assert(seg(1).getLong(1) === 2L) // non-null doc unaffected
  }

  test("segmentDedup: short tail segment counts; all-boilerplate doc -> empty cleaned") {
    val in = Seq(
      (1L, "b b b b"),
      (2L, "b b b b"),
      (3L, "b b b b tail")).toDF("doc_id", "text") // tail = its own 1-word segment
    val got = Dedup.segmentDedup(in, "doc_id", "text", k = 4, maxDocs = 1)
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) === 1L && got(0).getLong(2) === 1L)
    assert(got(0).getString(3) === "") // nothing survives, '' not null
    assert(got(2).getLong(1) === 2L && got(2).getLong(2) === 1L)
    assert(got(2).getString(3) === "tail")
  }

  test("segmentDedup: no segment above threshold -> everything survives") {
    val in = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(in, "doc_id", "text", k = 4, maxDocs = 1)
      .orderBy("doc_id").collect()
    assert(got.forall(_.getLong(2) === 0L))
    assert(got(0).getString(3) === "a b c d")
  }

  // Shared run "A B C D E" starts at word 2 in doc 10 and word 1 in doc 11 —
  // NOT aligned to any k=4 segment boundary, so segmentDedup cannot see it;
  // the sliding-window span detector must.
  private lazy val unalignedRunDocs = Seq(
    (10L, "u1 u2 A B C D E u3 u4 u5"),
    (11L, "v1 A B C D E v2 v3 v4 v5")).toDF("doc_id", "text")

  test("duplicateSpanStats: unaligned cross-doc run found; coverage is a UNION, not a sum") {
    val got = Dedup.duplicateSpanStats(unalignedRunDocs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
    // per doc: windows [A B C D] and [B C D E] each occur 2x corpus-wide
    // -> 2 dup windows; covered positions union to the 5-word run (2 windows
    // x 4 words = 8 summed — union must be 5)
    assert(got.map(_.getAs[Long]("n_dup_windows")).toSeq === Seq(2L, 2L))
    assert(got.map(_.getAs[Long]("dup_cov")).toSeq === Seq(5L, 5L))
    assert(got.map(_.getAs[Double]("dup_frac")).toSeq === Seq(0.5, 0.5))
    // the complement claim in the scaladoc: aligned-segment dedup MISSES this
    val seg = Dedup.segmentDedup(unalignedRunDocs, "doc_id", "text", k = 4, maxDocs = 1)
      .orderBy("doc_id").collect()
    assert(seg.forall(_.getAs[Long]("n_dropped") === 0L))
  }

  test("duplicateSpanScrub: covered words removed, order kept, unique words survive") {
    val got = Dedup.duplicateSpanScrub(unalignedRunDocs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Long]("n_dropped") === 5L)
    assert(got(0).getAs[String]("cleaned") === "u1 u2 u3 u4 u5")
    assert(got(1).getAs[String]("cleaned") === "v1 v2 v3 v4 v5")
  }

  test("duplicateSpanStats: WITHIN-doc repeat counts (corpus-wide frequency, not distinct docs)") {
    val in = Seq(
      (20L, "m n o p q m n o p q r s"), // run repeats inside ONE doc
      (21L, "tiny doc")).toDF("doc_id", "text") //  shorter than k: no windows
    val got = Dedup.duplicateSpanStats(in, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
    // dup windows: [m n o p] at 0 and 5, [n o p q] at 1 and 6 -> 4 occurrences;
    // coverage [0..4] U [5..9] = 10 of 12 words
    assert(got(0).getAs[Long]("n_dup_windows") === 4L)
    assert(got(0).getAs[Long]("dup_cov") === 10L)
    assert(got(1).getAs[Long]("n_dup_windows") === 0L)
    assert(got(1).getAs[Long]("dup_cov") === 0L)
    val scrub = Dedup.duplicateSpanScrub(in, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
    assert(scrub(0).getAs[String]("cleaned") === "r s")
    assert(scrub(1).getAs[String]("cleaned") === "tiny doc") // untouched
  }

  test("minhash: identical docs get identical signatures; short doc handled") {
    val sig = Dedup.minhashSig(docs, "text", "doc_id").orderBy("doc_id").collect()
    assert(sig.length === 5)
    val s0 = sig(0).toSeq.drop(1)
    val s1 = sig(1).toSeq.drop(1)
    assert(s0 === s1)
    val s3 = sig(3).toSeq.drop(1)
    assert(s0 !== s3)
  }

  test("LSH banding: exact + near dups become candidate pairs, unrelated don't") {
    val sig = Dedup.minhashSig(docs, "text", "doc_id")
    val pairs = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("candidatePairs: degenerate buckets above maxBucket are dropped") {
    // bucket "big" holds 3 docs, "ok" holds 2: with maxBucket=2 only the
    // "ok" pair survives; members of "big" stay eligible via other bands
    // (doc 1 and 2 also share bucket "side" in band 1)
    val bands = Seq(
      (1L, 0, "big"), (2L, 0, "big"), (3L, 0, "big"),
      (4L, 0, "ok"), (5L, 0, "ok"),
      (1L, 1, "side"), (2L, 1, "side"))
      .toDF("doc_id", "band", "bucket")
    val capped = Dedup.candidatePairs(bands, "doc_id", maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((4L, 5L), (1L, 2L)))
    // uncapped keeps the full Σ bucket² set
    val full = Dedup.candidatePairs(bands, "doc_id", maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("bucket cap: window and anti-join routes drop the identical row set") {
    // the measured routing (BucketCapWindowMaxBytes) picks a form by plan
    // stats; force EACH route via the test sysprop and assert identical
    // candidate output — the routing contract both PLANS.md and the 1 M
    // probe rely on
    val bands = Seq(
      (1L, 0, "big"), (2L, 0, "big"), (3L, 0, "big"),
      (4L, 0, "ok"), (5L, 0, "ok"),
      (1L, 1, "side"), (2L, 1, "side"))
      .toDF("doc_id", "band", "bucket")
    def run(thresholdBytes: Long): Set[(Long, Long)] = {
      System.setProperty("graft.test.bucketCapWindowMaxBytes",
        thresholdBytes.toString)
      try Dedup.candidatePairs(bands, "doc_id", maxBucket = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally System.clearProperty("graft.test.bucketCapWindowMaxBytes")
    }
    val viaWindow = run(Long.MaxValue) // stats always below ⇒ window form
    val viaAntiJoin = run(0L)          // stats never below ⇒ anti-join form
    assert(viaWindow === viaAntiJoin)
    assert(viaWindow === Set((4L, 5L), (1L, 2L)))
  }

  test("maxTokenFor: floor below the knee, fractional above, explicit wins") {
    // below the knee the DefaultMaxBucket floor rules (gate corpora live
    // here — derived == old absolute cap, so oracle hashes are unchanged)
    assert(Dedup.maxTokenFor(0) === Dedup.DefaultMaxBucket)
    assert(Dedup.maxTokenFor(5000) === Dedup.DefaultMaxBucket)
    assert(Dedup.maxTokenFor(50000) === Dedup.DefaultMaxBucket)
    // above it the cap scales with the corpus: stable exclusion under
    // replication (the boilerplate-heavy worst case)
    assert(Dedup.maxTokenFor(50001) === 1001)
    assert(Dedup.maxTokenFor(100000) === 2000)
    assert(Dedup.maxTokenFor(1000000) === 20000)
  }

  test("derived maxToken: explicit absolute cap still excludes boilerplate grams") {
    import spark.implicits._
    // "c1 c2 c3" is a shared boilerplate run across every doc; with the
    // derived cap (floor = 1000 on 4 docs: inert) the shared gram is pair
    // evidence, with an explicit tiny cap it is excluded and no pair forms
    val hand = Seq(
      (1L, "c1 c2 c3 alpha beta"),
      (2L, "c1 c2 c3 gamma delta"),
      (3L, "c1 c2 c3 epsilon zeta"),
      (4L, "c1 c2 c3 eta theta")).toDF("doc_id", "text")
    val auto = Dedup.prefixJoinPairs(hand, "text", "doc_id", threshold = 0.2)
      .count()
    assert(auto > 0) // the shared shingle counts under the inert floor
    val strict = Dedup.prefixJoinPairs(hand, "text", "doc_id", threshold = 0.2,
      maxToken = 1).count()
    assert(strict === 0L) // every shared gram is over the absolute cap
  }

  test("near-dup end-to-end: jaccard-verified pairs at threshold") {
    val got = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = got.map(t => (t._1, t._2)).toSet
    assert(ids.contains((0L, 1L)))
    assert(got.find(t => t._1 == 0L && t._2 == 1L).get._3 === 1.0)
    assert(!ids.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("prefix join: LOSSLESS — equals brute-force all-pairs Jaccard at threshold") {
    // real corpus slice, small enough for the quadratic ground truth
    val corpus = graft.queries.Td.t(spark, sf0001, "documents")
      .select("doc_id", "text").limit(60).cache()
    try {
      val t = 0.2
      val sets = corpus
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          array_distinct(Dedup.shinglesOfWords(col("ws"), 3)).as("sset"))
      val truth = sets.as("a").crossJoin(sets.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .withColumn("j", Dedup.jaccard(col("a.sset"), col("b.sset")))
        .filter(col("j") >= t)
        .select(col("a.doc_id"), col("b.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.prefixJoinPairs(corpus, "text", "doc_id", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === truth, // no pair missed, none invented
        s"missed=${truth -- got} extra=${got -- truth}")
      // and it strictly dominates the capped-LSH recall at this threshold
      val lsh = Dedup.nearDupPairs(corpus, "text", "doc_id", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh.subsetOf(got))
    } finally { corpus.unpersist(); () }
  }

  test("containment join: LOSSLESS vs brute force on the capped universe; quote-inclusion found") {
    import spark.implicits._
    // hand vector: doc 2 is a verbatim paragraph of doc 1 (J tiny, C = 1);
    // doc 3 shares half its grams with doc 1; doc 4 is disjoint
    val para = "alpha beta gamma delta epsilon zeta"
    val hand = Seq(
      (1L, para + " " + (1 to 40).map(i => s"filler$i").mkString(" ")),
      (2L, para),
      (3L, "alpha beta gamma other words here"),
      (4L, "unrelated content entirely different")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(hand, "text", "doc_id", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((2L, 1L)) === 1.0)          // the quoted paragraph
    assert(!got.keySet.contains((1L, 2L))) // big doc is NOT contained in small
    assert(got.keySet.forall { case (a, b) => a != 4L && b != 4L })
    // Jaccard at the same threshold misses the quote (J = 4/43 here)
    val j = Dedup.prefixJoinPairs(hand, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((1L, 2L)) && !j.contains((2L, 1L)))

    // lossless vs quadratic ground truth on a real corpus slice
    val corpus = graft.queries.Td.t(spark, sf0001, "documents")
      .select("doc_id", "text").limit(60).cache()
    try {
      val t = 0.3
      val sets = corpus
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          array_distinct(Dedup.shinglesOfWords(col("ws"), 3)).as("sset"))
      // cap is inert on 60 docs (max df << 1000): the capped universe IS
      // the full one, so direct all-pairs containment is the ground truth
      val truth = sets.as("a").crossJoin(sets.as("b"))
        .filter(col("a.doc_id") =!= col("b.doc_id"))
        .withColumn("c", round(
          size(array_intersect(col("a.sset"), col("b.sset"))).cast("double") /
            size(col("a.sset")), 6))
        .filter(col("c") >= t)
        .select(col("a.doc_id"), col("b.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pj = Dedup.containmentPairs(corpus, "text", "doc_id", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pj === truth, s"missed=${truth -- pj} extra=${pj -- truth}")
    } finally { corpus.unpersist(); () }
  }

  test("shingle store: store-backed pair joins equal the inline forms; artifact built once") {
    val inlineDocs = graft.queries.Td.t(spark, sf0001, "documents")
      .select("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame, cols: (String, String, String)) =
      df.orderBy(cols._1, cols._2).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9) / 1e9)).toSeq
    val storePath = Dedup.shingleStorePathFor(spark, sf0001, "doc_id", "text")
    // both tables materialized behind the readiness marker
    assert(new java.io.File(s"$storePath/_GRAFT_READY").exists())
    assert(spark.read.parquet(s"$storePath/isets").columns.toSet === Set("doc_id", "tids"))
    assert(spark.read.parquet(s"$storePath/freq").columns.toSet === Set("__tid", "__f"))
    // prefix: store == inline, at two thresholds
    for (t <- Seq(0.2, 0.5)) {
      val viaStore = pairs(Dedup.prefixJoinPairsFromStore(
        spark, sf0001, "doc_id", "text", threshold = t), ("a_id", "b_id", "jaccard"))
      val viaInline = pairs(Dedup.prefixJoinPairs(
        inlineDocs, "text", "doc_id", threshold = t), ("a_id", "b_id", "jaccard"))
      assert(viaStore === viaInline, s"prefix t=$t")
    }
    // containment: store == inline
    val cStore = pairs(Dedup.containmentPairsFromStore(
      spark, sf0001, "doc_id", "text", threshold = 0.5), ("a_id", "b_id", "containment"))
    val cInline = pairs(Dedup.containmentPairs(
      inlineDocs, "text", "doc_id", threshold = 0.5), ("a_id", "b_id", "containment"))
    assert(cStore === cInline)
    // same (data, config) key resolves to the same artifact — built once
    assert(Dedup.shingleStorePathFor(spark, sf0001, "doc_id", "text") === storePath)
  }

  test("near-dup pair store: store-backed graph equals the inline pipeline; built once") {
    val inlineDocs = graft.queries.Td.t(spark, sf0001, "documents")
      .select("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9) / 1e9)).toSeq
    val storePath = Dedup.nearDupPairsPathFor(spark, sf0001, "doc_id", "text",
      threshold = 0.2)
    assert(new java.io.File(s"$storePath/_SUCCESS").exists())
    val viaStore = pairs(Dedup.nearDupPairsFromStore(
      spark, sf0001, "doc_id", "text", threshold = 0.2))
    val viaInline = pairs(Dedup.nearDupPairs(
      inlineDocs, "text", "doc_id", threshold = 0.2))
    assert(viaStore === viaInline)
    // the reader's scan is the parquet artifact, not a recomputation
    val visible = Dedup.nearDupPairsFromStore(
      spark, sf0001, "doc_id", "text", threshold = 0.2)
    assert(visible.inputFiles.forall(_.contains(storePath)))
    // same (data, config) key resolves to the same artifact — built once
    assert(Dedup.nearDupPairsPathFor(spark, sf0001, "doc_id", "text",
      threshold = 0.2) === storePath)
  }

  test("source overlap: exact-fp pair arithmetic and pairs-based matrix agree with hand counts") {
    import spark.implicits._
    // "boiler" appears 3x in src A, 2x in src B; "uniq" rows are singletons
    val hand = Seq(
      (1L, "boiler plate text", "A"), (2L, "boiler plate text", "A"),
      (3L, "boiler plate text", "A"), (4L, "boiler plate text", "B"),
      (5L, "boiler plate text", "B"), (6L, "uniq one", "A"),
      (7L, "uniq two", "B")).toDF("doc_id", "text", "source")
    // pairs-based matrix: feed an explicit pair list, check normalization
    val pairs = Seq((1L, 4L), (4L, 2L), (6L, 7L), (1L, 2L))
      .toDF("a_id", "b_id")
    val pm = Dedup.sourceOverlapFromPairs(pairs, hand, "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pm === Map(("A", "A") -> 1L, ("A", "B") -> 3L))
  }

  test("winnowPairs: planted partial overlap found; disjoint docs produce no pair") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"run$i").mkString(" ") // 10-word shared run
    val hand = Seq(
      (1L, s"$run " + (1 to 30).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 25).map(i => s"b$i").mkString(" ") + s" $run"),
      (3L, (1 to 40).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(hand, "text", "doc_id", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
  }

  test("near-dup leaves no cached RDDs; signatures are a map, not a shuffle") {
    // diff, not isEmpty: other suites may share this session's cache registry
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.5)
    df.collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"nearDupPairs must not leak persisted storage: $leaked")
    // r15: the sig+verify-set computation is per-row array work — the plan
    // must contain NO aggregate before banding (the r13 exploded groupBy
    // paid a corpus-wide exchange to re-group rows by their own id; ~68 GB
    // at the 30 M rung) and no Generate (explode) on the corpus side
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate(keys=[doc_id"), plan.take(1500))
    assert(!plan.contains("Generate explode"), plan.take(1500))
  }

  test("jaccard: identical=1, disjoint=0") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val got = df.select(Dedup.jaccard(col("x"), col("y"))).collect().map(_.getDouble(0))
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
    assert(got(2) === 0.5)
  }

  test("simhash16: identical texts equal; similar texts close in hamming") {
    val sh = docs.select(col("doc_id"), Dedup.simhash16(split(col("text"), " ")).as("sh"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(sh(0) === sh(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0), sh(2)) <= 4)     // one-word change moves few bits
    assert(sh.forall(v => v >= 0 && v < 65536))
  }

  test("simhashBandTopPairs: signature collapse equals the doc-level band join") {
    // real corpus slice + planted signature collisions (verbatim repeats →
    // equal signatures → self signature-pairs; the collapse's self/cross
    // split and the 21-id truncation both get exercised)
    val base = graft.queries.Td.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val planted = base.limit(30)
      .select(col("doc_id") + lit(1000000L), col("text"))
      .toDF("doc_id", "text")
    val corpus = base.unionByName(planted).localCheckpoint()
    // brute-force ground truth: band every doc, self-join, rank by hamming
    val sh = corpus
      .select(col("doc_id"), Dedup.simhash16(split(col("text"), " ")).as("sh"))
    val banded = sh.select(col("doc_id"), col("sh"),
      explode(array(
        struct(lit(0).as("band"), col("sh").bitwiseAND(lit(255L)).as("key")),
        struct(lit(1).as("band"), shiftright(col("sh"), 8).as("key")))).as("b"))
      .select(col("doc_id"), col("sh"), col("b.band").as("band"), col("b.key").as("key"))
    for (lim <- Seq(5, 20, 100)) {
      val want = banded.as("x")
        .join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
          Dedup.hamming(col("x.sh"), col("y.sh")).cast("long").as("hamming"))
        .distinct().orderBy("hamming", "a_id", "b_id").limit(lim)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val got = Dedup.simhashBandTopPairs(corpus, "text", "doc_id", lim)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === want, s"limit=$lim")
    }
  }

  test("hamming column helper") {
    val got = Seq((0xFFL, 0x0FL)).toDF("a", "b")
      .select(Dedup.hamming(col("a"), col("b"))).collect()(0).getInt(0)
    assert(got === 4)
  }

  test("incremental near-dup: equals the cross-batch slice of the full dedup") {
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    val full = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = incrementalNearDups(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        "text", "doc_id", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // full emits (a < b); incremental emits (new, old) = (b, a) for exactly
    // the pairs straddling the split
    val expected = full.filter { case (a, b) => a < 250 && b >= 250 }
      .map { case (a, b) => (b, a) }
    assert(incr === expected)
    assert(incr.nonEmpty, "split must produce cross-batch pairs at sf0.001")
  }

  test("dedupClusters: min-label propagation over a known pair graph") {
    // chain 1-2-3-7 needs multiple propagation rounds; 10-11 is a 2-cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L)).toDF("a_id", "b_id")
    val got = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dedupClusters: deep chain (diameter 34) converges in log rounds") {
    // a web-boilerplate-style near-dup CHAIN: a naive one-hop propagation
    // needs diameter rounds (> the default 20); pointer jumping must close
    // it well within the budget, with every node labeled by the chain min
    val pairs = (1L until 35L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.dedupClusters(pairs, maxIters = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 35)
    assert(got.values.toSet === Set(1L))
  }

  test("dedupClusters: non-convergence throws, never returns partial labels") {
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Dedup.dedupClusters(pairs, maxIters = 2)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("simhash16 single-pass equals the per-bit reference formulation") {
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    val wh = transform(split(col("text"), " "), w => md5(w))
    val high = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val perBit = (1 to 16).map { p =>
      val vote = aggregate(
        transform(wh, h =>
          when(substring(h, p, 1).isin(high.map(x => x: Any): _*), lit(1))
            .otherwise(lit(-1))),
        lit(0), (acc, v) => acc + v)
      when(vote >= 0, lit(1L << (p - 1))).otherwise(lit(0L))
    }.reduce(_ + _)
    val mismatches = docs
      .select(simhash16FromHashes(wh).as("a"), perBit.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches === 0L)
    // native kernel == the fold form on every corpus doc (+ empty-array tie
    // behavior: all 16 votes tie at 0 -> every bit set)
    val nativeMismatch = docs
      .select(Dedup.simhash16(split(col("text"), " ")).as("a"),
        simhash16FromHashes(wh).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(nativeMismatch === 0L)
    val empty = Seq(Seq.empty[String]).toDF("ws")
      .select(Dedup.simhash16(col("ws"))).collect()(0).getLong(0)
    assert(empty === 0xFFFFL)
    // null words array folds to 0L (the fold-form contract) — banding on
    // the signature must never see a NULL key
    val nullSig = Seq(Tuple1(null: Seq[String])).toDF("ws")
      .select(Dedup.simhash16(col("ws"))).collect()(0)
    assert(!nullSig.isNullAt(0) && nullSig.getLong(0) === 0L)
  }

  test("incremental near-dup from the persisted band store: equal result, store is scanned") {
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    val storePath = Dedup.bandStorePathFor(spark, sf0001, "doc_id", "text",
      idUpperExclusive = 250L)
    val store = spark.read.parquet(storePath)
    val fromStore = Dedup.incrementalNearDupsFromBands(
      docs.filter(col("doc_id") >= 250), store, docs.filter(col("doc_id") < 250),
      "text", "doc_id", threshold = 0.2)
    // the probe's old side must come from the band-store parquet (lineage
    // inspected with materialization off — localCheckpoint would hide it)
    val visible = Dedup.incrementalNearDupsFromBands(
      docs.filter(col("doc_id") >= 250), store, docs.filter(col("doc_id") < 250),
      "text", "doc_id", threshold = 0.2, materializeCands = false)
    assert(visible.inputFiles.exists(_.contains(storePath)),
      s"band store $storePath not in ${visible.inputFiles.take(5).mkString(",")}")
    val inline = incrementalNearDups(
      docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
      "text", "doc_id", threshold = 0.2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(fromStore) === key(inline))
    assert(key(fromStore).nonEmpty)
  }

  test("dedupClusters: empty pair set converges immediately to empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.dedupClusters(empty).count() === 0L)
  }

  test("dedupClusters property: equals union-find on random pair graphs") {
    import org.scalacheck.{Gen, Prop}
    val pairGen = for {
      a <- Gen.chooseNum(1L, 24L)
      b <- Gen.chooseNum(1L, 24L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    val p = Prop.forAll(Gen.nonEmptyListOf(pairGen)) { pairs =>
      val got = Dedup.dedupClusters(pairs.toDF("a_id", "b_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // naive union-find oracle
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p0 = parent.getOrElseUpdate(x, x)
        if (p0 == x) x else { val r = find(p0); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val naive = parent.keys.map(n => n -> find(n)).toMap
      got == naive
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("band store: partitioned by band, probe of one band prunes the rest") {
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    val bands = Dedup.lshBands(Dedup.minhashSig(docs, "text", "doc_id"), "doc_id")
    val path = java.nio.file.Files.createTempDirectory("graft_bands").toString
    Dedup.writeBands(bands, path)
    val store = spark.read.parquet(path)
    assert(store.count() === bands.count())
    val probe = store.filter(col("band") === 2)
    // partition pruning: the band predicate becomes a PartitionFilter on the
    // scan (inputFiles can't show this — it lists the unfiltered relation)
    val planStr = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*band".r.findFirstIn(planStr).isDefined,
      planStr.take(1200))
    assert(probe.select("doc_id").count() > 0)
  }

  test("band store lifecycle: two appended generations probe as one store") {
    // "appended as the corpus grows": generation 1 = docs < 150, generation
    // 2 = docs in [150, 250) — probing across both generations must equal
    // the inline recompute over the union, and band pruning must survive
    // the multi-generation layout.
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_bands_gen").toString
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.lshBands(Dedup.minhashSig(df, "text", "doc_id"), "doc_id")
    Dedup.writeBands(bandsOf(docs.filter(col("doc_id") < 150)), path)
    Dedup.writeBands(bandsOf(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 250)), path)
    val store = spark.read.parquet(path)
    assert(store.count() === bandsOf(docs.filter(col("doc_id") < 250)).count())

    val fromStore = Dedup.incrementalNearDupsFromBands(
      docs.filter(col("doc_id") >= 250), store, docs.filter(col("doc_id") < 250),
      "text", "doc_id", threshold = 0.2)
    val inline = incrementalNearDups(
      docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
      "text", "doc_id", threshold = 0.2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(fromStore) === key(inline))
    assert(key(fromStore).nonEmpty)

    // pruning still holds across generations
    val probe = store.filter(col("band") === 1)
    val planStr = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*band".r.findFirstIn(planStr).isDefined,
      planStr.take(1200))
  }

  test("bandStorePathFor: warehouse URI on the Hadoop FS API, rebuilt on data change") {
    // scheme-qualified URI (file:/…) exercises the FS-resolution path a
    // bare java.io path never does; same code path serves s3a://, hdfs://
    val wh = "file:" + java.nio.file.Files
      .createTempDirectory("graft_band_wh").toString
    val p1 = Dedup.bandStorePathFor(spark, sf0001, "doc_id", "text",
      idUpperExclusive = 250L, warehouse = Some(wh))
    assert(p1.startsWith(wh))
    val fs = new org.apache.hadoop.fs.Path(p1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p1/_SUCCESS")))
    assert(spark.read.parquet(p1).count() > 0)
    // same inputs -> same cached path; the fingerprint keys on the SOURCE
    // dataset, so an unchanged source reuses the artifact
    assert(Dedup.bandStorePathFor(spark, sf0001, "doc_id", "text",
      idUpperExclusive = 250L, warehouse = Some(wh)) === p1)
    // a different split is a different artifact under the same warehouse
    val p2 = Dedup.bandStorePathFor(spark, sf0001, "doc_id", "text",
      idUpperExclusive = 150L, warehouse = Some(wh))
    assert(p2 !== p1)
    assert(p2.startsWith(wh))
  }

  test("wordShingles: k-grams with short-text fallback") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.shinglesOfWords(split(col("t"), " "), 3)).collect()
      .map(_.getSeq[String](0).toSeq)
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq("a b"))
  }

  test("big-corpus (shuffle) paths emit identical results to the broadcast paths") {
    // The stats gate routes fixture-sized data down the broadcast/small
    // branches; production corpora take the shuffled-join branches. Force
    // the big branches onto the fixtures and assert pair-level equality for
    // every gated operator — the at-scale plan shape must not change one
    // result row.
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    def results(): Map[String, Seq[(Long, Long)]] = Map(
      "near" -> Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.2)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
      "prefix" -> Dedup.prefixJoinPairs(docs, "text", "doc_id", threshold = 0.2)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
      "contain" -> Dedup.containmentPairs(docs, "text", "doc_id", threshold = 0.5)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
      "winnow" -> Dedup.winnowPairs(docs, "text", "doc_id")
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    val small = results()
    assert(small("near").nonEmpty || small("prefix").nonEmpty) // non-vacuous
    System.setProperty("graft.test.sizeRatioPrefilterMinBytes", "1")
    try {
      val big = results()
      small.keys.foreach(k => assert(big(k) === small(k), s"op $k"))
    } finally System.clearProperty("graft.test.sizeRatioPrefilterMinBytes")
  }

  test("null-text docs keep their signature row (r15 review: the explode never dropped them)") {
    // shinglesOfWords' short-text fallback folds a NULL word array to the
    // [""] singleton (concat_ws over NULL is ""), so the exploded groupBy
    // form always emitted one signature row per doc — null text included.
    // The r15 per-row rewrite must preserve that: a draft filter dropped
    // null-text docs, silently changing dedup populations on real corpora
    // (failed fetches are common).
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "some actual words here")).toDF("doc_id", "text")
    val sig = Dedup.minhashSig(docs, "text", "doc_id", withSetSize = true)
      .orderBy("doc_id").collect()
    assert(sig.length === 4, "one signature row per doc, null text included")
    // null text and empty text share the [""] shingle set -> equal sigs
    assert(sig(0).getLong(1) === sig(1).getLong(1))
    assert(sig(0).getInt(9) === 1) // __nset = the [""] singleton
    // the two null-text docs are verbatim dups: nearDupPairs finds them
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.7)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)) || pairs.contains((3L, 1L)))
  }

  test("parquet materialization routes are bit-identical to the in-memory checkpoints") {
    // r14 verdict item 1: the dedup family's big-corpus materializations
    // must take the parquet round-trip (localCheckpoint pins the full
    // deserialized table in executor storage — the 30 M-edge link-probe
    // OOM). Force each size route's BIG branch onto the fixture corpus and
    // assert the results are unchanged row for row.
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    def near() = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.2,
        materialize = true)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val small = near()
    assert(small.nonEmpty) // non-vacuous
    System.setProperty("graft.test.sizeRatioPrefilterMinBytes", "1")
    try assert(near() === small)
    finally System.clearProperty("graft.test.sizeRatioPrefilterMinBytes")
    // the cluster iteration: force every per-round table onto the parquet
    // route (threshold 1 row) — also proves the convergence Observation
    // rides a parquet-write action as well as it rode localCheckpoint
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L),
      (8L, 9L), (9L, 10L)).toDF("a_id", "b_id")
    val base = Dedup.dedupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    System.setProperty("graft.test.clusterMatMinRows", "1")
    try {
      val (lab, rounds) = Dedup.dedupClustersWithRounds(pairs)
      assert(lab.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        === base)
      assert(rounds >= 1)
    } finally System.clearProperty("graft.test.clusterMatMinRows")
  }

  test("token-join shuffle path equals the broadcast-index probe path") {
    // prefix/containment take the AllPairs broadcast-index probe when the
    // capped postings fit the budget; a 100 TB corpus takes the token-join
    // shuffle + count aggregation. Force the shuffle path onto the fixture
    // corpus (budget 0 = postings never fit) and assert value-level
    // equality including the similarity columns.
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    def results(): Map[String, Seq[(Long, Long, Double)]] = Map(
      "prefix" -> Dedup.prefixJoinPairs(docs, "text", "doc_id", threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted,
      "contain" -> Dedup.containmentPairs(docs, "text", "doc_id", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted,
      "winnow" -> Dedup.winnowPairs(docs, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toDouble)).toSeq.sorted)
    // winnow's volume gate (Σf²/postings) routes the small fixture to the
    // shuffle path on its own — zero the ratio so the first run provably
    // takes the probe on all three ops
    System.setProperty("graft.test.probeGainRatio", "0")
    try {
      val probed = results()
      assert(probed("prefix").nonEmpty) // non-vacuous
      System.setProperty("graft.test.probeIndexMaxPostings", "0")
      try {
        val shuffled = results()
        probed.keys.foreach(k => assert(shuffled(k) === probed(k), s"op $k"))
      } finally System.clearProperty("graft.test.probeIndexMaxPostings")
    } finally System.clearProperty("graft.test.probeGainRatio")
  }

  test("bloomNewDocs: exact at any fpp — equals the plain anti-join") {
    // corpus of 300 docs; batch of 100 where 40 are verbatim corpus dups.
    // fpp 0.4 forces false positives through the probe, so this asserts the
    // exact backstop, not a lucky filter.
    val corpus = (0 until 300).map(i => (i.toLong, s"corpus doc $i text"))
      .toDF("doc_id", "text")
    val batch = ((1000 until 1060).map(i => (i.toLong, s"fresh doc $i")) ++
      (0 until 40).map(i => (2000L + i, s"corpus doc $i text")))
      .toDF("doc_id", "text")
    for (fpp <- Seq(0.01, 0.4)) {
      val got = Dedup.bloomNewDocs(batch, corpus, "text", "doc_id", fpp = fpp)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      val ref = batch.join(corpus.select(md5(col("text")).as("h")),
          md5(batch("text")) === col("h"), "left_anti")
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq === ref.toSeq, s"fpp=$fpp")
      assert(got.length === 60)
    }
    // no false negatives: every corpus fingerprint must probe true
    val oldFp = corpus.select(md5(col("text")).as("fp"))
    val bf = oldFp.as[String].rdd.treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(300, 0.01))(
      (f, s) => { f.putString(s); f }, (a, b) => a.mergeInPlace(b))
    val misses = oldFp.filter(
      !graft.functions.GraftExpressions.bloom_might_contain(col("fp"), bf))
      .count()
    assert(misses === 0L)
  }

  test("bloomNewDocs: null text on either side matches the anti-join twin") {
    // null corpus text must not NPE the filter build; null batch text rows
    // never equi-match in the twin, so they must come out "new" here too.
    val corpus = (Seq((0L, "shared doc"), (1L, null)) ++
      (2 until 50).map(i => (i.toLong, s"corpus doc $i"))).toDF("doc_id", "text")
    val batch = Seq((100L, "shared doc"), (101L, null), (102L, "fresh doc"))
      .toDF("doc_id", "text")
    val got = Dedup.bloomNewDocs(batch, corpus, "text", "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), Option(r.getString(1))))
    val ref = batch.join(corpus.select(md5(col("text")).as("h")),
        md5(batch("text")) === col("h"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq === ref.toSeq)
    assert(got.map(_._1).toSeq === Seq(101L, 102L))
  }
}
