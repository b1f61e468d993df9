package graft

import org.apache.spark.sql.functions._
import graft.ext.{Sampling, TextFns}
import graft.queries.Td

/** Sampling / packing / quantile operators vs locally-computed ground truth. */
class SamplingSpec extends SparkTestBase {

  private lazy val docs = Td.t(spark, sf0001, "documents")

  test("stratified sampling: deterministic, rate-faithful, stable under growth") {
    val rates = Map("en" -> 10, "es" -> 100)
    val kept = docs.filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"), rates))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // rate 100 keeps every es doc; unknown strata (zh/de/fr) keep none
    val es = docs.filter(col("lang") === "es").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(es.subsetOf(kept))
    val known = docs.filter(col("lang").isin("en", "es")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(known))
    // en keep fraction lands near 10% (hash-uniform; 193 docs at sf0.001)
    val enTotal = docs.filter(col("lang") === "en").count()
    val enKept = (kept -- es).size
    assert(enKept > 0 && enKept < enTotal * 0.25,
      s"en kept $enKept of $enTotal, expected ~10%")
    // incremental stability: the decision depends only on (id, lang, rate),
    // so sampling half the corpus keeps exactly the kept ∩ half set
    val halfKept = docs.filter(col("doc_id") < 250)
      .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"), rates))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(halfKept === kept.filter(_ < 250))
  }

  test("token budget: maximal prefix kept, overflow stops intake, growth-stable") {
    import spark.implicits._
    // one source, token counts 3/5/2/4 — priority order is md5(doc_id)
    val df = Seq(
      (1L, "a b c", "web"),
      (2L, "d e f g h", "web"),
      (3L, "i j", "web"),
      (4L, "k l m n", "web"),
      (10L, "x y", "books"))
      .toDF("doc_id", "text", "source")
    val got = Sampling.tokenBudgetKeep(df, "doc_id", "source", "text", 8L)
      .select("doc_id", "n_tokens", "cum_tokens", "keep")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap

    // independent driver fold in the same priority order
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val web = Seq((1L, 3L), (2L, 5L), (3L, 2L), (4L, 4L))
      .sortBy { case (id, _) => (md5hex(id.toString), id) }
    var cum = 0L
    web.foreach { case (id, n) =>
      cum += n
      assert(got(id) === ((n, cum, if (cum <= 8L) 1 else 0)), s"doc $id")
    }
    // prefix property: kept set is exactly the maximal affordable prefix
    val keptIds = got.filter(_._2._3 == 1).keySet - 10L
    val prefix = web.scanLeft((0L, 0L)) { case ((_, c), (id, n)) => (id, c + n) }
      .drop(1).takeWhile(_._2 <= 8L).map(_._1).toSet
    assert(keptIds === prefix)
    // the other source fills independently
    assert(got(10L) === ((2L, 2L, 1)))
    // growth stability: adding docs to ANOTHER source never changes web's
    // decisions (per-source window partitioning)
    val grown = df.union(Seq((11L, "p q r", "books")).toDF("doc_id", "text", "source"))
    val got2 = Sampling.tokenBudgetKeep(grown, "doc_id", "source", "text", 8L)
      .filter(col("source") === "web")
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got2 === got.view.filterKeys(_ != 10L).map { case (k, v) => k -> v._3 }.toMap)
  }

  test("pack summary: no doc split, shard totals conserved, bins start-aligned") {
    val budget = 1000
    val packed = Sampling.packSummary(docs, "doc_id",
      TextFns.tokenCount(col("text")), budget, nShards = 4).collect()
    // token conservation: packed totals == raw totals per shard
    val rawByShard = docs
      .select(Sampling.hashShard(col("doc_id"), 4).as("shard"),
        TextFns.tokenCount(col("text")).as("n"))
      .groupBy("shard").agg(sum("n").as("tok"), count(lit(1)).as("nd"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val packedByShard = packed.groupBy(_.getLong(0)).map { case (s, rows) =>
      s -> (rows.map(_.getLong(3)).sum, rows.map(_.getLong(2)).sum)
    }
    assert(packedByShard === rawByShard)
    // ground-truth replay: walking each shard in id order reproduces the bins
    val local = docs
      .select(Sampling.hashShard(col("doc_id"), 4).as("shard"), col("doc_id"),
        TextFns.tokenCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .groupBy(_._1).toSeq.flatMap { case (s, rows) =>
        var cum = 0L
        rows.sortBy(_._2).map { case (_, _, n) =>
          val bin = cum / budget; cum += n; (s, bin)
        }
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val packedBins = packed.map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(packedBins === local)
  }

  test("source cap: keeps exactly the cap lowest ids per source") {
    val cap = 5
    val kept = Sampling.sourceCapKeep(docs, "doc_id", "source", cap)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = docs.select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      .groupBy(_._1).toSeq.flatMap { case (_, rows) => rows.sortBy(_._2).take(cap) }
    assert(kept.sorted === expected.sorted)
    // and the summary agrees with the filter
    val summary = Sampling.sourceCapSummary(docs, "doc_id", "source", cap)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(summary.values.forall(_ <= cap))
    assert(summary.values.sum === kept.size.toLong)
  }

  test("salted source cap equals the single-window route (any salts)") {
    val cap = 5
    val plain = Sampling.sourceCapKeep(docs, "doc_id", "source", cap)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    for (salts <- Seq(2, 8, 64)) {
      val salted = Sampling.sourceCapKeep(docs, "doc_id", "source", cap, salts)
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(salted === plain, s"salts=$salts")
    }
    // degenerate inputs: cap larger than any source, and a 1-doc source
    import spark.implicits._
    val tiny = Seq((1L, "solo"), (2L, "solo"), (3L, "other"))
      .toDF("doc_id", "source")
    val p = Sampling.sourceCapKeep(tiny, "doc_id", "source", 10)
      .collect().map(_.getLong(0)).toSet
    val s = Sampling.sourceCapKeep(tiny, "doc_id", "source", 10, salts = 4)
      .collect().map(_.getLong(0)).toSet
    assert(p === Set(1L, 2L, 3L) && s === p)
  }

  test("auto capping routes: plain below threshold, scale route above, equal results") {
    val cap = 5
    val plain = Sampling.sourceCapKeep(docs, "doc_id", "source", cap)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // default threshold: gate-scale data stays on the plain route
    val autoPlain = Sampling.sourceCapAuto(docs, "doc_id", "source", cap)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // threshold 0: every source counts as skewed -> salted route
    val autoSalted = Sampling.sourceCapAuto(docs, "doc_id", "source", cap,
        skewRowThreshold = 0L)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(autoPlain === plain && autoSalted === plain)

    val budPlain = Sampling.tokenBudgetKeep(docs, "doc_id", "source", "text", 5000L)
      .select("doc_id", "cum_tokens", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    for (th <- Seq(Sampling.AutoSkewRowThreshold, 10L, 0L)) {
      val auto = Sampling.tokenBudgetAuto(docs, "doc_id", "source", "text",
          5000L, skewRowThreshold = th)
        .select("doc_id", "cum_tokens", "keep").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
      assert(auto === budPlain, s"threshold=$th")
    }
    // the probe itself: max single-source count and total
    val (maxN, total) = Sampling.maxSourceRows(docs, "source")
    val bySource = docs.groupBy("source").count().collect().map(_.getLong(1))
    assert(maxN === bySource.max && total === bySource.sum)
  }

  test("range-bucketed token budget equals the single-window scan per row") {
    val plain = Sampling.tokenBudgetKeep(docs, "doc_id", "source", "text", 5000L)
      .select("doc_id", "n_tokens", "cum_tokens", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    for (buckets <- Seq(16, 256)) {
      val bucketed = Sampling.tokenBudgetKeep(
          docs, "doc_id", "source", "text", 5000L, rangeBuckets = buckets)
        .select("doc_id", "n_tokens", "cum_tokens", "keep").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
      assert(bucketed === plain, s"rangeBuckets=$buckets")
    }
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetKeep(docs, "doc_id", "source", "text", 5000L,
        rangeBuckets = 7)
    }
    // NULL source and NULL id rows must survive the bucketed route's join
    // (null-safe keys) — a plain equi-join would silently drop them while
    // the single-window route keeps them
    import spark.implicits._
    val withNulls = Seq(
      (Some(1L), "a b c", Some("web")),
      (Some(2L), "d e", None),
      (None, "f g h", Some("web")),
      (None, "i", None))
      .toDF("doc_id", "text", "source")
    val p = Sampling.tokenBudgetKeep(withNulls, "doc_id", "source", "text", 4L)
      .select("doc_id", "source", "cum_tokens", "keep").collect()
      .map(r => (r.get(0), r.get(1), r.getLong(2), r.getInt(3))).toSet
    val b = Sampling.tokenBudgetKeep(withNulls, "doc_id", "source", "text", 4L,
        rangeBuckets = 16)
      .select("doc_id", "source", "cum_tokens", "keep").collect()
      .map(r => (r.get(0), r.get(1), r.getLong(2), r.getInt(3))).toSet
    assert(p.size === 4 && b === p, "null-key rows must match the plain route")
  }

  test("split assignment: partitions the corpus, stable under growth") {
    val split = docs.select(col("doc_id"),
        Sampling.splitAssign(col("doc_id"), 90, 5).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.values.toSet.subsetOf(Set("train", "val", "test")))
    // ~90/5/5 on 500 docs; loose bounds, deterministic data so never flaky
    val n = split.size.toDouble
    assert(split.values.count(_ == "train") / n > 0.8)
    assert(split.values.count(_ == "test") / n < 0.15)
    // growth stability: recomputing on a subset never flips an assignment
    val sub = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), Sampling.splitAssign(col("doc_id"), 90, 5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(sub.forall { case (id, s) => split(id) == s })
  }

  test("quantile summary: property — matches rank pick on arbitrary value sets") {
    import org.scalacheck.{Gen, Prop}
    import spark.implicits._
    val p = Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 50L)),
        Gen.chooseNum(1, 99)) { (vs: List[Long], pct: Int) =>
      val df = vs.toDF("v")
      val row = Sampling.quantileSummary(df, "v", Seq(pct)).collect()(0)
      val sorted = vs.sorted
      val k = ((vs.length.toLong * pct + 99) / 100).toInt
      row.getAs[Long]("n_rows") == vs.length.toLong &&
        row.getAs[Long](s"p$pct") == sorted(k - 1)
    }
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), p)
    assert(r.passed, r.status.toString)
  }

  test("edge cases: empty input never throws, single doc packs into bin 0") {
    import spark.implicits._
    val empty = docs.filter(col("doc_id") < 0)
    assert(Sampling.stratifiedSummary(empty, "doc_id", "lang", Map("en" -> 50))
      .collect().isEmpty)
    assert(Sampling.packSummary(empty, "doc_id", TextFns.tokenCount(col("text")),
      1000, 4).collect().isEmpty)
    assert(Sampling.sourceCapSummary(empty, "doc_id", "source", 3)
      .collect().isEmpty)
    // quantile over zero rows: a single all-null row (agg with no groups),
    // defined and non-throwing
    val q0 = Sampling.quantileSummary(empty.select(col("n_chars").as("n")), "n",
      Seq(50)).collect()(0)
    assert(q0.isNullAt(q0.fieldIndex("p50")))
    val one = Sampling.packSummary(docs.filter(col("doc_id") === 1), "doc_id",
      TextFns.tokenCount(col("text")), 10, 4).collect()
    assert(one.length === 1 && one(0).getLong(1) === 0L)
  }

  test("curation funnel: one-pass stage counts equal sequential filtering") {
    val q = graft.queries.ExtQueries.inventory
      .find(_._1 == "x_curation_funnel").get._2
    val row = q(spark, sf0001).collect()(0)
    assert(row.getAs[Long]("n_total") === docs.count())
    val qual = docs.filter(round(TextFns.qualityScore(col("text")), 6) >= 0.5)
    assert(row.getAs[Long]("n_quality") === qual.count())
    val langd = qual.filter(col("lang").isin("en", "es", "fr"))
    assert(row.getAs[Long]("n_lang") === langd.count())
    val samp = langd.filter(Sampling.hashPct(col("doc_id")) < 60)
    assert(row.getAs[Long]("n_sampled") === samp.count())
    assert(row.getAs[Long]("n_unique") ===
      samp.select(TextFns.shingleFingerprint(split(col("text"), " "))).distinct().count())
    // the funnel is strictly narrowing
    val ns = Seq("n_total", "n_quality", "n_lang", "n_sampled", "n_unique")
      .map(row.getAs[Long])
    assert(ns === ns.sorted.reverse)
  }

  test("shuffleHash: deterministic order, salt changes it, growth-stable") {
    import org.apache.spark.sql.functions.col
    val order1 = docs.select(col("doc_id"), Sampling.shuffleHash(col("doc_id"), "e0").as("h"))
      .orderBy("h").collect().map(_.getLong(0)).toSeq
    val order2 = docs.select(col("doc_id"), Sampling.shuffleHash(col("doc_id"), "e0").as("h"))
      .orderBy("h").collect().map(_.getLong(0)).toSeq
    assert(order1 === order2, "same salt must reproduce the same order")
    val orderB = docs.select(col("doc_id"), Sampling.shuffleHash(col("doc_id"), "e1").as("h"))
      .orderBy("h").collect().map(_.getLong(0)).toSeq
    assert(order1 !== orderB, "a new epoch salt must reshuffle")
    assert(order1.sorted !== order1, "hash order must not be id order")
    // growth-stable: adding docs never reorders existing pairs
    val half = docs.filter(col("doc_id") < 250)
      .select(col("doc_id"), Sampling.shuffleHash(col("doc_id"), "e0").as("h"))
      .orderBy("h").collect().map(_.getLong(0)).toSeq
    assert(order1.filter(_ < 250) === half)
  }

  test("quantile summary: histogram walk equals sorted-array rank pick") {
    val q = Sampling.quantileSummary(
      docs.select(TextFns.tokenCount(col("text")).as("n")), "n", Seq(50, 90, 99))
      .collect()(0)
    val sorted = docs.select(TextFns.tokenCount(col("text")))
      .collect().map(_.getLong(0)).sorted
    val n = sorted.length
    def rank(p: Int) = sorted(((n.toLong * p + 99) / 100).toInt - 1)
    assert(q.getAs[Long]("n_rows") === n.toLong)
    assert(q.getAs[Long]("p50") === rank(50))
    assert(q.getAs[Long]("p90") === rank(90))
    assert(q.getAs[Long]("p99") === rank(99))
  }

  test("continuous quantiles: approx sketch within rank-error bound of exact") {
    val ev = graft.queries.Td.t(spark, sf0001, "events").select("value")
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val sorted = ev.collect().map(_.getDouble(0)).sorted
    val n = sorted.length
    // the exact form matches the sorted-array interpolation
    val exact = Sampling.valueQuantiles(ev, "value", qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    qs.foreach { q =>
      val pos = q * (n - 1)
      val lo = sorted(pos.toInt)
      val hi = sorted(math.min(n - 1, pos.toInt + 1))
      val interp = lo + (pos - pos.toInt) * (hi - lo)
      assert(math.abs(exact(q) - interp) < 1e-6, s"q=$q got=${exact(q)} want=$interp")
    }
  }

  test("source mix: integer rates, cap at 100, kept set matches per-doc recompute") {
    val byRow = Sampling.sourceMixRates(docs, "source", targetPct = 50)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every rate is a sane integer percent
    assert(byRow.values.forall { case (_, r) => r >= 0 && r <= 100 })
    // expected kept volume lands near the 50% target (hash-uniform pcts)
    val summary = Sampling.sourceMixSummary(docs, "doc_id", "source", 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = summary.map(_._2).sum
    val kept = summary.map(_._4).sum
    assert(kept > total * 35 / 100 && kept < total * 65 / 100,
      s"kept $kept of $total under a 50% target")
    // summary rates agree with the rate table, and n_kept is exactly the
    // per-doc hashPct recompute (the decision is pure (id, rate))
    summary.foreach { case (src, nTot, rate, nKept) =>
      assert(byRow(src) === ((nTot, rate)))
      val recomputed = docs.filter(col("source") === src)
        .filter(Sampling.hashPct(col("doc_id")) < rate).count()
      assert(nKept === recomputed, s"$src kept $nKept vs recomputed $recomputed")
    }
    // a 100% target on uniform-ish sources must cap every rate at 100
    // only when the math says so; at minimum no rate may exceed the cap
    val r100 = Sampling.sourceMixRates(docs, "source", 100)
      .collect().map(_.getLong(2))
    assert(r100.forall(_ <= 100))
    // a dominant source is downsampled harder than a tiny one (the α<1
    // property the mix exists for): synthesize 1000-vs-10 and compare
    import spark.implicits._
    val skewed = ((1 to 1000).map(i => (i.toLong, "big")) ++
      (1001 to 1010).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val sk = Sampling.sourceMixRates(skewed, "source", 50)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(sk("small") > sk("big"),
      s"small-source rate ${sk("small")} must exceed big-source ${sk("big")}")
  }

  test("distinct sketch audit: exact anchor matches countDistinct, bound holds") {
    val toks = Td.t(spark, sf0001, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
    val row = Sampling.distinctSketchAudit(toks, "w").collect().head
    val exact = toks.agg(countDistinct("w")).collect().head.getLong(0)
    assert(row.getLong(0) === exact)
    assert(row.getInt(1) === 1, "HLL rsd=0.02 must land within 5% of exact")
    // partition-order determinism: the sketch merge is commutative
    val re = Sampling.distinctSketchAudit(toks.repartition(7), "w")
      .collect().head
    assert(re.getLong(0) === exact && re.getInt(1) === 1)
  }

  test("CMS top-k audit: exact anchors match groupBy, bound holds, partition-proof") {
    val toks = Td.t(spark, sf0001, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
    val got = Sampling.cmsTopKAudit(toks, "w", k = 10)
      .orderBy(col("n_exact").desc, col("w")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val exact = toks.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(t => (t._1, t._2)).toSeq === exact.toSeq)
    assert(got.forall(_._3 === 1),
      "CMS estimate must satisfy est in [true, true + eps*N] on every top item")
    // counter merges commute: any partitioning yields the identical sketch
    val re = Sampling.cmsTopKAudit(toks.repartition(7), "w", k = 10)
      .orderBy(col("n_exact").desc, col("w")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(re.toSeq === got.toSeq)
  }
}
