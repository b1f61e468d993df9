package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Lm

class LmSpec extends SparkTestBase {

  private def mkCorpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lm").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The declarative aggregate-fold form of `Lm.scoreMilli3` — the
    * independently-derived reference the native kernel is asserted
    * against. The backoff rides INSIDE the outer coalesce: an
    * unseen trigram costs `backoffMilli` plus the bigram chain's score. */
  private def scoreMilli3Fold(docs: DataFrame, textCol: String,
                              idCol: String, lm: Lm.TrigramLm,
                              keepMeanMilli: Long = -9000L): DataFrame = {
    val triLit = typedLit(lm.trigramMilli)
    val bigLit = typedLit(lm.bigramMilli)
    val uniLit = typedLit(lm.uniFallbackMilli)
    val ws = split(coalesce(col(textCol), lit("")), " ")
    val idxs = when(size(ws) >= 3, sequence(lit(1), size(ws) - 2))
      .otherwise(array().cast("array<int>"))
    val lpCol = aggregate(idxs, lit(0L), (acc, i) => acc + coalesce(
      element_at(triLit,
        concat(element_at(ws, i), lit(" "), element_at(ws, i + 1),
          lit(" "), element_at(ws, i + 2))),
      lit(lm.backoffMilli) + coalesce(
        element_at(bigLit,
          concat(element_at(ws, i + 1), lit(" "), element_at(ws, i + 2))),
        element_at(uniLit, element_at(ws, i + 1)),
        lit(lm.floorMilli))))
    docs.select(col(idCol),
        greatest(size(ws) - 2, lit(0)).cast("long").as("n_trigrams"),
        lpCol.as("lp_milli"))
      .withColumn("keep",
        (col("lp_milli") >= col("n_trigrams") * lit(keepMeanMilli)).cast("int"))
  }

  /** The declarative aggregate-fold form of `Lm.scoreMilli` — the
    * independently-derived reference the native kernel is asserted against. */
  private def scoreMilliFold(docs: DataFrame, textCol: String,
                             idCol: String, lm: Lm.BigramLm,
                             keepMeanMilli: Long = -9000L): DataFrame = {
    val bigLit = typedLit(lm.bigramMilli)
    val uniLit = typedLit(lm.uniFallbackMilli)
    // null text → empty-doc score, the scoreMilli contract
    val ws = split(coalesce(col(textCol), lit("")), " ")
    val idxs = when(size(ws) >= 2, sequence(lit(1), size(ws) - 1))
      .otherwise(array().cast("array<int>"))
    val lpCol = aggregate(idxs, lit(0L), (acc, i) => acc + coalesce(
      element_at(bigLit,
        concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))),
      element_at(uniLit, element_at(ws, i)),
      lit(lm.floorMilli)))
    docs.select(col(idCol),
        greatest(size(ws) - 1, lit(0)).cast("long").as("n_bigrams"),
        lpCol.as("lp_milli"))
      .withColumn("keep",
        (col("lp_milli") >= col("n_bigrams") * lit(keepMeanMilli)).cast("int"))
  }

  // --------------------------------------------------------------------
  // CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020 §4.3):
  // CCNet sorts each language's corpus by document perplexity and splits
  // it into thirds — head (lowest perplexity, best), middle, tail — with
  // the two cutoffs computed once per language and SHIPPED with the model.
  // The engine-exact analogue: cutoffs are order statistics of the
  // per-bigram mean milli-nat log-prob over the SAME bounded md5-spread
  // sample the LM trains on (a driver artifact, like CCNet's published
  // per-language cutoff files), and bucket assignment is a pure integer
  // multiply-compare `lp_milli >= cutoff * n_bigrams` — no division, so
  // Spark and DuckDB agree bit-for-bit at every boundary.
  // --------------------------------------------------------------------

  test("bigram LM: expression score equals an independent driver-side fold") {
    val rows = Seq[(Long, String)](
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (3L, "dogs chase the cat"),
      (4L, "completely novel words here zzz"),
      (5L, "the"), // single token: 0 bigrams
      (6L, ""))
    val dir = mkCorpus(rows)
    val lm = Lm.bigramLmFor(spark, dir, sampleDocs = 6,
      topBigrams = 100, topUnigrams = 100)
    val got = Lm.scoreMilli(spark.read.parquet(s"$dir/documents.parquet"),
        "text", "doc_id", lm)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))

    // independent reference fold: plain Scala over the artifact maps
    def ref(text: String): (Long, Long) = {
      val ws = text.split(" ")
      if (ws.length < 2) (0L, 0L)
      else {
        val lp = (0 until ws.length - 1).map { i =>
          lm.bigramMilli.getOrElse(ws(i) + " " + ws(i + 1),
            lm.uniFallbackMilli.getOrElse(ws(i), lm.floorMilli))
        }.sum
        (ws.length - 1L, lp)
      }
    }
    rows.foreach { case (id, text) =>
      val (n, lp) = ref(text)
      val row = got.find(_._1 == id).get
      assert(row._2 === n, s"doc $id n_bigrams")
      assert(row._3 === lp, s"doc $id lp_milli")
      assert(row._4 === (if (lp >= n * -9000L) 1 else 0), s"doc $id keep")
    }
    // seen-corpus docs must outscore the novel-word doc per bigram
    val mean = got.map(r => r._1 -> (if (r._2 == 0) 0.0 else r._3.toDouble / r._2)).toMap
    assert(mean(1L) > mean(4L) && mean(2L) > mean(4L))

    // native kernel == declarative fold form, row for row
    val foldGot = scoreMilliFold(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", lm)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === foldGot.toSeq)
  }

  test("trigram LM: kernel equals an independent fold and the declarative form; backoff chain exact") {
    val rows = Seq[(Long, String)](
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on a rug"),
      (3L, "dogs chase the cat sat"), // "the cat sat" seen, other grams vary
      (4L, "completely novel words here zzz"),
      (5L, "the cat"), // 2 tokens: 0 trigrams
      (6L, ""))
    val dir = mkCorpus(rows)
    val lm = Lm.trigramLmFor(spark, dir, sampleDocs = 6,
      topTrigrams = 100, topBigrams = 100, topUnigrams = 100)
    // the backoff penalty is quantized ln(0.4)
    assert(lm.backoffMilli === math.round(1000.0 * math.log(0.4)))
    val got = Lm.scoreMilli3(spark.read.parquet(s"$dir/documents.parquet"),
        "text", "doc_id", lm)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))

    // independent reference fold over the artifact maps
    def ref(text: String): (Long, Long) = {
      val ws = text.split(" ")
      if (ws.length < 3) (0L, 0L)
      else {
        val lp = (0 until ws.length - 2).map { i =>
          lm.trigramMilli.getOrElse(
            ws(i) + " " + ws(i + 1) + " " + ws(i + 2),
            lm.backoffMilli + lm.bigramMilli.getOrElse(
              ws(i + 1) + " " + ws(i + 2),
              lm.uniFallbackMilli.getOrElse(ws(i + 1), lm.floorMilli)))
        }.sum
        (ws.length - 2L, lp)
      }
    }
    rows.foreach { case (id, text) =>
      val (n, lp) = ref(text)
      val row = got.find(_._1 == id).get
      assert(row._2 === n, s"doc $id n_trigrams")
      assert(row._3 === lp, s"doc $id lp_milli")
      assert(row._4 === (if (lp >= n * -9000L) 1 else 0), s"doc $id keep")
    }
    // the in-corpus doc outscores the novel-word doc per trigram
    val mean = got.map(r => r._1 -> (if (r._2 == 0) 0.0 else r._3.toDouble / r._2)).toMap
    assert(mean(1L) > mean(4L))

    // native kernel == declarative fold form, row for row (incl. null text)
    import spark.implicits._
    val withNull = spark.createDataFrame(
      rows.map { case (i, t) => (i, t) } :+ ((7L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val kGot = Lm.scoreMilli3(withNull, "text", "doc_id", lm)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val fGot = scoreMilli3Fold(withNull, "text", "doc_id", lm)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(kGot.toSeq === fGot.toSeq)
    // null text = the empty-doc score on both engines
    assert(kGot.find(_._1 == 7L).get === ((7L, 0L, 0L, 1)))
  }

  test("bigram LM: artifact deterministic and cached; quantization matches formula") {
    val dir = mkCorpus(Seq((1L, "a b a b c"), (2L, "a b c a b")))
    val lm1 = Lm.bigramLmFor(spark, dir, sampleDocs = 2,
      topBigrams = 10, topUnigrams = 10)
    val lm2 = Lm.bigramLmFor(spark, dir, sampleDocs = 2,
      topBigrams = 10, topUnigrams = 10)
    assert(lm1 eq lm2) // cache hit
    // hand check: c(a)=4, c(b)=4, c(c)=2 over both docs; V = 3 + 1 = 4.
    // c("a b") = 4 -> lp = round(1000 * ln((4+1)/(4+4)))
    assert(lm1.vocab === 4)
    assert(lm1.bigramMilli("a b") ===
      math.round(1000.0 * math.log(5.0 / 8.0)))
    assert(lm1.uniFallbackMilli("c") ===
      math.round(1000.0 * math.log(1.0 / 6.0)))
    assert(lm1.floorMilli === math.round(1000.0 * math.log(1.0 / 4.0)))
  }

  test("CCNet buckets: cutoffs are sample order statistics; assignment matches a driver fold; thirds cover the sample") {
    import spark.implicits._
    // 6 scoreable docs with distinct mean scores: in-model prose at the
    // top, novel-word docs at the bottom
    val rows = Seq[(Long, String)](
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat again today"),
      (3L, "the cat ate the fish"),
      (4L, "dogs chase the cat sometimes"),
      (5L, "qq ww ee rr tt yy"),
      (6L, "zz xx cc vv bb nn mm"),
      (7L, "solo"),  // 0 bigrams -> tail by contract
      (8L, ""))      // 0 bigrams -> tail
    val dir = mkCorpus(rows)
    val lm = Lm.bigramLmFor(spark, dir, sampleDocs = 8,
      topBigrams = 100, topUnigrams = 100)
    val cuts = Lm.ccnetCutoffsFor(spark, dir, lm, sampleDocs = 8)
    assert(cuts.nScored === 6) // the two zero-bigram docs carry no signal
    assert(cuts.headMinMilli >= cuts.middleMinMilli)

    // independent check: recompute the order statistics by brute force
    val means = rows.map { case (_, t) => Lm.scoreDocMilli(t, lm) }
      .filter(_._1 > 0L)
      .sortBy { case (n, lp) => -lp.toDouble / n }
    assert(cuts.headMinMilli ===
      Math.floorDiv(means(1)._2, means(1)._1))   // rank 6/3 - 1 = 1
    assert(cuts.middleMinMilli ===
      Math.floorDiv(means(3)._2, means(3)._1))   // rank 2*6/3 - 1 = 3

    val got = Lm.ccnetBuckets(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
        lm, cuts)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // driver-fold twin of the multiply-compare
    rows.foreach { case (id, t) =>
      val (n, lp) = Lm.scoreDocMilli(t, lm)
      val want =
        if (n == 0L) "tail"
        else if (lp >= cuts.headMinMilli * n) "head"
        else if (lp >= cuts.middleMinMilli * n) "middle"
        else "tail"
      assert(got.find(_._1 == id).get._4 === want, s"doc $id")
    }
    // the boundary docs stay in their own buckets (floorDiv contract) and
    // zero-bigram docs land in tail
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(byId(7L) === "tail" && byId(8L) === "tail")
    assert(got.count(_._4 == "head") >= 2)
    assert(got.count(_._4 == "tail") >= 2)
  }

  test("CCNet cutoffs: cache is keyed by the LM's identity, not just the dir") {
    val dir = mkCorpus(Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish today"),
      (3L, "qq ww ee rr tt yy uu"),
      (4L, "zz xx cc vv bb nn")))
    val lmA = Lm.bigramLmFor(spark, dir, sampleDocs = 4,
      topBigrams = 100, topUnigrams = 100)
    val cutsA = Lm.ccnetCutoffsFor(spark, dir, lmA, sampleDocs = 4)
    // a degenerate model over the SAME dir: every doc scores floor-per-
    // bigram, so its cutoffs must be the floor — not lmA's cached values
    val lmB = Lm.BigramLm(Map.empty, Map.empty, -5000L, 1)
    val cutsB = Lm.ccnetCutoffsFor(spark, dir, lmB, sampleDocs = 4)
    assert(cutsB.headMinMilli === -5000L && cutsB.middleMinMilli === -5000L)
    assert(cutsA !== cutsB,
      "differently-configured LMs over one dir must not share cutoffs")
  }
}
