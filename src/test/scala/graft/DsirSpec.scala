package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.{Dsir, TextFns}

class DsirSpec extends SparkTestBase {

  private def mkCorpus(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Unigram + adjacent-bigram feature array of a text column. NULL text
    * features as the empty string's singleton (both engines split "" to
    * [""]), so null documents score identically across engines. */
  private def featuresCol(textCol: Column): Column = {
    val ws = split(coalesce(textCol, lit("")), " ")
    val bgs = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1), i =>
        concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))
    concat(ws, bgs)
  }

  /** The declarative HOF-fold form of `Dsir.importanceWeights` — the
    * independently-derived reference the native kernel is asserted against. */
  private def importanceWeightsFold(docs: DataFrame, textCol: String,
                                    idCol: String,
                                    model: Dsir.DsirModel): DataFrame = {
    val feats = featuresCol(col(textCol))
    val wLit = typedLit(model.weightsMilli)
    val score = aggregate(
      transform(feats, tok =>
        element_at(wLit,
          (conv(substring(md5(tok), 1, 4), 16, 10).cast("long") % model.dim)
            .cast("int") + 1)),
      lit(0L), (acc, v) => acc + v)
    docs.select(col(idCol),
        size(feats).cast("long").as("n_feats"),
        score.as("w_milli"))
      .withColumn("keep", (col("w_milli") >= 0L).cast("int"))
  }

  test("DSIR: column fold equals an independent driver-side fold; target docs outscore off-target") {
    val rows = Seq[(Long, String, String)](
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat ate the fish and the chips", "en"),
      (3L, "le chat mange le poisson frais", "fr"),
      (4L, "der hund jagt die katze schnell", "de"),
      (5L, "the dog and the cat and the fish", "en"),
      (6L, "", "en"))
    val dir = mkCorpus(rows)
    val m = Dsir.modelFor(spark, dir, sampleDocs = 6)
    assert(m.nRawDocs === 6 && m.nTargetDocs === 4)

    val got = Dsir.importanceWeights(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", m)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))

    // independent reference: plain Scala over the same artifact
    rows.foreach { case (id, text, _) =>
      val feats = Dsir.featuresOf(text)
      val w = feats.map(f => m.weightsMilli(Dsir.bucketOf(f, m.dim))).sum
      val row = got.find(_._1 == id).get
      assert(row._2 === feats.size.toLong, s"doc $id n_feats")
      assert(row._3 === w, s"doc $id w_milli")
      assert(row._4 === (if (w >= 0L) 1 else 0), s"doc $id keep")
    }

    // semantics: per-feature mean weight of pure-target prose beats the
    // off-target (fr/de) docs — the target LM prefers its own domain
    val mean = got.map(r => r._1 -> (if (r._2 == 0) 0.0 else r._3.toDouble / r._2)).toMap
    assert(mean(1L) > mean(3L) && mean(1L) > mean(4L))
    assert(mean(2L) > mean(3L))
  }

  test("DSIR: native kernel equals the declarative HOF fold, row for row") {
    val rows = Seq[(Long, String, String)](
      (1L, "the cat sat on the mat", "en"),
      (2L, "le chat mange le poisson", "fr"),
      (3L, "a", "en"),   // 1 token: unigram feature only
      (4L, "", "en"),    // splits to [""]: 1 feature
      (5L, "x y", "de")) // 2 tokens: 2 unigrams + 1 bigram
    val dir = mkCorpus(rows)
    val m = Dsir.modelFor(spark, dir, sampleDocs = 5)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val kernel = Dsir.importanceWeights(docs, "text", "doc_id", m)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val fold = importanceWeightsFold(docs, "text", "doc_id", m)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(kernel.toSeq === fold.toSeq)
  }

  test("DSIR property: kernel equals the driver fold on random unicode docs") {
    import org.scalacheck.{Gen, Prop}
    import spark.implicits._
    val dir = mkCorpus(Seq((1L, "seed doc for the model", "en"),
      (2L, "autre document pour le modèle", "fr")))
    val m = Dsir.modelFor(spark, dir, sampleDocs = 2)
    // tokens with unicode + punctuation; docs joined by single spaces the
    // way the corpus format guarantees (split-on-space tokenization)
    val tokGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("héllo", "wörld", "文字", "🙂", "a.b", "#", "..."))
    val docGen = Gen.listOfN(6, tokGen).map(_.mkString(" "))
    val p = Prop.forAll(Gen.listOfN(8, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dsir.importanceWeights(df, "text", "doc_id", m)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      val want = docs.map { t =>
        val feats = Dsir.featuresOf(t)
        (feats.size.toLong,
          feats.map(f => m.weightsMilli(Dsir.bucketOf(f, m.dim))).sum)
      }
      got.toSeq == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  test("DSIR: null text scores as the empty doc (cross-engine null contract)") {
    import spark.implicits._
    val dir = mkCorpus(Seq((1L, "the cat", "en"), (2L, "", "en")))
    val m = Dsir.modelFor(spark, dir, sampleDocs = 2)
    val df = Seq((10L, Some("")), (11L, Option.empty[String]))
      .toDF("doc_id", "text")
    val r = Dsir.importanceWeights(df, "text", "doc_id", m)
      .orderBy("doc_id").collect()
    // both split to [""] → 1 unigram feature, identical weight
    assert(r(0).getLong(1) === 1L && r(1).getLong(1) === 1L)
    assert(r(0).getLong(2) === r(1).getLong(2))
  }

  test("DSIR: plan is a zero-shuffle single-pass projection") {
    val dir = mkCorpus(Seq((1L, "a b c", "en"), (2L, "d e f", "fr")))
    val m = Dsir.modelFor(spark, dir, sampleDocs = 2)
    val plan = Dsir.importanceWeights(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("null text: driver trainers sample it as the empty doc, no NPE") {
    assert(Dsir.featuresOf(null) === Dsir.featuresOf(""),
      "featuresOf must share featuresCol's null contract")
    val dir = mkCorpus(Seq(
      (1L, "the cat sat on the mat here", "en"),
      (2L, null.asInstanceOf[String], "en"),
      (3L, "le chat mange le poisson", "fr")))
    val m = Dsir.modelFor(spark, dir, sampleDocs = 3)
    assert(m.nRawDocs === 3 && m.nTargetDocs === 2)
    // the LM trainers share the same md5-spread sample read — a null doc
    // in the sample must train, not NPE the driver
    val lm = graft.ext.Lm.bigramLmFor(spark, dir, sampleDocs = 3)
    assert(lm.vocab >= 1)
    val lm3 = graft.ext.Lm.trigramLmFor(spark, dir, sampleDocs = 3)
    assert(lm3.vocab >= 1)
  }

  test("Gopher rules: null text scores as the empty doc — n_stop/keep are 0, never NULL") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    val ws = split(col("text"), " ")
    val cols = TextFns.gopherRules(col("text"), ws)
      .map { case (n, c) => c.as(n) }
    val r = df.select((col("doc_id") +: cols): _*).collect()(0)
    assert(!(1 until 7).exists(r.isNullAt), r.toString)
    assert(r.getLong(1) === 1L)  // n_words: [""] like both engines' split
    assert(r.getLong(5) === 0L)  // n_stop: 0, not NULL (DuckDB CASE sum)
    assert(r.getInt(6) === 0)    // keep: 0, not NULL three-valued AND
  }

  test("Gopher rules: thresholds and rounding match a hand-computed doc") {
    import spark.implicits._
    val longText = (Seq.fill(20)("the quick brown fox jumps").mkString(" ")
      + " of and that have with be to") // 107 words, all alpha, stops
    val df = Seq(
      (1L, longText),                       // passes everything
      (2L, "too short to keep"),            // < 50 words
      (3L, (Seq.fill(60)("### ...").mkString(" "))) // symbols, no alpha
    ).toDF("doc_id", "text")
    val ws = split(col("text"), " ")
    val cols = TextFns.gopherRules(col("text"), ws)
      .map { case (n, c) => c.as(n) }
    val out = df.select((col("doc_id") +: cols): _*)
      .orderBy("doc_id").collect()

    val r1 = out(0)
    assert(r1.getLong(1) === 107L)            // n_words
    assert(r1.getDouble(3) === 1.0)           // frac_alpha
    assert(r1.getLong(5) >= 2L)               // n_stop
    assert(r1.getInt(6) === 1)                // keep

    assert(out(1).getInt(6) === 0)            // short doc rejected
    val r3 = out(2)
    assert(r3.getDouble(3) === 0.0)           // no alphabetic words
    assert(r3.getDouble(4) > 0.1)             // symbol ratio breach
    assert(r3.getInt(6) === 0)
  }
}
