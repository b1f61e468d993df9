package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Bpe

class BpeSpec extends SparkTestBase {
  import spark.implicits._

  /** Naive single-machine BPE reference: same argmax + tiebreak rule. */
  private def refTrain(words: Seq[String], nMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Seq[String], Long] = words.groupBy(identity)
      .map { case (w, g) => (w.map(_.toString): Seq[String]) -> g.length.toLong }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) done = true
      else {
        val best = eligible.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        vocab = vocab.groupBy { case (syms, _) =>
          Bpe.mergeOnce(syms, best._1, best._2)
        }.map { case (k, g) => k -> g.values.sum }
      }
    }
    merges.toSeq
  }

  /** One BPE merge pass over a symbol array, as a pure Catalyst fold
    * (`aggregate` HOF — whole-stage-codegen'd, no UDF). Left-to-right
    * non-overlapping fusing via "fuse with the accumulator's last symbol":
    * equivalent to [[Bpe.mergeOnce]] because a fused token (a+b) is strictly
    * longer than `a`, so it can never itself match the pair's left side
    * within the same pass. CASE branches evaluate lazily, so element_at on
    * the empty accumulator is never reached. */
  private def mergePass(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) === 0, array(x))
          .when(element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** BPE tokens of one word under a FIXED merge list, as a column
    * expression: chars (empty-word-safe), then one [[mergePass]] per merge
    * in training order (Sennrich's sequential application). The merge list
    * is inlined into the expression tree — right for demo/gate-sized
    * vocabularies. */
  private def tokensOf(word: Column, merges: Seq[(String, String)]): Column = {
    val chars = filter(split(word, ""), c => c =!= lit(""))
    merges.foldLeft(chars) { case (syms, (a, b)) => mergePass(syms, a, b) }
  }

  /** Bulk corpus tokenization, pure-Catalyst path — the reference the native
    * `Bpe.tokenizeBulkNative` is asserted against: (doc_id, tokens) with the
    * per-word folds fused into one whole-stage-codegen'd projection — one
    * corpus scan, zero shuffles, trivially partition-parallel. */
  private def tokenizeBulk(docs: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      flatten(transform(split(col(textCol), " "),
        w => tokensOf(w, merges))).as("tokens"))

  test("train matches the reference implementation merge-for-merge") {
    val words = Seq("low", "low", "low", "lower", "lower", "newest", "newest",
      "newest", "newest", "widest", "widest")
    val docs = Seq(words.mkString(" ")).toDF("text")
    val got = Bpe.train(docs, "text", nMerges = 8)
    val ref = refTrain(words, nMerges = 8)
    assert(got === ref, s"got=$got ref=$ref")
    // the classic example's first merges fuse the frequent suffixes
    assert(got.nonEmpty && got.head._2.nonEmpty)
  }

  test("train: driver-side rounds match the reference on corpus text, 1000 merges are cheap") {
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
      .select("text").limit(120)
    val words = docs.collect().flatMap(_.getString(0).split(" ")).toSeq
    // merge-for-merge equivalence at depth (50 rounds exercises multi-char
    // symbols and count-decay ties well past the classic example)
    assert(Bpe.train(docs, "text", nMerges = 50) === refTrain(words, 50))
    // the full-vocabulary scale: after the single corpus agg, 1000 merge
    // rounds are driver-local — wall-clock seconds, not 1000 Spark jobs
    // (generous bound: this VM has bursty CPU steal)
    // deep-vocabulary scale: the 31-word synthetic corpus saturates (every
    // word fuses to one symbol) well before 1000 merges, so train a big
    // SYNTHETIC vocabulary driver-side to exercise 1000 real rounds
    val rng = new scala.util.Random(42)
    val synth = Array.tabulate(20000) { i =>
      (Seq.fill(6 + rng.nextInt(10))(('a' + rng.nextInt(26)).toChar).mkString,
        1L + rng.nextInt(50))
    }
    val t0 = System.nanoTime()
    val deep = Bpe.trainFromVocab(synth, 1000)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(deep.length === 1000)
    assert(secs < 30.0, s"1000-merge training took ${secs}s")
  }

  test("early stop when no pair repeats; tokenizeWord applies merges in order") {
    val docs = Seq("ab cd").toDF("text")
    // each word appears once; every pair count is 1 < 2 -> zero merges
    assert(Bpe.train(docs, "text", nMerges = 5).isEmpty)

    val merges = Seq(("e", "s"), ("es", "t"), ("n", "e"))
    assert(Bpe.tokenizeWord("newest", merges) ===
      Seq("ne", "w", "est"))
  }

  test("tokenizeBulk: codegen fold equals the per-word reference tokenizer on every word") {
    val texts = Seq(
      "lower partner starts low in western waters",
      "aaaa partner error lower stow", // runs of the same char (non-overlap rule)
      "", //                             empty doc -> zero tokens
      "x") //                            single char, no merges apply
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = tokenizeBulk(docs, "doc_id", "text", Bpe.DemoMerges)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val ref = t.split(" ", -1).iterator.filter(_.nonEmpty)
        .flatMap(w => Bpe.tokenizeWord(w, Bpe.DemoMerges)).toSeq
      assert(got(i.toLong) === ref, s"doc $i")
    }
    // reconstruction: concatenating a word's tokens yields the word back
    assert(Bpe.tokenizeWord("partner", Bpe.DemoMerges).mkString === "partner")
    assert(Bpe.tokenizeWord("partner", Bpe.DemoMerges) ===
      Seq("par", "t", "n", "er")) // multi-char merge ("p","ar") applied
  }

  test("tokenizeBulkBig/tokenizeBulkNative: both fast paths equal the codegen fold") {
    val docs = Seq(
      (1L, "lower lower lower partner stow stow"), // repeats exercise the memo
      (2L, ""),
      (3L, "resort western error"),
      (4L, "  double  spaces  "), //     empty split fragments skipped
      (5L, "unseen zzz qqq")).toDF("doc_id", "text")
    val a = tokenizeBulk(docs, "doc_id", "text", Bpe.DemoMerges)
      .orderBy("doc_id").collect().map(_.getSeq[String](1)).toSeq
    val c = Bpe.tokenizeBulkNative(docs, "doc_id", "text", Bpe.DemoMerges)
      .orderBy("doc_id").collect().map(_.getSeq[String](1)).toSeq
    assert(a === c)
  }

  test("tokenizeBulkNative: interpreted eval (no codegen) matches too") {
    // Force the non-codegen path: evaluate the expression directly.
    val e = org.apache.spark.sql.GraftBridge.expression(
      graft.functions.GraftExpressions.bpe_encode(col("text"), Bpe.DemoMerges))
      .withNewChildren(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal("lower partner stow")))
      .asInstanceOf[graft.functions.Native]
    val got = e.replacement.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    val ref = "lower partner stow".split(" ").iterator
      .flatMap(w => Bpe.tokenizeWord(w, Bpe.DemoMerges)).toSeq
    assert(got === ref)
  }

  test("pairCounts: frequency weighting and pair extraction match a hand count") {
    val docs = Seq("aa ab", "aa").toDF("text")
    val got = Bpe.pairCounts(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("aa" -> 2L, "ab" -> 1L))
  }
}
