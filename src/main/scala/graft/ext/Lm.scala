package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model quality filtering (Wenzek et al. 2020,
  * arXiv:1911.00359 §3: documents are scored by the perplexity of a KenLM
  * n-gram model trained on a clean reference corpus, and high-perplexity —
  * unnatural — text is dropped). Re-expressed for the engine contract:
  *
  *  - the MODEL is a bounded driver-side artifact (like the IVF centroids):
  *    bigram + unigram counts from a deterministic hash-spread sample of
  *    reference documents, pruned to the top-K entries, with add-one
  *    smoothed conditional log-probs PRE-QUANTIZED to integer milli-nats
  *    (`round(1000·ln p)`) at train time — so scoring is pure INTEGER
  *    arithmetic and the DuckDB oracle consumes the *same* integers
  *    (the x_quality_lr pattern: exact cross-engine compare, the
  *    transcendental left on the driver where it runs once);
  *  - SCORING is a zero-shuffle column expression: one ordered fold over
  *    the token array with two map-literal lookups per bigram
  *    (bigram hit → per-w1 unseen-bigram fallback → out-of-vocab floor).
  *    The maps ride the plan as single MapType literals (no join, no
  *    broadcast table), exactly how a fastText/KenLM filter deploys — the
  *    model is a constant of the job;
  *  - the keep/drop decision compares total milli-nats against a
  *    per-bigram mean threshold in integers; true perplexity
  *    `exp(−lp/1000/n)` is a consumer-side display transform.
  *
  * Scale shape: scoring is embarrassingly parallel over documents and
  * vocab-bounded in memory; training reads `sampleDocs` documents once.
  */
object Lm {

  /** A trained bigram LM, quantized for engine-exact scoring.
    * `bigramMilli(w1 + " " + w2)` = round(1000·ln((c(w1,w2)+1)/(c(w1)+V)));
    * `uniFallbackMilli(w1)` = the same for an UNSEEN bigram after w1
    * (numerator 1); `floorMilli` = round(1000·ln(1/V)) for unknown w1. */
  final case class BigramLm(bigramMilli: Map[String, Long],
                            uniFallbackMilli: Map[String, Long],
                            floorMilli: Long, vocab: Int)

  /** Deterministic md5-spread driver sample of a text column — the ONE
    * read behind every driver-side trainer (bigram/trigram LM, CCNet
    * cutoffs), so the sampling and null policy can't drift between them.
    * Null text arrives as "" — the engine-wide null contract: a null doc
    * trains (and scores) as the empty one instead of NPE-ing the driver. */
  private[graft] def sampleTexts(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, textCol: String, idCol: String,
                                 sampleDocs: Int): Array[String] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col(idCol), col(textCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(sampleDocs).collect()
      .map(r => if (r.isNullAt(1)) "" else r.getString(1))

  /** Train-once cached artifact per (dataset dir, config): counts from a
    * deterministic md5-ordered document sample (duplication-unbiased — the
    * Similarity.sampleVectors rationale), top-`topBigrams` bigrams by
    * (count desc, key asc) and the unigram counts of every retained w1. */
  def bigramLmFor(spark: org.apache.spark.sql.SparkSession, dir: String,
                  textCol: String = "text", idCol: String = "doc_id",
                  sampleDocs: Int = 512, topBigrams: Int = 8192,
                  topUnigrams: Int = 2048): BigramLm =
    graft.Artifacts.memo(spark, "bigram_lm",
        Seq(textCol, idCol, sampleDocs, topBigrams, topUnigrams),
        Seq(s"$dir/documents.parquet")) {
        val texts = sampleTexts(spark, dir, textCol, idCol, sampleDocs)
        val uni = scala.collection.mutable.Map.empty[String, Long]
        val big = scala.collection.mutable.Map.empty[String, Long]
        texts.foreach { t =>
          val ws = t.split(" ")
          var i = 0
          while (i < ws.length) {
            uni(ws(i)) = uni.getOrElse(ws(i), 0L) + 1L
            if (i + 1 < ws.length) {
              val b = ws(i) + " " + ws(i + 1)
              big(b) = big.getOrElse(b, 0L) + 1L
            }
            i += 1
          }
        }
        val topUni = uni.toSeq.sortBy { case (w, c) => (-c, w) }
          .take(topUnigrams).toMap
        val v = topUni.size + 1 // +1: the OOV word class
        def lp(num: Long, den: Long): Long =
          math.round(1000.0 * math.log(num.toDouble / den.toDouble))
        val bigs = big.toSeq.sortBy { case (b, c) => (-c, b) }
          .take(topBigrams)
          .map { case (b, c) =>
            val w1 = b.substring(0, b.indexOf(' '))
            b -> lp(c + 1L, uni(w1) + v)
          }.toMap
        val fallback = topUni.map { case (w, c) => w -> lp(1L, c + v) }
        BigramLm(bigs, fallback, lp(1L, v.toLong), v)
      }

  /** Per-document LM score: `(idCol, n_bigrams, lp_milli, keep)` where
    * `lp_milli` is the integer total of per-bigram milli-nat log-probs and
    * `keep` compares the per-bigram mean against `keepMeanMilli` (default
    * −9 000: mean log-prob above −9 nats ≈ perplexity below ~8 100). Zero
    * shuffles; one native-kernel pass per row with HASHED model lookups
    * (`LmScorer` — the MapType-literal fold form is a linear key scan
    * per lookup, measured 23× slower; LmSpec keeps it as the reference). */
  def scoreMilli(docs: DataFrame, textCol: String, idCol: String,
                 lm: BigramLm, keepMeanMilli: Long = -9000L): DataFrame =
    // NULL text scores as the EMPTY doc (n=0, lp=0, keep=1) — without the
    // coalesce the nulls would propagate through split+the kernel, while
    // the DuckDB oracle's LEFT JOIN + coalesce emits the empty-doc score;
    // both engines must agree on a null document.
    docs.select(col(idCol),
        graft.functions.GraftExpressions.lm_score_milli(
          split(coalesce(col(textCol), lit("")), " "),
          lm.bigramMilli, lm.uniFallbackMilli, lm.floorMilli).as("__s"))
      .select(col(idCol),
        col("__s.n_bigrams").as("n_bigrams"),
        col("__s.lp_milli").as("lp_milli"))
      .withColumn("keep",
        (col("lp_milli") >= col("n_bigrams") * lit(keepMeanMilli)).cast("int"))

  // --------------------------------------------------------------------
  // Trigram LM with stupid backoff (Brants et al. 2007, "Large Language
  // Models in Machine Translation"): score(w3 | w1 w2) = the trigram's
  // smoothed log-prob when the trigram is in the model, else a fixed
  // backoff penalty (ln 0.4, quantized) plus the BIGRAM model's exact
  // scoring chain on (w2, w3) — bigram hit → per-w2 unseen-bigram fallback
  // → OOV floor. CCNet ships a 5-gram KenLM; the trigram-with-backoff is
  // the same family one order up from the bigram filter, with the same
  // engine contract: integer milli-nat quantization at train time, so both
  // engines sum identical integers.
  // --------------------------------------------------------------------

  /** A trained trigram LM, quantized for engine-exact scoring.
    * `trigramMilli("w1 w2 w3")` = round(1000·ln((c(w1,w2,w3)+1)/(c(w1,w2)+V)));
    * bigram/fallback/floor tables are the [[BigramLm]] chain;
    * `backoffMilli` = round(1000·ln 0.4) — the stupid-backoff penalty. */
  final case class TrigramLm(trigramMilli: Map[String, Long],
                             bigramMilli: Map[String, Long],
                             uniFallbackMilli: Map[String, Long],
                             floorMilli: Long, vocab: Int,
                             backoffMilli: Long)

  /** Train-once cached artifact per (dataset dir, config) — the
    * [[bigramLmFor]] sample and pruning policy, one order up: top
    * `topTrigrams` trigrams by (count desc, key asc) with denominators from
    * the FULL bigram counts, plus the bigram/unigram tables the backoff
    * chain consumes. */
  def trigramLmFor(spark: org.apache.spark.sql.SparkSession, dir: String,
                   textCol: String = "text", idCol: String = "doc_id",
                   sampleDocs: Int = 512, topTrigrams: Int = 16384,
                   topBigrams: Int = 8192, topUnigrams: Int = 2048): TrigramLm =
    graft.Artifacts.memo(spark, "trigram_lm",
        Seq(textCol, idCol, sampleDocs, topTrigrams, topBigrams, topUnigrams),
        Seq(s"$dir/documents.parquet")) {
        val texts = sampleTexts(spark, dir, textCol, idCol, sampleDocs)
        val uni = scala.collection.mutable.Map.empty[String, Long]
        val big = scala.collection.mutable.Map.empty[String, Long]
        val tri = scala.collection.mutable.Map.empty[String, Long]
        texts.foreach { t =>
          val ws = t.split(" ")
          var i = 0
          while (i < ws.length) {
            uni(ws(i)) = uni.getOrElse(ws(i), 0L) + 1L
            if (i + 1 < ws.length) {
              val b = ws(i) + " " + ws(i + 1)
              big(b) = big.getOrElse(b, 0L) + 1L
              if (i + 2 < ws.length) {
                val tg = b + " " + ws(i + 2)
                tri(tg) = tri.getOrElse(tg, 0L) + 1L
              }
            }
            i += 1
          }
        }
        val topUni = uni.toSeq.sortBy { case (w, c) => (-c, w) }
          .take(topUnigrams).toMap
        val v = topUni.size + 1 // +1: the OOV word class
        def lp(num: Long, den: Long): Long =
          math.round(1000.0 * math.log(num.toDouble / den.toDouble))
        val bigs = big.toSeq.sortBy { case (b, c) => (-c, b) }
          .take(topBigrams)
          .map { case (b, c) =>
            val w1 = b.substring(0, b.indexOf(' '))
            b -> lp(c + 1L, uni(w1) + v)
          }.toMap
        val tris = tri.toSeq.sortBy { case (t, c) => (-c, t) }
          .take(topTrigrams)
          .map { case (t, c) =>
            val ctx = t.substring(0, t.lastIndexOf(' '))
            t -> lp(c + 1L, big(ctx) + v)
          }.toMap
        val fallback = topUni.map { case (w, c) => w -> lp(1L, c + v) }
        TrigramLm(tris, bigs, fallback, lp(1L, v.toLong), v,
          lp(2L, 5L)) // ln(0.4) = ln(2/5), quantized through the same formula
      }

  /** Per-document trigram-LM score: `(idCol, n_trigrams, lp_milli, keep)` —
    * the [[scoreMilli]] contract one order up (`n_trigrams` = max(words−2,
    * 0); `keep` compares the per-trigram mean against `keepMeanMilli`).
    * Zero shuffles; one native-kernel pass per row with HASHED lookups
    * through the backoff chain (LmSpec keeps the fold form as the
    * reference). NULL text scores as the empty doc, the scoreMilli rule. */
  def scoreMilli3(docs: DataFrame, textCol: String, idCol: String,
                  lm: TrigramLm, keepMeanMilli: Long = -9000L): DataFrame =
    docs.select(col(idCol),
        graft.functions.GraftExpressions.lm_score_milli3(
          split(coalesce(col(textCol), lit("")), " "),
          lm.trigramMilli, lm.bigramMilli, lm.uniFallbackMilli,
          lm.floorMilli, lm.backoffMilli).as("__s"))
      .select(col(idCol),
        col("__s.n_trigrams").as("n_trigrams"),
        col("__s.lp_milli").as("lp_milli"))
      .withColumn("keep",
        (col("lp_milli") >= col("n_trigrams") * lit(keepMeanMilli)).cast("int"))

  /** Per-bigram-mean cutoffs in milli-nats: a doc is `head` iff
    * `lp >= headMinMilli * n`, else `middle` iff `lp >= middleMinMilli * n`,
    * else `tail`; zero-bigram docs are `tail` (no perplexity evidence). */
  final case class CcnetCutoffs(headMinMilli: Long, middleMinMilli: Long,
                                nScored: Int)

  /** Driver-side twin of [[scoreMilli]]'s kernel: `(n_bigrams, lp_milli)`
    * for one document (the LmSpec reference fold, promoted to the library
    * so the cutoff trainer and the spec share one definition). */
  private[graft] def scoreDocMilli(text: String, lm: BigramLm): (Long, Long) = {
    val ws = (if (text == null) "" else text).split(" ", -1)
    if (ws.length < 2) (0L, 0L)
    else {
      var lp = 0L
      var i = 0
      while (i < ws.length - 1) {
        lp += lm.bigramMilli.getOrElse(ws(i) + " " + ws(i + 1),
          lm.uniFallbackMilli.getOrElse(ws(i), lm.floorMilli))
        i += 1
      }
      (ws.length - 1L, lp)
    }
  }

  /** Train-once cutoff artifact: scores the deterministic sample, sorts by
    * exact rational mean (`a.lp * b.n` vs `b.lp * a.n` — no float), and
    * takes the docs at the 1/3 and 2/3 ranks; each cutoff is that doc's
    * `floorDiv(lp, n)` so the boundary doc itself stays in its bucket
    * under the integer multiply-compare. */
  def ccnetCutoffsFor(spark: org.apache.spark.sql.SparkSession, dir: String,
                      lm: BigramLm, textCol: String = "text",
                      idCol: String = "doc_id",
                      sampleDocs: Int = 512): CcnetCutoffs =
    // the key must carry the LM's identity: two differently-configured
    // models over the same dir must not share cutoffs (Map hashCode is
    // content-based — stable for a per-JVM cache)
    graft.Artifacts.memo(spark, "ccnet_cutoffs",
        Seq(textCol, idCol, sampleDocs, s"v${lm.vocab}", s"f${lm.floorMilli}",
          s"b${lm.bigramMilli.size}:${lm.bigramMilli.hashCode}",
          s"u${lm.uniFallbackMilli.size}:${lm.uniFallbackMilli.hashCode}"),
        Seq(s"$dir/documents.parquet")) {
      val texts = sampleTexts(spark, dir, textCol, idCol, sampleDocs)
      val scored = texts.map(t => scoreDocMilli(t, lm))
        .filter(_._1 > 0L)
        .sortWith { case ((na, la), (nb, lb)) =>
          // best first: la/na > lb/nb  ⇔  la*nb > lb*na (n > 0)
          val cmp = la * nb - lb * na
          if (cmp != 0L) cmp > 0L else na < nb
        }
      require(scored.length >= 3,
        s"ccnetCutoffsFor: only ${scored.length} scoreable docs in sample")
      def cutAt(rank: Int): Long = {
        val (n, lp) = scored(rank)
        Math.floorDiv(lp, n)
      }
      CcnetCutoffs(cutAt(scored.length / 3 - 1),
        cutAt(2 * scored.length / 3 - 1), scored.length)
    }

  /** Per-document CCNet bucket: `(idCol, n_bigrams, lp_milli, bucket)` with
    * `bucket` ∈ head/middle/tail. Same zero-shuffle kernel pass as
    * [[scoreMilli]]; the cutoffs ride as literals. */
  def ccnetBuckets(docs: DataFrame, textCol: String, idCol: String,
                   lm: BigramLm, cuts: CcnetCutoffs): DataFrame =
    scoreMilli(docs, textCol, idCol, lm).drop("keep")
      .withColumn("bucket",
        when(col("n_bigrams") === 0L, "tail")
          .when(col("lp_milli") >=
            col("n_bigrams") * lit(cuts.headMinMilli), "head")
          .when(col("lp_milli") >=
            col("n_bigrams") * lit(cuts.middleMinMilli), "middle")
          .otherwise("tail"))
}
