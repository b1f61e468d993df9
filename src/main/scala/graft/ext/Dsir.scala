package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * arXiv:2302.03169): raw documents are scored by the log importance
  * weight log(p_target(x) / p_raw(x)) under two BAG-OF-HASHED-N-GRAM
  * unigram models — one trained on a target domain (the data you want
  * more of), one on the raw pool — and selection keeps the documents the
  * target model prefers. The paper's features are unigrams + bigrams
  * hashed into a fixed bucket table, which is exactly the fastText-style
  * inference shape this engine already ships ([[TextFns.hashedLinearScore]]):
  * a per-document fold over hashed features against a constant weight
  * table.
  *
  * Engine contract (the x_quality_lr / Lm pattern):
  *  - the MODEL is a bounded driver-side artifact: hashed-feature counts
  *    from a deterministic hash-spread document sample, with the per-bucket
  *    log-ratio PRE-QUANTIZED to integer milli-nats
  *    (`round(1000·(ln p_t[b] − ln p_r[b]))`, add-one smoothing on both
  *    sides) — so scoring is pure INTEGER arithmetic and the DuckDB oracle
  *    consumes the *same* integers;
  *  - SCORING is a zero-shuffle fold in whole-stage codegen: tokens and
  *    their adjacent bigrams each hash to a bucket (first 4 hex chars of
  *    md5 mod dim — the engine-portable hash the samplers use) and the
  *    weight table rides the plan as an array literal;
  *  - KEEP compares the integer weight against 0: a document scores ≥ 0
  *    iff the target model likes it at least as much as the raw model.
  *    (The paper resamples with Gumbel noise ∝ the weight; the
  *    deterministic threshold is the engine-exact analogue, and consumers
  *    wanting the sampled variant compose this with the hash-based
  *    samplers in [[Sampling]].)
  *
  * Scale shape: training reads `sampleDocs` documents once (driver-bounded
  * like the IVF centroids and the LM tables); scoring is embarrassingly
  * parallel, one pass, zero shuffles, memory bounded by `dim`.
  */
object Dsir {

  /** A trained DSIR importance model: `weightsMilli(b)` = quantized
    * milli-nat log-ratio of the add-one-smoothed hashed-feature unigram
    * probabilities, target over raw, for bucket b. */
  final case class DsirModel(weightsMilli: IndexedSeq[Long], dim: Int,
                             nTargetFeats: Long, nRawFeats: Long,
                             nTargetDocs: Int, nRawDocs: Int)

  /** md5-bucket of a feature string — MUST match the column-side hash
    * (`conv(substring(md5(tok), 1, 4), 16, 10) % dim`) and the oracle's
    * hexToIntSql twin: first 4 lowercase hex chars of the UTF-8 md5. */
  private[graft] def bucketOf(tok: String, dim: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8"))
    // first 4 hex chars = first 2 bytes, big-endian
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % dim
  }

  /** Unigram + adjacent-bigram features of a whitespace-split text, the
    * paper's feature set, with the null contract of the native kernel:
    * null text features as the empty string (a null-text
    * doc in the md5-spread training sample must train, not NPE). */
  private[graft] def featuresOf(text: String): Seq[String] = {
    val ws = (if (text == null) "" else text).split(" ", -1).toSeq
    ws ++ ws.sliding(2).collect { case Seq(a, b) => a + " " + b }
  }

  /** Train-once cached artifact per (dataset dir, config): one
    * deterministic md5-ordered sample of `sampleDocs` documents (the
    * Lm.bigramLmFor spread — duplication-unbiased), raw counts over the
    * whole sample, target counts over its `lang = targetLang` subset.
    * Both models smooth add-one over the same `dim` buckets. */
  def modelFor(spark: org.apache.spark.sql.SparkSession, dir: String,
               targetLang: String = "en", textCol: String = "text",
               idCol: String = "doc_id", langCol: String = "lang",
               dim: Int = 1024, sampleDocs: Int = 512): DsirModel =
    graft.Artifacts.memo(spark, "dsir_model",
        Seq(targetLang, textCol, idCol, langCol, dim, sampleDocs),
        Seq(s"$dir/documents.parquet")) {
        val rows = spark.read.parquet(s"$dir/documents.parquet")
          .select(col(idCol), col(textCol), col(langCol))
          .orderBy(md5(col(idCol).cast("string")), col(idCol))
          .limit(sampleDocs).collect()
        val ct = new Array[Long](dim)
        val cr = new Array[Long](dim)
        var nt = 0L; var nr = 0L; var ntd = 0; var nrd = 0
        rows.foreach { r =>
          val isTarget = r.getString(2) == targetLang
          nrd += 1; if (isTarget) ntd += 1
          featuresOf(r.getString(1)).foreach { f =>
            val b = bucketOf(f, dim)
            cr(b) += 1L; nr += 1L
            if (isTarget) { ct(b) += 1L; nt += 1L }
          }
        }
        val w = (0 until dim).map { b =>
          val lpT = math.log((ct(b) + 1L).toDouble / (nt + dim).toDouble)
          val lpR = math.log((cr(b) + 1L).toDouble / (nr + dim).toDouble)
          math.round(1000.0 * (lpT - lpR))
        }
        DsirModel(w, dim, nt, nr, ntd, nrd)
      }

  /** Per-document DSIR importance weights:
    * `(idCol, n_feats, w_milli, keep)` where `w_milli` is the integer
    * milli-nat log importance weight summed over hashed unigram+bigram
    * features and `keep` = (w_milli ≥ 0). Zero shuffles; one native-kernel
    * pass per row (`DsirScorer` — the HOF fold interprets md5/conv/
    * element_at per feature and allocates a hex string per hash, measured
    * 10.0 s at the sf0.1 gate vs sub-second for the kernel; DsirSpec keeps
    * the fold as the reference). */
  def importanceWeights(docs: DataFrame, textCol: String, idCol: String,
                        model: DsirModel): DataFrame =
    docs.select(col(idCol),
        graft.functions.GraftExpressions.dsir_score_milli(
          split(coalesce(col(textCol), lit("")), " "),
          model.weightsMilli, model.dim).as("__s"))
      .select(col(idCol),
        col("__s.n_feats").as("n_feats"),
        col("__s.w_milli").as("w_milli"))
      .withColumn("keep", (col("w_milli") >= 0L).cast("int"))
}
