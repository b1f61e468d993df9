package graft.ladders

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Probe
import graft.ext.{Dedup, Sampling, TextFns, Url}

/** End-to-end curation-funnel scale receipt (VERDICT r11 item 7), as
  * `graft.Probe funnel [nRows=10000000]`: the number a 100 TB design review
  * asks for first — one run chaining html extract -> url-dedup -> exact
  * dedup -> paragraph dedup -> near-dup -> quality gate -> source caps at
  * probe scale (default 10 M docs, the URLPROBE rung), with per-stage
  * wall-times and a kept-fraction audit.
  *
  * Each stage runs over the SURVIVORS of the previous one (localCheckpoint
  * between stages so a stage's timing is its own cost, not upstream
  * recompute), exactly like a staged curation pipeline would persist
  * between passes. The corpus is synthesized so every stage has real work
  * at controlled rates — see the synthesis comment below.
  */
object Funnel {
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Probe.Fields = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val r = new Probe.Receipt

    // ---- corpus with controlled funnel rates (letters only — digits count
    // as punctuation in the quality score):
    //  - URLs: every 4th doc re-serves its predecessor's page under a
    //    scheme/www/tracking variant -> exactly 25% URL dups;
    //  - text: template groups of ~6 with ONE varied word slot (3 variants)
    //    -> exact dups within a variant, near-dups (J ~ 0.68 on 3-shingles)
    //    across variants; ~20% of docs are short -> the quality gate cuts;
    //  - sources: "mega" holds 25% of rows -> the caps stage sees real skew
    //    and the AUTO route must flip to the salted plan at probe scale.
    def letters(c: Column): Column =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    val tmpl = pmod(xxhash64(col("doc_id"), lit(3L)), lit(n / 6 + 1))
    val vary = pmod(xxhash64(col("doc_id"), lit(5L)), lit(3L))
    // words carry the FULL template id (injective — a small modulus here
    // would alias distinct templates into identical texts and overdrive
    // the exact-dedup stage); the varied slot is injective in (tmpl, vary)
    def word(i: Int): Column =
      if (i == 7) concat(lit("v"), letters(tmpl * 3 + vary))
      else concat(lit(s"w$i"), letters(tmpl))
    val isShort = pmod(xxhash64(col("doc_id"), lit(13L)), lit(5L)) === 0
    val longText = concat_ws(" ", (0 until 18).map(word): _*)
    val shortText = concat_ws(" ", (0 until 5).map(word): _*)
    val ukey = col("doc_id") -
      when(col("doc_id") % 4 === 3, 1L).otherwise(0L)
    val url = concat(
      when(col("doc_id") % 3 === 0, "HTTPS://WWW.").when(col("doc_id") % 3 === 1, "https://")
        .otherwise("http://"),
      lit("site"), letters(ukey % 200000), lit(".com/p/"), letters(ukey),
      when(col("doc_id") % 2 === 0, "?utm_source=feed").otherwise(""))
    // raw pages: the body text wrapped in an HTML skeleton with a
    // corpus-wide boilerplate paragraph and a 3-variant footer paragraph —
    // html-extract must strip the markup (keeping paragraph boundaries)
    // and paragraph-dedup must remove the boilerplate from every doc
    val docs = spark.range(n).toDF("doc_id")
      .withColumn("source",
        when(pmod(xxhash64(col("doc_id"), lit(7L)), lit(4L)) === 0, lit("mega"))
          .otherwise(concat(lit("s"),
            pmod(xxhash64(col("doc_id"), lit(11L)), lit(40L)))))
      .withColumn("html", concat(
        lit("<html><head><script>track(1<2);</script></head><body>" +
          "<p>subscribe to our newsletter</p><p>"),
        when(isShort, shortText).otherwise(longText),
        lit("</p><div>footer variant "), (col("doc_id") % 3).cast("string"),
        lit("</div></body></html>")))
      .withColumn("url", url)
      .localCheckpoint()
    val nTotal = docs.count()
    r.add("n_rows", nTotal)

    def checkpointed(df: DataFrame): DataFrame = df.localCheckpoint()

    // ---- stage 0: HTML-to-text extraction (zero-shuffle regexp chain)
    val extracted = r.timed("html_extract") {
      checkpointed(docs.select(col("doc_id"), col("source"), col("url"),
        TextFns.stripHtml(col("html")).as("text")))
    }
    extracted.count()

    // ---- stage 1: URL-exact dedup (RefinedWeb first pass)
    val afterUrl = r.timed("url_dedup") {
      checkpointed(Url.urlDedupKeep(extracted, "url", "doc_id")
        .filter(col("keep") === 1)
        .select("doc_id", "source", "url", "text"))
    }
    val nUrl = afterUrl.count()

    // ---- stage 2: exact text dedup (hash groupBy, lowest id survives)
    val afterExact0 = r.timed("exact") {
      val keep = afterUrl.groupBy(md5(col("text")).as("__h"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      checkpointed(afterUrl.join(keep, Seq("doc_id"))) // keepers only
    }
    afterExact0.count()

    // ---- stage 2.5: paragraph dedup (boilerplate header/footer removal —
    // one xxhash64 frequency shuffle + broadcast frequent set). maxDocs=3:
    // after exact dedup a BODY paragraph still legitimately appears in up
    // to 3 docs (one per surviving footer variant) — the boilerplate
    // threshold must sit above content multiplicity, which is exactly the
    // knob's real-world calibration question
    val afterExact = r.timed("paragraph_dedup") {
      checkpointed(afterExact0
        .join(Dedup.paragraphDedup(afterExact0, "doc_id", "text",
            delim = "\n", maxDocs = 3)
          .select(col("doc_id"), col("cleaned")), Seq("doc_id"))
        .drop("text").withColumnRenamed("cleaned", "text"))
    }
    val nExact = afterExact.count()

    // ---- stage 3: near-dup dedup (MinHash-LSH candidates, Jaccard-verified,
    // pointer-jump clusters, cluster-min survives)
    val afterNear = r.timed("near_dup") {
      // threshold 0.6: the synthetic variants differ in one of 18 words ->
      // 3 of ~19 3-shingles change, J ~ 0.68 — genuinely near-duplicate
      val pairs = Dedup.nearDupPairs(afterExact, "text", "doc_id",
        threshold = 0.6, materialize = true).select("a_id", "b_id")
      val clusters = Dedup.dedupClusters(pairs)
        .select(col("id").as("doc_id"), col("cid"))
      checkpointed(afterExact.join(clusters, Seq("doc_id"), "left")
        .filter(col("cid").isNull || col("cid") === col("doc_id"))
        .drop("cid"))
    }
    val nNear = afterNear.count()

    // ---- stage 4: quality gate
    val afterQual = r.timed("quality") {
      checkpointed(afterNear
        .filter(round(TextFns.qualityScore(col("text")), 6) >= 0.35))
    }
    val nQual = afterQual.count()

    // ---- stage 5: caps — domain quota + per-source quota, both AUTO-routed
    // (the mega-source must flip the measured-skew decision at this scale)
    val nCaps = r.timed("caps") {
      // domain quota 40 (the corpus averages ~50 surviving docs/domain —
      // the cap must BIND to measure the full window/salt path), then the
      // source quota at n/30 (under the mega-source's surviving share)
      val dom = Url.domainCapAuto(afterQual, "url", "doc_id", cap = 40)
      Sampling.sourceCapAuto(dom, "doc_id", "source",
          cap = math.max(10000, (n / 30).toInt))
        .count()
    }

    r.add("n_after_url", nUrl)
    r.add("url_kept_frac", Probe.frac(nUrl, nTotal))
    r.add("n_after_exact", nExact)
    r.add("exact_kept_frac", Probe.frac(nExact, nUrl))
    r.add("n_after_near", nNear)
    r.add("near_kept_frac", Probe.frac(nNear, nExact))
    r.add("n_after_quality", nQual)
    r.add("quality_kept_frac", Probe.frac(nQual, nNear))
    r.add("n_after_caps", nCaps)
    r.add("caps_kept_frac", Probe.frac(nCaps, nQual))
    r.add("end_to_end_kept_frac", Probe.frac(nCaps, nTotal))
    r.fields
  }
}
