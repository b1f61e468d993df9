package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristics, document fingerprinting.
  * All pure column expressions (whole-stage-codegen friendly). */
object TextFns {

  /** Content-killing rules shared by [[stripHtml]] and [[mainContent]]:
    * block elements whose CONTENT must die with them — a script body's
    * `a<b` must not leak into text or derail tag stripping. */
  val ContentKillSteps: Seq[(String, String)] = Seq(
    ("(?s)<script[^>]*>.*?</script>", " "),
    ("(?s)<style[^>]*>.*?</style>", " "),
    ("(?s)<!--.*?-->", " "))

  /** The five ubiquitous entities, shared by both extractors; `&amp;`
    * strictly LAST (decoding it first would double-decode `&amp;lt;` into
    * a real `<`). */
  val EntitySteps: Seq[(String, String)] = Seq(
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"),
    ("&amp;", "&"))

  /** The [[stripHtml]] rule list, in application order — ONE constant
    * drives both the Column fold and the DuckDB oracle twin (the gate
    * renders replacements SQL-side: `\n` as chr(10), `'` doubled), so the
    * two engines cannot drift. Patterns stay in the common RE2/Java subset
    * (inline `(?s)`/`(?i)` flags, non-greedy bodies, char classes).
    * Composed from the shared sub-constants so [[mainContent]]'s per-block
    * chain and this whole-page chain cannot diverge on the rules they
    * share. */
  val StripHtmlSteps: Seq[(String, String)] = ContentKillSteps ++ Seq(
    // paragraph boundaries SURVIVE extraction (the behavior every real
    // text extractor has, and what lets paragraphDedup chain after this):
    // explicit breaks and block-level closers become newlines...
    ("(?i)<(br|hr)[^>]*>", "\n"),
    ("(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|blockquote|section|article|header|footer)>", "\n"),
    // ...every remaining tag is inline: a space
    ("<[^>]+>", " ")) ++ EntitySteps ++ Seq(
    // whitespace: horizontal runs collapse to one space, spaces hugging a
    // newline die, newline runs collapse, outer whitespace trims
    ("[^\\S\\n]+", " "),
    ("[ ]*\\n[ ]*", "\n"),
    ("\\n+", "\n"),
    ("^\\s+|\\s+$", ""))

  /** HTML-to-text extraction — the step BEFORE every text operator in a
    * web-corpus pipeline (the trafilatura/jusText slot, reduced to the
    * deterministic core that needs no DOM): script/style/comment blocks
    * die with their content, block boundaries become newlines (so
    * paragraph-level ops compose downstream), inline tags become spaces,
    * the common entities decode once, whitespace normalizes. One
    * [[StripHtmlSteps]] fold — pure regexp chain, zero shuffle. NOT a
    * sanitizer: this extracts text for analysis, it does not make HTML
    * safe.
    *
    * Documented non-DOM failure modes (TextFnsSpec pins both): the generic
    * tag rule `<[^>]+>` stops at the first `>`, so a literal `>` inside a
    * quoted attribute value (`<a title="a>b">`) leaves the tail of the tag
    * (`b">`) in the extracted text; and an UNTERMINATED `<script>` block's
    * content survives (the block rule requires the closing tag — only the
    * dangling open tag itself is stripped, by the generic rule). Real
    * extraction over adversarial markup needs a DOM parser; this core is
    * for the overwhelmingly well-formed bulk of a web corpus. */
  def stripHtml(html: Column): Column =
    StripHtmlSteps.foldLeft(html)(applyStep)

  /** True when a pattern is a plain literal (no regex metacharacter) and
    * the replacement has no `$`/`\` group reference — the pair then means
    * the same thing to [[regexp_replace]] and to the literal [[replace]],
    * and the latter skips the regex engine entirely. The entity steps are
    * all of this shape, and they run once per BLOCK in the mainContent
    * chain — measured, the literal route cuts the per-block chain cost
    * without touching what any step computes.
    * An empty pattern is NOT a literal step: replace() treats it as a
    * no-op while regexp_replace inserts the replacement at every position,
    * so the rewrite would change semantics there. */
  private def literalStep(pat: String, rep: String): Boolean =
    pat.nonEmpty &&
      !pat.exists("\\.[]{}()*+?^$|".contains(_)) &&
      !rep.exists("\\$".contains(_))

  /** One chain step: literal steps take the non-regex replace. */
  private def applyStep(c: Column, step: (String, String)): Column = step match {
    case (pat, rep) if literalStep(pat, rep) => replace(c, lit(pat), lit(rep))
    case (pat, rep) => regexp_replace(c, pat, rep)
  }

  /** Block-level boundary tags for [[mainContent]]'s segmentation: any
    * open OR close tag of an element that starts a new visual block (the
    * jusText/boilerpipe block alphabet) plus the self-delimiting
    * `<br>`/`<hr>`. `\b` keeps `<param>` from matching `p` — ASCII word
    * boundary, identical in Java regex and RE2. */
  val BlockSplitPattern: String =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|" +
      "section|article|main|header|footer|nav|aside|blockquote|pre|form|" +
      "figure|figcaption|center|br|hr)\\b[^>]*>"

  /** Anchor CONTENT within a block — group 1 is what the reader sees as a
    * link; its cleaned length is the block's link-character mass. */
  val AnchorTextPattern: String = "(?is)<a\\b[^>]*>(.*?)</a>"

  /** The per-block text chain for [[mainContent]]: remaining (inline) tags
    * become spaces, the shared entities decode, whitespace collapses to
    * single spaces, outer spaces trim — applied identically to block
    * bodies and to anchor contents so the density ratio compares like with
    * like. One constant drives the Column fold AND the DuckDB twin, like
    * [[StripHtmlSteps]]. */
  val BlockTextSteps: Seq[(String, String)] =
    Seq(("<[^>]+>", " ")) ++ EntitySteps ++
      Seq(("\\s+", " "), ("^ +| +$", ""))

  private def blockTextChain(c: Column): Column =
    BlockTextSteps.foldLeft(c)(applyStep)

  /** Per-block (text, n_chars, link_chars) structs for [[mainContent]] —
    * exposed for audits that want the drop reasons. Script/style/comment
    * content dies first ([[ContentKillSteps]]), then the page splits on
    * [[BlockSplitPattern]]; each block's visible text and the cleaned
    * length of its anchor contents are computed INSIDE the row (struct
    * array — lambda bodies get no common-subexpression elimination, so the
    * text chain runs once per block, not once per consumer). */
  def contentBlocks(html: Column): Column = {
    val cleaned = ContentKillSteps.foldLeft(html)(applyStep)
    // two nested transforms, NOT one: reusing a `val txt` Column twice in a
    // single struct DUPLICATES the expression tree (Columns are trees, not
    // values — no common-subexpression elimination inside lambda bodies),
    // so the r15-build form ran the whole 9-step chain twice per block,
    // once for `text` and once inside length(). The inner transform
    // materializes each block's cleaned text once; the outer one only
    // reads struct fields (plan-visible: ONE chain per block).
    val txtAndLinks = transform(split(cleaned, BlockSplitPattern), b =>
      struct(blockTextChain(b).as("text"),
        aggregate(
          regexp_extract_all(b, lit(AnchorTextPattern), lit(1)),
          lit(0L), (acc, a) => acc + length(blockTextChain(a)))
          .as("link_chars")))
    transform(txtAndLinks, r =>
      struct(r.getField("text").as("text"),
        length(r.getField("text")).cast("long").as("n_chars"),
        r.getField("link_chars").as("link_chars")))
  }

  /** Main-content extraction (the jusText/boilerpipe/trafilatura slot that
    * [[stripHtml]] deliberately does NOT fill — stripHtml keeps EVERY
    * visible character; real curation pipelines (RefinedWeb, CCNet) keep
    * only the article body): segment the page into visual blocks, score
    * each block by length and link density, keep the content-shaped ones,
    * join survivors with newlines.
    *
    * The classifier is the deterministic core of jusText (Pomikálek 2011):
    * a block survives iff its visible text has at least `minChars`
    * characters AND its link density — anchor-content characters over
    * block characters — is at most `maxLinkDensityMilli`/1000. Navigation,
    * headers, footers, tag clouds and related-links lists die on density;
    * page furniture (titles, buttons, copyright lines without links) dies
    * on length. The comparison is the division-free integer form
    * `link_chars * 1000 <= maxLinkDensityMilli * n_chars` so both engines
    * decide boundary blocks identically. Same non-DOM regime and failure
    * modes as [[stripHtml]]; zero shuffles at any scale. */
  def mainContent(html: Column, minChars: Int = 25,
                  maxLinkDensityMilli: Int = 200): Column = {
    val kept = filter(contentBlocks(html), b =>
      b.getField("n_chars") >= minChars &&
        b.getField("link_chars") * lit(1000L) <=
          lit(maxLinkDensityMilli.toLong) * b.getField("n_chars"))
    // concat_ws SKIPS null arguments, which would fold a NULL page to ""
    // — guard so null propagates like every other extractor (and like the
    // DuckDB twin's array_to_string over a NULL list)
    when(html.isNotNull, concat_ws("\n", transform(kept, b => b.getField("text"))))
  }

  /** Unicode cleanup (CCNet/ftfy-style, run BEFORE fingerprinting/dedup so
    * encoding noise can't defeat exact matching): NFC composition, C0/DEL
    * controls → space, space runs collapsed, trimmed. Native codegen
    * expression; DuckDB-oracle-checkable because NFC is pinned by Unicode. */
  def normalizeText(text: Column): Column =
    graft.functions.GraftExpressions.normalize_text(text)

  /** Whitespace token count (split on single space, like the corpus format). */
  def tokenCount(text: Column): Column = size(split(text, " ")).cast("long")

  /** BPE-ish token estimate: runs of letters, runs of digits, and single
    * other non-space chars each count as one token. */
  def bpeIshTokens(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast("long")

  /** Characters that are not lowercase letters or spaces (punct/digit/upper). */
  def nonAlphaCount(text: Column): Column =
    length(regexp_replace(text, "[a-z ]", "")).cast("long")

  def punctRatio(text: Column): Column =
    nonAlphaCount(text).cast("double") / greatest(length(text), lit(1))

  /** Fraction of tokens from a PRE-MATERIALIZED words column found in
    * `stopwords` — hot paths that already split pass their array. */
  def stopwordRatioOfWords(ws: Column, stopwords: Seq[String]): Column =
    size(filter(ws, w => w.isin(stopwords.map(x => x: Any): _*))).cast("double") /
      greatest(size(ws), lit(1))

  /** Fraction of whitespace tokens found in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordRatioOfWords(split(text, " "), stopwords)

  /** Count of tokens from `vocab` present in the text. */
  def hitCount(text: Column, vocab: Seq[String]): Column =
    size(filter(split(text, " "), w => w.isin(vocab.map(x => x: Any): _*))).cast("long")

  val enStop: Seq[String] = Seq("the", "and", "of", "to", "a")
  val esStop: Seq[String] = Seq("el", "la", "de", "que", "y")
  val frStop: Seq[String] = Seq("le", "les", "des", "et", "un")

  /** n-gram language-ID heuristic: argmax of per-language stopword hits,
    * ties broken en > es > fr (deterministic). */
  def langGuess(text: Column): Column = {
    val en = hitCount(text, enStop)
    val es = hitCount(text, esStop)
    val fr = hitCount(text, frStop)
    when(en >= es && en >= fr, lit("en"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Quality score reusing a PRE-MATERIALIZED words column for the stopword
    * term (the curation funnel shares one split across fingerprint, quality
    * and language stages). Value-identical to [[qualityScore]]. */
  def qualityScoreOfWords(text: Column, ws: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punct = punctRatio(text)
    val stop = stopwordRatioOfWords(ws, enStop)
    greatest(least(lenScore * 0.5 - punct * 0.3 + stop * 0.5 + lit(0.3), lit(1.0)), lit(0.0))
  }

  /** Simple quality score in [0,1]: length-capped minus punctuation penalty
    * plus stopword-presence bonus. Deterministic, monotone in its inputs. */
  def qualityScore(text: Column): Column =
    qualityScoreOfWords(text, split(text, " "))

  /** Document fingerprint: md5 of the lowercased text normalized to
    * [a-z0-9 ] — stable under case/punctuation jitter. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9 ]", ""))

  /** Karp-Rabin polynomial rolling hash over the character stream:
    * h = Σ c_i · 31^(n-i) mod 1e9+7 — the classic document-fingerprint
    * primitive, as a native codegen'd expression (one tight loop per row;
    * see functions/Expressions.scala RollingHash). */
  def rollingHash(text: Column): Column =
    graft.functions.GraftExpressions.rolling_hash(text)

  /** FULL winnowing (Schleimer et al. 2003 — the MOSS local-fingerprinting
    * algorithm): hash every k-word shingle (portable 56-bit md5 prefix, the
    * same hash family MinHash uses), slide a window of `w` consecutive
    * hashes, keep each window's minimum, distinct the kept set. Guarantee:
    * any shared run of w+k-1 words yields at least one shared print, at an
    * expected density of only 2/(w+1) — the sparse fingerprint INDEX that
    * makes partial-overlap detection affordable at 100 TB (vs indexing
    * every gram). Pure per-row array ops — zero shuffles, stays in
    * whole-stage codegen. Takes a pre-split words column. */
  def winnowedPrints(ws: Column, k: Int = 3, w: Int = 4): Column =
    // ONE native kernel ([[graft.functions.Winnower]]): TextFnsSpec keeps
    // the HOF chain as its independently-derived reference (asserted
    // equal on real corpus text + adversarial vectors). coalesce: the
    // kernel's null contract matches the HOF's — a NULL words array (null
    // text) degrades to the single empty-string shingle, because concat_ws
    // over nothing is "".
    graft.functions.GraftExpressions.winnow_prints(
      coalesce(ws, typedLit(Seq.empty[String])), k, w)

  /** Gopher-style repetition stats from a PRE-MATERIALIZED shingle array:
    * (n_shingles, n_distinct, rounded repetition ratio). Boilerplate repeats
    * shingles; prose doesn't. */
  def repetitionStats(shingles: Column): (Column, Column, Column) = {
    val n = size(shingles).cast("long")
    val d = size(array_distinct(shingles)).cast("long")
    (n, d, round(org.apache.spark.sql.functions.lit(1.0) - d.cast("double") / n, 6))
  }

  /** Gopher's stop-word presence list (Rae et al. 2021, arXiv:2112.11446,
    * Table A1: "contains at least 2 of the following English words"). */
  val gopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style word-level quality rules (Rae et al. 2021, Table A1) from
    * a text column and its PRE-SPLIT words array: word count in
    * [minWords, maxWords], mean word length in [3, 10], ≥ 80 % of words
    * containing an alphabetic character, symbol-to-word ratio ('#' or
    * '...') ≤ 0.1, and ≥ 2 distinct stop-word hits. Ratios are ROUNDED to
    * 6 dp BEFORE thresholding so both engines threshold identical values
    * (the x_text_quality rule). Line-level rules (bullet/ellipsis line
    * fractions) are omitted: the corpus format is single-line documents,
    * so they would be constant. Returns the rule columns in report order:
    * (n_words, mean_wlen, frac_alpha, symbol_ratio, n_stop, keep) — all a
    * pure per-row map, zero shuffles at any scale. */
  def gopherRules(text: Column, ws: Column,
                  minWords: Long = 50L,
                  maxWords: Long = 100000L): Seq[(String, Column)] = {
    // null contract (same as Lm.scoreMilli): a null document scores like
    // the empty one — [""] / "" — on BOTH engines; without this, n_stop
    // and keep go NULL here while the DuckDB twin's CASE sums emit 0
    val t = coalesce(text, lit(""))
    val w = coalesce(ws, array(lit("")))
    val n = size(w).cast("long")
    val meanWlen = round(
      aggregate(w, lit(0L), (acc, x) => acc + length(x).cast("long"))
        .cast("double") / n, 6)
    val fracAlpha = round(
      size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("double") / n, 6)
    val symbolRatio = round(
      (regexp_count(t, lit("#")) +
        regexp_count(t, lit("\\.\\.\\."))).cast("double") / n, 6)
    val nStop = gopherStop
      .map(s => array_contains(w, s).cast("int"))
      .reduce(_ + _).cast("long")
    val keep = (n >= minWords && n <= maxWords &&
      meanWlen >= 3.0 && meanWlen <= 10.0 &&
      fracAlpha >= 0.8 && symbolRatio <= 0.1 && nStop >= 2L).cast("int")
    Seq("n_words" -> n, "mean_wlen" -> meanWlen, "frac_alpha" -> fracAlpha,
      "symbol_ratio" -> symbolRatio, "n_stop" -> nStop, "keep" -> keep)
  }

  /** Distinctive terms: integer-scored tf-idf (tf * 1e6 div df — engine-
    * exact, no libm log), top-k per document with (score desc, term asc)
    * tie-break. The document frequency is a count-over-window on the tf
    * table, not a separate aggregate broadcast-joined back: the aggregate
    * form planned the toks→tf subtree TWICE (once under the df aggregation,
    * once as the probe side — r16, the same duplicated-subtree shape as
    * dupSpanOccurrences), and at 100 TB a vocabulary-sized df table cannot
    * broadcast anyway, so the scale form was always going to shuffle tf on
    * the term — the window does exactly that, once (r16 interleaved A/B:
    * 0.94 → 0.79 s at sf0.1, 2.96 → 2.76 s at sf1, bit-identical). */
  def distinctiveTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Par.ensure(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col(idCol), col("score").desc, col("term"))
  }

  /** Winnowing-style shingle fingerprint: the minimum md5 over a
    * document's k-word shingles — equals the first MinHash component, so
    * near-identical docs collide. `words` must be a MATERIALIZED words
    * column (see [[Dedup.shinglesOfWords]]). */
  def shingleFingerprint(words: Column, k: Int = 3): Column =
    array_min(transform(Dedup.shinglesOfWords(words, k), s => md5(s)))

  /** PII-style scrubbing patterns, written in the regex subset that means
    * the same thing in Java regex (Spark) and RE2 (DuckDB): character
    * classes, +, bounded repetition — no backrefs, no lookaround. */
  val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  val UrlRe = "https?://[a-z0-9./]+"
  val LongNumRe = "[0-9]{8,}"

  /** Redact URLs, then emails, then 8+-digit runs (phone/account-shaped) —
    * in that order, so the URL pattern can't be broken up by an inner
    * replacement first. Pure per-row map: zero shuffles at any scale. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      LongNumRe, "<NUM>")

  /** Pre-scrub match counts (the audit trail a redaction pass reports). */
  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailRe)).cast("long"),
      regexp_count(text, lit(UrlRe)).cast("long"),
      regexp_count(text, lit(LongNumRe)).cast("long"))

  /** Hashed-feature linear scorer — the fastText-style quality-classifier
    * INFERENCE shape: each token hashes into one of `weightsMilli.length`
    * buckets (first 4 hex chars of md5, mod dim — the same engine-portable
    * hash the samplers use) and the broadcast weight table is summed per
    * occurrence. Weights are INTEGER milli-units so the score — and any
    * ranking or threshold on it — is bit-exact across engines and partition
    * orders; the logistic squash (not correctly-rounded libm exp) is left
    * to consumers who don't need cross-engine exactness.
    *
    * Scale shape: a zero-shuffle per-row fold in whole-stage codegen; the
    * weight table rides the plan as a literal (a trained table of any real
    * size would broadcast-join on the bucket instead — same contract).
    * [[demoWeightsMilli]] provides a deterministic stand-in table;
    * production swaps in trained values. */
  def hashedLinearScore(text: Column, weightsMilli: Seq[Long]): Column = {
    val dim = weightsMilli.length
    aggregate(
      transform(split(text, " "), tok =>
        element_at(typedLit(weightsMilli),
          (conv(substring(md5(tok), 1, 4), 16, 10).cast("long") % dim)
            .cast("int") + 1)),
      lit(0L), (acc, v) => acc + v)
  }

  /** Deterministic stand-in weight table (Knuth-hash spread over
    * [-1000, 1000] milli-units) — exercises the full inference path with
    * reproducible values on both engines. */
  def demoWeightsMilli(dim: Int = 1024): Seq[Long] =
    (0 until dim).map(b => (b * 2654435761L) % 2001L - 1000L)

  /** N-gram novelty score: the fraction of a document's DISTINCT word
    * n-grams whose corpus-wide first occurrence (minimum doc id among docs
    * containing the gram) is this document — ~1 for fresh prose, ~0 for
    * boilerplate or near-copies of earlier documents. The rank-signal
    * complement to Dedup.segmentDedup's drop decision: novelty scores, the
    * segment pass rewrites.
    *
    * Scale shape: explode per-doc distinct grams, ONE shuffle of the gram
    * stream keyed on the gram, min-over-window for the first owner, one
    * final doc-id agg. Never a self-join of documents. The agg + join-back
    * form planned the gram-explode subtree twice (once under the first-owner
    * aggregation, once as the probe side — the dupSpanOccurrences shape);
    * the window computes it once (r16 interleaved A/B: 0.97 → 0.71 s at
    * sf0.1, 3.49 → 2.80 s at sf1, bit-identical outputs). */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    // NOTE (r15 opt round): re-keying this shuffle on xxhash64(gram) — the
    // unitDedup 8-bytes-per-row pattern — was tried and MEASURED SLOWER
    // here (1.55 → 3.22 s at sf0.1, same era; plan skeleton unchanged),
    // so the string key stays.
    val grams = Par.ensure(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(array_distinct(Dedup.shinglesOfWords(split(col(textCol), " "), n)))
          .as("g"))
    grams
      .withColumn("first_doc", min(col(idCol))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_doc") === col(idCol)).cast("long")).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  /** Overlapping word-window chunking — RAG / context-window prep: windows
    * of `chunkSize` words starting every `stride` words, the last window
    * clamped at the document end (so every word lands in ≥1 chunk and no
    * chunk is empty). One output row per chunk with its word count and
    * content digest; chunk_id = start div stride, so (doc, chunk_id) is a
    * stable key across re-runs.
    *
    * Pure per-row explode — zero shuffles at any scale; the chunk TEXT
    * itself never leaves the executors here (only the md5 digest is
    * emitted), which is the honest shape for a 100 TB corpus where
    * materialized chunks would be written straight to a partitioned sink,
    * not returned. */
  def chunkDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, chunkSize: Int,
                stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be > 0")
    val chunk = slice(col("__ws"), col("__s"),
      least(lit(chunkSize), size(col("__ws")) - col("__s") + 1))
    docs.select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol), col("__ws"),
        posexplode(sequence(lit(1), size(col("__ws")), lit(stride)))
          .as(Seq("__i", "__s")))
      .select(col(idCol), col("__i").cast("long").as("chunk_id"),
        size(chunk).cast("long").as("n_words"),
        md5(concat_ws(" ", chunk)).as("chunk_md5"))
  }

  /** Eval-set decontamination — the GPT-3/Dolma-style n-gram overlap check:
    * corpus documents sharing ANY word n-gram with the eval/benchmark set,
    * with the count of distinct shared n-grams per document (the evidence a
    * decontamination pass drops or flags them on).
    *
    * Scale shape: the eval side is benchmark-sized (MBs against a 100 TB
    * corpus), so its distinct n-gram set BROADCASTS; the corpus side is one
    * explode → equi-join → agg on the doc id — linear, no shuffle of the
    * corpus text beyond the per-doc hit counts. */
  def contaminationHits(corpus: org.apache.spark.sql.DataFrame,
                        evalDocs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        n: Int): org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame) =
      Par.ensure(df.select(col(idCol), col(textCol)))
        .select(col(idCol), split(col(textCol), " ").as("__ws"))
        .select(col(idCol),
          explode(array_distinct(Dedup.shinglesOfWords(col("__ws"), n))).as("g"))
    val evalGrams = grams(evalDocs).select("g").distinct()
    grams(corpus)
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits")) // grams are pre-distinct per doc
  }
}
