package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextFns}

class TextFnsSpec extends SparkTestBase {
  import spark.implicits._

  /** The pure column-fold formulation of `TextFns.rollingHash` — the
    * cross-checkable reference for the native expression; materializes
    * |chars| single-char strings per row. */
  private def rollingHashFold(text: Column): Column =
    aggregate(
      split(text, ""),
      lit(0L),
      (acc, ch) => (acc * 31L + ascii(ch)) % 1000000007L)

  /** The HOF/literal form of `TextFns.winnowedPrints` — the cross-checkable
    * reference the native kernel is spec-pinned against (same shingling,
    * same 56-bit md5-prefix hash, same window minima and distinct). */
  private def winnowedPrintsHof(ws: Column, k: Int = 3, w: Int = 4): Column = {
    val hashes = transform(Dedup.shinglesOfWords(ws, k),
      g => conv(substring(md5(g), 1, 14), 16, 10).cast("long"))
    // Bind the hash array to a LAMBDA VARIABLE before windowing: a lambda
    // body re-evaluates every non-variable subtree per element, so slicing
    // `hashes` directly inside the window transform would recompute the
    // full md5 transform per window — O(grams × windows) digests per doc
    // (measured: 59 s -> ~2 s for 1 M prints at 50 k docs). The singleton
    // outer transform evaluates `hashes` exactly once per row.
    element_at(transform(array(hashes), hs =>
      array_distinct(
        when(size(hs) <= w, array(array_min(hs)))
          .otherwise(transform(sequence(lit(1), size(hs) - w + 1),
            i => array_min(slice(hs, i, lit(w))))))), 1)
  }

  test("tokenCount and bpeIshTokens") {
    val df = Seq("the quick fox", "a1b2!", "").toDF("t")
    val toks = df.select(TextFns.tokenCount(col("t"))).collect().map(_.getLong(0))
    assert(toks.toSeq === Seq(3L, 1L, 1L)) // split of "" yields [""]
    val bpe = df.select(TextFns.bpeIshTokens(col("t"))).collect().map(_.getLong(0))
    assert(bpe.toSeq === Seq(3L, 5L, 0L)) // a,1,b,2,!
  }

  test("stripHtml: blocks die with content, entities decode once, ws collapses") {
    def strip(s: String): String =
      Seq(s).toDF("h").select(graft.ext.TextFns.stripHtml(col("h")))
        .collect()(0).getString(0)
    // script body with a real '<' must vanish entirely; block closers
    // become paragraph boundaries (so paragraphDedup composes downstream)
    assert(strip("<p>a</p><script>if (x<y) { b(); }</script><p>c</p>") === "a\nc")
    assert(strip("<style>p < q { }</style>hello") === "hello")
    assert(strip("x<!-- <b>not text</b> -->y") === "x y")
    // attribute tags; div closer = boundary; inline span = space; trim
    assert(strip("  <div class=\"a\" id='z'>one</div>\n\t<span>two</span> ") === "one\ntwo")
    assert(strip("a<br>b<BR/>c<hr>d") === "a\nb\nc\nd")
    // entity decoding, &amp; strictly last: &amp;lt; is a literal "&lt;"
    assert(strip("a &lt;b&gt; &quot;c&quot; &#39;d&#39; e&nbsp;f &amp; &amp;lt;") ===
      "a <b> \"c\" 'd' e f & &lt;")
    // no tags at all: pass-through modulo whitespace
    assert(strip("plain  text") === "plain text")
    // newline runs and hugging spaces normalize; outer newlines trim
    assert(strip("<p>one</p>\n\n<p> two </p>\n") === "one\ntwo")
    // null propagates
    val r = Seq[Option[String]](None).toDF("h")
      .select(graft.ext.TextFns.stripHtml(col("h"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("stripHtml: documented non-DOM failure modes stay pinned") {
    def strip(s: String): String =
      Seq(s).toDF("h").select(graft.ext.TextFns.stripHtml(col("h")))
        .collect()(0).getString(0)
    // '>' inside a quoted attribute: the generic tag rule stops at the
    // first '>', so the tag's tail leaks into the text (scaladoc-declared)
    assert(strip("<a title=\"a>b\">link</a>") === "b\">link")
    // unterminated <script>: the block rule needs the closing tag, so only
    // the dangling open tag is stripped and the body SURVIVES
    assert(strip("before <script>var x = 1; alert(2)") ===
      "before var x = 1; alert(2)")
  }

  test("punct/stopword ratios") {
    val df = Seq("the cat, the hat!").toDF("t")
    val punct = df.select(TextFns.punctRatio(col("t"))).collect()(0).getDouble(0)
    assert(punct > 0 && punct < 0.2)
    val stop = df.select(TextFns.stopwordRatio(col("t"), TextFns.enStop))
      .collect()(0).getDouble(0)
    assert(stop === 0.5) // "the" twice of 4 tokens ("cat," has punct, not stopword)
  }

  test("language guess: stopword-hit argmax with deterministic ties") {
    val df = Seq(
      "the cat and the dog of the house",
      "el gato y la casa de que",
      "le chat et les maisons un jour",
      "xyzzy").toDF("t")
    val got = df.select(TextFns.langGuess(col("t"))).collect().map(_.getString(0))
    assert(got.toSeq === Seq("en", "es", "fr", "en")) // no hits -> en (tie)
  }

  test("quality score in [0,1], monotone-ish") {
    val df = Seq(
      "the quality of this document is reasonable and the text flows with the usual words",
      "!!!###$$$ %%% ^^^").toDF("t")
    val got = df.select(TextFns.qualityScore(col("t"))).collect().map(_.getDouble(0))
    assert(got.forall(v => v >= 0.0 && v <= 1.0))
    assert(got(0) > got(1))
  }

  test("fingerprint: stable under case and punctuation jitter") {
    val df = Seq("Hello, World!", "hello world", "different").toDF("t")
    val got = df.select(TextFns.fingerprint(col("t"))).collect().map(_.getString(0))
    assert(got(0) === got(1))
    assert(got(0) !== got(2))
  }

  test("repetitionStats: known-vector ratios, prose vs boilerplate") {
    val df = Seq("a b c a b c a b c", "all words differ here fully").toDF("t")
      .select(graft.ext.Dedup.shinglesOfWords(split(col("t"), " "), 3).as("sh"))
    val (n, d, r) = TextFns.repetitionStats(col("sh"))
    val rows = df.select(n, d, r).collect()
    // 9 words -> 7 shingles, 3 distinct ("a b c","b c a","c a b"): 1 - 3/7
    assert(rows(0).getLong(0) === 7L && rows(0).getLong(1) === 3L)
    assert(rows(0).getDouble(2) === 0.571429)
    // 5 words -> 3 shingles, all distinct: ratio 0
    assert(rows(1).getLong(0) === 3L && rows(1).getDouble(2) === 0.0)
  }

  test("distinctiveTerms: known-vector scores and tie-breaks") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextFns.distinctiveTerms(docs, "doc_id", "text", 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // df: a=2 docs, b=1, c=1. scores: doc1 a=2e6/2=1e6, b=1e6; doc2 c=1e6, a=5e5.
    // within a doc: score desc then term asc
    assert(got.toSeq === Seq(
      (1L, "a", 2L, 2L, 1000000L), (1L, "b", 1L, 1L, 1000000L),
      (2L, "c", 1L, 1L, 1000000L), (2L, "a", 1L, 2L, 500000L)))
  }

  test("rollingHash native expression equals the fold formulation (+ edge vectors)") {
    val docs = graft.queries.Td.t(spark, sf0001, "documents")
    val mismatch = docs.select(
        TextFns.rollingHash(col("text")).as("a"),
        rollingHashFold(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatch === 0L)
    val edge = Seq("", "a", "abc", "café", "ηξ mixed π").toDF("t")
      .select(TextFns.rollingHash(col("t")).as("a"),
        rollingHashFold(col("t")).as("b"))
      .collect()
    edge.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
    // and the codegen'd plan stays codegen'd (no fallback marker)
    val p = docs.select(TextFns.rollingHash(col("text")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Fallback"), p.take(800))
  }

  test("contaminationHits: shared n-grams found, distinct-counted, clean docs absent") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 2 distinct 5-grams
      (2L, "totally unrelated words in this document here"),
      (3L, "quick brown fox jumps over and over again")     // shares 1
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "we saw the quick brown fox jumps over a fence")).toDF("doc_id", "text")
    val got = TextFns.contaminationHits(corpus, eval, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "the quick brown fox jumps" and "quick brown fox jumps over";
    // doc 3 only the latter; doc 2 nothing -> absent from the report
    assert(got === Map(1L -> 2L, 3L -> 1L))
  }

  test("scrubPii: known vectors — email, url, digit run, overlap order") {
    val df = Seq(
      "mail bob99@host.com now",
      "see https://docs.example.org/a/b.html and http://x.io",
      "ref 123456789 ok short 1234567 kept",
      "mixed user1@site3.net at http://site3.net/user1 id 900000001",
      "clean text no pii").toDF("t")
    val got = df.select(TextFns.scrubPii(col("t"))).collect().map(_.getString(0))
    assert(got(0) === "mail <EMAIL> now")
    assert(got(1) === "see <URL> and <URL>")
    assert(got(2) === "ref <NUM> ok short 1234567 kept") // 7 digits survive
    // URL scrubbed FIRST, so the email inside the path never splits it
    assert(got(3) === "mixed <EMAIL> at <URL> id <NUM>")
    assert(got(4) === "clean text no pii")
    val (ne, nu, nn) = TextFns.piiCounts(col("t"))
    val counts = df.select(ne, nu, nn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(counts(0) === ((1L, 0L, 0L)))
    assert(counts(1) === ((0L, 2L, 0L)))
    assert(counts(2) === ((0L, 0L, 1L)))
    assert(counts(4) === ((0L, 0L, 0L)))
  }

  test("ngram novelty: copies score 0, originals 1, partial overlap exact") {
    val docs = Seq(
      (1L, "a b c d e"),            // all 3 distinct 3-grams first here
      (2L, "a b c d e"),            // exact copy -> novelty 0
      (3L, "a b c x y z"),          // shares "a b c" only -> 3/4 novel
      (4L, "p q r s")               // fresh -> novelty 1
    ).toDF("doc_id", "text")
    val got = TextFns.ngramNovelty(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((3L, 3L, 1.0)))
    assert(got(2L) === ((3L, 0L, 0.0)))
    // doc 3 grams: "a b c","b c x","c x y","x y z" — first owns all but
    // "a b c"
    assert(got(3L) === ((4L, 3L, 0.75)))
    assert(got(4L) === ((2L, 2L, 1.0)))
  }

  test("chunkDocs: every word covered, overlap = size - stride, ids stable") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // 10 words
      (2L, "a b"),                            // shorter than one chunk
      (3L, (1 to 35).map(i => s"t$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = TextFns.chunkDocs(docs, "doc_id", "text", chunkSize = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // starts 1,3,5,7,9 -> lengths 4,4,4,4,2
    assert(d1.map(_._3).toSeq === Seq(4L, 4L, 4L, 4L, 2L))
    assert(d1.map(_._2).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    assert(d1.head._4 === h("w1 w2 w3 w4"))
    assert(d1.last._4 === h("w9 w10"))
    // a doc shorter than a chunk yields exactly one clamped chunk
    val d2 = got.filter(_._1 == 2L)
    assert(d2.length === 1 && d2.head._3 === 2L && d2.head._4 === h("a b"))
    // word conservation at stride == size/2: every word in ceil(n/stride)
    // chunks' union; chunk count = ceil(n / stride)
    val d3 = got.filter(_._1 == 3L)
    assert(d3.length === (35 + 1) / 2)
  }

  test("shingleFingerprint equals first minhash component semantics") {
    val df = Seq("a b c d e").toDF("t")
    val fp = df.select(TextFns.shingleFingerprint(split(col("t"), " "))).collect()(0).getString(0)
    // min over md5 of shingles {"a b c","b c d","c d e"}
    val exp = Seq("a b c", "b c d", "c d e")
      .map(s => java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString).min
    assert(fp === exp)
  }

  test("hashedLinearScore equals a Scala reference; per-occurrence weighting") {
    val w = TextFns.demoWeightsMilli(64)
    def refScore(text: String): Long =
      text.split(" ").map { tok =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes).map("%02x".format(_)).mkString.take(4)
        w((java.lang.Long.parseLong(hex, 16) % 64).toInt)
      }.sum
    val texts = Seq("the quick brown fox", "the the the", "solo")
    val got = texts.toDF("t")
      .select(TextFns.hashedLinearScore(col("t"), w)).collect().map(_.getLong(0))
    texts.zip(got).foreach { case (t, g) => assert(g === refScore(t), t) }
    // repeated tokens weigh per occurrence, not per type
    assert(got(1) === 3 * refScore("the"))
  }

  test("winnowing: run guarantee, density, equals a Scala reference implementation") {
    val k = 3; val w = 4
    def refWinnow(text: String): Set[Long] = {
      val words = text.split(" ")
      val grams =
        if (words.length < k) Seq(words.mkString(" "))
        else words.sliding(k).map(_.mkString(" ")).toSeq
      val hs = grams.map { g =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes).map("%02x".format(_)).mkString.take(14)
        java.lang.Long.parseLong(hex, 16)
      }
      if (hs.length <= w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "a b",
      "one two three four five six",
      ("lorem ipsum dolor sit amet " * 8).trim)
    val got = texts.toDF("t")
      .select(TextFns.winnowedPrints(split(col("t"), " "), k, w))
      .collect().map(_.getSeq[Long](0).toSet)
    texts.zip(got).foreach { case (t, g) => assert(g === refWinnow(t), t) }

    // run guarantee: two docs sharing a w+k-1-word run share >= 1 print
    val shared = "alpha bravo charlie delta echo foxtrot" // 6 = w+k-1 words
    val d1 = s"$shared unique tail words here"
    val d2 = s"different head stuff $shared"
    assert(refWinnow(d1).intersect(refWinnow(d2)).nonEmpty)
    val gotPair = Seq(d1, d2).toDF("t")
      .select(TextFns.winnowedPrints(split(col("t"), " "), k, w))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(gotPair(0).intersect(gotPair(1)).nonEmpty)

    // density: winnowed set is a real compression of the gram set
    val big = texts(0)
    val nGrams = big.split(" ").sliding(k).length
    assert(got(0).size < nGrams && got(0).size >= nGrams / (w + 1))
  }

  test("winnow_prints native kernel equals the HOF reference, ORDER included") {
    val k = 3; val w = 4
    // real corpus text: every doc, exact array equality (order matters —
    // downstream explodes are order-insensitive, but the pin is stricter)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(split(col("text"), " ").as("ws"))
    val both = docs.select(
        TextFns.winnowedPrints(col("ws"), k, w).as("native"),
        winnowedPrintsHof(col("ws"), k, w).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    // adversarial vectors: null text, empty, single word, exactly k words,
    // exactly w+k-1 words (single window), heavy repetition (distinct path)
    val edge = Seq(
      null, "", "solo", "one two three", "a b c d e f",
      ("dup " * 30).trim, "x y x y x y x y")
    import spark.implicits._
    val edgeRows = edge.toDF("t")
      .select(
        TextFns.winnowedPrints(split(col("t"), " "), k, w).as("native"),
        winnowedPrintsHof(split(col("t"), " "), k, w).as("hof"))
      .collect()
    edgeRows.zip(edge).foreach { case (r, t) =>
      assert(!r.isNullAt(0), s"native null for '$t'")
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"'$t'")
    }
    // null elements INSIDE the words array (concat_ws skips them)
    val withNulls = Seq(
      (1L, Seq(Some("a"), None, Some("b"), Some("c"), None)),
      (2L, Seq(None: Option[String], None, None)),
      (3L, Seq(Some("only"))))
      .toDF("id", "ws")
      .select(
        TextFns.winnowedPrints(col("ws"), k, w).as("native"),
        winnowedPrintsHof(col("ws"), k, w).as("hof"))
      .collect()
    withNulls.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("normalizeText: NFC composition, controls to space, collapse, trim") {
    val vectors = Seq(
      ("café", "café"), //        decomposed -> composed (NFC)
      ("a\tb\nc", "a b c"), //          C0 controls become single spaces
      ("  a   b  ", "a b"), //          runs collapse, ends trim
      ("xyz", "x y z"), //  C0 + DEL
      ("", ""),
      ("\t\t", ""), //                  all-control -> empty
      ("héllo wörld", "héllo wörld")) // already-NFC text unchanged
    val got = vectors.map(_._1).toDF("t")
      .select(TextFns.normalizeText(col("t"))).collect().map(_.getString(0))
    assert(got.toSeq === vectors.map(_._2))
    // exact-dedup motivation: byte-different, visually-identical texts
    // fingerprint equal AFTER normalization
    val pair = Seq("café  au lait", "café au\tlait").toDF("t")
      .select(md5(TextFns.normalizeText(col("t")))).collect().map(_.getString(0))
    assert(pair(0) === pair(1))
    // null propagates
    val nul = Seq(Option.empty[String]).toDF("t")
      .select(TextFns.normalizeText(col("t"))).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("mainContent: density and length classification, jusText-lite") {
    def mc(s: String): String =
      Seq(s).toDF("h").select(TextFns.mainContent(col("h")))
        .collect()(0).getString(0)
    // nav dies on density, content survives, footer dies on density
    val page = "<html><body>" +
      "<nav><a href=\"/\">Home page link</a> <a href=\"/a\">About us link</a></nav>" +
      "<p>This paragraph is long enough to clear the length gate easily.</p>" +
      "<footer>(c) 2026 Example site <a href=\"/tos\">Terms</a> <a href=\"/p\">Privacy</a></footer>" +
      "</body></html>"
    assert(mc(page) ===
      "This paragraph is long enough to clear the length gate easily.")
    // script/style/comment content dies BEFORE the split — a script body
    // containing block tags must not fabricate blocks
    assert(mc("<script>var x = \"<p>fake</p>\";</script>" +
      "<p>real content block that is clearly long enough to keep.</p>") ===
      "real content block that is clearly long enough to keep.")
    // a long paragraph with one small inline link survives (low density)
    val linked = "<p>Read the <a href=\"/r\">spec</a> for the full detail " +
      "of the algorithm and its boundary behavior.</p>"
    assert(mc(linked) === "Read the spec for the full detail " +
      "of the algorithm and its boundary behavior.")
    // survivors join with newlines, in document order
    assert(mc("<p>First survivor paragraph with plenty of characters.</p>" +
      "<p>Second survivor paragraph with plenty of characters.</p>") ===
      "First survivor paragraph with plenty of characters.\n" +
        "Second survivor paragraph with plenty of characters.")
    // entities decode inside kept blocks
    assert(mc("<p>salt &amp; pepper make this sentence long enough now.</p>") ===
      "salt & pepper make this sentence long enough now.")
  }

  test("mainContent: exact classification boundaries (integer compare)") {
    def mc(s: String): String =
      Seq(s).toDF("h").select(TextFns.mainContent(col("h")))
        .collect()(0).getString(0)
    // length boundary: 25 chars kept, 24 dropped (>= minChars)
    val c25 = "1234567890123456789012345"
    assert(mc(s"<p>$c25</p>") === c25)
    assert(mc(s"<p>${c25.take(24)}</p>") === "")
    // density boundary: link 10 chars in a 50-char block = exactly 200 permille
    val post33 = "abcdefghijklmnopqrstuvwxyzabcdefg"
    val at = s"<p>start <a href=\"/x\">0123456789</a> $post33</p>"
    assert(mc(at) === s"start 0123456789 $post33") // 10 * 1000 == 200 * 50: kept
    val over = s"<p>start <a href=\"/x\">0123456789</a> ${post33.take(32)}</p>"
    assert(mc(over) === "") // 10 * 1000 > 200 * 49: dropped
  }

  test("mainContent: empty page and null propagate") {
    assert(Seq("<div></div>").toDF("h")
      .select(TextFns.mainContent(col("h"))).collect()(0).getString(0) === "")
    assert(Seq[Option[String]](None).toDF("h")
      .select(TextFns.mainContent(col("h"))).collect()(0).isNullAt(0))
  }
}
