package graft

import org.apache.spark.sql.functions._
import graft.ext.{Psl, Url}
import graft.fixtures.Fixtures

class UrlSpec extends SparkTestBase {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("url").select(Url.canonicalKey(col("url")).as("k"))
      .collect().map(_.getString(0)).toSeq

  test("canonicalKey: scheme/www/port/fragment/tracking/slash/case variants collapse") {
    val variants = Seq(
      "https://www.Example.COM/a/b?utm_source=x&id=5#frag",
      "http://example.com:80/a/b?id=5",
      "HTTPS://EXAMPLE.COM:443/a/b?utm_campaign=y&id=5&fbclid=zzz",
      "https://example.com/a/b?id=5#other")
    assert(canon(variants: _*).distinct === Seq("example.com/a/b&id=5"))
    // trailing slash and empty-query residue
    assert(canon("https://example.com/a/") === Seq("example.com/a"))
    assert(canon("https://example.com/?utm_source=x") === Seq("example.com"))
    // a kept param before a stripped one keeps its position
    assert(canon("http://example.com/p?id=1&gclid=g&q=2") ===
      Seq("example.com/p&id=1&q=2"))
    // ref is stripped, but a prefix like 'refresh' is NOT ([^&]* is bounded
    // by the = after the exact name set)
    assert(canon("http://example.com/p?ref=abc") === Seq("example.com/p"))
    assert(canon("http://example.com/p?refresh=1") === Seq("example.com/p&refresh=1"))
    // port strip is anchored to the AUTHORITY: a path segment or query
    // value ending in :443/:80 must NOT collapse into the portless key
    assert(canon("http://example.com/video:443/x") === Seq("example.com/video:443/x"))
    assert(canon("http://example.com/p?t=12:80") === Seq("example.com/p&t=12:80"))
    // non-default ports stay in the key (different origin, different page)
    assert(canon("http://example.com:8080/x") === Seq("example.com:8080/x"))
    // a query-only URL on a default port merges with its portless spelling
    // (the port strip accepts ?/& after the port, not just / or EOS)
    assert(canon("http://example.com:443?x=1") === Seq("example.com&x=1"))
    assert(canon("http://example.com?x=1") === Seq("example.com&x=1"))
    assert(canon("http://example.com:80&x=1") === Seq("example.com&x=1"))
  }

  test("domain policy ignores ports: alternate-port serving cannot evade it") {
    val rows = Seq(
      "http://example.com:8080/spam",
      "http://example.com/spam",
      "https://example.com:443/ok")
      .toDF("url")
      .select(
        Url.hostOf(Url.canonicalKey(col("url"))).as("h"),
        Url.registrableDomain(Url.hostOf(Url.canonicalKey(col("url")))).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.forall(_._1 == "example.com"), rows.toString)
    assert(rows.forall(_._2 == "example.com"), rows.toString)
    // and the blocklist catches the alt-port URL
    val docs = Seq((1L, "http://example.com:8080/spam"), (2L, "http://other.org/x"))
      .toDF("doc_id", "url")
    val kept = Url.blocklistFilter(docs, "url", Seq("example.com"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(2L))
  }

  test("hostOf / registrableDomain: plain, deep, ccSLD, short hosts") {
    val rows = Seq(
      "https://a.b.example.com/x",
      "https://example.com/x",
      "https://www.example.co.uk/x?utm_source=s",
      "https://deep.sub.example.co.uk/x",
      "https://localhost/x",
      "https://example.org")
      .toDF("url")
      .select(
        Url.hostOf(Url.canonicalKey(col("url"))).as("h"),
        Url.registrableDomain(Url.hostOf(Url.canonicalKey(col("url")))).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows === Seq(
      ("a.b.example.com", "example.com"),
      ("example.com", "example.com"),
      ("example.co.uk", "example.co.uk"),
      ("deep.sub.example.co.uk", "example.co.uk"),
      ("localhost", "localhost"),
      ("example.org", "example.org")))
  }

  test("urlDedupKeep keeps the lowest id per key; fixture really collides") {
    val docs = Fixtures.attachUrls(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "source")
    val marked = Url.urlDedupKeep(docs, "url", "doc_id")
      .select("doc_id", "url_key", "keep").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // ground truth: lowest id per key
    val keeper = marked.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._1).min }
    marked.foreach { case (id, k, keep) =>
      assert((keep == 1) === (id == keeper(k)), s"doc $id key $k")
    }
    // the synthesized corpus must actually exercise collapsing
    assert(marked.groupBy(_._2).exists(_._2.length > 1),
      "fixture produced no URL collisions")
  }

  test("domainCapKeep caps per registrable domain; salted route identical") {
    val docs = Fixtures.attachUrls(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "source")
    val plain = Url.domainCapKeep(docs, "url", "doc_id", cap = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byDomain = docs
      .select(col("doc_id"),
        Url.registrableDomain(Url.hostOf(Url.canonicalKey(col("url")))).as("d"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = byDomain.groupBy(_._2).values
      .flatMap(_.map(_._1).sorted.take(5)).toSet
    assert(plain === expected)
    val salted = Url.domainCapKeep(docs, "url", "doc_id", cap = 5, salts = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(salted === plain)
  }

  test("domainCapAuto flips to the salted route on a planted mega-domain") {
    import spark.implicits._
    // 60 docs on one domain + 10 spread: with the threshold at 30 the probe
    // must measure 60 > 30 and flip; keep set must equal the manual routes
    val docs = (0L until 60L).map(i => (i, s"https://mega.example.com/p/$i")) ++
      (60L until 70L).map(i => (i, s"https://site$i.org/x"))
    val df = docs.toDF("doc_id", "url")
    val auto = Url.domainCapAuto(df, "url", "doc_id", cap = 7,
        skewRowThreshold = 30L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = Url.domainCapKeep(df, "url", "doc_id", cap = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val salted = Url.domainCapKeep(df, "url", "doc_id", cap = 7, salts = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(auto === plain && auto === salted)
    assert(auto === ((0L until 7L) ++ (60L until 70L)).toSet)
    // and below the threshold the auto route is the plain route (same set)
    val autoPlain = Url.domainCapAuto(df, "url", "doc_id", cap = 7,
        skewRowThreshold = 1000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(autoPlain === plain)
  }

  test("blocklistFilter drops exactly the blocked domains") {
    val docs = Fixtures.attachUrls(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "source")
    val withD = docs.select(col("doc_id"),
      Url.registrableDomain(Url.hostOf(Url.canonicalKey(col("url")))).as("d"))
    val domains = withD.select("d").distinct().collect().map(_.getString(0)).sorted
    assert(domains.length > 1, "need >1 domain to block one")
    val blocked = Seq(domains.head)
    val kept = Url.blocklistFilter(docs, "url", blocked)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = withD.filter(!col("d").isin(blocked: _*))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === expected)
    assert(kept.size < withD.count())
  }

  test("blocklistFilter keeps NULL-url rows (anti-join never matches NULL)") {
    val docs = Seq((1L, Some("http://spam.com/x")), (2L, None),
      (3L, Some("http://ok.org/y")))
      .toDF("doc_id", "url")
    val kept = Url.blocklistFilter(docs, "url", Seq("spam.com"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
  }

  test("blocklistFilter (anti-join shape) equals a reference isin filter") {
    val docs = Fixtures.attachUrls(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "source")
    val withD = docs.select(col("doc_id"),
      Url.registrableDomain(Url.hostOf(Url.canonicalKey(col("url")))).as("d"))
    val domains = withD.select("d").distinct().collect().map(_.getString(0)).sorted
    val blocked = domains.take(domains.length / 2).toSeq ++ Seq("never.example")
    val viaJoin = Url.blocklistFilter(docs, "url", blocked)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val reference = withD.filter(!col("d").isin(blocked: _*))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaJoin === reference)
    assert(viaJoin.nonEmpty && viaJoin.size < docs.count())
    // the join must not leak its helper column
    assert(!Url.blocklistFilter(docs, "url", blocked)
      .columns.contains("__bl_domain"))
  }

  private def pslDomains(hosts: String*): Seq[String] =
    hosts.toDF("h").select(Psl.registrableDomain(col("h")).as("d"))
      .collect().map(r => Option(r.getString(0)).orNull).toSeq

  test("Psl.registrableDomain: plain / private-section / 3-label rules") {
    assert(pslDomains(
      "user.github.io", "deep.sub.user.github.io",
      "blog.blogspot.com", "shop.example.co.uk", "a.b.shop.co.uk",
      "x.example.com", "news.co.jp", "school.k12.ca.us", "dist.k12.ny.us") ===
      Seq("user.github.io", "user.github.io",
        "blog.blogspot.com", "example.co.uk", "shop.co.uk",
        "example.com", "news.co.jp", "school.k12.ca.us", "dist.k12.ny.us"))
  }

  test("Psl.registrableDomain: wildcard and exception rules (PSL algorithm)") {
    assert(pslDomains(
      "sub.x.kawasaki.jp",  // *.kawasaki.jp: x.kawasaki.jp is the public
                            // suffix -> ps + 1 label = sub.x.kawasaki.jp
      "x.kawasaki.jp",      // IS a public suffix -> passthrough
      "city.kawasaki.jp",   // !city.kawasaki.jp: itself registrable
      "sub.city.kawasaki.jp", // exception: ps = kawasaki.jp, registrable =
                            // city.kawasaki.jp
      "www.ck",             // !www.ck: itself registrable
      "p.biz.ck",           // *.ck: biz.ck is public -> p.biz.ck registrable
      "biz.ck")             // IS a public suffix -> passthrough
      === Seq("sub.x.kawasaki.jp", "x.kawasaki.jp", "city.kawasaki.jp",
        "city.kawasaki.jp", "www.ck", "p.biz.ck", "biz.ck"))
  }

  test("Psl.registrableDomain: default rule, short hosts, null") {
    assert(pslDomains("a.b.unlistedtld", "x.something.xyz", "localhost",
      "com", "co.uk") ===
      Seq("b.unlistedtld", "something.xyz", "localhost", "com", "co.uk"))
    val r = Seq[Option[String]](None).toDF("h")
      .select(Psl.registrableDomain(col("h")).as("d")).collect()
    assert(r(0).isNullAt(0))
  }

  test("newUrlsOnly: serving variants of fetched pages are not new; null url is") {
    val corpus = Seq(
      (1L, "https://www.example.com/a?utm_source=x"),
      (2L, "http://other.org/b")).toDF("doc_id", "url")
    val refresh = Seq(
      (10L, "http://example.com/a"),        // variant of fetched page -> old
      (11L, "https://other.org/b/"),        // trailing slash variant -> old
      (12L, "https://fresh.net/c"),         // genuinely new
      (13L, null.asInstanceOf[String]))     // null url -> "new" (never matches)
      .toDF("doc_id", "url")
    val out = Url.newUrlsOnly(refresh, corpus, "url", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(12L, 13L))
    // exact at a hostile fpp too (the bloom moves cost, not correctness)
    val hostile = Url.newUrlsOnly(refresh, corpus, "url", "doc_id", fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hostile === Set(12L, 13L))
  }

  test("domainOf hook: PSL policy separates platform-hosted sites, regex lumps them") {
    val docs = Seq(
      (1L, "https://alice.github.io/p"), (2L, "https://bob.github.io/q"),
      (3L, "https://carol.github.io/r"), (4L, "https://example.com/x"))
      .toDF("doc_id", "url")
    // regex policy: all *.github.io share one domain -> cap 1 keeps one
    val regexKept = Url.domainCapKeep(docs, "url", "doc_id", cap = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(regexKept === Set(1L, 4L))
    // PSL policy: each site is its own registrable domain -> all survive
    val pslKept = Url.domainCapKeep(docs, "url", "doc_id", cap = 1,
        domainOf = h => Psl.registrableDomain(h))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pslKept === Set(1L, 2L, 3L, 4L))
    // and the blocklist hook blocks the SITE, not the platform
    val kept = Url.blocklistFilter(docs, "url", Seq("bob.github.io"),
        domainOf = h => Psl.registrableDomain(h))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L))
  }

  test("Psl.parseFileLines: the publicsuffix.org file format round-trips") {
    val file = Seq(
      "// ===BEGIN ICANN DOMAINS===",
      "", "  com  ", "co.uk", "*.ck", "!www.ck",
      "// a comment", "GitHub.IO", "")
    val rules = Psl.parseFileLines(file)
    assert(rules === Seq("com", "co.uk", "*.ck", "!www.ck", "github.io"))
    val d = Seq("a.b.github.io", "x.co.uk", "p.q.ck", "www.ck")
      .toDF("h").select(Psl.registrableDomain(col("h"), rules).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(d === Seq("b.github.io", "x.co.uk", "p.q.ck", "www.ck"))
  }

  test("Psl.registrableDomain honors custom rule lists") {
    val rules = Seq("custom.zone", "*.wild.zone", "!ok.wild.zone")
    val d = Seq("a.custom.zone", "b.x.wild.zone", "ok.wild.zone")
      .toDF("h").select(Psl.registrableDomain(col("h"), rules).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(d === Seq("a.custom.zone", "b.x.wild.zone", "ok.wild.zone"))
  }

  private def resolve(base: String, links: String*): Seq[String] =
    links.map(l => (base, l)).toDF("base", "l")
      .select(Url.resolveLink(col("base"), col("l")).as("r"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq

  test("resolveLink: every branch of the reduced RFC 3986 merge") {
    val base = "HTTPS://WWW.Site.co.uk:443/dir/page.html?q=1#top"
    assert(resolve(base,
      "https://other.org/x",        // absolute: untouched
      "HTTP://UPPER.ORG/Y",         // absolute, case-insensitive scheme test
      "//cdn.net/lib",              // protocol-relative: base scheme (lowered)
      "/rooted/p",                  // root-relative: origin (incl. port) + path
      "child.html",                 // directory-relative
      " padded ",                   // trim before classifying
      "./same/x",                   // ./ collapses
      "../up/x",                    // ../ climbs one level
      "#frag", "mailto:a@b.c", "javascript:void(0)", "tel:123", "") ===
      Seq(
        "https://other.org/x",
        "HTTP://UPPER.ORG/Y",
        "https://cdn.net/lib",
        "HTTPS://WWW.Site.co.uk:443/rooted/p",
        "HTTPS://WWW.Site.co.uk:443/dir/child.html",
        "HTTPS://WWW.Site.co.uk:443/dir/padded",
        "HTTPS://WWW.Site.co.uk:443/dir/same/x",
        "HTTPS://WWW.Site.co.uk:443/up/x",
        null, null, null, null, null))
    // base with no path: dir falls back to the origin
    assert(resolve("https://h.com", "a/b") === Seq("https://h.com/a/b"))
    assert(resolve("https://h.com/", "a/b") === Seq("https://h.com/a/b"))
    // nested ../ up to the documented 4-level bound (nested matches overlap,
    // so each global pass collapses ONE level); a 5th level keeps residue
    assert(resolve("https://h.com/a/b/c/d/e/f.html", "../../../../x") ===
      Seq("https://h.com/a/x"))
    assert(resolve("https://h.com/a/b/c/d/e/g/f.html", "../../../../../x") ===
      Seq("https://h.com/a/b/../x"))
    // ../ can never eat the host: the collapse runs on the path part only,
    // so climbing past the root leaves /../ residue instead of swallowing
    // a host label
    assert(resolve("https://h.com/a/x.html", "../../../up") ===
      Seq("https://h.com/../../up"))
  }

  test("outlinks: per-doc dedup, quote/case variants, non-fetchables dropped") {
    val docs = Seq((7L,
      "https://h.com/d/p.html",
      "<a href=\"/x\">1</a> <A HREF='/x'>same key</A> " +
        "<a class=\"z\" href=\"y.html\">rel</a> " +
        "<a href=\"#s\">f</a> <a href=\"mailto:m@x.y\">m</a>"))
      .toDF("doc_id", "url", "html")
    val out = Url.outlinks(docs, "doc_id", "url", "html")
    val got = out.select("src_id", "link", "link_key")
      .orderBy("link").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got === Seq(
      (7L, "https://h.com/d/y.html", "h.com/d/y.html"),
      (7L, "https://h.com/x", "h.com/x")))
    // the carried page key (what pageRank/discoveredFromLinks compose on)
    assert(out.select("src_key").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("h.com/d/p.html"))
  }

  test("outAnchors: occurrences kept, hrefless/non-fetchable/markup anchors drop") {
    val docs = Seq((3L, "https://h.com/d/p.html",
      "<a href=\"/x\">official docs</a> <a href='/x'>THE docs</a> " + // same key, 2 texts
        "<a href=\"y\"> padded text </a> " +       // inner text trimmed
        "<a name=\"n\">no href</a> " +             // hrefless: dropped
        "<a href=\"#s\">frag</a> " +               // non-fetchable: dropped
        "<a href=\"/m\"><b>markup</b></a> " +      // nested tag: skipped (non-DOM)
        "<a href=\"/e\"></a>"))                    // empty text kept as ''
      .toDF("doc_id", "url", "html")
    val got = Url.outAnchors(docs, "doc_id", "url", "html")
      .orderBy("link_key", "anchor_text").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got === Seq(
      ("h.com/d/y", "padded text"),
      ("h.com/e", ""),
      ("h.com/x", "THE docs"),
      ("h.com/x", "official docs")))
  }

  test("extractLinks/outAnchors: data-href is never the link (attribute-name boundary)") {
    // without the \s boundary before 'href', the non-greedy scan matched the
    // 'href' SUFFIX of data-href and extracted the decoy value — and in a
    // tag carrying both, shadowed the real link
    val docs = Seq((9L, "https://h.com/p",
      "<a data-href=\"/decoy\" href=\"/real\">t</a>" +
        " <a data-href=\"/only\">n</a>"))
      .toDF("doc_id", "url", "html")
    val links = Url.outlinks(docs, "doc_id", "url", "html")
      .select("link_key").collect().map(_.getString(0)).toSeq
    assert(links === Seq("h.com/real"))
    val anchors = Url.outAnchors(docs, "doc_id", "url", "html")
      .select("link_key", "anchor_text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(anchors === Seq(("h.com/real", "t")))
  }

  test("anchorAgg: occurrence/source/text counts, modal text, deterministic ties") {
    val anchors = Seq(
      (1L, "k1", "docs"), (2L, "k1", "docs"), (1L, "k1", "api"),
      (3L, "k2", "b"), (3L, "k2", "a"))
      .toDF("src_id", "link_key", "anchor_text")
    val got = Url.anchorAgg(anchors).orderBy("link_key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === Seq(
      // k1: 3 occurrences, 2 texts, mode 'docs' x2, 2 distinct sources
      ("k1", 3L, 2L, "docs", 2L, 2L),
      // k2: tie at 1 occurrence each -> lexicographically smallest text wins
      ("k2", 2L, 2L, "a", 1L, 1L)))
  }

  test("canonicalKeys: rel=canonical overrides the dedup key, both attr orders, resolve applies") {
    val docs = Seq(
      (1L, "https://h.com/page?b=1",
        "<p>x</p><link rel=\"canonical\" href=\"https://h.com/page\">"),
      (2L, "https://h.com/dir/v2.html",                 // href-first + relative
        "<link href='/dir/main.html' rel='canonical'><p>y</p>"),
      (3L, "https://h.com/plain", "<p>no canonical</p>"),
      (4L, "https://h.com/a", "<a href=\"/z\">link rel text canonical</a>")) // <a> is not <link>
      .toDF("doc_id", "url", "html")
    val got = Url.canonicalKeys(docs, "doc_id", "url", "html")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
      .toSeq
    assert(got === Seq(
      (1L, "h.com/page&b=1", "h.com/page", true),
      (2L, "h.com/dir/v2.html", "h.com/dir/main.html", true),
      (3L, "h.com/plain", "h.com/plain", false),
      (4L, "h.com/a", "h.com/a", false)))
  }

  test("canonicalLink: rel token boundary'd on both sides (r15 advice)") {
    val docs = Seq(
      // data-rel attribute must not select the element
      (1L, "<link data-rel=\"canonical\" href=\"https://x.com/no\">"),
      // unquoted rel=canonical-foo: no token boundary match
      (2L, "<link rel=canonical-foo href=\"https://x.com/no\">"),
      // unquoted rel=canonical followed by whitespace: valid
      (3L, "<link rel=canonical href=\"https://x.com/yes\">"),
      // unquoted rel=canonical directly before the tag's > (href first)
      (4L, "<link href=\"https://x.com/yes\" rel=canonical>"),
      // quoted value that merely STARTS with canonical: no match
      (5L, "<link rel=\"canonical-x\" href=\"https://x.com/no\">"),
      // self-closing slash as the boundary
      (6L, "<link rel=canonical href='https://x.com/yes'/>"),
      // rel is a TOKEN LIST (HTML spec): canonical among other tokens
      (7L, "<link rel=\"alternate canonical\" href=\"https://x.com/yes\">"),
      // trailing space inside the quoted value
      (8L, "<link rel=\"canonical \" href=\"https://x.com/yes\">"),
      // token-prefix inside quotes still must NOT match
      (9L, "<link rel=\"canonicalize me\" href=\"https://x.com/no\">"))
      .toDF("doc_id", "html")
    val got = docs.select(col("doc_id"),
        Url.canonicalLink(col("html")).as("c"))
      .orderBy("doc_id").collect()
      .map(r => Option(r.getString(1))).toSeq
    assert(got === Seq(None, None, Some("https://x.com/yes"),
      Some("https://x.com/yes"), None, Some("https://x.com/yes"),
      Some("https://x.com/yes"), Some("https://x.com/yes"), None))
  }

  test("sitemapEntries: url blocks explode, loc trimmed, lastmod optional, empty loc drops") {
    val sm = Seq(("h.com",
      "<?xml version=\"1.0\"?><urlset>" +
        "<url><loc>https://h.com/a</loc><lastmod>2026-01-02</lastmod></url>" +
        "<url><loc> https://h.com/b </loc></url>" +
        "<url><loc></loc></url></urlset>"))
      .toDF("host", "xml")
    val got = Url.sitemapEntries(sm, "host", "xml")
      .select("loc", "lastmod", "loc_key").orderBy("loc").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getString(2))).toSeq
    assert(got === Seq(
      ("https://h.com/a", Some("2026-01-02"), "h.com/a"),
      ("https://h.com/b", None, "h.com/b")))
  }

  test("discoveredWithSitemaps: sources merge on key, fetched vanish, sitemap-only n_refs 0") {
    val links = Seq(
      (1L, "p.com/a", "https://x.com/l1", "x.com/l1"),    // link-only, 2 refs
      (2L, "p.com/b", "https://x.com/l1", "x.com/l1"),
      (1L, "p.com/a", "https://y.com/both", "y.com/both"), // also in sitemap
      (1L, "p.com/a", "https://old.com/f", "old.com/f"))   // already fetched
      .toDF("src_id", "src_key", "link", "link_key")
    val sitemaps = Seq(("y.com",
      "<urlset><url><loc>https://y.com/both</loc><lastmod>2026-01-05</lastmod></url>" +
        "<url><loc>https://y.com/smonly</loc></url>" +
        "<url><loc>https://old.com/f</loc></url></urlset>"))
      .toDF("host", "xml")
    val fetched = Seq("old.com/f").toDF("k")
    val got = Url.discoveredWithSitemaps(links, sitemaps, "host", "xml", fetched)
      .orderBy("link_key").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3),
        r.getBoolean(4), Option(r.getString(5)))).toSeq
    assert(got === Seq(
      ("x.com/l1", "https://x.com/l1", 1L, 2L, false, None),
      // merged row: in-degree from links AND the sitemap's lastmod
      ("y.com/both", "https://y.com/both", 1L, 1L, true, Some("2026-01-05")),
      // sitemap-only: no discoverer, zero in-degree, spelling from the loc
      ("y.com/smonly", "https://y.com/smonly", -1L, 0L, true, None)))
  }

  test("discoveredUrls: already-fetched keys vanish, audit columns correct") {
    // doc 1 links to doc 2's page (already fetched -> not discovered), to
    // a fresh external page, and to itself; doc 2 links to the SAME fresh
    // page (n_refs=2) under a tracking-param spelling variant (same key)
    val docs = Seq(
      (1L, "https://a.com/1",
        "<a href=\"https://b.com/2\">peer</a> " +
          "<a href=\"https://new.org/p?utm_source=x\">fresh</a> " +
          "<a href=\"https://a.com/1\">self</a>"),
      (2L, "https://b.com/2",
        "<a href=\"https://new.org/p\">fresh too</a>"))
      .toDF("doc_id", "url", "html")
    val got = Url.discoveredFromLinks(Url.outlinks(docs, "doc_id", "url", "html"),
        docs.select(Url.canonicalKey(col("url"))))
      .select("link_key", "link", "first_src", "n_refs")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(("new.org/p", "https://new.org/p", 1L, 2L)))
  }

  test("recrawlCandidates: stale refetches, same-day date-only stays fresh, folds and drops right") {
    val sitemaps = Seq(
      ("a.com", "<urlset>" +
        "<url><loc>https://a.com/stale</loc><lastmod>2026-02-10</lastmod></url>" +
        // two entries for the same loc: the latest-fold must keep the max
        "<url><loc>https://a.com/stale</loc><lastmod>2026-02-03</lastmod></url>" +
        // date-only lastmod EQUAL to the fetch day: conservative -> fresh
        "<url><loc>https://a.com/sameday</loc><lastmod>2026-02-05</lastmod></url>" +
        // older than the fetch -> fresh
        "<url><loc>https://a.com/old</loc><lastmod>2026-01-01</lastmod></url>" +
        // no lastmod -> no recrawl signal
        "<url><loc>https://a.com/nolm</loc></url>" +
        // never fetched -> discovery's job, not recrawl's
        "<url><loc>https://a.com/new</loc><lastmod>2026-02-20</lastmod></url>" +
        "</urlset>")).toDF("host", "xml")
    val fetched = Seq(
      ("a.com/stale", "2026-02-05T12:00:00Z"),
      ("a.com/sameday", "2026-02-05T12:00:00Z"),
      ("a.com/old", "2026-02-05T12:00:00Z"),
      ("a.com/nolm", "2026-02-05T12:00:00Z"))
      .toDF("key", "fetched_at")
    val got = Url.recrawlCandidates(sitemaps, "host", "xml",
        fetched, "key", "fetched_at")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3))).toSeq
    assert(got === Seq(("a.com/stale", "https://a.com/stale",
      "2026-02-10", "2026-02-05T12:00:00Z")))
  }
}
