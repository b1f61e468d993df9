package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL curation operators — the first stage of published web-corpus
  * pipelines (RefinedWeb §3.1, CCNet, C4 all dedup/filter on URL before
  * touching text): canonicalize, extract host/registrable domain, exact-dup
  * by canonical key, cap and blocklist by domain.
  *
  * Everything here is pure column expressions (lower/regexp chains —
  * codegen'd, zero shuffle) except the dedup/cap operators, which shuffle
  * once on their key like the rest of the dedup family. Every regex sticks
  * to the common RE2/Java subset (character classes, alternation, anchors)
  * so the DuckDB oracle twins replay them verbatim with the 'g' flag.
  *
  * [[canonicalKey]] is a deterministic DEDUP KEY, not a fetchable URL: the
  * query separator is normalized to '&' so tracking-parameter removal is
  * one global regex regardless of parameter position. Two URLs that differ
  * only in scheme, www, default port, fragment, tracking params, separator
  * spelling, or trailing slash map to one key.
  */
object Url {

  /** Tracking parameters stripped by [[canonicalKey]] — the standard
    * click-identifier set (utm_* campaign tags, Facebook/Google click ids,
    * bare ref). */
  val TrackingParams = "utm_[a-z0-9]*|fbclid|gclid|ref"

  /** Second-level labels that act as public suffixes under a 2-letter ccTLD
    * (co.uk, com.au, ...): the approximation [[registrableDomain]] uses in
    * place of the full public-suffix list (the full list is a data file;
    * this subset covers the dominant ccSLD registries and keeps the oracle
    * twin expressible in one SQL expression). */
  val CcSlds = Seq("co", "com", "net", "org", "gov", "ac", "edu")

  /** Canonical dedup key of a URL. Steps (each one global regexp_replace,
    * oracle-twinned verbatim):
    *  1. lowercase
    *  2. strip fragment (`#...`)
    *  3. strip scheme (`http://` / `https://`)
    *  4. strip leading `www.`
    *  5. strip default port (`:80`/`:443` at the end of the AUTHORITY —
    *     the pattern is anchored to the leading host run, so a path or
    *     query segment that merely ends in `:443` is untouched; `?`/`&`
    *     are accepted after the port as well as `/` or end-of-string,
    *     because this step runs BEFORE the `?`->`&` normalization and a
    *     query-only URL on a default port — `example.com:443?x=1` — must
    *     merge with its portless spelling)
    *  6. normalize the query separator: `?` -> `&`
    *  7. drop tracking params (`&(utm_*|fbclid|gclid|ref)=...`)
    *  8. strip a trailing `/` or `&` */
  def canonicalKey(url: Column): Column = {
    val s1 = lower(url)
    val s2 = regexp_replace(s1, "#.*$", "")
    val s3 = regexp_replace(s2, "^https?://", "")
    val s4 = regexp_replace(s3, "^www\\.", "")
    val s5 = regexp_replace(s4, "^([^/:?&]*):(80|443)([/?&]|$)", "$1$3")
    val s6 = regexp_replace(s5, "\\?", "&")
    val s7 = regexp_replace(s6, "&(" + TrackingParams + ")=[^&]*", "")
    regexp_replace(s7, "(/|&)$", "")
  }

  /** Host of a canonical key: everything before the first `/`, `&` or `:`.
    * The `:` cut drops a NON-default port (default ones are already gone
    * from the key): domain policy — blocklists, per-domain caps — must not
    * be evadable by serving the same host on an alternate port. The
    * canonical KEY keeps the port (different origin, different page), only
    * the derived host/domain ignore it. */
  def hostOf(key: Column): Column =
    regexp_extract(key, "^([^/&:]*)", 1)

  /** Registrable domain (approximate): the last two host labels, or the
    * last three when the second-to-last label is a [[CcSlds]] entry under a
    * 2-letter ccTLD — `a.b.example.co.uk` -> `example.co.uk`,
    * `a.example.com` -> `example.com`. Hosts with fewer labels pass
    * through unchanged.
    *
    * Implemented as two anchored regexp_extracts + coalesce, NOT
    * split/element_at/CASE: the array form duplicates the full upstream
    * expression per element access, and composed over [[canonicalKey]] the
    * generated code blew past janino's 64 KB method limit (whole-stage
    * codegen fell back to interpreted for the entire stage). The regex form
    * compiles to three small pattern calls. */
  def registrableDomain(host: Column): Column = {
    val ccSld = regexp_extract(host,
      "([^.]+\\.(" + CcSlds.mkString("|") + ")\\.[a-z][a-z])$", 1)
    val lastTwo = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    coalesce(
      when(ccSld =!= "", ccSld),
      when(lastTwo =!= "", lastTwo),
      host)
  }

  /** URL-exact dedup decision: one row per input, keep = lowest `idCol` per
    * canonical key (the RefinedWeb first-pass rule). One shuffle on the
    * key; same deterministic-keeper convention as [[Dedup.exactDedup]]. */
  def urlDedupKeep(docs: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("url_key")).orderBy(col(idCol))
    docs.withColumn("url_key", canonicalKey(col(urlCol)))
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
  }

  /** Incremental-crawl frontier dedup: rows of `newDocs` whose CANONICAL
    * url key is absent from `oldDocs` — the "have we already fetched this
    * page under any serving variant" primitive a refresh crawl runs before
    * touching content. [[Dedup.bloomNewKeys]] with the url key as the
    * fingerprint: the corpus keys compress to a Bloom filter, only
    * might-contain suspects pay the exact anti-join backstop, output EXACT
    * at any fpp. Production passes the known corpus size as
    * `expectedItems` instead of paying the sizing count. */
  def newUrlsOnly(newDocs: DataFrame, oldDocs: DataFrame, urlCol: String,
                  idCol: String, fpp: Double = 0.01,
                  expectedItems: Long = -1L): DataFrame =
    Dedup.bloomNewKeys(
      newDocs.select(col(idCol), canonicalKey(col(urlCol)).as("url_key")),
      oldDocs.select(canonicalKey(col(urlCol)).as("url_key")),
      idCol, "url_key", fpp, expectedItems)

  /** Domain quota: keep at most `cap` documents per registrable domain —
    * [[Sampling.sourceCapKeep]] composed over the derived domain column
    * (same salted scale route available via `salts`). `domainOf` selects
    * the domain policy: the default is the zero-dependency ccSLD regex
    * [[registrableDomain]]; pass `Psl.registrableDomain(_)` (or a custom
    * rule set via `Psl.registrableDomain(_, rules)`) for exact
    * public-suffix-list grouping — the difference is real policy, not
    * cosmetics: under the regex, every `*.github.io` site shares one
    * quota; under the PSL, each site gets its own.
    * Matching is lowercase/ASCII (canonicalKey lowercases the host, and
    * both domain policies compare ASCII labels): IDN domains must arrive
    * punycoded (xn--), as they do in crawl data. Prefer [[domainCapAuto]]
    * unless the salt count is already known. */
  def domainCapKeep(docs: DataFrame, urlCol: String, idCol: String,
                    cap: Int, salts: Int = 1,
                    domainOf: Column => Column = registrableDomain): DataFrame =
    Sampling.sourceCapKeep(
      docs.withColumn("domain", domainOf(hostOf(canonicalKey(col(urlCol))))),
      idCol, "domain", cap, salts)

  /** [[domainCapKeep]] with the salts knob decided by a measured skew probe
    * — [[Sampling.sourceCapAuto]] composed over the derived domain column
    * (round-12 verdict: the one capping entry point still taking a manual
    * `salts`). Plain single-window below the threshold; the salted
    * two-phase top-k when any single domain's row count exceeds it. Same
    * keep set either way (UrlSpec pins the flip on a planted mega-domain).
    * Precondition shared with the whole URL family: hosts are matched
    * lowercase/ASCII — IDN domains must be punycoded upstream. */
  def domainCapAuto(docs: DataFrame, urlCol: String, idCol: String,
                    cap: Int,
                    domainOf: Column => Column = registrableDomain,
                    skewRowThreshold: Long = Sampling.AutoSkewRowThreshold): DataFrame =
    Sampling.sourceCapAuto(
      docs.withColumn("domain", domainOf(hostOf(canonicalKey(col(urlCol))))),
      idCol, "domain", cap, skewRowThreshold)

  /** Domain blocklist filter: drop documents whose registrable domain is in
    * `blocked`. NULL-tolerant: a document with a NULL url (NULL propagates
    * through the whole canonicalKey/host/domain chain) is KEPT — a
    * blocklist must only remove documents POSITIVELY matched to a blocked
    * domain, never rows that merely lack a URL (an anti-join never matches
    * on a NULL key, so NULL-url rows survive by construction; the earlier
    * `!isin` literal form silently dropped them).
    *
    * ONE route — a broadcast LEFT ANTI join — for every list size, by
    * measurement, not by assumption (BlocklistShapeProbe, 10 M-row corpus):
    * the InSet-literal Filter form costs 19-33 s REGARDLESS of list size
    * (1k..100k entries) because the 8-regex domain chain evaluates inside a
    * Filter condition (and a `isNull || !isin` disjunction doubles it),
    * while the join shape computes the chain exactly ONCE in a Project and
    * probes a broadcast hash relation — 4.2-4.9 s at every list size, and
    * the list ships once per executor instead of inside every task binary.
    * At 100 TB the same shape holds: zero exchanges on the corpus side.
    * `blocked` entries must be lowercase ASCII registrable domains
    * (punycoded for IDN) — the derived domain column is lowercase ASCII by
    * construction, so a mixed-case or unicode list entry never matches. */
  def blocklistFilter(docs: DataFrame, urlCol: String,
                      blocked: Seq[String],
                      domainOf: Column => Column = registrableDomain): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bl = broadcast(blocked.toDF("__blocked_domain"))
    docs.withColumn("__bl_domain",
        domainOf(hostOf(canonicalKey(col(urlCol)))))
      .join(bl, col("__bl_domain") === col("__blocked_domain"), "left_anti")
      .drop("__bl_domain")
  }

  /** href values of `<a>` tags, double-quoted then single-quoted matches
    * (extraction order, not document order — callers sort or dedup).
    * The attribute name requires a WHITESPACE boundary before it
    * (`<a\s(?:[^>]*?\s)?href=`), so a `data-href="x"` attribute is never
    * mistaken for the link — without the boundary, the suffix match both
    * extracted the bogus value and could shadow the real href in a
    * mixed-quote tag. Same non-DOM regime as [[TextFns.stripHtml]], and
    * the same two documented failure modes: a literal `>` inside another
    * quoted attribute ends the `[^>]*` scan early, and an href mentioned
    * inside a DIFFERENT attribute's value (`data-x="href='u'"`) is
    * extracted as if it were real. Fine for the overwhelmingly well-formed
    * bulk of a web corpus; adversarial markup needs a DOM parser. Patterns
    * live in the Java-regex/RE2 common subset so the DuckDB oracle replays
    * them. */
  def extractLinks(html: Column): Column = concat(
    regexp_extract_all(html,
      lit("(?i)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*\"([^\"]*)\""), lit(1)),
    regexp_extract_all(html,
      lit("(?i)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*'([^']*)'"), lit(1)))

  /** Resolve an extracted href against its page URL — the reduced RFC 3986
    * merge a crawl frontier needs (absolute / protocol-relative /
    * root-relative / directory-relative, non-fetchable schemes and
    * fragment-only links to NULL), as pure when/regexp column expressions:
    * zero shuffle, codegen'd, oracle-replayable.
    *
    * Dot-segment normalization is BOUNDED, not recursive: two passes of
    * `/./` collapse and four of `/seg/../` (a fold of fixed regexes — a
    * while-loop needs a UDF, which this family bans). Paths nested deeper
    * than 4 `../` levels, or `..` climbing past the root, keep their
    * residue — the canonical key still dedups them consistently because
    * both engines fold the same chain. The collapse runs on the PATH part
    * only (origin split off first), so a host label can never be eaten by
    * an `/x/../` rewrite. Precondition: `base` is an absolute http(s) page
    * URL, as every fetch-table url column is. */
  def resolveLink(base: Column, link: Column): Column =
    resolveWithParts(baseScheme(base), baseOrigin(base), baseDir(base), link)

  /** The base URL's scheme (lowered, `https` fallback) — per-PAGE constant,
    * hoisted out of the per-href lambda by [[outlinks]]. */
  private[ext] def baseScheme(base: Column): Column = {
    val schemeRaw = regexp_extract(base, "(?i)^(https?):", 1)
    when(schemeRaw === "", lit("https")).otherwise(lower(schemeRaw))
  }

  /** The base URL's origin (`scheme://host[:port]`) — per-page constant. */
  private[ext] def baseOrigin(base: Column): Column =
    regexp_extract(base, "(?i)^(https?://[^/?#]*)", 1)

  /** The base URL's directory (path up to the last `/`; origin when there
    * is no path) — per-page constant. */
  private[ext] def baseDir(base: Column): Column = {
    val noQf = regexp_extract(base, "^([^?#]*)", 1)
    when(noQf.rlike("(?i)^https?://[^/]+/.+"),
      regexp_replace(noQf, "/[^/]*$", "")).otherwise(baseOrigin(base))
  }

  /** [[resolveLink]] body over precomputed base parts. Lambda bodies get no
    * common-subexpression elimination, so a per-href resolve that derives
    * scheme/origin/dir from the base INSIDE the lambda re-runs those three
    * regex extractions for every anchor on the page; hoisting them to row
    * columns cut the outlinks stage ~2x at the 1 M-page rung (LinkProbe). */
  private def resolveWithParts(scheme: Column, origin: Column, dir: Column,
                               link: Column): Column = {
    val l = trim(link)
    val raw = when(l.isNull || l === "", lit(null).cast("string"))
      .when(l.rlike("(?i)^(javascript|mailto|data|tel):") || l.rlike("^#"),
        lit(null).cast("string"))
      .when(l.rlike("(?i)^https?://"), l)
      .when(l.rlike("^//"), concat(scheme, lit(":"), l))
      .when(l.rlike("^/"), concat(origin, l))
      .otherwise(concat(dir, lit("/"), l))
    val rawOrigin = regexp_extract(raw, "(?i)^(https?://[^/]*)", 1)
    val rawPath = regexp_replace(raw, "(?i)^https?://[^/]*", "")
    val dots = (1 to 2).foldLeft(rawPath)((c, _) =>
      regexp_replace(c, "/\\.(/|$)", "$1"))
    val ups = (1 to 4).foldLeft(dots)((c, _) =>
      regexp_replace(c, "/[^/.][^/]*/\\.\\.(/|$)", "$1"))
    concat(rawOrigin, ups)
  }

  /** Outlink table of a fetched-page corpus: one row per (source doc,
    * distinct resolved link), with the link's canonical key — the edge list
    * a crawl frontier, link-graph rank, or anchor-text pass consumes.
    * Extraction, resolution, and PER-DOC dedup all happen inside the row's
    * own array (transform/filter/array_distinct before the explode), so the
    * operator is a zero-shuffle per-row map at any corpus size; only
    * consumers that need cross-doc grouping pay a shuffle. */
  def outlinks(docs: DataFrame, idCol: String, urlCol: String,
               htmlCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("src_id"),
        canonicalKey(col(urlCol)).as("src_key"),
        // per-page constants hoisted OUT of the per-href lambda (no CSE
        // inside lambda bodies — see resolveWithParts)
        baseScheme(col(urlCol)).as("__sch"),
        baseOrigin(col(urlCol)).as("__org"),
        baseDir(col(urlCol)).as("__dir"),
        extractLinks(col(htmlCol)).as("__hrefs"))
      .select(col("src_id"), col("src_key"),
        explode(array_distinct(filter(
          transform(col("__hrefs"),
            h => resolveWithParts(col("__sch"), col("__org"), col("__dir"), h)),
          x => x.isNotNull))).as("link"))
      .withColumn("link_key", canonicalKey(col("link")))

  /** Whole `<a ...>text</a>` elements of a page — the anchor-TEXT variant
    * of [[extractLinks]]: group 0 of one pass, href and inner text pulled
    * per element AFTER the explode (plain row expressions, no lambda).
    * Same non-DOM regime, one more documented limit: the inner text must
    * be tag-free (`[^<]*`) — an anchor wrapping markup is skipped. */
  def extractAnchors(html: Column): Column =
    regexp_extract_all(html,
      lit("(?i)<a\\s[^>]*>[^<]*</a>"), lit(0))

  /** Anchor-text table: one row per (source doc, anchor occurrence) with
    * the resolved target's canonical key and the anchor's inner text — the
    * relevance/quality signal search and curation pipelines aggregate per
    * TARGET (anchor text describes the page it points AT, written by
    * someone other than its author). Occurrences are kept, not deduped: ten
    * pages calling a target "official docs" is evidence with a count.
    * Same zero-shuffle per-row shape as [[outlinks]]; anchors without a
    * usable href (or with a non-fetchable one) drop. */
  def outAnchors(docs: DataFrame, idCol: String, urlCol: String,
                 htmlCol: String): DataFrame = {
    // Evaluation-shape notes (the anchor gate first measured 4.5x the link
    // gate's cost for identical work — two engine behaviors explain it and
    // shape this code): (1) lambda bodies get NO common-subexpression
    // elimination, and the resolve when-chain references its link ~10
    // times, so href extraction must be MATERIALIZED (here: a first
    // transform builds (href, text) structs; the resolve pass then reads
    // cheap struct fields); (2) a Filter above the resolving Project would
    // be pushed back through it by alias substitution and re-run the chain
    // (the round-12 blocklist finding), so the null-drop happens inside
    // the array, like outlinks.
    def f(p: Column, n: String) = p.getField(n)
    docs.select(col(idCol).cast("long").as("src_id"),
        baseScheme(col(urlCol)).as("__sch"),
        baseOrigin(col(urlCol)).as("__org"),
        baseDir(col(urlCol)).as("__dir"),
        // the \s before href is the same attribute-name boundary as
        // extractLinks: inside an element a real href always follows
        // whitespace, a data-href suffix follows '-' and must not match
        transform(extractAnchors(col(htmlCol)), e => struct(
          coalesce(
            nullif(regexp_extract(e, "(?i)\\shref\\s*=\\s*\"([^\"]*)\"", 1), lit("")),
            nullif(regexp_extract(e, "(?i)\\shref\\s*=\\s*'([^']*)'", 1), lit("")))
            .as("href"),
          trim(regexp_extract(e, "(?i)>([^<]*)</a>", 1)).as("text")))
          .as("__raw"))
      .select(col("src_id"),
        explode(filter(
          transform(col("__raw"), p => struct(
            resolveWithParts(col("__sch"), col("__org"), col("__dir"),
              f(p, "href")).as("link"),
            f(p, "text").as("text"))),
          q => f(q, "link").isNotNull)).as("__a"))
      .select(col("src_id"),
        canonicalKey(col("__a").getField("link")).as("link_key"),
        col("__a").getField("text").as("anchor_text"))
  }

  /** The page's `rel=canonical` href, NULL when none is declared — the
    * author-published dedup override (serving variants all point their
    * canonical link at one spelling; RFC 6596). One element pattern catches
    * BOTH attribute orders (`rel` before or after `href` — the `[^>]*` runs
    * on each side of `rel=canonical` cover either), and the href pull uses
    * the same `\shref` attribute-name boundary as [[extractLinks]]. Same
    * non-DOM regime and documented failure modes as the rest of the
    * family; first declaration wins when a page (invalidly) has several.
    *
    * The `rel` token is BOUNDARY'd on both sides, lookahead-free (RE2 has
    * none, and the oracle replays this): a whitespace attribute-name
    * boundary before it (`(?:[^>]*?\s)?rel` — so `data-rel="canonical"`
    * never selects the element, the same failure class the r14 `\shref`
    * fix closed), and `canonical` must appear as a whole TOKEN of the
    * value — `rel` is a space-separated token list per the HTML spec, so
    * quoted forms accept it anywhere between quote-or-whitespace
    * boundaries (`rel="alternate canonical"`, `rel="canonical "` — the
    * r15 review caught a draft that demanded the exact single-token
    * value), while the unquoted form is one token by construction and
    * must be followed by whitespace, `/` or the tag's own `>`. So
    * `rel=canonical-foo` / `rel="canonical-x"` never match; every
    * boundary char is CONSUMED and the element tail re-scanned by
    * alternation instead of a lookahead (RE2 has none). */
  def canonicalLink(html: Column): Column = {
    val el = regexp_extract(html,
      "(?i)<link\\s(?:[^>]*?\\s)?rel\\s*=\\s*" +
        "(?:\"(?:[^\"]*\\s)?canonical(?:\\s[^\"]*)?\"[^>]*" +
        "|'(?:[^']*\\s)?canonical(?:\\s[^']*)?'[^>]*" +
        "|canonical[\\s/][^>]*|canonical)>", 0)
    coalesce(
      nullif(regexp_extract(el, "(?i)\\shref\\s*=\\s*\"([^\"]*)\"", 1), lit("")),
      nullif(regexp_extract(el, "(?i)\\shref\\s*=\\s*'([^']*)'", 1), lit("")))
  }

  /** Per-page dedup keys with the `rel=canonical` OVERRIDE applied: the
    * page's own canonical-form key (`url_key`), the key dedup should
    * actually group on (`canonical_key` — the declared canonical target's
    * key when present and resolvable, else the page's own), and
    * `has_canonical`. The canonical href resolves against the page URL
    * through the same reduced-RFC3986 chain as [[outlinks]] (canonical
    * targets are frequently root-relative), with the per-page base parts
    * hoisted like every consumer of [[resolveLink]]. Zero-shuffle per-row
    * map; feed `canonical_key` to [[urlDedupKeep]]-style grouping to
    * collapse serving variants the URL normalizer alone cannot see. */
  def canonicalKeys(docs: DataFrame, idCol: String, urlCol: String,
                    htmlCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(urlCol).as("__u"),
        baseScheme(col(urlCol)).as("__sch"),
        baseOrigin(col(urlCol)).as("__org"),
        baseDir(col(urlCol)).as("__dir"),
        canonicalLink(col(htmlCol)).as("__cl"))
      .select(col("doc_id"), col("__u"),
        resolveWithParts(col("__sch"), col("__org"), col("__dir"),
          col("__cl")).as("__ct"))
      .select(col("doc_id"),
        canonicalKey(col("__u")).as("url_key"),
        when(col("__ct").isNull, canonicalKey(col("__u")))
          .otherwise(canonicalKey(col("__ct"))).as("canonical_key"),
        col("__ct").isNotNull.as("has_canonical"))

  /** Per-TARGET anchor rollup — the consumer [[outAnchors]] feeds: for each
    * resolved target key, how often it is linked (`n_anchors`), by how many
    * distinct source documents (`n_sources`), with how many distinct anchor
    * texts (`n_texts`), and the MODAL anchor text with its count
    * (`top_text`/`top_text_n`; ties break to the lexicographically smallest
    * text, so the output is deterministic and hash-gateable). This is the
    * quality/relevance signal per page: text written about the target by
    * people other than its author.
    *
    * Scale shape: the occurrence table is exchanged exactly twice, both
    * times BEHIND map-side partial aggregation — once keyed (link_key,
    * anchor_text) for the text histogram, once keyed link_key for the
    * distinct-source count — and everything after the first aggregation
    * operates on the reduced histogram (the mode window and final fold
    * reuse the link_key partitioning, and the join of two link_key-keyed
    * aggregates aligns without a new exchange). The tempting one-pass
    * alternative — collect_list per key, compute in array expressions —
    * is the skew trap: a mega-popular target (every page links the same
    * homepage) builds one unbounded array on one task. `anchors` is
    * [[outAnchors]] output or any (src_id, link_key, anchor_text) frame. */
  def anchorAgg(anchors: DataFrame): DataFrame = {
    val perText = anchors.groupBy("link_key", "anchor_text")
      .agg(count(lit(1)).as("__n_occ"))
    val w = Window.partitionBy("link_key")
      .orderBy(col("__n_occ").desc, col("anchor_text"))
    val texts = perText.withColumn("__rn", row_number().over(w))
      .groupBy("link_key").agg(
        sum("__n_occ").as("n_anchors"),
        count(lit(1)).as("n_texts"),
        max(when(col("__rn") === 1, col("anchor_text"))).as("top_text"),
        max(when(col("__rn") === 1, col("__n_occ"))).as("top_text_n"))
    val srcs = anchors.groupBy("link_key")
      .agg(countDistinct("src_id").as("n_sources"))
    texts.join(srcs, Seq("link_key"))
  }

  /** Parse sitemap XML into its URL entries — the OTHER frontier source
    * next to link discovery (sitemaps.org protocol: hosts publish the
    * pages they WANT crawled, often before any page links them). One row
    * per `<url>` block with the trimmed `<loc>`, its canonical key, and
    * the optional `<lastmod>` (NULL when absent — the recrawl-scheduling
    * signal). Same non-DOM regex regime as the html family: `<url>` blocks
    * via non-greedy `(?is)` extraction, fields pulled per block AFTER the
    * explode (plain row expressions), empty locs dropped. Zero-shuffle
    * per-row map; feed `loc_key` to [[Dedup.bloomNewKeys]] against the
    * fetched corpus exactly like [[discoveredFromLinks]] to get the
    * sitemap-sourced fetch candidates. */
  def sitemapEntries(sitemaps: DataFrame, hostCol: String,
                     xmlCol: String): DataFrame =
    sitemaps.select(col(hostCol).as("host"),
        explode(regexp_extract_all(col(xmlCol),
          lit("(?is)<url>(.*?)</url>"), lit(1))).as("__b"))
      .select(col("host"),
        trim(regexp_extract(col("__b"), "(?is)<loc>([^<]*)</loc>", 1)).as("loc"),
        nullif(trim(regexp_extract(col("__b"),
          "(?is)<lastmod>([^<]*)</lastmod>", 1)), lit("")).as("lastmod"))
      .filter(col("loc") =!= "")
      .withColumn("loc_key", canonicalKey(col("loc")))

  /** Recrawl candidates — the `lastmod` CONSUMER ([[sitemapEntries]] parses
    * it as "the recrawl-scheduling signal"; this acts on it — the refresh
    * complement of [[discoveredWithSitemaps]]'s discovery half): already-
    * FETCHED pages whose latest published `<lastmod>` is strictly newer
    * than the corpus's recorded fetch time re-enter the fetch queue. One
    * row per stale canonical key with the loc spelling to fetch and the
    * evidence pair (`lastmod`, `fetched_at`).
    *
    * Comparison is LEXICOGRAPHIC over the ISO-8601 strings both sides
    * publish (sitemaps.org requires W3C datetime — ISO subsets), which
    * orders correctly at mixed precision in the CONSERVATIVE direction: a
    * date-only lastmod strictly after the fetch day is stale, while one
    * EQUAL to the fetch day compares below the fetch's timestamped form —
    * same-day edits wait for the next sitemap refresh instead of
    * refetching on equality.
    *
    * Scale shape: the sitemap side folds to one row per loc_key (max
    * lastmod, min-loc spelling) BEFORE the join — sitemap tables are
    * host-published slivers next to a fetched corpus, so under AQE the
    * folded side broadcasts and the corpus probe pays zero exchanges; no
    * forced broadcast hint (the frontierOrder rule: a genuinely corpus-
    * sized sitemap union degrades to an equi-join shuffle on bounded keys,
    * never a driver OOM). `fetched` is a latest-per-key frame (key,
    * fetchedAt) — e.g. [[graft.store.Store.latest]] over the crawl log. */
  def recrawlCandidates(sitemaps: DataFrame, hostCol: String, xmlCol: String,
                        fetched: DataFrame, keyCol: String,
                        fetchedAtCol: String): DataFrame = {
    val latest = sitemapEntries(sitemaps, hostCol, xmlCol)
      .filter(col("lastmod").isNotNull)
      .groupBy(col("loc_key").as("link_key"))
      .agg(max("lastmod").as("lastmod"), min("loc").as("loc"))
    fetched.select(col(keyCol).as("link_key"),
        col(fetchedAtCol).cast("string").as("fetched_at"))
      .join(latest, Seq("link_key"))
      .filter(col("lastmod") > col("fetched_at"))
      .select("link_key", "loc", "lastmod", "fetched_at")
  }

  /** The FULL frontier: link discovery ∪ sitemap discovery, minus the
    * fetched corpus — the composition the r14 verdict flagged as missing
    * ([[sitemapEntries]] was gate-only; sitemaps are the PRIMARY discovery
    * source for new sites, which nothing links yet). One row per NEW
    * canonical key with both sources' evidence merged: `n_refs` = in-link
    * count (0 for sitemap-only keys — rank consumers treat it as the
    * in-degree it is), `first_src`/`link` from the link side when present
    * (else the sitemap's loc spelling), `in_sitemap`, and the sitemap's
    * latest `lastmod` (lexicographic max — ISO dates order correctly; the
    * recrawl-scheduling signal).
    *
    * Scale shape: both sources group on the SAME canonical key, so the
    * full-outer merge aligns two key-partitioned aggregates without a new
    * exchange on either side; the fetched corpus ships as a Bloom filter +
    * suspects-only anti-join exactly like [[discoveredFromLinks]] (EXACT
    * output at any fpp). Output feeds [[graft.ext.Crawl.frontierOrder]]
    * unchanged (it has `link_key`/`link`/`n_refs`). `links` is a
    * materialized [[outlinks]] table; `sitemaps` is (host, xml). */
  def discoveredWithSitemaps(links: DataFrame, sitemaps: DataFrame,
                             hostCol: String, xmlCol: String,
                             fetchedKeys: DataFrame,
                             fpp: Double = 0.01,
                             expectedItems: Long = -1L): DataFrame = {
    val fromMaps = sitemapEntries(sitemaps, hostCol, xmlCol)
      .groupBy(col("loc_key").as("link_key"))
      .agg(min("loc").as("__sm_loc"), max("lastmod").as("lastmod"))
    val merged = linkEvidence(links).join(fromMaps, Seq("link_key"), "full_outer")
      .select(col("link_key"),
        coalesce(col("link"), col("__sm_loc")).as("link"),
        col("first_src"),
        coalesce(col("n_refs"), lit(0L)).as("n_refs"),
        col("__sm_loc").isNotNull.as("in_sitemap"),
        col("lastmod"))
    subtractFetched(merged, fetchedKeys, fpp, expectedItems)
  }

  /** One row of link-side evidence per canonical key (representative
    * spelling = min link, discoverer = min src, in-degree = n_refs) — the
    * aggregate BOTH frontier entry points group on, factored so their
    * evidence shapes cannot drift (r15 review). */
  private def linkEvidence(links: DataFrame): DataFrame =
    links.groupBy("link_key")
      .agg(min("link").as("link"), min("src_id").as("first_src"),
        count(lit(1)).as("n_refs"))

  /** Subtract the fetched corpus from a per-key candidate frame:
    * [[Dedup.bloomNewKeys]] (Bloom-compressed corpus side, exact anti-join
    * backstop) + a semi-join back to the candidates — the shared tail of
    * both frontier entry points. No broadcast hint: in a refresh crawl the
    * new-key set is tiny (AQE broadcasts it); in a discovery crawl it is
    * most of the candidates and must stay a shuffled semi-join on the key
    * the candidates are already grouped by. */
  private def subtractFetched(candidates: DataFrame, fetchedKeys: DataFrame,
                              fpp: Double, expectedItems: Long): DataFrame = {
    // The candidate aggregate feeds THREE consumers (bloomNewKeys' definite/
    // suspect branches and the final semi-join), and exchange reuse does not
    // dedupe them across the bloom's union — lazily composed, the whole
    // evidence subtree (outlink extraction + per-key aggregation) re-ran
    // once per consumer (r16 plan audit: the sitemap-frontier plan held
    // three copies of the link-evidence scan). Materialize it once —
    // size-routed like the dedup family's intermediates: parquet for
    // corpus-scale inputs, in-memory checkpoint at gate scale.
    val mat = Dedup.matRoute(candidates,
      Dedup.sizeRatioPrefilterWorthIt(candidates),
      graft.Scratch.dir("graft-frontier"), "candidates")
    val newKeys = Dedup.bloomNewKeys(
      mat.select(col("link"), col("link_key")),
      fetchedKeys.toDF("link_key"),
      "link", "link_key", fpp, expectedItems)
    mat.join(newKeys.select("link_key"), Seq("link_key"), "left_semi")
  }

  /** Newly discovered frontier URLs: [[outlinks]] grouped to one row per
    * canonical link key (representative spelling = min link, discoverer =
    * min src, in-degree = n_refs), minus every key the corpus has already
    * fetched. `links` is an ALREADY-MATERIALIZED [[outlinks]] table —
    * the production form: the edge list is a pipeline product (the frontier
    * reads it, [[LinkGraph.pageRank]] iterates it, anchor/graph analyses
    * consume it), so it is extracted once and persisted rather than
    * re-extracted lazily (the resolve regex chain is the dominant cost, and
    * bloomNewKeys probes its input on two branches). `fetchedKeys`' single
    * column is the already-crawled canonical key set, any column name. */
  def discoveredFromLinks(links: DataFrame, fetchedKeys: DataFrame,
                          fpp: Double = 0.01,
                          expectedItems: Long = -1L): DataFrame =
    subtractFetched(linkEvidence(links), fetchedKeys, fpp, expectedItems)

}
