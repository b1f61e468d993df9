package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic gate/spec fixtures, OUT of the operator namespace
  * (VERDICT r11 item 5): operators under `graft.ext` carry only engine
  * surface; the synthetic columns the CORRECTNESS gates attach to the
  * documents table live here. Every fixture is a pure column expression
  * driven by id residues, so the DuckDB oracle twins replay it verbatim.
  */
object Fixtures {

  /** Deterministic URL fixture (formerly `Url.attachUrls`):
    * scheme/www/port/casing/tracking-param/fragment variation all driven by
    * id residues, with the HOST keyed by (source, doc_id % 50) so canonical
    * collisions — the thing URL dedup exists to collapse — actually occur,
    * and ccSLD TLDs in the rotation so registrableDomain's 3-label rule is
    * exercised. */
  def attachUrls(docs: DataFrame, idCol: String, sourceCol: String): DataFrame = {
    val id = col(idCol)
    val tld = when(id % 4 === 0, ".co.uk")
      .when(id % 4 === 1, ".com")
      .when(id % 4 === 2, ".org")
      .otherwise(".example.com")
    val url = concat(
      when(id % 3 === 0, "HTTPS://WWW.").when(id % 3 === 1, "https://")
        .otherwise("http://"),
      col(sourceCol), lit("-"), (id % 50).cast("string"), tld,
      when(id % 5 === 0, ":443").otherwise(""),
      lit("/p/"), (id % 20).cast("string"),
      when(id % 2 === 0, concat(lit("?utm_source=feed&item="), (id % 7).cast("string")))
        .otherwise(""),
      when(id % 6 === 0, "#frag").otherwise(""))
    docs.withColumn("url", url)
  }

  /** Host fixture for the PSL registrable-domain gate: a 12-way rotation
    * that exercises every PSL rule kind in [[graft.ext.Psl.Snapshot]] —
    * private-section platform suffixes (github.io, blogspot.com), 2- and
    * 3-label ICANN rules (co.uk, co.jp, k12.ca.us), wildcard rules with
    * their exceptions (*.kawasaki.jp / !city.kawasaki.jp, *.ck / !www.ck),
    * the implicit `*` default (an unlisted TLD), and a dotless host. */
  def pslHost(id: Column): Column =
    when(id % 12 === 0, concat(lit("user"), (id % 7).cast("string"), lit(".github.io")))
      .when(id % 12 === 1, concat(lit("blog"), (id % 5).cast("string"), lit(".blogspot.com")))
      .when(id % 12 === 2, concat(lit("a.b.shop"), (id % 5).cast("string"), lit(".co.uk")))
      .when(id % 12 === 3, concat(lit("sub.x"), (id % 3).cast("string"), lit(".kawasaki.jp")))
      .when(id % 12 === 4, lit("city.kawasaki.jp"))
      .when(id % 12 === 5, lit("www.ck"))
      .when(id % 12 === 6, concat(lit("p.biz"), (id % 4).cast("string"), lit(".ck")))
      .when(id % 12 === 7, concat(lit("school"), (id % 3).cast("string"), lit(".k12.ca.us")))
      .when(id % 12 === 8, concat(lit("sub.example"), (id % 6).cast("string"), lit(".com")))
      .when(id % 12 === 9, concat(lit("site"), (id % 5).cast("string"), lit(".something.xyz")))
      .when(id % 12 === 10, lit("localhost"))
      .otherwise(concat(lit("news"), (id % 4).cast("string"), lit(".co.jp")))

  /** The [[pslHost]] rotation as DuckDB SQL over a `doc_id` column — the
    * oracle twin, kept adjacent to the Spark form so they drift together. */
  def pslHostSql(id: String): String =
    s"(CASE WHEN $id % 12 = 0 THEN 'user' || CAST($id % 7 AS VARCHAR) || '.github.io' " +
      s"WHEN $id % 12 = 1 THEN 'blog' || CAST($id % 5 AS VARCHAR) || '.blogspot.com' " +
      s"WHEN $id % 12 = 2 THEN 'a.b.shop' || CAST($id % 5 AS VARCHAR) || '.co.uk' " +
      s"WHEN $id % 12 = 3 THEN 'sub.x' || CAST($id % 3 AS VARCHAR) || '.kawasaki.jp' " +
      s"WHEN $id % 12 = 4 THEN 'city.kawasaki.jp' " +
      s"WHEN $id % 12 = 5 THEN 'www.ck' " +
      s"WHEN $id % 12 = 6 THEN 'p.biz' || CAST($id % 4 AS VARCHAR) || '.ck' " +
      s"WHEN $id % 12 = 7 THEN 'school' || CAST($id % 3 AS VARCHAR) || '.k12.ca.us' " +
      s"WHEN $id % 12 = 8 THEN 'sub.example' || CAST($id % 6 AS VARCHAR) || '.com' " +
      s"WHEN $id % 12 = 9 THEN 'site' || CAST($id % 5 AS VARCHAR) || '.something.xyz' " +
      s"WHEN $id % 12 = 10 THEN 'localhost' " +
      s"ELSE 'news' || CAST($id % 4 AS VARCHAR) || '.co.jp' END)"

  /** HTML fixture for the extraction gate: wraps a text column in a page
    * skeleton exercising every stripHtml rule — a script body containing a
    * REAL `<` (must die with its block, not derail tag stripping), a style
    * block, a comment, attribute-carrying tags, and the entity set with
    * `&amp;lt;` planted to catch double-decoding. */
  def attachHtml(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("html", concat(
      lit("<html><head><title>Doc "), col(idCol).cast("string"),
      lit("</title><style>p { color: red; }</style>" +
        "<script type=\"text/javascript\">if (a<b) { x = 1; }</script>" +
        "</head><body><!-- header --><h1 class=\"t\">Doc "),
      col(idCol).cast("string"),
      lit("</h1><p>"), col(textCol),
      lit("</p><br><div>footer &amp; more&nbsp;&lt;end&gt; &amp;lt;raw" +
        "&quot;q&quot;&#39;s</div></body></html>")))

  /** The [[attachHtml]] skeleton as a DuckDB SQL expression over `id` and
    * `text` column references — the oracle twin. */
  def htmlSql(id: String, text: String): String =
    s"'<html><head><title>Doc ' || CAST($id AS VARCHAR) || " +
      "'</title><style>p { color: red; }</style>" +
      "<script type=\"text/javascript\">if (a<b) { x = 1; }</script>" +
      "</head><body><!-- header --><h1 class=\"t\">Doc ' || " +
      s"CAST($id AS VARCHAR) || '</h1><p>' || $text || " +
      "'</p><br><div>footer &amp; more&nbsp;&lt;end&gt; &amp;lt;raw" +
      "&quot;q&quot;&#39;s</div></body></html>'"

  /** Page-with-links fixture for the outlink/frontier gates: an html body
    * whose anchors rotate every [[graft.ext.Url.resolveLink]] branch through
    * id residues — absolute external, protocol-relative, root-relative
    * (planted TWICE, exercising per-doc dedup), directory-relative, `./` and
    * `../` forms, a padded href (trim), uppercase HREF, single-quoted href,
    * a SELF link back to the page's own url column (so the frontier gate has
    * already-fetched keys to subtract), three non-fetchables (fragment,
    * mailto, javascript) that must resolve to NULL, and two `data-href`
    * DECOYS pinning the attribute-name boundary: the dup anchor carries a
    * `data-href` BEFORE its real href (a suffix match would extract the
    * decoy instead), and one anchor has ONLY a `data-href` (must yield no
    * link at all). */
  def attachLinksHtml(docs: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val id = col(idCol)
    docs.withColumn("html", concat(
      lit("<html><body><p>See <a href=\"https://ext-"), (id % 9).cast("string"),
      lit(".org/a/"), (id % 13).cast("string"), lit("?x="), (id % 5).cast("string"),
      lit("\">abs</a> <a href='//cdn-"), (id % 5).cast("string"),
      lit(".net/l/"), (id % 11).cast("string"),
      lit("'>proto</a> <A HREF=\"/r/"), (id % 11).cast("string"),
      lit("\">root</A> <a class=\"n\" href=\"sub/"), (id % 7).cast("string"),
      lit(".html\">rel</a> <a href=\"../up/"), (id % 3).cast("string"),
      lit("\">up</a> <a href=\"./here/"), (id % 4).cast("string"),
      lit("\">dot</a> <a href=\" sp/"), (id % 2).cast("string"),
      lit(" \">sp</a> <a href=\""), col(urlCol),
      lit("\">self</a> <a href=\"#sec\">f</a> <a href=\"mailto:u@ex.org\">m</a>" +
        " <a href=\"JavaScript:void(0)\">j</a>" +
        " <a data-href=\"/decoy2/9\">noh</a>" +
        " <a data-href=\"/decoy/"), (id % 6).cast("string"),
      lit("\" href=\"/r/"), (id % 11).cast("string"),
      lit("\">dup</a> "),
      // rel=canonical rotation (r14): absolute target / href-FIRST
      // attribute order with a root-relative target / none — <link> is not
      // <a>, so the outlink/anchor extractors must ignore it entirely
      when(id % 3 === 0, concat(lit("<link rel=\"canonical\" href=\"https://canon-"),
        (id % 10).cast("string"), lit(".org/c/"), (id % 8).cast("string"), lit("\">")))
        .when(id % 3 === 1, concat(lit("<link href=\"/canon/"),
          (id % 7).cast("string"), lit("\" rel=\"canonical\">")))
        .otherwise(lit("")),
      lit("</p></body></html>")))
  }

  /** The [[attachLinksHtml]] body as a DuckDB SQL expression over `id` and
    * `url` column references — the oracle twin. */
  def linksHtmlSql(id: String, url: String): String =
    s"'<html><body><p>See <a href=\"https://ext-' || CAST($id % 9 AS VARCHAR) || " +
      s"'.org/a/' || CAST($id % 13 AS VARCHAR) || '?x=' || CAST($id % 5 AS VARCHAR) || " +
      s"'\">abs</a> <a href=''//cdn-' || CAST($id % 5 AS VARCHAR) || " +
      s"'.net/l/' || CAST($id % 11 AS VARCHAR) || " +
      s"'''>proto</a> <A HREF=\"/r/' || CAST($id % 11 AS VARCHAR) || " +
      s"'\">root</A> <a class=\"n\" href=\"sub/' || CAST($id % 7 AS VARCHAR) || " +
      s"'.html\">rel</a> <a href=\"../up/' || CAST($id % 3 AS VARCHAR) || " +
      s"'\">up</a> <a href=\"./here/' || CAST($id % 4 AS VARCHAR) || " +
      s"'\">dot</a> <a href=\" sp/' || CAST($id % 2 AS VARCHAR) || " +
      s"' \">sp</a> <a href=\"' || $url || " +
      s"'\">self</a> <a href=\"#sec\">f</a> <a href=\"mailto:u@ex.org\">m</a>" +
      s" <a href=\"JavaScript:void(0)\">j</a>" +
      s" <a data-href=\"/decoy2/9\">noh</a>" +
      s" <a data-href=\"/decoy/' || CAST($id % 6 AS VARCHAR) || " +
      s"'\" href=\"/r/' || CAST($id % 11 AS VARCHAR) || " +
      s"'\">dup</a> ' || " +
      s"(CASE WHEN $id % 3 = 0 THEN '<link rel=\"canonical\" href=\"https://canon-' || " +
      s"CAST($id % 10 AS VARCHAR) || '.org/c/' || CAST($id % 8 AS VARCHAR) || '\">' " +
      s"WHEN $id % 3 = 1 THEN '<link href=\"/canon/' || CAST($id % 7 AS VARCHAR) || " +
      s"'\" rel=\"canonical\">' ELSE '' END) || " +
      s"'</p></body></html>'"

  /** Boilerplate-laden page fixture for the main-content gate: a nav bar
    * and a footer that must die on LINK DENSITY (both clear the length
    * gate — the footer by 5 chars — so density is what kills them), a
    * title block and an `<h1>` that die on LENGTH, a link-free content
    * paragraph (entity planted), a content paragraph with one inline link
    * that must SURVIVE (low density), a link-list `<aside>` whose items
    * die individually, a script whose body must die pre-split, and a
    * comment. Digit rotations keep hrefs varied without moving any block
    * across its classification boundary (all rotated digits are
    * single-char). */
  def attachBoilerHtml(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    docs.withColumn("html", concat(
      lit("<html><head><title>Doc "), id.cast("string"),
      lit("</title><script>var nav = \"<ul>\";</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/s/"),
      (id % 6).cast("string"),
      lit("\">Stories</a> <a href=\"/c\">Contact</a></nav><h1>Doc "),
      id.cast("string"),
      lit("</h1><p>Body: "), col(textCol),
      lit(" &amp; a stable closing sentence for the length gate.</p>" +
        "<p>Continued part "),
      (id % 9).cast("string"),
      lit(" with a <a href=\"/ref/"), (id % 7).cast("string"),
      lit("\">reference link</a> inside a long enough paragraph to clear the gate.</p>" +
        "<aside><ul><li><a href=\"/t/1\">One</a></li><li><a href=\"/t/"),
      (id % 4).cast("string"),
      lit("\">Two</a></li></ul></aside><!-- tracking pixel --><footer>(c) 2026 " +
        "Example <a href=\"/tos\">Terms</a> <a href=\"/privacy\">Privacy</a>" +
        "</footer></body></html>")))
  }

  /** The [[attachBoilerHtml]] skeleton as a DuckDB SQL expression — the
    * oracle twin, adjacent so they drift together. */
  def boilerHtmlSql(id: String, text: String): String =
    s"'<html><head><title>Doc ' || CAST($id AS VARCHAR) || " +
      "'</title><script>var nav = \"<ul>\";</script></head><body>" +
      s"<nav><a href=\"/\">Home</a> <a href=\"/s/' || CAST($id % 6 AS VARCHAR) || " +
      s"'\">Stories</a> <a href=\"/c\">Contact</a></nav><h1>Doc ' || CAST($id AS VARCHAR) || " +
      s"'</h1><p>Body: ' || $text || " +
      "' &amp; a stable closing sentence for the length gate.</p>" +
      s"<p>Continued part ' || CAST($id % 9 AS VARCHAR) || " +
      s"' with a <a href=\"/ref/' || CAST($id % 7 AS VARCHAR) || " +
      "'\">reference link</a> inside a long enough paragraph to clear the gate.</p>" +
      "<aside><ul><li><a href=\"/t/1\">One</a></li><li><a href=\"/t/' || " +
      s"CAST($id % 4 AS VARCHAR) || " +
      "'\">Two</a></li></ul></aside><!-- tracking pixel --><footer>(c) 2026 " +
      "Example <a href=\"/tos\">Terms</a> <a href=\"/privacy\">Privacy</a>" +
      "</footer></body></html>'"

  /** WARC container fixture: each doc becomes a three-record container —
    * warcinfo (no target URI; proves NULL passthrough), request, response
    * (payload = HTTP status line + headers + the [[attachHtml]] page, so
    * the WET gate exercises the same extraction rules as x_html_extract).
    * Every record is length-framed over payloads that CONTAIN blank lines
    * (the request's trailing CRLFCRLF, the response's header/body split),
    * so a parser that stops at the first blank line inside a payload
    * hash-mismatches. Status rotates 404 on every 5th doc — the WET
    * conversion must drop those. Needs a `url` column ([[attachUrls]]). */
  def attachWarc(docs: DataFrame, idCol: String, textCol: String,
                 urlCol: String): DataFrame = {
    val id = col(idCol)
    val crlf = "\r\n"
    val info = "software: graftbot/1.0\r\nformat: WARC File Format 1.0"
    val withHtml = attachHtml(docs, idCol, textCol)
    val reqPayload = concat(lit("GET /p/"), (id % 20).cast("string"),
      lit(" HTTP/1.1" + crlf + "Host: example.org" + crlf + crlf))
    val respPayload = concat(
      lit("HTTP/1.1 "),
      when(id % 5 === 0, "404 Not Found").otherwise("200 OK"),
      lit(crlf + "Content-Type: text/html" + crlf + crlf), col("html"))
    val date = concat(lit("2026-03-"),
      lpad(((id % 27) + 1).cast("string"), 2, "0"), lit("T00:00:00Z"))
    def rec(headers: Column, payload: Column): Column = concat(
      lit("WARC/1.0" + crlf), headers,
      lit("Content-Length: "), length(payload).cast("string"),
      lit(crlf + crlf), payload, lit(crlf + crlf))
    withHtml.withColumn("warc", concat(
        rec(lit("WARC-Type: warcinfo" + crlf +
          "WARC-Date: 2026-03-01T00:00:00Z" + crlf), lit(info)),
        rec(concat(lit("WARC-Type: request" + crlf + "WARC-Target-URI: "),
          col(urlCol), lit(crlf + "WARC-Date: "), date, lit(crlf)), reqPayload),
        rec(concat(lit("WARC-Type: response" + crlf + "WARC-Target-URI: "),
          col(urlCol), lit(crlf + "WARC-Date: "), date, lit(crlf)), respPayload)))
      .drop("html")
  }

  /** Render a Scala string constant (CRLFs included) as a DuckDB string
    * expression — regular SQL strings keep backslashes literal, so line
    * breaks must concatenate through chr(13)||chr(10). */
  def sqlStr(s: String): String =
    s.split("\r\n", -1).map(p => "'" + p.replace("'", "''") + "'")
      .mkString(" || chr(13) || chr(10) || ")

  /** The [[attachWarc]] container as a DuckDB SQL CTE tail — expects a
    * preceding CTE `wh(doc_id, url, h)` where `h` is the [[htmlSql]] page;
    * yields CTEs `wp` (payload parts) and `wc(doc_id, warc)`. Kept
    * adjacent to [[attachWarc]] so the twins drift together. [[sqlStr]]
    * renders empty split segments as `''` concatenations (harmless), so
    * every CRLF — including doubled ones — comes straight from the shared
    * Scala constant. */
  def warcSqlCtes(id: String): String = {
    val crlf = " || chr(13) || chr(10) || "
    val info = sqlStr("software: graftbot/1.0\r\nformat: WARC File Format 1.0")
    s"wp AS (SELECT doc_id, url, h, $info AS info, " +
      s"'GET /p/' || CAST($id % 20 AS VARCHAR) || " +
      sqlStr(" HTTP/1.1\r\nHost: example.org\r\n\r\n") + " AS req, " +
      s"'HTTP/1.1 ' || (CASE WHEN $id % 5 = 0 THEN '404 Not Found' " +
      "ELSE '200 OK' END) || " +
      sqlStr("\r\nContent-Type: text/html\r\n\r\n") +
      " || h AS resp, " +
      s"'2026-03-' || lpad(CAST(($id % 27) + 1 AS VARCHAR), 2, '0') || " +
      "'T00:00:00Z' AS d FROM wh), " +
      "wc AS (SELECT doc_id, " +
      sqlStr("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
        "WARC-Date: 2026-03-01T00:00:00Z\r\nContent-Length: ") +
      " || CAST(length(info) AS VARCHAR)" + crlf + "''" + crlf +
      "info" + crlf + "''" + crlf +
      sqlStr("WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: ") +
      s" || url$crlf'WARC-Date: ' || d$crlf" +
      "'Content-Length: ' || CAST(length(req) AS VARCHAR)" + crlf + "''" +
      crlf + "req" + crlf + "''" + crlf +
      sqlStr("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: ") +
      s" || url$crlf'WARC-Date: ' || d$crlf" +
      "'Content-Length: ' || CAST(length(resp) AS VARCHAR)" + crlf + "''" +
      crlf + "resp" + crlf + "''" +
      " AS warc FROM wp)"
  }

  /** Fake media fixture (formerly `Multimodal.attachFakeMedia`): content =
    * UTF-8 bytes of a text column, metadata deterministic from the id.
    * Stands in for reading real (bytes, metadata) pairs from a lakehouse
    * table; `Multimodal.attachRealMedia` stays with the operator because it
    * exercises the REAL codec surface (synthesized PNG/GIF bytes). */
  def attachFakeMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("doc_id"),
      col(textCol).cast("binary").as("content"),
      struct(
        when(col(idCol) % 2 === 0, "png").otherwise("wav").as("format"),
        (col(idCol) % 64 + 16).cast("int").as("width"),
        (col(idCol) % 48 + 16).cast("int").as("height"),
        (col(idCol) * 40L).as("duration_ms")).as("meta"))

  /** Synthesized RPC envelopes for heights [from, to]: 5 txs x 2 events x
    * 2 attrs per block — denser than the flat_* correctness fixtures (1
    * tx/block) to match the reference's tx-volume-dependent throughput
    * claim. `graft.Bench` times its ingest on them and the `loop` ladder
    * fetches its items from them. */
  def envelopes(spark: SparkSession, from: Long, to: Long): DataFrame =
    spark.range(from, to + 1).select(
      col("id").as("height"),
      date_format(
        timestamp_seconds(lit(1748736000L) + col("id") % 86400), // 2025-06-01 +
        "yyyy-MM-dd'T'HH:mm:ss'Z'").as("time"),
      md5(col("id").cast("string")).as("app_hash"),
      transform(sequence(lit(1), lit(5)),
        i => base64(concat(col("id").cast("string"), lit("|tx"), i).cast("binary")))
        .as("txs"),
      transform(sequence(lit(1), lit(5)), i => struct(
        (i % 4).cast("int").as("code"),
        (col("id") % 1000 + 100).cast("string").as("gas_wanted"),
        (col("id") % 900 + 90).cast("string").as("gas_used"),
        base64(concat(lit("d"), i).cast("binary")).as("data"),
        lit("ok").as("log"),
        transform(sequence(lit(1), lit(2)), e => struct(
          when(e % 2 === 0, "message").otherwise("wasm").as("type"),
          transform(sequence(lit(1), lit(2)), a => struct(
            concat(lit("k"), a).as("key"),
            concat(col("id").cast("string"), lit("-"), i, lit("-"), e).as("value"),
            lit(true).as("index"))).as("attributes"))).as("events"))).as("txs_results"),
      lit(null).cast(graft.schema.Schemas.envelope("finalize_block_events").dataType)
        .as("finalize_block_events"))
}
