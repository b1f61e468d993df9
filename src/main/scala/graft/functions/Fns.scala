package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function kit (SURVEY §2.8, F1–F19).
  *
  * Reference semantics (studied, not copied) from
  * `/root/reference/src/core/worker.js:137-141` (F1/F2),
  * `/root/reference/scripts/retry_failed.js:56-83` (F3/F4/F16),
  * `/root/reference/src/database/models.js:117` (F8),
  * `/root/reference/scripts/monitor_indexer.js:163-164` (F13),
  * `/root/reference/scripts/init_clickhouse.js:505` (F15).
  *
  * Everything here is either a codegen'd built-in composition (preferred —
  * stays inside whole-stage codegen at 100 TB) or, where genuinely not
  * expressible (F3/F15), a plain Scala core that a native function in
  * [[GraftExpressions]] calls.
  */
object Fns {

  /** F1: tx hash = sha256 over the base64-DECODED raw tx bytes, upper-hex.
    * Ref: src/core/worker.js:137 (hash of raw bytes, not the base64 text). */
  def txHash(rawB64: Column): Column = upper(sha2(unbase64(rawB64), 256))

  /** F2: base64 -> lowercase hex. Ref: src/core/worker.js:141. */
  def b64ToHex(b64: Column): Column = lower(hex(unbase64(b64)))

  private val B64Charset = "^[A-Za-z0-9+/=]+$".r
  private val PrintableAscii = "^[\\x09\\x0A\\x0D\\x20-\\x7E]*$".r

  /** F3 core: heuristic base64 decode. Decode only when the string looks like
    * base64 (charset + length % 4 == 0) AND the decoded bytes are printable
    * ASCII (tab/LF/CR allowed); otherwise return the original unchanged.
    * Ref: scripts/retry_failed.js:56-65. */
  def maybeB64DecodeStr(s: String): String = {
    if (s == null) return null
    if (s.nonEmpty && B64Charset.pattern.matcher(s).matches() && s.length % 4 == 0) {
      try {
        val dec = new String(
          java.util.Base64.getDecoder.decode(s),
          java.nio.charset.StandardCharsets.UTF_8)
        if (PrintableAscii.pattern.matcher(dec).matches()) return dec
      } catch { case _: IllegalArgumentException => () }
    }
    s
  }

  /** F4: first `message`-type event's non-empty `action` attribute value,
    * else "unknown". Pure higher-order-function form — no UDF, codegen-safe.
    * `events` must be ARRAY<STRUCT<type, attributes ARRAY<STRUCT<key,value,..>>>>.
    * Ref: scripts/retry_failed.js:67-79, src/core/indexer.js:59-70. */
  def messageAction(events: Column): Column = {
    val actions = flatten(transform(
      filter(events, e => e.getField("type") === "message"),
      e => transform(
        filter(e.getField("attributes"),
          a => a.getField("key") === "action" && coalesce(a.getField("value"), lit("")) =!= ""),
        a => a.getField("value"))))
    // try_element_at: ANSI mode (Spark 4 default) makes element_at throw on
    // an empty array; the reference's loop just falls through to 'unknown'.
    coalesce(try_element_at(actions, lit(1)), lit("unknown"))
  }

  /** F8: physical partition bucket = floor(height / 100000).
    * Ref: src/database/models.js:117 (`intDiv(height, 100000)`). */
  def heightBucket(height: Column): Column = floor(height / lit(100000L)).cast("long")

  /** F13: age in whole minutes between `ts` and a reference instant (both epoch
    * seconds). Ref: scripts/monitor_indexer.js:163-164. */
  def ageMinutes(tsSecs: Column, refSecs: Column): Column =
    floor((refSecs - tsSecs) / lit(60L)).cast("long")

  /** F15 core: human-readable byte size, 2 decimals, binary units.
    * Ref: ClickHouse formatReadableSize used at scripts/init_clickhouse.js:505. */
  def formatReadableSizeStr(bytes: Long): String = {
    val units = Array("B", "KiB", "MiB", "GiB", "TiB", "PiB")
    var b = bytes.toDouble
    var i = 0
    while (math.abs(b) >= 1024.0 && i < units.length - 1) { b /= 1024.0; i += 1 }
    if (i == 0) s"$bytes B" else f"$b%.2f ${units(i)}"
  }

  /** Karp-Rabin rolling-hash core: fold code points through
    * (acc*31 + cp) mod 1e9+7. One tight loop per row — the expression-fold
    * formulation (split("") → per-char array → aggregate) materializes
    * |chars| single-char strings per row. Code points (not UTF-16 units)
    * match both `ascii()` over empty-regex split pieces (Java splits
    * between code points) and DuckDB's per-character string_split. Empty
    * string hashes to 0 like the fold's single-empty-piece ascii('')=0. */
  def rollingHashStr(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** F16 (tx retry): backoff seconds = min(600, 2^attempts * 5).
    * Ref: scripts/retry_failed.js:81-83. */
  def backoffSeconds(attempts: Column): Column =
    least(lit(600.0), pow(lit(2.0), attempts) * lit(5.0)).cast("long")

  /** F16 (block retry): next-retry delay seconds = 300 * 2^min(retryCount, 5).
    * Ref: src/core/worker.js:345-352 (5 min base, capped exponent). */
  def blockRetryDelaySeconds(retryCount: Column): Column =
    (lit(300L) * pow(lit(2.0), least(retryCount, lit(5))).cast("long")).cast("long")

  /** F19: JS falsy-defaulting (`x || dflt`) for strings: null OR '' -> default. */
  def falsyDefault(c: Column, dflt: String): Column =
    coalesce(nullif(c, lit("")), lit(dflt))

  /** F19 numeric flavor: null or 0 -> default. */
  def falsyDefaultNum(c: Column, dflt: Double): Column =
    when(c.isNull || c === 0, lit(dflt)).otherwise(c)

  /** Unicode cleanup core (the CCNet/ftfy-style pre-dedup step): NFC
    * composition, C0/DEL control characters → space, space runs collapsed,
    * ends trimmed. NFC is pinned by Unicode (same answer from
    * java.text.Normalizer and DuckDB's utf8proc nfc_normalize), which is
    * what makes the operator oracle-checkable cross-engine. Tabs/newlines
    * are C0 controls, so they normalize to single spaces too. */
  def normalizeTextStr(s: String): String = {
    val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var i = 0
    var pendingSpace = false
    while (i < nfc.length) {
      val c = nfc.charAt(i)
      if (c <= '\u001f' || c == '\u007f' || c == ' ') pendingSpace = true
      else {
        if (pendingSpace && sb.length() > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
