package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, KnownNullable, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native SQL functions for the per-row work no built-in composition does
  * well (SURVEY §2.11). Each is a kernel — plain Scala over Catalyst's
  * internal types (`UTF8String`, `ArrayData`, primitives) — called through
  * one [[Native]] node. Spark swaps the node for its own invoke expression
  * after analysis, so whole-stage codegen emits the direct call
  * (`Kernels.rollingHash(s)`, `((LmScorer) references[i]).score(ws)`) and
  * nothing here writes generated code.
  */

/** A call of `method` on `target` with the children's internal values, shown
  * and named as `name(children)`. `target` is a Scala object's class (a call
  * of its static forwarder) or a serializable kernel instance; a kernel that
  * carries a model is a case class, so equal models give `semanticEquals`
  * nodes. A null input yields null without calling the kernel;
  * `nullableResult` lets the kernel itself return null (a boxed result). */
case class Native(name: String, children: Seq[Expression], target: AnyRef,
    method: String, resultType: DataType, argTypes: Seq[InputType],
    nullableResult: Boolean = false)
    extends RuntimeReplaceable with ImplicitCastInputTypes {

  override def prettyName: String = name
  override def toString: String = s"$name(${children.mkString(", ")})"
  override def inputTypes: Seq[InputType] = argTypes
  override def dataType: DataType = resultType
  override def nullable: Boolean = nullableResult || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == argTypes.length) super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(
      s"$name takes ${argTypes.length} arguments, got ${children.length}")

  /** Spark's invokes declare themselves null-intolerant, so the optimizer
    * would infer `isnotnull(arg)` from a condition over the call and push it
    * below the projection that computes the argument, evaluating that
    * argument twice (x_near_dup's verify sets: 2x the query time). A nullable
    * call is therefore wrapped in a tagging node, which infers nothing. */
  override lazy val replacement: Expression = {
    val call = target match {
      case obj: Class[_] =>
        StaticInvoke(obj, resultType, method, children, returnNullable = nullableResult)
      case v: VectorKernel =>
        val isDouble = children.head.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }
        invoke(v.forElements(isDouble))
      case k => invoke(k)
    }
    if (nullable) KnownNullable(call) else call
  }

  private def invoke(kernel: AnyRef): Expression =
    Invoke(Literal.fromObject(kernel), method, resultType, children,
      returnNullable = nullableResult)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Native = copy(children = newChildren)
}

/** A kernel whose loop reads FLOAT or DOUBLE vectors: [[Native]] fixes which
  * from the input's resolved type, so no input is cast to array<double>. */
trait VectorKernel {
  def forElements(isDouble: Boolean): AnyRef
}

/** The kernels with no model, called statically. */
object Kernels {
  private[functions] val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** F15: bytes -> "1.50 KiB". */
  def formatReadableSize(bytes: Long): UTF8String =
    UTF8String.fromString(Fns.formatReadableSizeStr(bytes))

  /** F3: the reference's heuristic base64 decode (regex + decode). */
  def maybeB64Decode(s: UTF8String): UTF8String =
    UTF8String.fromString(Fns.maybeB64DecodeStr(s.toString))

  /** Karp-Rabin rolling hash: one code-point loop per row. Replaces the
    * split("")→aggregate fold in the fingerprint hot path, which
    * materialized |chars| single-char strings per row (the dominant cost of
    * x_fingerprint at sf0.1). Value-identical to the fold (spec-asserted). */
  def rollingHash(s: UTF8String): Long = Fns.rollingHashStr(s.toString)

  /** Unicode text cleanup: NFC composition + C0/DEL controls → space +
    * space-run collapse + trim (the CCNet/ftfy-style step run before any
    * fingerprinting/dedup so byte-level encoding noise doesn't defeat exact
    * matching). The DuckDB oracle twin is nfc_normalize + regexp_replace —
    * NFC is pinned by Unicode, so both engines agree. */
  def normalizeText(s: UTF8String): UTF8String =
    UTF8String.fromString(Fns.normalizeTextStr(s.toString))

  /** Cosine similarity of two float arrays as ONE loop per row — the
    * similarity hot path (brute-force scans, bucketed self-joins) otherwise
    * pays three higher-order-function folds (zip_with + aggregate for dot,
    * ‖a‖, ‖b‖), and HOFs don't participate in whole-stage codegen.
    * Arithmetic is the HOFs' exact fold: products/squares accumulated in
    * index order from 0.0, result dot/(√‖a‖·√‖b‖) — bit-identical doubles
    * (SimilaritySpec asserts), so the DuckDB-oracle contract is unchanged.
    * Null semantics mirror the HOF form: length mismatch (zip_with's null
    * padding) or a null element → null. One deliberate divergence:
    * zero-norm/empty inputs yield NULL, where the HOF form under ANSI mode
    * (Spark 4 default) THROWS DIVIDE_BY_ZERO — the native loop is total
    * where the fold was partial. NULL (not NaN): Spark orders NaN GREATER
    * than any double, so a NaN would silently rank first in every
    * `orderBy(desc)` top-k and pass `>= threshold` filters; nulls sort last
    * under desc and fail filters, which is the semantics a degenerate
    * embedding deserves. */
  def cosineSim(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Intersection CARDINALITY of two long arrays that are SORTED ascending
    * and element-distinct, as one merge loop per row. The set-similarity
    * verify joins (prefixJoinPairs) first encode the gram universe to dense
    * ids; the merge is allocation-free and O(|a|+|b|), where
    * `array_intersect` builds a hash set per row and allocates the
    * intersection only to take its size. Count-identical to
    * `size(array_intersect(a, b))` on sorted-distinct inputs
    * (spec-asserted). A null element → null. */
  def sortedIntersectCountLong(a: ArrayData, b: ArrayData): java.lang.Integer = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Integer.valueOf(c)
  }

  /** Binary-search membership of a long in a SORTED long array — the
    * broadcast-set probe for [[graft.ext.Dedup.segmentDedup]]'s hashed
    * frequent-segment set, where the builtin `array_contains` is a linear
    * scan. The caller owns the precondition (build the array with
    * `sort_array`); unsorted input gives meaningless results. Argument order
    * (array, elem) matches `array_contains`. A null slot probed mid-search
    * yields null. */
  def sortedContainsLong(a: ArrayData, e: Long): java.lang.Boolean = {
    var lo = 0; var hi = a.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (a.isNullAt(mid)) return null
      val v = a.getLong(mid)
      if (v == e) return java.lang.Boolean.TRUE
      else if (v < e) lo = mid + 1
      else hi = mid - 1
    }
    java.lang.Boolean.FALSE
  }

  /** 16-bit SimHash of a word array as ONE kernel call per row —
    * bit-identical to the Catalyst fold form (md5 per word, bit p votes on
    * whether hex digit p ≥ 8 i.e. the nibble's high bit; ties and the empty
    * array set the bit; a NULL word votes −1 on every bit, matching the
    * fold's null-condition branch). The fold rebuilt a 16-slot vote array
    * per word (the BPE-fold churn pattern); here votes live in 16 ints and
    * the md5 is consumed as raw bytes — the 32-char hex string per word is
    * never materialized. DedupSpec asserts equality on real corpus text. */
  def simhash16(words: ArrayData): Long = {
    val md = md5.get()
    val votes = new Array[Int](16)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) {
        // fold parity: a null hash fails every bit test -> -1 on all bits
        var p = 0
        while (p < 16) { votes(p) -= 1; p += 1 }
      } else {
        val d = md.digest(words.getUTF8String(i).getBytes)
        var p = 0
        while (p < 16) {
          val nib = if ((p & 1) == 0) (d(p >> 1) >> 4) & 0xF else d(p >> 1) & 0xF
          votes(p) += (if (nib >= 8) 1 else -1)
          p += 1
        }
      }
      i += 1
    }
    var out = 0L
    var p = 0
    while (p < 16) {
      if (votes(p) >= 0) out |= 1L << p
      p += 1
    }
    out
  }
}

/** Full winnowing (Schleimer et al. 2003) as ONE kernel: pre-split words ->
  * distinct window-min 56-bit shingle hashes. Bit-identical to the HOF
  * chain (TextFnsSpec's reference, asserted on real
  * corpus text + adversarial vectors): k-word shingles joined by a single
  * space with `concat_ws` null-skipping (`UTF8String.concatWs` IS the
  * engine primitive behind the SQL function), hash = first 7 digest bytes
  * big-endian (== `conv(substring(md5(g), 1, 14), 16, 10)`), windows of `w`
  * consecutive hashes reduced to their minima (one global min when the doc
  * has <= w shingles), first-occurrence-order distinct. The HOF form
  * materialized a 32-char hex string + a substring + a base-16 parse per
  * gram and re-entered the lambda machinery per window; here the md5 is
  * consumed as raw bytes and the window scan is two tight loops. */
case class Winnower(k: Int, w: Int) {
  private val Space = UTF8String.fromString(" ")

  def prints(words: ArrayData): ArrayData = {
    val md = Kernels.md5.get()
    val n = words.numElements()
    // shingle layout mirrors shinglesOfWords: n >= k -> sliding k-grams;
    // short docs -> ONE shingle of all words (including the empty doc ->
    // the empty-string shingle, concat_ws parity)
    val m = if (n >= k) n - k + 1 else 1
    val hs = new Array[Long](m)
    val parts = new Array[UTF8String](if (n >= k) k else n)
    var i = 0
    while (i < m) {
      val start = if (n >= k) i else 0
      val len = if (n >= k) k else n
      var j = 0
      while (j < len) {
        // concat_ws skips NULL elements (no separator either) — getUTF8String
        // of a null slot would be undefined, so map nulls explicitly
        parts(j) =
          if (words.isNullAt(start + j)) null else words.getUTF8String(start + j)
        j += 1
      }
      val d = md.digest(UTF8String.concatWs(Space, parts: _*).getBytes)
      // first 14 hex digits == first 7 bytes, big-endian: the exact value
      // of conv(substring(md5(g), 1, 14), 16, 10)
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = v
      i += 1
    }
    // window minima: one global min for short docs, else sliding w-min
    val mins =
      if (m <= w) {
        var mn = hs(0); var x = 1
        while (x < m) { if (hs(x) < mn) mn = hs(x); x += 1 }
        Array(mn)
      } else {
        val out = new Array[Long](m - w + 1)
        var x = 0
        while (x <= m - w) {
          var mn = hs(x); var y = x + 1
          while (y < x + w) { if (hs(y) < mn) mn = hs(y); y += 1 }
          out(x) = mn
          x += 1
        }
        out
      }
    // first-occurrence-order distinct (array_distinct parity)
    val seen = new java.util.HashSet[java.lang.Long]()
    val buf = new scala.collection.mutable.ArrayBuffer[Long](mins.length)
    var x = 0
    while (x < mins.length) {
      if (seen.add(mins(x))) buf += mins(x)
      x += 1
    }
    new GenericArrayData(buf.toArray)
  }
}

/** Broadcast Bloom-filter membership probe: string → "might the OLD corpus
  * contain it". The filter rides in the plan (one deserialized copy per
  * task), so the probe stays inside whole-stage codegen. Contract: NO false
  * negatives (a false ⇒ definitely absent), false positives at the filter's
  * configured fpp — callers that need exactness must re-check positives
  * (see Dedup.bloomNewDocs). */
case class BloomProbe(filter: org.apache.spark.util.sketch.BloomFilter) {
  def mightContain(s: UTF8String): Boolean = filter.mightContainString(s.toString)
  override def toString: String = s"BloomProbe(${filter.bitSize} bits)"
}

/** Bulk BPE application: text → tokens under a frozen merge list, one call
  * per row. The pure-Catalyst fold form (one `aggregate` HOF per merge,
  * nested under `transform`/`flatten`) re-allocates the accumulator array
  * per element per pass — measured 17 s for 5 k docs at sf0.1 (BENCH
  * x_bpe_tokens). Token-stream-identical to the fold path (BpeSpec asserts
  * all three paths equal). A per-instance (= per-task after
  * deserialization) word→tokens memo: by Heaps' law the distinct-word set a
  * task sees is far smaller than its token count, so most words are one
  * hash probe. The memo is capped — an adversarial all-distinct corpus
  * degrades to compute, never to memory. */
case class BpeTokenizer(merges: Seq[(String, String)]) {
  import graft.ext.Bpe
  private val MemoCap = 1 << 16
  @transient private lazy val memo =
    new java.util.HashMap[String, Array[UTF8String]]()

  private def encodeWord(w: String): Array[UTF8String] = {
    val cached = memo.get(w)
    if (cached != null) return cached
    val toks = Bpe.tokenizeWord(w, merges).iterator
      .map(UTF8String.fromString).toArray
    if (memo.size < MemoCap) memo.put(w, toks)
    toks
  }

  /** Tokens of the whole text: words split on single spaces (empty words
    * skipped — same contract as the fold path's split+filter). */
  def encode(text: UTF8String): ArrayData = {
    val s = text.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val toks = encodeWord(s.substring(start, i))
          var k = 0
          while (k < toks.length) { out += toks(k); k += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def toString: String = s"BpeTokenizer(${merges.size} merges)"
}

/** Per-document bigram-LM score: token array → (n_bigrams, lp_milli) in a
  * single pass. Hashed lookup tables (the MapType-literal `element_at` is a
  * LINEAR key scan per lookup — measured 7.7 s for 10 k docs × 8 k-entry
  * model at sf0.1; this is one HashMap probe per bigram). Keys are held as
  * UTF8String so probes compare bytes without decoding. Integer-exact (same
  * quantized milli-nat tables as the DuckDB oracle); code-identical to the
  * aggregate-fold reference form (LmSpec). */
case class LmScorer(bigram: Map[String, Long], uni: Map[String, Long],
                    floor: Long) {
  @transient private lazy val bigM = LmScorer.hashed(bigram)
  @transient private lazy val uniM = LmScorer.hashed(uni)
  private val space = UTF8String.fromString(" ")

  /** A null token SLOT scores the floor for its bigrams — exactly the fold
    * form's semantics, where the null key misses both map lookups and the
    * coalesce lands on the floor literal (split() never emits null slots,
    * but the contract must agree wherever the input comes from). */
  def score(ws: ArrayData): InternalRow = {
    val n = ws.numElements()
    var lp = 0L
    var i = 0
    while (i < n - 1) {
      if (ws.isNullAt(i)) lp += floor // null w1: both lookups miss in the fold
      else {
        val w1 = ws.getUTF8String(i)
        // null w2 nulls the bigram key in the fold — miss, then w1 fallback
        val hit = if (ws.isNullAt(i + 1)) null
                  else bigM.get(UTF8String.concat(w1, space, ws.getUTF8String(i + 1)))
        lp += (if (hit ne null) hit.longValue
               else {
                 val fb = uniM.get(w1)
                 if (fb ne null) fb.longValue else floor
               })
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](math.max(n - 1, 0).toLong, lp))
  }

  override def toString: String = s"LmScorer(${bigram.size} bigrams)"
}

object LmScorer {
  private[functions] def hashed(m: Map[String, Long]) = {
    val h = new java.util.HashMap[UTF8String, java.lang.Long](m.size * 2)
    m.foreach { case (k, v) => h.put(UTF8String.fromString(k), v) }
    h
  }
}

/** Per-document trigram-LM score: token array → (n_trigrams, lp_milli) —
  * the [[LmScorer]] one order up, with stupid backoff: an unseen trigram
  * costs `backoff` plus the bigram chain's score on (w2, w3). Hashed
  * UTF8String probes; arithmetic contract shared with the fold reference
  * form and the generated DuckDB oracle (integer milli-nat sums). */
case class LmScorer3(trigram: Map[String, Long], bigram: Map[String, Long],
                     uni: Map[String, Long], floor: Long, backoff: Long) {
  @transient private lazy val triM = LmScorer.hashed(trigram)
  @transient private lazy val bigM = LmScorer.hashed(bigram)
  @transient private lazy val uniM = LmScorer.hashed(uni)
  private val space = UTF8String.fromString(" ")

  /** Null token slots miss every lookup they key — exactly the fold form's
    * coalesce semantics (a null anywhere in a concat nulls the key). */
  def score(ws: ArrayData): InternalRow = {
    val n = ws.numElements()
    var lp = 0L
    var i = 0
    while (i < n - 2) {
      val n1 = ws.isNullAt(i); val n2 = ws.isNullAt(i + 1)
      val n3 = ws.isNullAt(i + 2)
      val triHit =
        if (n1 || n2 || n3) null
        else triM.get(UTF8String.concat(ws.getUTF8String(i), space,
          ws.getUTF8String(i + 1), space, ws.getUTF8String(i + 2)))
      lp += (if (triHit ne null) triHit.longValue
             else {
               val bigHit = if (n2 || n3) null
                 else bigM.get(UTF8String.concat(ws.getUTF8String(i + 1),
                   space, ws.getUTF8String(i + 2)))
               backoff + (if (bigHit ne null) bigHit.longValue
                          else {
                            val fb = if (n2) null
                                     else uniM.get(ws.getUTF8String(i + 1))
                            if (fb ne null) fb.longValue else floor
                          })
             })
      i += 1
    }
    new GenericInternalRow(Array[Any](math.max(n - 2, 0).toLong, lp))
  }

  override def toString: String = s"LmScorer3(${trigram.size} trigrams)"
}

/** Product-quantization encode: vector → m per-subspace nearest-sub-centroid
  * codes, one call per row. The HOF/literal form (one zip_with+aggregate l2
  * fold per sub-centroid, m·ksub of them under array_min) is a ~1000-node
  * expression tree per row — the dominant cost of the PQ family at sf0.1
  * (BENCH x_pq_codes). Arithmetic contract (shared with the generated
  * DuckDB oracle): per-centroid distance is the LEFT-TO-RIGHT fold of
  * (x−c)² in index order on doubles; ties break to the LOWEST code (strict
  * < keeps the first). Input elements are FLOAT (raw embeddings) or DOUBLE
  * (residuals — already the product of double arithmetic, so no float
  * round-trip is introduced). */
case class PqEncoder(codebooks: Seq[Seq[Seq[Double]]], isDouble: Boolean = false)
    extends VectorKernel {
  @transient private lazy val cbs = codebooks.map(_.map(_.toArray).toArray).toArray
  private val m = codebooks.length
  private val subdim = codebooks.head.head.length

  def forElements(isDouble: Boolean): PqEncoder = copy(isDouble = isDouble)

  /** codes of one vector, or null if the vector is too short / has a null
    * slot (mirrors the HOF form's null propagation). */
  def encode(v: ArrayData): ArrayData = {
    if (v.numElements() < m * subdim) return null
    val books = cbs
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val base = s * subdim
      var i = 0
      while (i < subdim) { if (v.isNullAt(base + i)) return null; i += 1 }
      val cb = books(s)
      var best = 0; var bd = Double.MaxValue
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        var d = 0.0
        var k = 0
        while (k < subdim) {
          val x = if (isDouble) v.getDouble(base + k)
                  else v.getFloat(base + k).toDouble
          val diff = x - c(k)
          d += diff * diff
          k += 1
        }
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override def toString: String =
    s"PqEncoder(m=$m, ksub=${codebooks.head.length}, double=$isDouble)"
}

/** Nearest-centroid IVF list assignment, one call per row. The HOF/literal
  * form (one zip_with+aggregate l2 fold per centroid under array_min) is an
  * ~nLists·dim-node interpreted expression tree per row — measured as the
  * dominant cost of the 1 M-vector index BUILDS (IVF 326 s / IVF-PQ 234 s,
  * ANNPROBE_r09_1m). Arithmetic contract (shared with SimilaritySpec's HOF
  * reference and the generated DuckDB oracle):
  * per-centroid distance is the LEFT-TO-RIGHT fold of (x−c)² in index order
  * on doubles; ties break to the LOWEST list id (strict < keeps the first).
  * The inner scan abandons a centroid as soon as its partial sum reaches
  * the best-so-far — exact under IEEE because the summands are non-negative
  * (partial sums are monotone nondecreasing) and `d == bd` already loses
  * the strict-< tie to the earlier id. */
case class IvfAssigner(centroids: Seq[Seq[Double]], isDouble: Boolean = false)
    extends VectorKernel {
  @transient private lazy val cs = centroids.map(_.toArray).toArray
  private val dim = centroids.head.length

  def forElements(isDouble: Boolean): IvfAssigner = copy(isDouble = isDouble)

  /** list id of one vector, or null if the vector's length differs from
    * the centroid dim or it has a null slot (the PqEncoder null contract).
    * Length-mismatch REJECTION is deliberate on both sides: silently
    * assigning the first dim components of an oversized vector would file
    * garbage into a real list, and the HOF reference's zip_with-padding
    * resolves the same vector to list 0 — an explicit null is the only
    * answer that can't be mistaken for a valid assignment. */
  def assign(v: ArrayData): java.lang.Integer = {
    if (v.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    val cents = cs
    var best = 0
    var bd = Double.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0.0
      var k = 0
      while (k < dim && d < bd) {
        val x = if (isDouble) v.getDouble(k) else v.getFloat(k).toDouble
        val diff = x - c(k)
        d += diff * diff
        k += 1
      }
      if (d < bd) { bd = d; best = j }
      j += 1
    }
    java.lang.Integer.valueOf(best)
  }

  override def toString: String =
    s"IvfAssigner(${centroids.length} lists, double=$isDouble)"
}

/** Per-document DSIR importance weight: token array → (n_feats, w_milli)
  * summed over hashed unigram + adjacent-bigram features. The HOF form
  * (transform + aggregate over md5/conv/element_at per feature) is
  * interpreted per feature and allocates a hex string per hash — measured
  * 10.0 s at the sf0.1 gate vs sub-second for the kernel. The bucket hash —
  * big-endian first 2 bytes of the feature's UTF-8 md5, mod `dim` — matches
  * `Dsir.bucketOf`, the HOF fold form
  * (`conv(substring(md5(tok),1,4),16,10) % dim`) and the generated DuckDB
  * oracle byte-for-byte; bigram features digest `w1 ++ ' ' ++ w2`
  * incrementally, so no concatenated string is ever allocated.
  * Code-identical to the fold reference form (DsirSpec asserts). */
case class DsirScorer(weights: Seq[Long], dim: Int) {
  @transient private lazy val ws = weights.toArray
  private def bucketOf(d: Array[Byte]): Int =
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % dim

  /** Null result ⇔ the fold form's null propagation: a null token slot
    * nulls its feature weight and the aggregate sum with it. split() never
    * emits null slots, but the kernel and the fold must agree on every
    * input. */
  def score(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    var i = 0
    while (i < n) { if (toks.isNullAt(i)) return null; i += 1 }
    val md = Kernels.md5.get()
    val weight = ws
    var w = 0L
    i = 0
    while (i < n) {
      val tok = toks.getUTF8String(i).getBytes
      w += weight(bucketOf(md.digest(tok)))
      if (i + 1 < n) {
        md.update(tok)
        md.update(' '.toByte)
        md.update(toks.getUTF8String(i + 1).getBytes)
        w += weight(bucketOf(md.digest()))
      }
      i += 1
    }
    val nFeats = if (n >= 2) 2L * n - 1L else n.toLong
    new GenericInternalRow(Array[Any](nFeats, w))
  }

  override def toString: String = s"DsirScorer(dim=$dim)"
}

/** The column builders. Every function keeps its SQL name, so generated
  * column names read `name(args)`. */
object GraftExpressions {
  import GraftBridge.{column, expression}

  /** A function over one of [[Kernels]]' methods. */
  private case class Static(name: String, method: String, resultType: DataType,
      argTypes: Seq[InputType], nullableResult: Boolean = false) {
    def expr(args: Seq[Expression]): Native =
      Native(name, args, Kernels.getClass, method, resultType, argTypes, nullableResult)
    def apply(args: Column*): Column = column(expr(args.map(expression)))
  }

  private val FormatReadableSize =
    Static("format_readable_size", "formatReadableSize", StringType, Seq(LongType))
  private val MaybeB64Decode =
    Static("maybe_b64_decode", "maybeB64Decode", StringType, Seq(StringType))
  private val RollingHash = Static("rolling_hash", "rollingHash", LongType, Seq(StringType))
  private val NormalizeText =
    Static("normalize_text", "normalizeText", StringType, Seq(StringType))
  private val CosineSim = Static("cosine_sim", "cosineSim", DoubleType,
    Seq(ArrayType(FloatType), ArrayType(FloatType)), nullableResult = true)
  private val SortedIntersectCountLong = Static("sorted_intersect_count_long",
    "sortedIntersectCountLong", IntegerType,
    Seq(ArrayType(LongType), ArrayType(LongType)), nullableResult = true)
  private val SortedContainsLong = Static("sorted_contains_long", "sortedContainsLong",
    BooleanType, Seq(ArrayType(LongType), LongType), nullableResult = true)
  private val SimHash16 =
    Static("simhash16", "simhash16", LongType, Seq(ArrayType(StringType)))

  private val statics = Seq(FormatReadableSize, MaybeB64Decode, RollingHash,
    NormalizeText, CosineSim, SortedIntersectCountLong, SortedContainsLong, SimHash16)

  /** A one-argument function over a kernel instance that carries a model. */
  private def withModel(name: String, arg: Column, argType: InputType,
      kernel: AnyRef, method: String, resultType: DataType,
      nullableResult: Boolean): Column =
    column(Native(name, Seq(expression(arg)), kernel, method, resultType,
      Seq(argType), nullableResult))

  private val FloatOrDoubleArray = GraftBridge.anyOf(ArrayType(FloatType), ArrayType(DoubleType))
  private val Words = ArrayType(StringType)

  private def longPair(a: String, b: String): StructType = StructType(Seq(
    StructField(a, LongType, nullable = false), StructField(b, LongType, nullable = false)))

  def format_readable_size(c: Column): Column = FormatReadableSize(c)

  def maybe_b64_decode(c: Column): Column = MaybeB64Decode(c)

  def rolling_hash(c: Column): Column = RollingHash(c)

  def normalize_text(c: Column): Column = NormalizeText(c)

  def cosine_sim(a: Column, b: Column): Column = CosineSim(a, b)

  def sorted_intersect_count_long(a: Column, b: Column): Column =
    SortedIntersectCountLong(a, b)

  def sorted_contains_long(arr: Column, elem: Column): Column =
    SortedContainsLong(arr, elem)

  def simhash16(words: Column): Column = SimHash16(words)

  def winnow_prints(words: Column, k: Int, w: Int): Column =
    withModel("winnow_prints", words, Words, Winnower(k, w), "prints",
      ArrayType(LongType, containsNull = false), nullableResult = false)

  def bloom_might_contain(c: Column,
      filter: org.apache.spark.util.sketch.BloomFilter): Column =
    withModel("bloom_might_contain", c, StringType, BloomProbe(filter),
      "mightContain", BooleanType, nullableResult = false)

  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    withModel("bpe_encode", text, StringType, BpeTokenizer(merges), "encode",
      ArrayType(StringType, containsNull = false), nullableResult = false)

  def pq_encode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    withModel("pq_encode", vec, FloatOrDoubleArray,
      PqEncoder(codebooks.map(_.map(_.toSeq).toSeq).toSeq), "encode",
      ArrayType(IntegerType, containsNull = false), nullableResult = true)

  def ivf_assign(vec: Column, centroids: Array[Array[Double]]): Column =
    withModel("ivf_assign", vec, FloatOrDoubleArray, IvfAssigner(centroids.map(_.toSeq).toSeq),
      "assign", IntegerType, nullableResult = true)

  def lm_score_milli(words: Column, bigram: Map[String, Long],
                     uni: Map[String, Long], floor: Long): Column =
    withModel("lm_score_milli", words, Words, LmScorer(bigram, uni, floor), "score",
      longPair("n_bigrams", "lp_milli"), nullableResult = true)

  def lm_score_milli3(words: Column, trigram: Map[String, Long],
                      bigram: Map[String, Long], uni: Map[String, Long],
                      floor: Long, backoff: Long): Column =
    withModel("lm_score_milli3", words, Words,
      LmScorer3(trigram, bigram, uni, floor, backoff), "score",
      longPair("n_trigrams", "lp_milli"), nullableResult = true)

  def dsir_score_milli(words: Column, weights: Seq[Long], dim: Int): Column =
    withModel("dsir_score_milli", words, Words, DsirScorer(weights, dim), "score",
      longPair("n_feats", "w_milli"), nullableResult = true)

  /** Register the model-free functions for the SQL surface (S7): usable
    * from spark.sql(...). */
  def register(spark: SparkSession): Unit = statics.foreach { f =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      f.name, f.expr, "built-in")
  }
}
