package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING primitives (Sennrich et al. 2016,
  * arXiv:1508.07909) — the vocabulary-induction pass a training-data
  * pipeline runs before tokenizing a corpus.
  *
  * Scale shape — the part that matters at 100 TB: the corpus is touched by
  * exactly ONE aggregation (the word-frequency table; map-side combinable,
  * output vocab-sized, i.e. sublinear in the corpus by Heaps' law). Every
  * merge round after that operates on the frequency-weighted word TYPES —
  * corpus-size-independent work, one vocab-sized shuffle per round, and
  * only the single argmax row crosses to the driver each round.
  */
object Bpe {

  /** Adjacent character-pair counts over the frequency-weighted vocabulary —
    * round 1's BPE candidate table. A pair of adjacent single chars IS a
    * 2-char substring, so the pair key is `substr(w, i, 2)` — engine-
    * portable with no struct plumbing. */
  def pairCounts(docs: DataFrame, textCol: String): DataFrame = {
    val vocab = docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    vocab
      .filter(length(col("w")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("n"))
  }

  /** One merge of symbol sequence `syms`: fuse every non-overlapping
    * adjacent (a, b) occurrence left-to-right — the reference merge rule. */
  def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Train `nMerges` BPE merges. The corpus is touched by exactly ONE
    * distributed aggregation — the word-frequency table, map-side
    * combinable, vocab-sized output (sublinear in the corpus by Heaps'
    * law). The merge rounds then run DRIVER-SIDE over that collected
    * table ([[trainFromVocab]]): the working set is vocab-sized by
    * construction, so a Spark job per merge (1 000 merges = 1 000 tiny
    * jobs of pure scheduling overhead) buys nothing — the earlier
    * distributed-round formulation measured minutes for what the in-memory
    * loop does in well under a second, merge-for-merge equal (BpeSpec). */
  def train(docs: DataFrame, textCol: String, nMerges: Int): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect()
    trainFromVocab(vocab, nMerges)
  }

  /** Unsigned UTF-8 byte order — the comparison Spark's UTF8String uses,
    * kept here so the driver-side argmax tie-break is bit-identical to the
    * old distributed `orderBy(n desc, a, b)` round. (Scala's String
    * ordering compares UTF-16 code units, which disagrees with UTF-8 bytes
    * for supplementary-plane symbols.) */
  private def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** Driver-side BPE merge rounds over a word-frequency table (Sennrich's
    * algorithm with the standard inverted-index optimization). Same
    * deterministic rule as ever: argmax pair count, ties to the UTF-8-
    * lexicographically smallest (a, b); only pairs occurring ≥ 2 count;
    * stops early when none repeats.
    *
    * Cost model: initialization scans every symbol once; each round pays
    * one argmax sweep over the live pair table plus a re-symbolization of
    * ONLY the words indexed under the chosen pair (the index may hold
    * stale entries for words a later merge rewrote — re-processing one is
    * a subtract/merge(no-op)/re-add round trip, net zero, so correctness
    * never depends on index hygiene). 1 000 merges over a 100 k-type
    * vocabulary run in sub-second time. */
  def trainFromVocab(vocab: Array[(String, Long)],
                     nMerges: Int): Seq[(String, String)] = {
    val words: Array[Array[String]] = vocab.map(_._1.map(_.toString).toArray)
    val freqs: Array[Long] = vocab.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val index = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def contribute(i: Int, sign: Long): Unit = {
      val syms = words(i)
      var j = 0
      while (j + 1 < syms.length) {
        val p = (syms(j), syms(j + 1))
        val n = counts.getOrElse(p, 0L) + sign * freqs(i)
        if (n == 0L) { counts.remove(p); () } else counts(p) = n
        if (sign > 0) index.getOrElseUpdate(
          p, scala.collection.mutable.Set.empty[Int]) += i
        j += 1
      }
    }
    words.indices.foreach(contribute(_, 1L))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      var best: (String, String) = null
      var bestN = 1L // only pairs with n >= 2 are eligible
      counts.foreach { case (p, n) =>
        if (n > bestN || (n == bestN && best != null &&
            (utf8Less(p._1, best._1) ||
              (p._1 == best._1 && utf8Less(p._2, best._2))))) {
          best = p; bestN = n
        }
      }
      if (best == null) done = true
      else {
        merges += best
        val affected = index.getOrElse(best, Set.empty[Int]).toArray
        index.remove(best)
        affected.foreach { i =>
          contribute(i, -1L)
          words(i) = mergeOnce(words(i).toSeq, best._1, best._2).toArray
          contribute(i, 1L)
        }
      }
    }
    merges.toSeq
  }

  /** Apply a trained merge list to one word — the (driver-side) reference
    * tokenizer used by specs and the per-word kernel of the native
    * `bpe_encode`. */
  def tokenizeWord(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(word.map(_.toString): Seq[String]) {
      case (syms, (a, b)) => mergeOnce(syms, a, b)
    }

  /** Bpe.train(sf0.001 documents, 8) output, frozen as the demo vocabulary
    * the x_bpe_tokens gate applies (a tokenizer vocab IS a static artifact —
    * real pipelines apply a frozen merge table, they don't retrain per
    * query). Includes a multi-char right side ("p"+"ar") so the gate
    * exercises post-merge symbols. */
  val DemoMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
    ("s", "t"), ("l", "u"), ("a", "r"), ("p", "ar"))

  /** Bulk corpus tokenization, native-expression path: one compiled-kernel
    * call per row ([[graft.functions.BpeTokenizer]]) with per-task word
    * memoization — token-stream-equal to BpeSpec's pure-Catalyst fold, one
    * corpus scan, zero shuffles, whole-stage codegen. */
  def tokenizeBulkNative(docs: DataFrame, idCol: String, textCol: String,
                         merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      graft.functions.GraftExpressions.bpe_encode(col(textCol), merges).as("tokens"))
}
