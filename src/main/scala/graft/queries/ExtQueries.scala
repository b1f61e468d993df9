package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Crawl, Dedup, LinkGraph, Multimodal, Psl, Sampling, Similarity, TextFns, Url}
import graft.fixtures.Fixtures

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * (the driver ships both tables alongside the TPC-H-ish ones).
  *
  * Oracle portability: hashes are md5 (DuckDB-reproducible), shingling is
  * list-comprehension-expressible, cosine math is double with round(…, 6).
  */
object ExtQueries {
  import Queries.Q
  import Td.t

  /** The documents scan, projected to `cols` and round-robined up to the
    * session's parallelism ([[graft.ext.Par.ensure]] — a stats-based no-op
    * once the input is big enough to scan into that many splits). Heavy
    * per-row expression chains (regex extraction chains, WARC framing,
    * per-token md5) must not inherit a small file's 1-task scan
    * partitioning: at bench scale that serialized every one of these
    * gates onto one core (r15 opt round, the plans/r15 before-plans). */
  private def docsPar(s: SparkSession, d: String, cols: String*) =
    graft.ext.Par.ensure(t(s, d, "documents").select(cols.map(col): _*))

  /** documents/embeddings may not be pre-registered as DuckDB views by the
    * harness (TESTDATA.md lists only the TPC-H-ish tables), so their oracle
    * SQL reads the parquet directly; `{{SF}}` is substituted with the actual
    * sf directory by Verify at dump time. */
  private val Docs = "read_parquet('{{SF}}/documents.parquet')"
  private val Embs = "read_parquet('{{SF}}/embeddings.parquet')"

  /** DuckDB twin of Dedup.maxTokenFor's derived gram-frequency cap:
    * greatest(floor, ceil(fraction * nDocs)). The fraction is CAST to
    * DOUBLE so both engines compute the same IEEE product before ceil —
    * DuckDB's bare 0.02 literal is DECIMAL and its exact arithmetic can
    * land on the other side of an integer boundary than the double. */
  private val CapSql =
    s"(SELECT greatest(CAST(${Dedup.DefaultMaxBucket} AS BIGINT), " +
      s"CAST(ceil(CAST(${Dedup.CapDocFraction} AS DOUBLE) * count(*)) AS BIGINT)) " +
      s"FROM $Docs)"

  /** Shared DuckDB CTE: word k-shingles of documents. */
  private def shingleCteOf(k: Int): String =
    s"WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $Docs), " +
      s"sh AS (SELECT doc_id, CASE WHEN len(ws) >= $k THEN " +
      s"[array_to_string(ws[i:i+${k - 1}], ' ') for i in generate_series(1, len(ws)-${k - 1})] " +
      "ELSE [array_to_string(ws, ' ')] END AS shingles FROM w), " +
      "u AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh)"

  private val ShingleCte = shingleCteOf(3)

  /** Shared DuckDB CTE twin of Dedup.duplicateSpanStats/Scrub's occurrence
    * pipeline: b = (doc_id, words, n_words); occ = 0-based positions of
    * k-windows whose md5 repeats corpus-wide; cov = per-doc merged (distinct)
    * covered positions. k = 8 matches the x_span_* query entries. */
  private def spanCteOf(k: Int): String =
    s"WITH b AS (SELECT doc_id, string_split(text, ' ') AS w, " +
      s"CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM $Docs), " +
      s"wins AS (SELECT doc_id, UNNEST(range(len(w) - ${k - 1})) AS p, w " +
      s"FROM b WHERE len(w) >= $k), " +
      s"hs AS (SELECT doc_id, p, md5(array_to_string(w[(p + 1):(p + $k)], ' ')) AS h FROM wins), " +
      "dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) > 1), " +
      "occ AS (SELECT doc_id, p FROM hs JOIN dup USING (h)), " +
      s"cov AS (SELECT doc_id, list_distinct(flatten(list(range(p, p + $k)))) AS cv " +
      "FROM occ GROUP BY doc_id)"

  private val SpanCte = spanCteOf(8)

  /** DuckDB twin of one Bpe.mergePass: a list_reduce whose accumulator is a
    * VARCHAR[] (elements arrive as singleton lists so accumulator and
    * element types match), fusing with the accumulator's last symbol —
    * the same "fold == mergeOnce" equivalence the Scala side documents.
    * acc[-1] on an empty list is NULL in DuckDB, so the fuse predicate is
    * safely false before the first symbol. */
  private def bpeFoldSql(inner: String, a: String, b: String): String =
    "list_reduce(list_prepend(CAST([] AS VARCHAR[]), " +
      s"list_transform($inner, s -> [s])), " +
      s"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = '$a' AND x[1] = '$b' " +
      s"THEN list_append(acc[:len(acc)-1], '${a + b}') " +
      "ELSE list_concat(acc, x) END)"

  /** Full x_bpe_tokens oracle: per-word char split (empty-word-safe, like
    * the Spark side's filter), one nested fold per DemoMerges entry in
    * training order, flattened per doc, token stream hashed. */
  private val bpeTokensSql: String = {
    val perWord = graft.ext.Bpe.DemoMerges.foldLeft(
      "list_filter(string_split(wd, ''), c -> c != '')") {
      case (inner, (a, b)) => bpeFoldSql(inner, a, b)
    }
    s"WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM $Docs), " +
      s"tk AS (SELECT doc_id, flatten(list_transform(w, wd -> $perWord)) AS toks FROM ws) " +
      "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "md5(array_to_string(toks, ' ')) AS tok_hash FROM tk ORDER BY doc_id"
  }

  /** Parse a hex string to BIGINT (DuckDB has no conv()): fold the chars
    * through a*16 + digit, BIGINT-casting the accumulator seed. */
  private def hexToIntSql(e: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT) for c in string_split($e, '')]), " +
      "(a, b) -> a * 16 + b)"

  /** Twin of Dedup.minhashSig's double-hashing: one md5 per shingle, split
    * into two 56-bit halves, permutation i = ha + i*hb. */
  private val AbCte =
    s"$ShingleCte, hh AS (SELECT doc_id, md5(s) AS m FROM u), " +
      s"ab AS (SELECT doc_id, ${hexToIntSql("substr(m, 1, 14)")} AS ha, " +
      s"${hexToIntSql("substr(m, 15, 14)")} AS hb FROM hh)"

  private val SigSelect =
    (0 until 8).map(i => s"min(ha + $i * hb) AS h$i").mkString(", ")

  private val SigCte =
    s"$AbCte, sig AS (SELECT doc_id, $SigSelect FROM ab GROUP BY doc_id)"

  /** Twin of Dedup.lshBands' bucket key: md5 over '|'-joined decimal hashes. */
  private val BandBucketsSql =
    (0 until 8 by 2).map(b =>
      s"md5(CAST(h$b AS VARCHAR) || '|' || CAST(h${b + 1} AS VARCHAR))")
      .mkString("[", ", ", "]")

  /** Twin of Dedup.candidatePairs' degenerate-bucket cap: band rows whose
    * (band, bucket) population exceeds Dedup.DefaultMaxBucket are excluded
    * from candidate generation on BOTH engines (count(*) OVER mirrors the
    * Spark window). Inert at gate scale (max real bucket is 16) — the point
    * is that the contract stays hash-exact at any corpus size. */
  private val BandsCte =
    "bands AS (SELECT doc_id, band, bucket FROM " +
      "(SELECT doc_id, band, bucket, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM " +
      s"(SELECT doc_id, $BandBucketsSql AS bs FROM sig), " +
      "LATERAL (SELECT UNNEST(generate_series(1, 4)) AS band, UNNEST(bs) AS bucket)) " +
      s"WHERE bsz <= ${Dedup.DefaultMaxBucket})"

  /** Twin of TextFns.qualityScore over a `text` column (shared by
    * x_text_quality and the keep-best survivor rule). */
  private val QualitySql =
    "greatest(least(" +
      "least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 - " +
      "(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)) * 0.3 + " +
      "(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','to','a'))) AS DOUBLE) " +
      "/ greatest(len(string_split(text, ' ')), 1)) * 0.5 + 0.3, 1.0), 0.0)"

  private def simhashTermSql(p: Int): String =
    s"(CASE WHEN 2 * len(list_filter(ws, x -> substr(md5(x), $p, 1) IN " +
      s"('8','9','a','b','c','d','e','f'))) - len(ws) >= 0 THEN ${1L << (p - 1)} ELSE 0 END)"

  private def cosSql(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) " +
      s"for i in generate_series(1, len($a))]) / " +
      s"(sqrt(list_sum([CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE) " +
      s"for i in generate_series(1, len($a))])) * " +
      s"sqrt(list_sum([CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) " +
      s"for i in generate_series(1, len($b))])))"

  private val CosExpr = cosSql("embedding", "qv")

  /** DuckDB twin of Similarity.lshBucket: the ±1 hyperplanes are
    * data-independent (fixed seed), so their literals are inlined into the
    * oracle SQL and the bucket assignment is reproduced bit-for-bit. The
    * sign test is robust cross-engine: plane dots on this data are >= 6e-5
    * in magnitude, far above summation-order ulp noise. */
  private def lshBucketSql(vec: String, ps: Seq[Seq[Double]]): String =
    ps.zipWithIndex.map { case (p, i) =>
      val lit = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum([CAST($vec[i] AS DOUBLE) * ($lit)[i] " +
        s"for i in generate_series(1, ${p.length})]) >= 0 " +
        s"THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB twin of Similarity.ivfAssign + the query-side probe-list pick.
    * Centroids are a data-derived artifact, so this oracle is generated at
    * Verify dump time (SparkEntry.dynamicOracleSql) from the same cached
    * deterministic trainer the query uses; Double.toString literals
    * round-trip exactly. */
  /** Shared builders for the centroid-literal oracles: Double.toString
    * literals round-trip exactly, and the struct list_sort reproduces
    * Similarity.ivfAssign's tie-to-lowest-list contract. */
  private def ivfDistSql(vec: String, c: Array[Double]): String = {
    val lit = c.map(_.toString).mkString("[", ",", "]")
    s"list_sum([(CAST($vec[i] AS DOUBLE) - ($lit)[i]) * " +
      s"(CAST($vec[i] AS DOUBLE) - ($lit)[i]) " +
      s"for i in generate_series(1, ${c.length})])"
  }

  private def ivfSortedListsSql(cents: Array[Array[Double]],
                                vec: String): String =
    cents.zipWithIndex
      .map { case (c, i) => s"{'d': ${ivfDistSql(vec, c)}, 'l': $i}" }
      .mkString("list_sort([", ", ", "])")

  def ivfOracleSql(spark: SparkSession, sfDir: String): String = {
    val cents = graft.ext.Similarity.centroidsFor(spark, sfDir)
    def sortedLists(vec: String): String = ivfSortedListsSql(cents, vec)
    s"WITH q AS (SELECT embedding AS qv FROM $Embs WHERE vec_id = 0), " +
      s"p AS (SELECT qv, ${sortedLists("qv")} AS sl FROM q), " +
      s"b AS (SELECT vec_id, embedding, ${sortedLists("embedding")}[1].l AS list " +
      s"FROM $Embs WHERE vec_id <> 0), " +
      s"c AS (SELECT vec_id, round($CosExpr, 6) AS cos FROM b, p " +
      "WHERE b.list IN (sl[1].l, sl[2].l)) " +
      "SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10"
  }

  /** DuckDB twin of Similarity.ivfIndexStats over the APPENDED index:
    * every non-query vector — base and delta waves alike — assigned to its
    * argmin centroid list and counted. This verifies the appended index
    * CONTENT exactly: a dropped, doubled, or misassigned delta shifts some
    * list's count. Generated at Verify dump time like [[ivfOracleSql]]. */
  def ivfStatsOracleSql(spark: SparkSession, sfDir: String): String = {
    val cents = graft.ext.Similarity.centroidsFor(spark, sfDir)
    s"SELECT CAST(${ivfSortedListsSql(cents, "embedding")}[1].l AS BIGINT) " +
      s"AS list, count(*) AS n FROM $Embs WHERE vec_id <> 0 " +
      "GROUP BY 1 ORDER BY list"
  }

  /** DuckDB twin of Similarity.ivfTopKIndexedBatch at the gate shape:
    * 8 query vectors (vec_id < 8) against the vec_id >= 8 corpus, nProbe 2,
    * per-query top-5 ranked on the rounded cosine with vec_id tiebreak.
    * Centroid literals are data-derived — generated at Verify dump time
    * like [[ivfOracleSql]]. */
  def ivfBatchOracleSql(spark: SparkSession, sfDir: String): String = {
    val cents = graft.ext.Similarity.centroidsFor(spark, sfDir)
    def sortedLists(vec: String): String = ivfSortedListsSql(cents, vec)
    s"WITH q AS (SELECT vec_id AS qid, embedding AS qv, " +
      s"${sortedLists("embedding")} AS sl FROM $Embs WHERE vec_id < 8), " +
      "p AS (SELECT qid, qv, UNNEST([sl[1].l, sl[2].l]) AS list FROM q), " +
      s"b AS (SELECT vec_id, embedding, ${sortedLists("embedding")}[1].l AS list " +
      s"FROM $Embs WHERE vec_id >= 8), " +
      s"c AS (SELECT qid, vec_id, round($CosExpr, 6) AS cos, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY round($CosExpr, 6) DESC, vec_id) AS rn " +
      "FROM b JOIN p USING (list)) " +
      "SELECT qid, vec_id, cos FROM c WHERE rn <= 5 ORDER BY qid, cos DESC, vec_id"
  }

  /** DuckDB twin of Similarity.semDedup: same centroid-literal assignment as
    * [[ivfOracleSql]], then the within-list keep-first prune on the rounded
    * cosine. Generated at Verify dump time (centroids are data-derived). */
  /** Driver-quantized model maps as DuckDB VALUES literals — shared by the
    * LM-family oracles (bigram, trigram, CCNet buckets). An empty model
    * table (degenerate reference corpus) must still parse: an
    * empty-but-typed relation, not "VALUES ()". */
  private def milliTableSql(m: Map[String, Long]): String =
    if (m.isEmpty)
      "(SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT) WHERE FALSE)"
    else m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"('${k.replace("'", "''")}', $v)" }
      .mkString("(VALUES ", ", ", ")")

  /** x_lm_score oracle: the SAME driver-quantized integer milli-nat tables
    * as SQL VALUES literals, joined per exploded bigram — integer sums on
    * both engines, hash-exact by construction. */
  def lmOracleSql(spark: SparkSession, sfDir: String): String = {
    val lm = graft.ext.Lm.bigramLmFor(spark, sfDir)
    s"WITH lm(b, lp) AS (SELECT * FROM ${milliTableSql(lm.bigramMilli)}), " +
      s"uni(w, lp) AS (SELECT * FROM ${milliTableSql(lm.uniFallbackMilli)}), " +
      s"tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $Docs), " +
      "bg AS (SELECT doc_id, unnest([{'b': ws[i] || ' ' || ws[i+1], " +
      "'w1': ws[i]} for i in generate_series(1, len(ws) - 1)]) AS u FROM tok), " +
      "sc AS (SELECT bg.doc_id, " +
      s"coalesce(lm.lp, uni.lp, ${lm.floorMilli}) AS lp " +
      "FROM bg LEFT JOIN lm ON u.b = lm.b LEFT JOIN uni ON u.w1 = uni.w), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(lp) AS BIGINT) AS lp FROM sc GROUP BY 1) " +
      "SELECT t.doc_id, coalesce(agg.n, 0) AS n_bigrams, " +
      "coalesce(agg.lp, 0) AS lp_milli, " +
      "CAST(CASE WHEN coalesce(agg.lp, 0) >= coalesce(agg.n, 0) * -9000 " +
      "THEN 1 ELSE 0 END AS INT) AS keep " +
      "FROM tok t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"
  }

  /** x_ccnet_buckets oracle: the [[lmOracleSql]] scoring chain with the
    * driver-computed cutoffs inlined; bucket boundaries are the integer
    * multiply-compare `lp >= c * n`, so both engines bucket identically. */
  def ccnetOracleSql(spark: SparkSession, sfDir: String): String = {
    val lm = graft.ext.Lm.bigramLmFor(spark, sfDir)
    val cuts = graft.ext.Lm.ccnetCutoffsFor(spark, sfDir, lm)
    s"WITH lm(b, lp) AS (SELECT * FROM ${milliTableSql(lm.bigramMilli)}), " +
      s"uni(w, lp) AS (SELECT * FROM ${milliTableSql(lm.uniFallbackMilli)}), " +
      s"tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $Docs), " +
      "bg AS (SELECT doc_id, unnest([{'b': ws[i] || ' ' || ws[i+1], " +
      "'w1': ws[i]} for i in generate_series(1, len(ws) - 1)]) AS u FROM tok), " +
      "sc AS (SELECT bg.doc_id, " +
      s"coalesce(lm.lp, uni.lp, ${lm.floorMilli}) AS lp " +
      "FROM bg LEFT JOIN lm ON u.b = lm.b LEFT JOIN uni ON u.w1 = uni.w), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(lp) AS BIGINT) AS lp FROM sc GROUP BY 1) " +
      "SELECT t.doc_id, coalesce(agg.n, 0) AS n_bigrams, " +
      "coalesce(agg.lp, 0) AS lp_milli, " +
      "CASE WHEN coalesce(agg.n, 0) = 0 THEN 'tail' " +
      s"WHEN coalesce(agg.lp, 0) >= coalesce(agg.n, 0) * ${cuts.headMinMilli} THEN 'head' " +
      s"WHEN coalesce(agg.lp, 0) >= coalesce(agg.n, 0) * ${cuts.middleMinMilli} THEN 'middle' " +
      "ELSE 'tail' END AS bucket " +
      "FROM tok t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"
  }

  /** x_lm_score3 oracle: the trigram tables join per exploded trigram with
    * the stupid-backoff chain inside the coalesce — an unseen trigram costs
    * the quantized backoff penalty plus the bigram chain on (w2, w3). All
    * integers, hash-exact by construction (the [[lmOracleSql]] pattern). */
  def lmOracleSql3(spark: SparkSession, sfDir: String): String = {
    val lm = graft.ext.Lm.trigramLmFor(spark, sfDir)
    s"WITH tri(t, lp) AS (SELECT * FROM ${milliTableSql(lm.trigramMilli)}), " +
      s"lm(b, lp) AS (SELECT * FROM ${milliTableSql(lm.bigramMilli)}), " +
      s"uni(w, lp) AS (SELECT * FROM ${milliTableSql(lm.uniFallbackMilli)}), " +
      s"tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $Docs), " +
      "tg AS (SELECT doc_id, unnest([{" +
      "'t': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2], " +
      "'b': ws[i+1] || ' ' || ws[i+2], " +
      "'w2': ws[i+1]} for i in generate_series(1, len(ws) - 2)]) AS u FROM tok), " +
      "sc AS (SELECT tg.doc_id, " +
      s"coalesce(tri.lp, ${lm.backoffMilli} + " +
      s"coalesce(lm.lp, uni.lp, ${lm.floorMilli})) AS lp " +
      "FROM tg LEFT JOIN tri ON u.t = tri.t " +
      "LEFT JOIN lm ON u.b = lm.b LEFT JOIN uni ON u.w2 = uni.w), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(lp) AS BIGINT) AS lp FROM sc GROUP BY 1) " +
      "SELECT t.doc_id, coalesce(agg.n, 0) AS n_trigrams, " +
      "coalesce(agg.lp, 0) AS lp_milli, " +
      "CAST(CASE WHEN coalesce(agg.lp, 0) >= coalesce(agg.n, 0) * -9000 " +
      "THEN 1 ELSE 0 END AS INT) AS keep " +
      "FROM tok t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"
  }

  /** x_dsir_weights oracle: the SAME driver-quantized milli-nat log-ratio
    * table as a SQL array literal, indexed per exploded hashed feature
    * (unigrams + adjacent bigrams) — integer sums on both engines,
    * hash-exact by construction (the [[lmOracleSql]] pattern). */
  def dsirOracleSql(spark: SparkSession, sfDir: String): String = {
    val m = graft.ext.Dsir.modelFor(spark, sfDir)
    val wLit = m.weightsMilli.mkString("[", ",", "]")
    // coalesce keeps null docs IN the result (ws = [''] -> one feature),
    // matching importanceWeights' coalesce — without it string_split(NULL)
    // unnests to zero rows and the doc vanishes from the oracle entirely
    s"WITH tok AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws " +
      s"FROM $Docs), " +
      "ft AS (SELECT doc_id, unnest(list_concat(ws, " +
      "CASE WHEN len(ws) >= 2 THEN " +
      "[ws[i] || ' ' || ws[i+1] for i in generate_series(1, len(ws) - 1)] " +
      "ELSE CAST([] AS VARCHAR[]) END)) AS f FROM tok), " +
      s"sc AS (SELECT doc_id, ($wLit)[" +
      s"${hexToIntSql("substr(md5(f), 1, 4)")} % ${m.dim} + 1] AS w FROM ft), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, " +
      "CAST(sum(w) AS BIGINT) AS w_milli FROM sc GROUP BY 1) " +
      "SELECT doc_id, n_feats, w_milli, " +
      "CAST(CASE WHEN w_milli >= 0 THEN 1 ELSE 0 END AS INT) AS keep " +
      "FROM agg ORDER BY doc_id"
  }

  def semDedupOracleSql(spark: SparkSession, sfDir: String): String = {
    val cents = graft.ext.Similarity.centroidsFor(spark, sfDir)
    def sortedLists(vec: String): String = ivfSortedListsSql(cents, vec)
    s"WITH b AS (SELECT vec_id, embedding, ${sortedLists("embedding")}[1].l AS list " +
      s"FROM $Embs), " +
      "d AS (SELECT DISTINCT x.vec_id AS vec_id " +
      "FROM b x JOIN b y ON x.list = y.list AND y.vec_id < x.vec_id " +
      s"WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.3) " +
      "SELECT b.vec_id, b.list, " +
      "CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep " +
      "FROM b LEFT JOIN d USING (vec_id) ORDER BY vec_id"
  }

  /** DuckDB twin of Similarity.clusterBalancedSample: centroid-literal
    * assignment + the x_source_mix integer rate contract per list. */
  def clusterSampleOracleSql(spark: SparkSession, sfDir: String): String = {
    val cents = graft.ext.Similarity.centroidsFor(spark, sfDir)
    def sortedLists(vec: String): String = ivfSortedListsSql(cents, vec)
    s"WITH b AS (SELECT vec_id, ${sortedLists("embedding")}[1].l AS list FROM $Embs), " +
      "c AS (SELECT list, count(*) AS n_total, " +
      "CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000) AS BIGINT) AS w " +
      "FROM b GROUP BY list), " +
      "r AS (SELECT list, n_total, least(100, w * 4 // (n_total * 10)) AS rate FROM c) " +
      "SELECT list, CAST(r.n_total AS BIGINT) AS n_total, CAST(rate AS BIGINT) AS rate, " +
      "CAST(sum(CASE WHEN pct < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
      s"FROM (SELECT list, ${hexToIntSql("substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)")} % 100 AS pct " +
      "FROM b) d JOIN r USING (list) GROUP BY 1, 2, 3 ORDER BY list"
  }

  /** DuckDB twins of Similarity.pqEncode / pqTopKAdc. The codebook and the
    * query's ADC lookup-table literals are data-derived artifacts, so both
    * oracles are generated at Verify dump time (SparkEntry.dynamicOracleSql)
    * from the same cached deterministic trainer the queries use;
    * Double.toString literals round-trip exactly. Sub-distance sums are
    * left-to-right folds on both engines (the contract the IVF oracles
    * already prove at dim 64), and the ADC sum adds the m lookups in
    * subspace order on both. */
  private def pqCodeSql(spark: SparkSession, sfDir: String,
                        vec: String): Seq[String] = {
    val cbs = graft.ext.Similarity.pqCodebooksFor(spark, sfDir)
    val subdim = cbs(0)(0).length
    def distSql(s: Int, c: Array[Double]): String = {
      val lit = c.map(_.toString).mkString("[", ",", "]")
      s"list_sum([(CAST($vec[${s * subdim} + i] AS DOUBLE) - ($lit)[i]) * " +
        s"(CAST($vec[${s * subdim} + i] AS DOUBLE) - ($lit)[i]) " +
        s"for i in generate_series(1, $subdim)])"
    }
    cbs.indices.map(s =>
      cbs(s).zipWithIndex
        .map { case (c, i) => s"{'d': ${distSql(s, c)}, 'c': $i}" }
        .mkString("list_sort([", ", ", "])[1].c"))
  }

  def pqCodesOracleSql(spark: SparkSession, sfDir: String): String = {
    val codes = pqCodeSql(spark, sfDir, "embedding")
    val cols = codes.zipWithIndex
      .map { case (c, s) => s"$c AS c$s" }.mkString(", ")
    val unions = codes.indices
      .map(s => s"SELECT $s AS sub, c$s AS code FROM b")
      .mkString(" UNION ALL ")
    s"WITH b AS (SELECT vec_id, $cols FROM $Embs), u AS ($unions) " +
      "SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, " +
      "count(*) AS cnt FROM u GROUP BY 1, 2 ORDER BY sub, code"
  }

  def pqAdcOracleSql(spark: SparkSession, sfDir: String): String = {
    val cbs = graft.ext.Similarity.pqCodebooksFor(spark, sfDir)
    val subdim = cbs(0)(0).length
    // the query vector is corpus row 0 — materialize it the same way the
    // Spark path does (driver collect) so the LUT literals are shared bits
    val q = t(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray.map(_.toDouble)
    val luts = cbs.zipWithIndex.map { case (cb, s) =>
      cb.map(c => graft.ext.Similarity.sqdist(
        q.slice(s * subdim, (s + 1) * subdim), c))
    }
    val codes = pqCodeSql(spark, sfDir, "embedding")
    val cols = codes.zipWithIndex
      .map { case (c, s) => s"$c AS c$s" }.mkString(", ")
    val adc = luts.zipWithIndex.map { case (lut, s) =>
      s"(${lut.map(_.toString).mkString("[", ",", "]")})[c$s + 1]"
    }.mkString(" + ")
    s"WITH q AS (SELECT embedding AS qv FROM $Embs WHERE vec_id = 0), " +
      s"b AS (SELECT vec_id, embedding, $cols FROM $Embs WHERE vec_id <> 0), " +
      s"a AS (SELECT vec_id, embedding, round($adc, 6) AS adc FROM b), " +
      // tie-inclusive rerank cut (RANK-not-ROW_NUMBER — Similarity
      // .tieInclusive): everything tied at the 50th adc value survives
      "cand AS (SELECT vec_id, embedding, adc FROM a WHERE adc <= " +
      "(SELECT max(adc) FROM (SELECT adc FROM a ORDER BY adc LIMIT 50))) " +
      s"SELECT vec_id, adc, round($CosExpr, 6) AS cos FROM cand, q " +
      "ORDER BY cos DESC, vec_id LIMIT 10"
  }

  /** DuckDB twin of Similarity.ivfPqTopK: IVF list pruning (the probe-list
    * literals computed with the same driver arithmetic the query uses) +
    * PQ/ADC candidate cut + exact re-rank. Dynamic like the other
    * artifact-bearing oracles. */
  def ivfPqOracleSql(spark: SparkSession, sfDir: String): String = {
    val cents = graft.ext.Similarity.centroidsFor(spark, sfDir)
    val cbs = graft.ext.Similarity.pqResidualCodebooksFor(spark, sfDir, cents)
    val subdim = cbs(0)(0).length
    val q = t(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray.map(_.toDouble)
    val probeLists = cents.zipWithIndex
      .map { case (c, i) => (graft.ext.Similarity.sqdist(q, c), i) }
      .sortBy(identity).take(2).map(_._2)
    // per-list LUTs from the QUERY's residual against that list's centroid
    // (exactly Similarity.ivfPqTopK's lutByList)
    val lutByList = probeLists.map { l =>
      val c = cents(l)
      val qr = Array.tabulate(q.length)(i => q(i) - c(i))
      l -> cbs.zipWithIndex.map { case (cb, s) =>
        cb.map(cc => graft.ext.Similarity.sqdist(
          qr.slice(s * subdim, (s + 1) * subdim), cc))
      }
    }
    val listSql = s"${ivfSortedListsSql(cents, "embedding")}[1].l"
    // residual code per (list, subspace): ((CAST(x AS DOUBLE) − cl[i]) −
    // c[i])² — the same left-to-right association as the Spark side's
    // zip_with residual followed by the kernel's (res − c)²
    def resCodeSql(l: Int, s: Int): String = {
      val cl = cents(l)
      cbs(s).zipWithIndex.map { case (c, j) =>
        val d = (0 until subdim).map { i =>
          val idx = s * subdim + i + 1 // 1-based SQL index
          val term = s"((CAST(embedding[$idx] AS DOUBLE) - (${cl(idx - 1)})) - " +
            s"(${c(i)}))"
          s"$term * $term"
        }.mkString("list_sum([", ", ", "])")
        s"{'d': $d, 'c': $j}"
      }.mkString("list_sort([", ", ", "])[1].c")
    }
    val codeCols = cbs.indices.map { s =>
      val cases = probeLists.map(l => s"WHEN list = $l THEN ${resCodeSql(l, s)}")
        .mkString(" ")
      s"CASE $cases END AS c$s"
    }.mkString(", ")
    val adc = lutByList.map { case (l, luts) =>
      val sum = luts.zipWithIndex.map { case (lut, s) =>
        s"(${lut.map(_.toString).mkString("[", ",", "]")})[c$s + 1]"
      }.mkString(" + ")
      s"WHEN list = $l THEN $sum"
    }.mkString("CASE ", " ", " END")
    s"WITH q AS (SELECT embedding AS qv FROM $Embs WHERE vec_id = 0), " +
      s"b AS (SELECT vec_id, embedding, $listSql AS list " +
      s"FROM $Embs WHERE vec_id <> 0), " +
      s"pc AS (SELECT vec_id, embedding, list, $codeCols FROM b " +
      s"WHERE list IN (${probeLists.mkString(", ")})), " +
      s"pr AS (SELECT vec_id, embedding, round($adc, 6) AS adc FROM pc), " +
      // tie-inclusive rerank cut — see pqAdcOracleSql
      "cand AS (SELECT vec_id, embedding, adc FROM pr WHERE adc <= " +
      "(SELECT max(adc) FROM (SELECT adc FROM pr ORDER BY adc LIMIT 50))) " +
      s"SELECT vec_id, adc, round($CosExpr, 6) AS cos FROM cand, q " +
      "ORDER BY cos DESC, vec_id LIMIT 10"
  }

  /** Per-language keep rates (percent) for the stratified sample: the shape a
    * data-mix rebalance uses (downsample dominant languages, keep the rest).
    * Declared before `inventory` — its oracle SQL is built eagerly. */
  private val SampleRates =
    Map("en" -> 10, "zh" -> 25, "de" -> 50, "fr" -> 75, "es" -> 100)

  /** Shared recursive-CTE oracle for near-dup clusters at threshold 0.2:
    * LSH candidates + true-Jaccard verify -> symmetric edges -> transitive
    * reachability -> min reachable id per node, exposed as
    * `clusters(doc_id, cluster_id)` for x_dedup_clusters / x_dedup_keep. */
  private val ClusterCte = {
    val sql = s"$SigCte, $BandsCte, " +
      "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
      "ds AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh), " +
      "pairs AS (SELECT a_id, b_id FROM cand " +
      "JOIN ds x ON x.doc_id = a_id JOIN ds y ON y.doc_id = b_id " +
      "WHERE CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / " +
      "(len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) >= 0.2), " +
      "e AS (SELECT a_id AS s, b_id AS t FROM pairs " +
      "UNION ALL SELECT b_id, a_id FROM pairs), " +
      "reach AS (SELECT s AS a, t AS b FROM e " +
      "UNION SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s), " +
      "clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id " +
      "FROM reach GROUP BY a)"
    sql.replaceFirst("WITH ", "WITH RECURSIVE ")
  }

  /** DuckDB twin of Multimodal.dHashFixtureGray(grp, j, x, y): the exact
    * mod-251 integer polynomial the synthesized grayscale fixture pixels
    * follow (jitter rides pixels (0,0) and (8,7) only). */
  private def dhashGraySql(x: Int, y: Int): String = {
    val base = s"(((grp + 1) * ${(x + 1) * (x + 2) * 31} + " +
      s"(grp + 7) * ${(y + 1) * (x + 3) * 13}) % 251)"
    if (x == 0 && y == 0) s"(($base + j * 17) % 251)"
    else if (x == 8 && y == 7) s"(($base + j * 29) % 251)"
    else base
  }

  /** One 32-bit half of the oracle dHash as a sum of CASE bit terms — built
    * in halves because bit 63 would overflow (and sign-flip) a single BIGINT
    * sum built from positive weights. half 0 = grid rows 0..3 (bits 0..31),
    * half 1 = rows 4..7 (bits 32..63); bit (y*8 + x) = [g(x+1,y) > g(x,y)],
    * identical to Multimodal.dHashOfImage's packing. */
  private def dhashHalfSql(half: Int): String =
    (for { y <- (half * 4) until (half * 4 + 4); x <- 0 until 8 } yield {
      val weight = 1L << (y * 8 + x - half * 32)
      s"(CASE WHEN ${dhashGraySql(x + 1, y)} > ${dhashGraySql(x, y)} " +
        s"THEN CAST($weight AS BIGINT) ELSE 0 END)"
    }).mkString(" + ")

  /** Shared CTE for the dHash oracles: per even doc, the 64-bit fixture
    * dHash as overflow-safe (lo, hi) 32-bit halves. */
  private val DHashCte: String =
    s"WITH g AS (SELECT doc_id, doc_id // 8 AS grp, doc_id % 8 AS j FROM $Docs " +
      "WHERE doc_id % 2 = 0), " +
      s"hsh AS (SELECT doc_id, ${dhashHalfSql(0)} AS lo, ${dhashHalfSql(1)} AS hi FROM g)"

  /** DuckDB twin of Multimodal.envelopeFixtureSample's |amplitude| (the
    * fixture's per-window energy): windows are constant, so the box mean IS
    * the sample's absolute value. */
  private def envSampleSql(w: Int): String = {
    val x = s"((grp + 3) * ${(w + 1) * (w + 2) * 17} + (grp + 11) * ${(w + 5) * 7})"
    val jterm = if (w == 0) " + j * 137" else if (w == 64) " + j * 251" else ""
    s"abs((($x$jterm) % 20001) - 10000)"
  }

  /** One 32-bit half of the oracle envelope fingerprint (bit w =
    * [E(w+1) > E(w)]), halved for the same sign-bit reason as
    * [[dhashHalfSql]]. */
  private def envHalfSql(half: Int): String =
    (for (w <- (half * 32) until (half * 32 + 32)) yield {
      val weight = 1L << (w - half * 32)
      s"(CASE WHEN ${envSampleSql(w + 1)} > ${envSampleSql(w)} " +
        s"THEN CAST($weight AS BIGINT) ELSE 0 END)"
    }).mkString(" + ")

  private val AudioFpCte: String =
    s"WITH g AS (SELECT doc_id, doc_id // 8 AS grp, doc_id % 8 AS j FROM $Docs " +
      "WHERE doc_id % 2 = 0), " +
      s"hsh AS (SELECT doc_id, ${envHalfSql(0)} AS lo, ${envHalfSql(1)} AS hi FROM g)"

  /** Shared MIH-pair oracle body over an `hsh(doc_id, lo, hi)` CTE: 4
    * 16-bit substring bands, equi-join candidates, exact bit_count verify
    * at Hamming <= 3 — the DuckDB twin of Multimodal.dHashPairs. */
  private def mihPairsSql(cte: String): String =
    s"$cte, banded AS (SELECT doc_id, lo, hi, UNNEST([" +
      "{'band': 0, 'key': lo % 65536}, {'band': 1, 'key': lo // 65536}, " +
      "{'band': 2, 'key': hi % 65536}, {'band': 3, 'key': hi // 65536}" +
      "], recursive := true) FROM hsh) " +
      "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, " +
      "CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming " +
      "FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key " +
      "AND a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3 " +
      "ORDER BY a_id, b_id"

  /** The [[graft.fixtures.Fixtures.attachUrls]] synthesis alone (the `u` CTE) — shared by [[UrlCte]]
    * and the outlink gates, which canonicalize the RESOLVED links rather
    * than the page url. */
  private val UrlSrcCte: String =
    "WITH u AS (SELECT doc_id, source, " +
      "(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' " +
      "WHEN doc_id % 3 = 1 THEN 'https://' ELSE 'http://' END) || " +
      "source || '-' || CAST(doc_id % 50 AS VARCHAR) || " +
      "(CASE WHEN doc_id % 4 = 0 THEN '.co.uk' WHEN doc_id % 4 = 1 THEN '.com' " +
      "WHEN doc_id % 4 = 2 THEN '.org' ELSE '.example.com' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) || " +
      "'/p/' || CAST(doc_id % 20 AS VARCHAR) || " +
      "(CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&item=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END) || " +
      "(CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url " +
      s"FROM $Docs)"

  /** DuckDB twin of [[Url.canonicalKey]] applied to an arbitrary
    * expression: the same 7-step regex chain with the 'g' flag (RE2 and
    * Java agree on this pattern subset; backreference spelling differs —
    * `\2` here, `$2` in the engine — by dialect, not semantics). */
  private def canonKeySql(e: String): String =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "lower(" + e + "), '#.*$', '', 'g'), '^https?://', '', 'g'), '^www\\.', '', 'g'), " +
      "'^([^/:?&]*):(80|443)([/?&]|$)', '\\1\\3', 'g'), '\\?', '&', 'g'), " +
      "'&(utm_[a-z0-9]*|fbclid|gclid|ref)=[^&]*', '', 'g'), '(/|&)$', '', 'g')"

  private val UrlCte: String =
    UrlSrcCte + ", " +
    "k AS (SELECT doc_id, source, url, " + canonKeySql("url") + " AS key " +
    "FROM u)"

  private def urlHostSql(key: String): String =
    s"regexp_extract($key, '^([^/&:]*)', 1)"

  /** Render a (pattern, replacement) regex chain constant as nested DuckDB
    * regexp_replace calls — the x_html_extract twin generalized so every
    * chain-driven oracle (strip, main-content, WET) folds THE SAME Scala
    * constant the engine folds: `\n` replacements become chr(10), quotes
    * double, patterns pass through (the REGEX engine interprets their
    * escapes, not the SQL parser). */
  private def regexChainSql(expr0: String, steps: Seq[(String, String)]): String =
    steps.foldLeft(expr0) { case (acc, (pat, rep)) =>
      val sqlRep = rep match {
        case "\n" => "chr(10)"
        case r => "'" + r.replace("'", "''") + "'"
      }
      s"regexp_replace($acc, '$pat', $sqlRep, 'g')"
    }

  /** DuckDB twin of [[TextFns.mainContent]] over an arbitrary input
    * expression: kill chain → block split → per-block text/link-density
    * classification (NULL-marker filter — recomputes the text chain per
    * use; oracle-side cost only) → newline join. NULL input propagates
    * (string_split_regex(NULL) → NULL → array_to_string NULL), matching
    * the engine's isNotNull guard. */
  private def mainContentSql(e: String): String = {
    def txt(x: String) = regexChainSql(x, TextFns.BlockTextSteps)
    val lc = "coalesce(list_sum(list_transform(regexp_extract_all(x, '" +
      TextFns.AnchorTextPattern + "', 1), a -> length(" + txt("a") + "))), 0)"
    "array_to_string(list_filter(list_transform(string_split_regex(" +
      regexChainSql(e, TextFns.ContentKillSteps) +
      s", '${TextFns.BlockSplitPattern}'), x -> " +
      s"CASE WHEN length(${txt("x")}) >= 25 AND $lc * 1000 <= 200 * length(${txt("x")}) " +
      s"THEN ${txt("x")} END), t2 -> t2 IS NOT NULL), chr(10))"
  }

  /** Shared WARC oracle CTEs: url fixture → page html → container
    * ([[Fixtures.warcSqlCtes]]) → parsed records, ending in
    * `pp(doc_id, rec_pos, warc_type, target_uri, warc_date,
    * content_length, payload)` — the DuckDB twin of
    * [[graft.ext.Warc.records]] over [[Fixtures.attachWarc]]: version-line
    * split with 1-based record positions (zipped unnest), header block =
    * text before the first CRLFCRLF, payload = Content-Length-framed
    * substring after it (NULL length ⇒ NULL payload, like the engine's
    * fail-closed rule). */
  private val WarcParseCtes: String = {
    val clen = "CAST(nullif(regexp_extract(hdr, " +
      "'(?im)^content-length[ \\t]*:[ \\t]*([0-9]+)', 1), '') AS BIGINT)"
    s"$UrlSrcCte, " +
      s"wh AS (SELECT u.doc_id, url, ${Fixtures.htmlSql("u.doc_id", "d.text")} AS h " +
      s"FROM u JOIN $Docs d ON u.doc_id = d.doc_id), " +
      Fixtures.warcSqlCtes("doc_id") + ", " +
      "sp AS (SELECT doc_id, string_split_regex(warc, 'WARC/1\\.0\\r\\n') AS ck " +
      "FROM wc), " +
      "rr AS (SELECT doc_id, unnest(ck[2:]) AS chunk, " +
      "unnest(generate_series(1, len(ck) - 1)) AS rec_pos FROM sp), " +
      "ph AS (SELECT doc_id, rec_pos, chunk, " +
      "regexp_extract(chunk, '(?s)^(.*?)\\r\\n\\r\\n', 1) AS hdr FROM rr), " +
      "pp AS (SELECT doc_id, rec_pos, " +
      "lower(nullif(regexp_extract(hdr, '(?im)^warc-type[ \\t]*:[ \\t]*([^\\r\\n]+)', 1), '')) AS warc_type, " +
      "nullif(regexp_extract(hdr, '(?im)^warc-target-uri[ \\t]*:[ \\t]*([^\\r\\n]+)', 1), '') AS target_uri, " +
      "nullif(regexp_extract(hdr, '(?im)^warc-date[ \\t]*:[ \\t]*([^\\r\\n]+)', 1), '') AS warc_date, " +
      s"$clen AS content_length, " +
      s"substring(chunk, length(hdr) + 5, $clen) AS payload FROM ph)"
  }

  /** [[WarcParseCtes]] + the HTTP layer: `bod(doc_id, rec_pos, target_uri,
    * warc_date, http_status, body)` — the twin of
    * [[graft.ext.Warc.httpResponses]] (statusless records keep their raw
    * payload as body, like the engine's nothing-vanishes rule). */
  private val WarcHttpCtes: String = WarcParseCtes + ", " +
    "resp AS (SELECT doc_id, rec_pos, target_uri, warc_date, payload, " +
    "regexp_extract(payload, '(?s)^(.*?)\\r\\n\\r\\n', 1) AS hh, " +
    s"nullif(regexp_extract(payload, '${graft.ext.Warc.StatusPattern}', 1), '') AS st " +
    "FROM pp WHERE warc_type = 'response'), " +
    "bod AS (SELECT doc_id, rec_pos, target_uri, warc_date, " +
    "CAST(st AS INTEGER) AS http_status, " +
    "CASE WHEN st IS NULL THEN payload " +
    "ELSE substring(payload, length(hh) + 5) END AS body FROM resp)"

  /** Shared oracle body for the outlink gates — the DuckDB twin of
    * [[graft.fixtures.Fixtures.attachLinksHtml]] + [[Url.extractLinks]] +
    * [[Url.resolveLink]]: synthesize the links page over the url fixture,
    * extract both href quote forms, resolve through the same reduced
    * RFC 3986 CASE chain, apply the same BOUNDED dot-segment collapse
    * (2 x `/./`, 4 x `/seg/../`, path part only), drop non-fetchables,
    * per-doc DISTINCT. Ends in a CTE `d(src_id, link)`. Replacement
    * spelling differs by dialect (`\1` here, `$1` in the engine); every
    * pattern lives in the RE2/Java common subset. */
  /** The resolve CASE chain over columns `h` (trimmed href) and `url` —
    * shared by the outlink and anchor-text oracles. */
  private val ResolveCaseSql: String = {
    val schemeE = "lower(regexp_extract(url, '(?i)^(https?):', 1))"
    val sch = "CASE WHEN " + schemeE + " = '' THEN 'https' ELSE " + schemeE + " END"
    val org = "regexp_extract(url, '(?i)^(https?://[^/?#]*)', 1)"
    val noqf = "regexp_extract(url, '^([^?#]*)', 1)"
    val dir = "CASE WHEN regexp_matches(" + noqf + ", '(?i)^https?://[^/]+/.+') " +
      "THEN regexp_replace(" + noqf + ", '/[^/]*$', '') ELSE " + org + " END"
    "CASE WHEN h IS NULL OR h = '' THEN NULL " +
      "WHEN regexp_matches(h, '(?i)^(javascript|mailto|data|tel):') " +
      "OR regexp_matches(h, '^#') THEN NULL " +
      "WHEN regexp_matches(h, '(?i)^https?://') THEN h " +
      "WHEN regexp_matches(h, '^//') THEN " + sch + " || ':' || h " +
      "WHEN regexp_matches(h, '^/') THEN " + org + " || h " +
      "ELSE " + dir + " || '/' || h END"
  }

  /** The resolved absolute link over column `raw`: origin + the bounded
    * dot-segment collapse on the path part — shared like [[ResolveCaseSql]]. */
  private val CollapsedLinkSql: String = {
    val p0 = "regexp_replace(raw, '(?i)^https?://[^/]*', '')"
    val dots = (1 to 2).foldLeft(p0)((c, _) =>
      "regexp_replace(" + c + ", '/\\.(/|$)', '\\1', 'g')")
    val ups = (1 to 4).foldLeft(dots)((c, _) =>
      "regexp_replace(" + c + ", '/[^/.][^/]*/\\.\\.(/|$)', '\\1', 'g')")
    "regexp_extract(raw, '(?i)^(https?://[^/]*)', 1) || " + ups
  }

  /** The url fixture + links page synthesis (`u`, `p` CTEs) — shared. */
  private val LinksPageCte: String =
    UrlSrcCte +
      ", p AS (SELECT doc_id, url, " + Fixtures.linksHtmlSql("doc_id", "url") +
      " AS html FROM u)"

  private val OutlinksCte: String = {
    // (?:[^>]*?\s)? = the attribute-name boundary (mirrors Url.extractLinks):
    // a data-href attribute must never be read as the link
    val dq = "(?i)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*\"([^\"]*)\""
    val sq = "(?i)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*''([^'']*)''"
    LinksPageCte + ", " +
      "l AS (SELECT doc_id, url, trim(h0) AS h FROM (" +
      "SELECT doc_id, url, unnest(list_concat(" +
      "regexp_extract_all(html, '" + dq + "', 1), " +
      "regexp_extract_all(html, '" + sq + "', 1))) AS h0 FROM p)), " +
      "r AS (SELECT doc_id, " + ResolveCaseSql + " AS raw FROM l), " +
      "n AS (SELECT doc_id, " + CollapsedLinkSql +
      " AS link FROM r WHERE raw IS NOT NULL), " +
      "d AS (SELECT DISTINCT doc_id AS src_id, link FROM n)"
  }

  /** Anchor-text oracle body: whole `<a ...>text</a>` elements, href (both
    * quote forms) + inner text per element, the same resolve chain, ends in
    * `d(src_id, link, anchor_text)`. */
  private val AnchorsCte: String =
    LinksPageCte + ", " +
      "a AS (SELECT doc_id, url, " +
      "unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*>[^<]*</a>', 0)) AS el " +
      "FROM p), " +
      "l AS (SELECT doc_id, url, el, trim(coalesce(" +
      "nullif(regexp_extract(el, '(?i)\\shref\\s*=\\s*\"([^\"]*)\"', 1), ''), " +
      "nullif(regexp_extract(el, '(?i)\\shref\\s*=\\s*''([^'']*)''', 1), ''))) AS h " +
      "FROM a), " +
      "r AS (SELECT doc_id, el, " + ResolveCaseSql + " AS raw FROM l), " +
      "d AS (SELECT doc_id AS src_id, " + CollapsedLinkSql + " AS link, " +
      "trim(regexp_extract(el, '(?i)>([^<]*)</a>', 1)) AS anchor_text " +
      "FROM r WHERE raw IS NOT NULL)"

  /** The outlink fixture's edge list, extracted ONCE per sf dir (an
    * [[graft.Artifacts.stored]] artifact of its documents) and
    * parquet-materialized — the PRODUCTION shape (r13 verdict item 8): the
    * edge list is a pipeline product consumed by the frontier, the URL/
    * domain ranks and the queue ordering, so production extracts it once
    * and persists it; the lazily-inlined gate forms re-ran the resolve
    * regex chain once per consumer subtree (x_domain_rank measured 8.8 s
    * at sf1 from exactly that before the weighted-edge fix, and the
    * composed x_frontier_order gate measured 6.2 s at sf0.1 inline vs its
    * consumers' ~2 s over this table). Raw extraction itself stays priced
    * by `x_html_links`/`x_anchor_text`, which dump [[Url.outlinks]]/
    * [[Url.outAnchors]] directly. Same rows either way — the four consumer
    * gates' hashes are unchanged (CORRECTNESS-checked both forms). */
  private[graft] def fixtureLinks(s: SparkSession, d: String): DataFrame =
    Td.readTable(s, graft.Artifacts.stored(s, "links_fixture", Nil,
        Seq(s"$d/documents.parquet"), None) { out =>
      Url.outlinks(
          Fixtures.attachLinksHtml(
            Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source"),
            "doc_id", "url"),
          "doc_id", "url", "html")
        .write.parquet(out)
    })

  /** The anchor-occurrence fixture, extracted once per sf dir and
    * parquet-materialized — the same production rationale as
    * [[fixtureLinks]]: the anchor table is a pipeline product with two
    * consumers (the per-target rollup and the frontier quality blend);
    * raw extraction stays priced by `x_anchor_text`, which dumps
    * [[Url.outAnchors]] directly. */
  private[graft] def fixtureAnchors(s: SparkSession, d: String): DataFrame =
    Td.readTable(s, graft.Artifacts.stored(s, "anchors_fixture", Nil,
        Seq(s"$d/documents.parquet"), None) { out =>
      Url.outAnchors(
          Fixtures.attachLinksHtml(
            Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source"),
            "doc_id", "url"),
          "doc_id", "url", "html")
        .write.parquet(out)
    })

  /** Discovered-frontier and domain-rank fixtures, computed once per
    * sf dir and parquet-materialized — the production shape for the
    * frontierOrder CONSUMER gates: the frontier and the rank table are
    * pipeline PRODUCTS with three consumers each (order/quota/anchor), and
    * their own construction stays priced by `x_crawl_frontier` /
    * `x_domain_rank`, which run the operators directly. Before this cache
    * each consumer gate re-ran the Bloom build and the 3-round rank
    * iteration from the raw edge list (x_frontier_quota alone measured
    * 3.2 s at sf0.1 — mostly shared input recompute, not the operator).
    * Both build from [[fixtureLinks]], a nested artifact lookup. */
  private[graft] def fixtureFrontier(s: SparkSession, d: String): DataFrame =
    Td.readTable(s, graft.Artifacts.stored(s, "frontier_fixture", Nil,
        Seq(s"$d/documents.parquet"), None) { out =>
      Url.discoveredFromLinks(fixtureLinks(s, d),
          Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
            .select(Url.canonicalKey(col("url"))), expectedItems = 100000L)
        .write.parquet(out)
    })

  private[graft] def fixtureDomainRank(s: SparkSession, d: String): DataFrame =
    Td.readTable(s, graft.Artifacts.stored(s, "domain_rank_fixture", Nil,
        Seq(s"$d/documents.parquet"), None) { out =>
      LinkGraph.domainRank(fixtureLinks(s, d)).write.parquet(out)
    })

  /** DuckDB twin of [[LinkGraph.urlRank]] (3 iterations, damping 850/1000,
    * scale 1e6) over the [[OutlinksCte]] fixture graph: the iteration is
    * UNROLLED (r0 → c1/r1 → c2/r2 → c3/r3) because the engine's loop is a
    * fixed count, and every quantity is integer (the operator's whole
    * bit-parity design — `//` here is the same floor division as `div`
    * there). Edges re-derive the page key by joining `d` back to `u`; the
    * engine carries it through the same select instead, an execution-shape
    * difference with an identical edge multiset. */
  /** The unrolled fixed-point PageRank body over a CTE `e(src, dst)` —
    * shared by the URL- and domain-rank oracles (3 iterations, damping
    * 850/1000, scale 1e6; `//` is the engine's `div`). */
  private def rankIterCtes(edgesCte: String): String = {
    def iter(i: Int): String =
      s"c$i AS (SELECT e.dst AS node, " +
        s"sum((r${i - 1}.rank_fp * 850) // (1000 * deg.outdeg)) AS contrib " +
        s"FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node " +
        "JOIN deg ON e.src = deg.src GROUP BY 1), " +
      s"r$i AS (SELECT n.node, 150000 + coalesce(c$i.contrib, 0) AS rank_fp " +
        s"FROM nodes n LEFT JOIN c$i ON n.node = c$i.node)"
    edgesCte + ", " +
      "nodes AS (SELECT DISTINCT node FROM " +
      "(SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)), " +
      "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
      "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_fp FROM nodes), " +
      (1 to 3).map(iter).mkString(", ")
  }

  private def rankIterSql(edgesCte: String): String =
    rankIterCtes(edgesCte) + " " +
      "SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp FROM r3 ORDER BY node"

  /** DuckDB twin of [[graft.ext.Robots.rules]] + the wildcard translation
    * ([[graft.ext.Robots]] `rulePattern`): over a CTE `rob(host, txt)`,
    * parse the selected group's Allow/Disallow lines (verb AND path
    * lowercased — the documented case-insensitive deviation), drop
    * empty-path rules, and translate wildcard-bearing paths (`*` anywhere /
    * trailing `$`) to their anchored regex — escape every special except
    * `*`, then `*` -> `.*` — leaving `pattern` NULL for plain prefix rules.
    * Ends in `rp(host, verb, path, pattern)`. Replacement-group spelling
    * differs by dialect (`\\\1` here, `\\$1` in the engine); the patterns
    * themselves are the RE2/Java common subset. `agent` selects the group
    * like [[graft.ext.Robots.agentSection]]: the agent's own whole-line
    * token group, else the star group. */
  /** DuckDB spelling of [[graft.ext.Robots]]' `UaSkip` — further
    * `User-agent:` lines, blank lines and `#` comment lines between the
    * matched token's line and the group's shared rule block (multi-token
    * groups, RFC 9309 significant-lines parse). */
  private val RobotsUaSkipSql =
    "(?:[ \\t]*(?:user-agent:[^\\n]*|#[^\\n]*)?\\r?\\n)*"

  /** DuckDB spelling of `UaEol` — end of a matched `User-agent:` line,
    * optional EOL `#` comment included. */
  private val RobotsUaEolSql = "[ \\t]*(?:#[^\\n]*)?\\r?\\n"

  /** DuckDB twin of [[graft.ext.Robots.starSection]]. */
  private val robotsStarSql: String =
    "regexp_extract(txt, '(?is)user-agent:[ \\t]*\\*" + RobotsUaEolSql +
      RobotsUaSkipSql + "(.*?)(?:user-agent:|$)', 1)"

  private def robotsRulesCtes(agent: String = "*"): String = {
    val sec =
      if (agent == "*") robotsStarSql
      else {
        val own = "regexp_extract(txt, '(?is)user-agent:[ \\t]*" +
          agent.toLowerCase + RobotsUaEolSql + RobotsUaSkipSql +
          "(.*?)(?:user-agent:|$)', 1)"
        val present = "regexp_matches(txt, '(?im)^[ \\t]*user-agent:[ \\t]*" +
          agent.toLowerCase + "[ \\t]*(?:#[^\\n]*)?\\r?$')"
        s"(CASE WHEN $present THEN $own ELSE $robotsStarSql END)"
      }
    "lines AS (SELECT host, unnest(regexp_extract_all(" + sec + ", " +
      "'(?im)^[ \\t]*(?:allow|disallow)[ \\t]*:[ \\t]*\\S*', 0)) AS ln FROM rob), " +
      "rules AS (SELECT host, lower(regexp_extract(ln, '(?i)^[ \\t]*(allow|disallow)', 1)) AS verb, " +
      "lower(regexp_extract(ln, ':[ \\t]*(\\S*)', 1)) AS path FROM lines " +
      "WHERE regexp_extract(ln, ':[ \\t]*(\\S*)', 1) <> ''), " +
      "rp AS (SELECT host, verb, path, " +
      "CASE WHEN contains(path, '*') OR ends_with(path, '$') THEN " +
      "'^' || regexp_replace(regexp_replace(" +
      "CASE WHEN ends_with(path, '$') THEN regexp_replace(path, '\\$$', '') ELSE path END, " +
      "'([.\\[\\]{}()+?^$|\\\\])', '\\\\\\1', 'g'), '\\*', '.*', 'g') || " +
      "CASE WHEN ends_with(path, '$') THEN '$' ELSE '' END " +
      "ELSE NULL END AS pattern FROM rules)"
  }

  /** DuckDB twin of [[graft.ext.Robots.decide]]'s match + precedence over
    * CTEs `kk(doc_id, host, path)` (the URL side) and `rp` (from
    * `robotsRulesCtes`): plain rules prefix-match, wildcard rules
    * regex-match; longest ORIGINAL rule path wins, allow beats disallow on
    * ties, no match = allowed. Ends in `dec(doc_id, allowed)`. */
  private val RobotsDecideCtes: String =
    "m AS (SELECT kk.doc_id, r.verb, r.path FROM kk JOIN rp r " +
      "ON kk.host = r.host AND (CASE WHEN r.pattern IS NULL " +
      "THEN starts_with(kk.path, r.path) " +
      "ELSE regexp_matches(kk.path, r.pattern) END)), " +
      "best AS (SELECT doc_id, verb FROM (SELECT doc_id, verb, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY length(path) DESC, verb ASC) AS rn " +
      "FROM m) WHERE rn = 1), " +
      "dec AS (SELECT kk.doc_id, CASE WHEN b.verb IS NULL THEN true " +
      "ELSE b.verb = 'allow' END AS allowed " +
      "FROM kk LEFT JOIN best b ON kk.doc_id = b.doc_id)"

  private val LinkRankSql: String = rankIterSql(
    OutlinksCte + ", " +
      "e AS (SELECT " + canonKeySql("u.url") + " AS src, " +
      canonKeySql("d.link") + " AS dst FROM d JOIN u ON d.src_id = u.doc_id)")

  private val DomainRankSql: String = rankIterSql(
    OutlinksCte + ", " +
      "ek AS (SELECT " + canonKeySql("u.url") + " AS src_key, " +
      canonKeySql("d.link") + " AS dst_key FROM d JOIN u ON d.src_id = u.doc_id), " +
      "e AS (SELECT " + urlDomainSql(urlHostSql("src_key")) + " AS src, " +
      urlDomainSql(urlHostSql("dst_key")) + " AS dst FROM ek " +
      "WHERE " + urlDomainSql(urlHostSql("src_key")) + " <> " +
      urlDomainSql(urlHostSql("dst_key")) + ")")

  /** The single-window token-budget scan — shared by the plain, salted and
    * auto routes: all three emit the same cum_tokens/keep by contract. */
  private val TokenBudgetOracleSql: String =
    "SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, " +
      "CAST(cum AS BIGINT) AS cum_tokens, " +
      "CAST(CASE WHEN cum <= 20000 THEN 1 ELSE 0 END AS INT) AS keep " +
      "FROM (SELECT doc_id, source, n_tokens, sum(n_tokens) OVER " +
      "(PARTITION BY source ORDER BY h, doc_id " +
      "ROWS UNBOUNDED PRECEDING) AS cum " +
      "FROM (SELECT doc_id, source, " +
      "len(string_split(coalesce(text, ''), ' ')) AS n_tokens, " +
      s"md5(CAST(doc_id AS VARCHAR)) AS h FROM $Docs)) " +
      "ORDER BY doc_id"

  /** [[Psl.Snapshot]] as a DuckDB VALUES table `(suffix, kind, plen)` —
    * kind 'p'lain / 'w'ildcard (suffix = the base) / 'e'xception, plen =
    * label count of the STORED suffix. Generated from the same Scala
    * constant the engine uses, so the two sides cannot drift. */
  private val PslValuesSql: String =
    Psl.Snapshot.map { rule =>
      val (kind, suf) =
        if (rule.startsWith("*.")) ("w", rule.stripPrefix("*."))
        else if (rule.startsWith("!")) ("e", rule.stripPrefix("!"))
        else ("p", rule)
      s"('$suf', '$kind', ${suf.count(_ == '.') + 1})"
    }.mkString(", ")

  /** Deepest stored-suffix label count — how many last-k probes the oracle
    * (and the engine) need. */
  private val PslMaxProbe: Int = {
    val r = Psl.parse(Psl.Snapshot)
    (r.plain ++ r.bases ++ r.exceptions).map(_.count(_ == '.') + 1).max
  }

  /** The PSL resolution algorithm in DuckDB over a `h(doc_id, host)` CTE:
    * probe the host's last-1..last-k labels against the VALUES table
    * (a suffix string only ever equals a probe of its own label count),
    * pick by PSL precedence (exception first, then longest effective
    * match), default to the implicit `*` rule (ps_len 1), and emit the
    * public suffix plus one label — or the host itself when it IS a public
    * suffix. The engine's [[Psl.registrableDomain]] runs the same algorithm
    * as an InSet `when` chain. */
  private def pslDomainCtes(hCte: String): String = {
    val probes = (1 to PslMaxProbe).map { k =>
      if (k == 1) "regexp_extract(host, '([^.]+)$', 1)"
      else s"regexp_extract(host, '((?:[^.]+\\.){${k - 1}}[^.]+)$$', 1)"
    }.mkString(", ")
    s"$hCte, psl(suffix, kind, plen) AS (VALUES $PslValuesSql), " +
      s"cand AS (SELECT doc_id, host, UNNEST([$probes]) AS s FROM h), " +
      // a wildcard consumes a REAL label: it only matches hosts with more
      // labels than its base (round-13 fix, mirrored in the engine's
      // exts(l) =!= '' guard — a host EQUAL to the base falls through)
      "m AS (SELECT c.doc_id, " +
      "CASE WHEN p.kind = 'e' THEN p.plen - 1 WHEN p.kind = 'w' THEN p.plen + 1 ELSE p.plen END AS ps_len, " +
      "(p.kind = 'e') AS is_exc, " +
      "CASE WHEN p.kind = 'w' THEN p.plen + 1 ELSE p.plen END AS el " +
      "FROM cand c JOIN psl p ON c.s = p.suffix " +
      "WHERE p.kind <> 'w' OR len(string_split(c.host, '.')) > p.plen), " +
      "picked AS (SELECT doc_id, ps_len, row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY is_exc DESC, el DESC) AS rn FROM m), " +
      "f AS (SELECT h.doc_id, h.host, coalesce(p.ps_len, 1) AS ps_len FROM h " +
      "LEFT JOIN (SELECT doc_id, ps_len FROM picked WHERE rn = 1) p USING (doc_id))"
  }

  /** The registrable-domain pick over the `f(doc_id, host, ps_len)` CTE
    * [[pslDomainCtes]] ends with. */
  private val PslDomainExpr: String =
    "CASE WHEN len(string_split(host, '.')) > ps_len " +
      "THEN array_to_string(string_split(host, '.')[(len(string_split(host, '.')) - ps_len):], '.') " +
      "ELSE host END"

  private def pslDomainSql(hCte: String): String =
    s"${pslDomainCtes(hCte)} SELECT doc_id, host, $PslDomainExpr AS domain " +
      "FROM f ORDER BY doc_id"

  /** DuckDB twin of [[Url.registrableDomain]] (same two anchored extracts +
    * coalesce, same ccSLD approximation). */
  private def urlDomainSql(host: String): String = {
    val cc = s"regexp_extract($host, " +
      "'([^.]+\\.(co|com|net|org|gov|ac|edu)\\.[a-z][a-z])$', 1)"
    val lastTwo = s"regexp_extract($host, '([^.]+\\.[^.]+)$$', 1)"
    s"coalesce(CASE WHEN $cc <> '' THEN $cc END, " +
      s"CASE WHEN $lastTwo <> '' THEN $lastTwo END, $host)"
  }

  val inventory: Seq[(String, Q, Option[String])] = Seq(

    // --------------------------------------------------------------- url --
    ("x_url_canon", // URL canonicalization + host/registrable-domain — the
      // first stage of published web-corpus pipelines (RefinedWeb §3.1 URL
      // rules, C4/CCNet URL filters). Pure lower/regexp column expressions:
      // zero shuffles at any scale; the oracle replays the exact regex
      // chain. The fixture rotates scheme/www/port/case/tracking/fragment
      // variation and ccSLD TLDs through id residues.
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val key = Url.canonicalKey(col("url"))
        u.select(col("doc_id"), col("url"), key.as("url_key"),
            Url.hostOf(key).as("host"),
            Url.registrableDomain(Url.hostOf(key)).as("domain"))
          .orderBy("doc_id")
      },
      Some(s"$UrlCte SELECT doc_id, url, key AS url_key, " +
        s"${urlHostSql("key")} AS host, " +
        s"${urlDomainSql(urlHostSql("key"))} AS domain FROM k ORDER BY doc_id")),

    ("x_url_dedup", // URL-exact dedup: keep = lowest doc_id per canonical
      // key (the RefinedWeb first-pass rule — collapse trivially re-served
      // pages before any text work). One shuffle on the key.
      (s: SparkSession, d: String) =>
        Url.urlDedupKeep(
            Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source"),
            "url", "doc_id")
          .select("doc_id", "url_key", "keep").orderBy("doc_id"),
      Some(s"$UrlCte SELECT doc_id, key AS url_key, " +
        "CAST(CASE WHEN row_number() OVER (PARTITION BY key ORDER BY doc_id) = 1 " +
        "THEN 1 ELSE 0 END AS INT) AS keep FROM k ORDER BY doc_id")),

    ("x_domain_cap", // per-registrable-domain quota: sourceCapKeep composed
      // over the derived domain column (domain caps à la CCNet/C4 host
      // limits); the salted scale route applies unchanged at 100 TB.
      (s: SparkSession, d: String) =>
        Url.domainCapKeep(
            Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source"),
            "url", "doc_id", cap = 25)
          .select("doc_id", "domain").orderBy("doc_id"),
      Some(s"$UrlCte, dom AS (SELECT doc_id, " +
        s"${urlDomainSql(urlHostSql("key"))} AS domain FROM k) " +
        "SELECT doc_id, domain FROM (SELECT doc_id, domain, row_number() OVER " +
        "(PARTITION BY domain ORDER BY doc_id) AS rn FROM dom) " +
        "WHERE rn <= 25 ORDER BY doc_id")),

    ("x_url_domain_psl", // public-suffix-list registrable domain (VERDICT
      // r11 item 1): the exact-policy upgrade over the ccSLD regex — hosts
      // on platform suffixes (user.github.io) stay DISTINCT domains, and
      // wildcard/exception rules resolve per the PSL algorithm. Pure InSet
      // probes + a when chain: zero shuffles at any corpus size. The oracle
      // replays the algorithm as a VALUES-table suffix join generated from
      // the SAME snapshot constant.
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), Fixtures.pslHost(col("doc_id")).as("host"))
          .withColumn("domain", Psl.registrableDomain(col("host")))
          .orderBy("doc_id"),
      Some(pslDomainSql(
        s"WITH h AS (SELECT doc_id, ${Fixtures.pslHostSql("doc_id")} AS host " +
          s"FROM $Docs)"))),

    ("x_url_incr", // incremental-crawl frontier dedup: the refresh batch
      // (doc_id % 10 < 2) keeps only URLs whose canonical key is absent
      // from the already-fetched corpus (the rest). Bloom-compressed corpus
      // keys + exact anti-join backstop on suspects — EXACT at any fpp, so
      // the oracle is the plain NOT IN over the same canonical keys.
      (s: SparkSession, d: String) => {
        val docs = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        Url.newUrlsOnly(
          docs.filter(col("doc_id") % 10 < 2),
          docs.filter(col("doc_id") % 10 >= 2),
          "url", "doc_id", expectedItems = 10000L)
          .orderBy("doc_id")
      },
      Some(s"$UrlCte SELECT doc_id, key AS url_key FROM k " +
        "WHERE doc_id % 10 < 2 AND key NOT IN " +
        "(SELECT key FROM k WHERE doc_id % 10 >= 2) ORDER BY doc_id")),

    ("x_html_links", // outlink extraction + reduced-RFC3986 resolution —
      // the crawl-graph edge list (fetch -> stripHtml for text, THIS for
      // edges). Extraction, resolution and per-doc dedup all run inside the
      // row's own array (transform/filter/array_distinct before the
      // explode): a zero-shuffle per-row map at any corpus size. The
      // fixture rotates every resolve branch (absolute / protocol-relative
      // / root-relative / directory-relative / ./ / ../ / padded /
      // single-quoted / uppercase HREF / self-link) plus three
      // non-fetchables that must resolve away; the oracle replays the
      // extraction regexes, the CASE chain and the bounded dot-segment
      // collapse verbatim.
      (s: SparkSession, d: String) =>
        Url.outlinks(
            Fixtures.attachLinksHtml(
              Fixtures.attachUrls(docsPar(s, d, "doc_id", "source"),
                "doc_id", "source"),
              "doc_id", "url"),
            "doc_id", "url", "html")
          .select("src_id", "link", "link_key") // src_key is for composers
          .orderBy("src_id", "link"),
      Some(OutlinksCte + " SELECT src_id, link, " + canonKeySql("link") +
        " AS link_key FROM d ORDER BY src_id, link")),

    ("x_crawl_frontier", // newly discovered frontier URLs: outlinks grouped
      // to one row per canonical link key (representative spelling, first
      // discoverer, in-degree), minus every key the corpus already fetched
      // — bloomNewKeys again, so the fetched side compresses to a Bloom
      // filter and only might-contain suspects pay the exact anti-join
      // backstop (EXACT at any fpp -> the oracle is the plain NOT IN). The
      // fixture's self-links are exactly the already-fetched keys and must
      // vanish; one shuffle (the link-key groupBy) at any scale. Consumes
      // the materialized edge list (production route, r13 item 8) — the
      // inline extraction stays priced by x_html_links.
      (s: SparkSession, d: String) =>
        Url.discoveredFromLinks(fixtureLinks(s, d),
            Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
              .select(Url.canonicalKey(col("url"))),
            expectedItems = 100000L)
          .orderBy("link_key"),
      Some(OutlinksCte + ", kc AS (SELECT " + canonKeySql("url") +
        " AS key FROM u), " +
        "g AS (SELECT " + canonKeySql("link") + " AS link_key, " +
        "min(link) AS link, min(src_id) AS first_src, count(*) AS n_refs " +
        "FROM d GROUP BY 1) " +
        "SELECT link_key, link, first_src, CAST(n_refs AS BIGINT) AS n_refs " +
        "FROM g WHERE link_key NOT IN (SELECT key FROM kc) ORDER BY link_key")),

    ("x_anchor_text", // anchor-text table: (source doc, resolved target
      // key, anchor inner text) per anchor OCCURRENCE — the
      // written-by-someone-else relevance signal search/curation pipelines
      // aggregate per target. Whole <a> elements extracted in one pass;
      // href + inner text pulled per element AFTER the explode (plain row
      // expressions, no lambda); same resolve chain and canonical key as
      // the outlink gate. Zero-shuffle per-row map; occurrences kept (the
      // fixture's root/dup anchors hit one key with two texts).
      (s: SparkSession, d: String) =>
        Url.outAnchors(
            Fixtures.attachLinksHtml(
              Fixtures.attachUrls(docsPar(s, d, "doc_id", "source"),
                "doc_id", "source"),
              "doc_id", "url"),
            "doc_id", "url", "html")
          .orderBy("src_id", "link_key", "anchor_text"),
      Some(AnchorsCte + " SELECT src_id, " + canonKeySql("link") +
        " AS link_key, anchor_text FROM d " +
        "ORDER BY src_id, link_key, anchor_text")),

    ("x_link_rank", // fixed-point integer PageRank over the crawl's URL
      // graph (the Common-Crawl-style URL-quality signal a frontier orders
      // its fetch queue by): edges from the same outlink fixture, 3
      // iterations, damping 850 permille, scale 1e6. Every quantity is a
      // scaled long and every division an integer floor — long addition
      // commutes exactly, so the result is bit-identical under any
      // partitioning AND across engines (a float PageRank could never
      // hash-gate). Two shuffles per iteration (contribution join on src,
      // fold on dst); nothing collected. Iterates the materialized edge
      // list (production route, r13 item 8) — [[LinkGraph.urlRank]] keeps
      // the inline composition for ad-hoc use.
      (s: SparkSession, d: String) =>
        LinkGraph.pageRank(fixtureLinks(s, d), "src_key", "link_key",
            iterations = 3)
          .orderBy("node"),
      Some(LinkRankSql)),

    ("x_robots", // robots.txt evaluation — the crawl-politeness gate
      // between frontier discovery and fetching (RFC 9309 reduced core:
      // User-agent:* group only, prefix rules, longest-match with allow
      // winning ties, no robots/no match = allowed). Rules fold to ONE
      // sorted struct array per host (precedence order IS array order),
      // broadcast under AQE; the decision is a per-row array filter — the
      // URL corpus is never exchanged. The fixture plants a decoy agent
      // group, a host-varied disallow, a longer allow override, an
      // empty-path rule, and robots-less hosts.
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val hosts = u.select(
            Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
          .filter(pmod(length(col("host")), lit(3)) =!= 0)
        // the rule path derives from the digit embedded in the host
        // (source-R.tld), so every robots-bearing host DENIES the /p/<R%20>
        // path its own documents actually use; the longer Allow on the
        // query'd spelling (/p/<R%20>&) rescues exactly the variants whose
        // canonical key carries &item=... — both outcomes occur, and the
        // longest-match + allow-wins precedence is what decides them
        val n = (regexp_extract(col("host"), "-([0-9]+)\\.", 1)
          .cast("int") % 20).cast("string")
        val robots = hosts.withColumn("txt", concat(
          lit("User-agent: evil\nDisallow: /\n\nUser-agent: *\nDisallow: /p/"),
          n, lit("\nAllow: /p/"), n, lit("&\nDisallow:\n")))
        graft.ext.Robots.decide(u.select("doc_id", "url"), "url",
            robots, "host", "txt")
          .select("doc_id", "allowed").orderBy("doc_id")
      },
      Some {
        val nl = " || chr(10) || "
        val n = "CAST(CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER) % 20 AS VARCHAR)"
        val txt = "'User-agent: evil'" + nl + "'Disallow: /'" + nl + "''" + nl +
          "'User-agent: *'" + nl + s"('Disallow: /p/' || $n)" + nl +
          s"('Allow: /p/' || $n || '&')" + nl +
          "'Disallow:'" + nl + "''"
        s"$UrlCte, hosts AS (SELECT DISTINCT ${urlHostSql("key")} AS host FROM k), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts WHERE length(host) % 3 <> 0), " +
          robotsRulesCtes() + ", " +
          s"kk AS (SELECT doc_id, ${urlHostSql("key")} AS host, " +
          "coalesce(nullif(regexp_extract(key, '(/.*)$', 1), ''), '/') AS path FROM k), " +
          RobotsDecideCtes + " " +
          "SELECT doc_id, allowed FROM dec ORDER BY doc_id"
      }),

    ("x_robots_wildcard", // RFC 9309's special characters + the documented
      // case-insensitive fold, pinned on one fixture: `Disallow: /P/<n>`
      // (UPPERCASE P — a case-sensitive matcher never fires it and fails
      // OPEN), `Allow: /p/<n>*item=<m>$` (the `*`-spanning, `$`-anchored
      // rescue — longest rule, wins where it matches), and
      // `Disallow: /*item=<m2>` (the host-wide wildcard ban real robots
      // files lean on). Wildcard paths translate to anchored regexes —
      // escape every special except `*`, `*` -> `.*`, trailing `$` -> end
      // anchor — and match via per-row regex; plain rules keep the
      // startsWith fast path. The oracle replays the same translation
      // chain character for character.
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val hosts = u.select(
            Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
          .filter(pmod(length(col("host")), lit(4)) =!= 0)
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val n = (dig % 20).cast("string")
        val m = (dig % 7).cast("string")
        val m2 = ((dig + 3) % 7).cast("string")
        val robots = hosts.withColumn("txt", concat(
          lit("User-agent: *\nDisallow: /P/"), n,
          lit("\nAllow: /p/"), n, lit("*item="), m,
          lit("$\nDisallow: /*item="), m2, lit("\n")))
        graft.ext.Robots.decide(u.select("doc_id", "url"), "url",
            robots, "host", "txt")
          .select("doc_id", "allowed").orderBy("doc_id")
      },
      Some {
        val nl = " || chr(10) || "
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val n = s"CAST($dig % 20 AS VARCHAR)"
        val m = s"CAST($dig % 7 AS VARCHAR)"
        val m2 = s"CAST(($dig + 3) % 7 AS VARCHAR)"
        val txt = "'User-agent: *'" + nl + s"('Disallow: /P/' || $n)" + nl +
          s"('Allow: /p/' || $n || '*item=' || $m || '$$')" + nl +
          s"('Disallow: /*item=' || $m2)" + nl + "''"
        s"$UrlCte, hosts AS (SELECT DISTINCT ${urlHostSql("key")} AS host FROM k), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts WHERE length(host) % 4 <> 0), " +
          robotsRulesCtes() + ", " +
          s"kk AS (SELECT doc_id, ${urlHostSql("key")} AS host, " +
          "coalesce(nullif(regexp_extract(key, '(/.*)$', 1), ''), '/') AS path FROM k), " +
          RobotsDecideCtes + " " +
          "SELECT doc_id, allowed FROM dec ORDER BY doc_id"
      }),

    ("x_robots_agent", // RFC 9309 group SELECTION: the crawler's own
      // User-agent token picks its group (whole-line match, so the decoy
      // `graftbot-pro` group never captures `graftbot`), star group as the
      // fallback. The fixture gives half the rule-bearing hosts a graftbot
      // group (a scoped wildcard ban — only those paths deny) over a
      // deny-all star group; the other half exposes only the star group
      // (deny-all wins), and robots-less hosts stay allowed — so a
      // wrong-group selection flips rows in BOTH directions.
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val hosts = u.select(
            Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
          .filter(pmod(length(col("host")), lit(3)) =!= 0)
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val n = (dig % 20).cast("string")
        val robots = hosts.withColumn("txt", concat(
          lit("User-agent: graftbot-pro\nDisallow: /\n"),
          when(dig % 2 === 0,
            concat(lit("User-agent: graftbot\nDisallow: /P/"), n, lit("*\n")))
            .otherwise(lit("")),
          lit("User-agent: *\nDisallow: /\n")))
        graft.ext.Robots.decide(u.select("doc_id", "url"), "url",
            robots, "host", "txt", agent = "graftbot")
          .select("doc_id", "allowed").orderBy("doc_id")
      },
      Some {
        val nl = " || chr(10) || "
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val n = s"CAST($dig % 20 AS VARCHAR)"
        val txt = "'User-agent: graftbot-pro'" + nl + "'Disallow: /'" + nl +
          s"(CASE WHEN $dig % 2 = 0 THEN 'User-agent: graftbot'" + nl +
          s"('Disallow: /P/' || $n || '*')" + nl + "'' ELSE '' END)" +
          " || 'User-agent: *'" + nl + "'Disallow: /'" + nl + "''"
        s"$UrlCte, hosts AS (SELECT DISTINCT ${urlHostSql("key")} AS host FROM k), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts WHERE length(host) % 3 <> 0), " +
          robotsRulesCtes("graftbot") + ", " +
          s"kk AS (SELECT doc_id, ${urlHostSql("key")} AS host, " +
          "coalesce(nullif(regexp_extract(key, '(/.*)$', 1), ''), '/') AS path FROM k), " +
          RobotsDecideCtes + " " +
          "SELECT doc_id, allowed FROM dec ORDER BY doc_id"
      }),

    ("x_robots_group", // RFC 9309 group-of-lines EDGE semantics, the two
      // real-corpus forms the r14 reduction got wrong (both in the unsafe
      // direction): (a) a multi-token group (`User-agent: a\nUser-agent:
      // b\nDisallow: ...`, blank-line-joined variants included — the RFC
      // parses significant lines only) binds its shared rule block to
      // EVERY listed token, where the earlier tokens previously captured
      // nothing and fell through to the star group; (b) a group that names
      // the agent but publishes NO rules (`User-agent: graftbot` at EOF)
      // means allow-all for it — it must not inherit the star group's
      // deny-all. The fixture rotates first-token-of-pair over a
      // permissive star (fails OPEN pre-fix), empty-own-group over a
      // deny-all star (over-blocked pre-fix), and a blank-line-joined
      // agent+star pair; robots-less hosts stay allowed.
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val hosts = u.select(
            Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
          .filter(pmod(length(col("host")), lit(5)) =!= 0)
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val n = (dig % 20).cast("string")
        val robots = hosts.withColumn("txt",
          when(dig % 3 === 0, concat(
            lit("User-agent: graftbot\nUser-agent: evil\nDisallow: /p/"), n,
            lit("\nUser-agent: *\nAllow: /\n")))
          .when(dig % 3 === 1,
            lit("User-agent: *\nDisallow: /\nUser-agent: graftbot"))
          .otherwise(concat(
            lit("User-agent: graftbot\n\nUser-agent: *\nDisallow: /p/"), n,
            lit("\n"))))
        graft.ext.Robots.decide(u.select("doc_id", "url"), "url",
            robots, "host", "txt", agent = "graftbot")
          .select("doc_id", "allowed").orderBy("doc_id")
      },
      Some {
        val nl = " || chr(10) || "
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val n = s"CAST($dig % 20 AS VARCHAR)"
        val txt = s"(CASE WHEN $dig % 3 = 0 THEN 'User-agent: graftbot'" + nl +
          "'User-agent: evil'" + nl + s"('Disallow: /p/' || $n)" + nl +
          "'User-agent: *'" + nl + "'Allow: /'" + nl + "'' " +
          s"WHEN $dig % 3 = 1 THEN 'User-agent: *'" + nl + "'Disallow: /'" +
          nl + "'User-agent: graftbot' " +
          "ELSE 'User-agent: graftbot'" + nl + "''" + nl +
          "'User-agent: *'" + nl + s"('Disallow: /p/' || $n)" + nl +
          "'' END)"
        s"$UrlCte, hosts AS (SELECT DISTINCT ${urlHostSql("key")} AS host FROM k), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts WHERE length(host) % 5 <> 0), " +
          robotsRulesCtes("graftbot") + ", " +
          s"kk AS (SELECT doc_id, ${urlHostSql("key")} AS host, " +
          "coalesce(nullif(regexp_extract(key, '(/.*)$', 1), ''), '/') AS path FROM k), " +
          RobotsDecideCtes + " " +
          "SELECT doc_id, allowed FROM dec ORDER BY doc_id"
      }),

    ("x_domain_rank", // the rank rolled up to REGISTRABLE DOMAINS — the
      // granularity public web rankings publish (Common Crawl domain
      // ranks) and the one domain caps/blocklists act at. Edges collapse
      // to (page domain, target domain); INTRA-domain edges drop (site
      // navigation must not let a large site vote for itself); duplicate
      // cross-domain edges count. Same fixed-point integer iteration, same
      // pluggable domainOf policy hook as the cap/blocklist family. Rolls
      // up the materialized edge list (production route, r13 item 8).
      (s: SparkSession, d: String) =>
        LinkGraph.domainRank(fixtureLinks(s, d))
          .orderBy("node"),
      Some(DomainRankSql)),

    ("x_anchor_agg", // the per-TARGET anchor rollup outAnchors feeds: how
      // often each resolved key is linked, by how many distinct sources,
      // with how many distinct texts, and the modal anchor text with its
      // count (ties to the lexicographically smallest text — deterministic,
      // hash-gateable). Two exchanges, both behind map-side partial aggs:
      // the (key, text) histogram and the per-key distinct-source count;
      // the mode window and final fold reuse the key partitioning. The
      // fixture's root/dup anchors give one key two competing texts, so
      // the mode actually decides something. Rolls up the materialized
      // anchor table (production route, r13 item 8 — extraction priced
      // by x_anchor_text).
      (s: SparkSession, d: String) =>
        Url.anchorAgg(fixtureAnchors(s, d))
          .orderBy("link_key"),
      Some(AnchorsCte + ", kk AS (SELECT src_id, " + canonKeySql("link") +
        " AS link_key, anchor_text FROM d), " +
        "pt AS (SELECT link_key, anchor_text, count(*) AS n_occ FROM kk GROUP BY 1, 2), " +
        "tw AS (SELECT link_key, anchor_text, n_occ, row_number() OVER " +
        "(PARTITION BY link_key ORDER BY n_occ DESC, anchor_text) AS rn FROM pt), " +
        "tx AS (SELECT link_key, sum(n_occ) AS n_anchors, count(*) AS n_texts, " +
        "max(CASE WHEN rn = 1 THEN anchor_text END) AS top_text, " +
        "max(CASE WHEN rn = 1 THEN n_occ END) AS top_text_n FROM tw GROUP BY 1), " +
        "sc AS (SELECT link_key, count(DISTINCT src_id) AS n_sources FROM kk GROUP BY 1) " +
        "SELECT tx.link_key, CAST(n_anchors AS BIGINT) AS n_anchors, " +
        "CAST(n_texts AS BIGINT) AS n_texts, top_text, " +
        "CAST(top_text_n AS BIGINT) AS top_text_n, " +
        "CAST(n_sources AS BIGINT) AS n_sources " +
        "FROM tx JOIN sc ON tx.link_key = sc.link_key ORDER BY tx.link_key")),

    ("x_frontier_order", // the composed crawl-loop CONSUMER all the pieces
      // feed — "next URLs to fetch": discovered frontier ∖ robots-denied,
      // ranked by the registrable domain's fixed-point rank, capped per
      // domain (fetch-rate fairness), within-domain order = in-degree desc.
      // The crawl-side analogue of the reference's claim-next work query
      // (orchestrator.js:126-150: filter eligibility, order by priority,
      // take the head). Robots rules and the domain-rank table both fold
      // to broadcastable slivers, so the frontier pays exactly ONE
      // exchange — the domain hash the cap window needs (PlanSpec-pinned).
      // The robots fixture bans /r/<d%11> on frontier hosts and rescues
      // /a/... pages whose query digit matches via a */$ rule, so the
      // denial branch, the wildcard rescue and the no-robots host all
      // shape the queue.
      (s: SparkSession, d: String) => {
        val frontier = fixtureFrontier(s, d)
        val hosts = frontier.select(
            Url.hostOf(col("link_key")).as("host")).distinct()
          .filter(pmod(length(col("host")), lit(4)) =!= 0)
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val robots = hosts.withColumn("txt", concat(
          lit("User-agent: *\nDisallow: /A/\nAllow: /a/*x="),
          (dig % 5).cast("string"),
          lit("$\nDisallow: /r/"), (dig % 11).cast("string"), lit("\n")))
        Crawl.frontierOrder(frontier, robots, "host", "txt",
            fixtureDomainRank(s, d), cap = 3)
          .select("domain", "queue_pos", "link_key", "n_refs", "domain_rank_fp")
          .orderBy("domain", "queue_pos")
      },
      Some {
        val nl = " || chr(10) || "
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val txt = "'User-agent: *'" + nl + "'Disallow: /A/'" + nl +
          s"('Allow: /a/*x=' || CAST($dig % 5 AS VARCHAR) || '$$')" + nl +
          s"('Disallow: /r/' || CAST($dig % 11 AS VARCHAR))" + nl + "''"
        // frontier (g ∖ fetched) over the outlink fixture + robots decision
        // keyed by link_key + the domain-rank iteration, capped per domain
        rankIterCtes(OutlinksCte + ", " +
          "ekk AS (SELECT " + canonKeySql("u.url") + " AS src_key, " +
          canonKeySql("d.link") + " AS dst_key FROM d JOIN u ON d.src_id = u.doc_id), " +
          "e AS (SELECT " + urlDomainSql(urlHostSql("src_key")) + " AS src, " +
          urlDomainSql(urlHostSql("dst_key")) + " AS dst FROM ekk " +
          "WHERE " + urlDomainSql(urlHostSql("src_key")) + " <> " +
          urlDomainSql(urlHostSql("dst_key")) + ")") + ", " +
          "kc AS (SELECT " + canonKeySql("url") + " AS key FROM u), " +
          "g AS (SELECT " + canonKeySql("link") + " AS link_key, " +
          "min(link) AS link, min(src_id) AS first_src, count(*) AS n_refs " +
          "FROM d GROUP BY 1), " +
          "fr AS (SELECT * FROM g WHERE link_key NOT IN (SELECT key FROM kc)), " +
          s"hosts AS (SELECT DISTINCT ${urlHostSql("link_key")} AS host FROM fr), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts WHERE length(host) % 4 <> 0), " +
          robotsRulesCtes() + ", " +
          // the decide twin keyed by link_key instead of doc_id
          s"kk AS (SELECT link_key AS doc_id, ${urlHostSql("link_key")} AS host, " +
          "coalesce(nullif(regexp_extract(link_key, '(/.*)$', 1), ''), '/') AS path FROM fr), " +
          RobotsDecideCtes + ", " +
          "al AS (SELECT fr.* FROM fr JOIN dec ON fr.link_key = dec.doc_id " +
          "WHERE dec.allowed), " +
          "dm AS (SELECT al.*, " + urlDomainSql(urlHostSql("link_key")) +
          " AS domain FROM al), " +
          "rk AS (SELECT dm.*, coalesce(r3.rank_fp, 0) AS domain_rank_fp, " +
          "row_number() OVER (PARTITION BY domain " +
          "ORDER BY n_refs DESC, link_key) AS queue_pos " +
          "FROM dm LEFT JOIN r3 ON dm.domain = r3.node) " +
          "SELECT domain, CAST(queue_pos AS INT) AS queue_pos, link_key, " +
          "CAST(n_refs AS BIGINT) AS n_refs, " +
          "CAST(domain_rank_fp AS BIGINT) AS domain_rank_fp " +
          "FROM rk WHERE queue_pos <= 3 ORDER BY domain, queue_pos"
      }),

    ("x_frontier_quota", // the Crawl-delay CONSUMER (r14 verdict's top
      // residue: the delay was parsed but nothing turned it into a quota):
      // frontierOrder with a 10 s scheduling window gives every
      // delay-publishing host floor(10/delay) URLs this batch — the
      // per-host politeness refinement of the per-domain cap, applied
      // BEFORE the cap so a quota victim frees its domain slot and
      // queue_pos stays contiguous. The fixture publishes a delay on a
      // third of the robots-bearing hosts (values 2..5 -> quotas 5,3,2,2),
      // keeps the wildcard deny/rescue rules shaping eligibility, and
      // leaves the rest of the hosts quota-free; survivors carry host_pos.
      // Scale shape unchanged from x_frontier_order: broadcastable robots/
      // rank/delay slivers, ONE frontier exchange feeding both windows.
      (s: SparkSession, d: String) => {
        val frontier = fixtureFrontier(s, d)
        val hosts = frontier.select(
            Url.hostOf(col("link_key")).as("host")).distinct()
          .filter(pmod(length(col("host")), lit(4)) =!= 0)
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val robots = hosts.withColumn("txt", concat(
          lit("User-agent: *\nDisallow: /A/\nAllow: /a/*x="),
          (dig % 5).cast("string"),
          lit("$\nDisallow: /r/"), (dig % 11).cast("string"), lit("\n"),
          when(dig % 3 === 0, concat(lit("Crawl-delay: "),
            ((dig % 4) + 2).cast("string"), lit("\n"))).otherwise(lit(""))))
        Crawl.frontierOrder(frontier, robots, "host", "txt",
            fixtureDomainRank(s, d), cap = 3, windowSec = 10.0)
          .select("domain", "queue_pos", "link_key", "n_refs",
            "domain_rank_fp", "host_pos")
          .orderBy("domain", "queue_pos")
      },
      Some {
        val nl = " || chr(10) || "
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val txt = "'User-agent: *'" + nl + "'Disallow: /A/'" + nl +
          s"('Allow: /a/*x=' || CAST($dig % 5 AS VARCHAR) || '$$')" + nl +
          s"('Disallow: /r/' || CAST($dig % 11 AS VARCHAR))" + nl +
          s"(CASE WHEN $dig % 3 = 0 THEN 'Crawl-delay: ' || " +
          s"CAST(($dig % 4) + 2 AS VARCHAR) || chr(10) ELSE '' END)"
        rankIterCtes(OutlinksCte + ", " +
          "ekk AS (SELECT " + canonKeySql("u.url") + " AS src_key, " +
          canonKeySql("d.link") + " AS dst_key FROM d JOIN u ON d.src_id = u.doc_id), " +
          "e AS (SELECT " + urlDomainSql(urlHostSql("src_key")) + " AS src, " +
          urlDomainSql(urlHostSql("dst_key")) + " AS dst FROM ekk " +
          "WHERE " + urlDomainSql(urlHostSql("src_key")) + " <> " +
          urlDomainSql(urlHostSql("dst_key")) + ")") + ", " +
          "kc AS (SELECT " + canonKeySql("url") + " AS key FROM u), " +
          "g AS (SELECT " + canonKeySql("link") + " AS link_key, " +
          "min(link) AS link, min(src_id) AS first_src, count(*) AS n_refs " +
          "FROM d GROUP BY 1), " +
          "fr AS (SELECT * FROM g WHERE link_key NOT IN (SELECT key FROM kc)), " +
          s"hosts AS (SELECT DISTINCT ${urlHostSql("link_key")} AS host FROM fr), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts WHERE length(host) % 4 <> 0), " +
          robotsRulesCtes() + ", " +
          s"kk AS (SELECT link_key AS doc_id, ${urlHostSql("link_key")} AS host, " +
          "coalesce(nullif(regexp_extract(link_key, '(/.*)$', 1), ''), '/') AS path FROM fr), " +
          RobotsDecideCtes + ", " +
          "al AS (SELECT fr.* FROM fr JOIN dec ON fr.link_key = dec.doc_id " +
          "WHERE dec.allowed), " +
          // the Crawl-delay quota twin: floor(window / delay) per
          // delay-publishing host, window = 10 s
          s"qa AS (SELECT host, CAST(floor(10.0 / dd) AS BIGINT) AS quota " +
          s"FROM (SELECT host, CAST(nullif(regexp_extract($robotsStarSql, " +
          "'(?im)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+(?:\\.[0-9]+)?)', 1), '') " +
          "AS DOUBLE) AS dd FROM rob) WHERE dd IS NOT NULL AND dd > 0), " +
          "dm AS (SELECT al.*, " + urlDomainSql(urlHostSql("link_key")) +
          " AS domain, " + urlHostSql("link_key") + " AS h FROM al), " +
          "hp AS (SELECT dm.*, row_number() OVER (PARTITION BY domain, h " +
          "ORDER BY n_refs DESC, link_key) AS host_pos FROM dm), " +
          "el AS (SELECT hp.* FROM hp LEFT JOIN qa ON hp.h = qa.host " +
          "WHERE host_pos <= coalesce(quota, 9223372036854775807)), " +
          "rk AS (SELECT el.*, coalesce(r3.rank_fp, 0) AS domain_rank_fp, " +
          "row_number() OVER (PARTITION BY domain " +
          "ORDER BY n_refs DESC, link_key) AS queue_pos " +
          "FROM el LEFT JOIN r3 ON el.domain = r3.node) " +
          "SELECT domain, CAST(queue_pos AS INT) AS queue_pos, link_key, " +
          "CAST(n_refs AS BIGINT) AS n_refs, " +
          "CAST(domain_rank_fp AS BIGINT) AS domain_rank_fp, " +
          "CAST(host_pos AS INT) AS host_pos " +
          "FROM rk WHERE queue_pos <= 3 ORDER BY domain, queue_pos"
      }),

    ("x_frontier_anchor", // anchor quality CONSUMED by the frontier (r14
      // verdict item 7: anchorAgg's scaladoc called its output "the
      // quality signal per page" and nothing consumed it): frontierOrder
      // blends the per-target distinct-SOURCE count into the within-domain
      // priority — in-degree stays primary, n_sources breaks its ties
      // (spam-resistant: one page linking a target through ten URL
      // variants inflates n_refs, not n_sources), key ascending last.
      // Same robots fixture as x_frontier_order; the entire cost delta is
      // ONE extra link_key equi-join exchange, and the rollup reads the
      // materialized anchor fixture (production route).
      (s: SparkSession, d: String) => {
        val frontier = fixtureFrontier(s, d)
        val hosts = frontier.select(
            Url.hostOf(col("link_key")).as("host")).distinct()
          .filter(pmod(length(col("host")), lit(4)) =!= 0)
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val robots = hosts.withColumn("txt", concat(
          lit("User-agent: *\nDisallow: /A/\nAllow: /a/*x="),
          (dig % 5).cast("string"),
          lit("$\nDisallow: /r/"), (dig % 11).cast("string"), lit("\n")))
        Crawl.frontierOrder(frontier, robots, "host", "txt",
            fixtureDomainRank(s, d), cap = 3,
            anchorQuality = Url.anchorAgg(fixtureAnchors(s, d)))
          .select("domain", "queue_pos", "link_key", "n_refs", "n_sources",
            "domain_rank_fp")
          .orderBy("domain", "queue_pos")
      },
      Some {
        val nl = " || chr(10) || "
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val txt = "'User-agent: *'" + nl + "'Disallow: /A/'" + nl +
          s"('Allow: /a/*x=' || CAST($dig % 5 AS VARCHAR) || '$$')" + nl +
          s"('Disallow: /r/' || CAST($dig % 11 AS VARCHAR))" + nl + "''"
        rankIterCtes(OutlinksCte + ", " +
          "ekk AS (SELECT " + canonKeySql("u.url") + " AS src_key, " +
          canonKeySql("d.link") + " AS dst_key FROM d JOIN u ON d.src_id = u.doc_id), " +
          "e AS (SELECT " + urlDomainSql(urlHostSql("src_key")) + " AS src, " +
          urlDomainSql(urlHostSql("dst_key")) + " AS dst FROM ekk " +
          "WHERE " + urlDomainSql(urlHostSql("src_key")) + " <> " +
          urlDomainSql(urlHostSql("dst_key")) + ")") + ", " +
          "kc AS (SELECT " + canonKeySql("url") + " AS key FROM u), " +
          "g AS (SELECT " + canonKeySql("link") + " AS link_key, " +
          "min(link) AS link, min(src_id) AS first_src, count(*) AS n_refs " +
          "FROM d GROUP BY 1), " +
          "fr AS (SELECT * FROM g WHERE link_key NOT IN (SELECT key FROM kc)), " +
          s"hosts AS (SELECT DISTINCT ${urlHostSql("link_key")} AS host FROM fr), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts WHERE length(host) % 4 <> 0), " +
          robotsRulesCtes() + ", " +
          s"kk AS (SELECT link_key AS doc_id, ${urlHostSql("link_key")} AS host, " +
          "coalesce(nullif(regexp_extract(link_key, '(/.*)$', 1), ''), '/') AS path FROM fr), " +
          RobotsDecideCtes + ", " +
          "al AS (SELECT fr.* FROM fr JOIN dec ON fr.link_key = dec.doc_id " +
          "WHERE dec.allowed), " +
          // the anchorAgg n_sources twin as a NESTED scope (its CTE names
          // collide with the outlink chain's; DuckDB shadows inner-first)
          "aq AS (SELECT link_key, n_sources FROM (" + AnchorsCte +
          " SELECT " + canonKeySql("link") + " AS link_key, " +
          "count(DISTINCT src_id) AS n_sources FROM d GROUP BY 1)), " +
          "dm AS (SELECT al.*, " + urlDomainSql(urlHostSql("link_key")) +
          " AS domain FROM al), " +
          "rk AS (SELECT dm.*, coalesce(aq.n_sources, 0) AS n_sources, " +
          "coalesce(r3.rank_fp, 0) AS domain_rank_fp, " +
          "row_number() OVER (PARTITION BY domain " +
          "ORDER BY n_refs DESC, coalesce(aq.n_sources, 0) DESC, dm.link_key) " +
          "AS queue_pos " +
          "FROM dm LEFT JOIN r3 ON dm.domain = r3.node " +
          "LEFT JOIN aq ON dm.link_key = aq.link_key) " +
          "SELECT domain, CAST(queue_pos AS INT) AS queue_pos, link_key, " +
          "CAST(n_refs AS BIGINT) AS n_refs, " +
          "CAST(n_sources AS BIGINT) AS n_sources, " +
          "CAST(domain_rank_fp AS BIGINT) AS domain_rank_fp " +
          "FROM rk WHERE queue_pos <= 3 ORDER BY domain, queue_pos"
      }),

    ("x_crawl_delay", // the de-facto Crawl-delay politeness directive
      // (ubiquitous in real robots.txt; a scheduler turns it into
      // floor(window/delay) fetches per host per window — the per-host
      // refinement of the per-domain queue cap). Group-scoped like every
      // robots read: the fixture plants a decoy delay in an `evil` group
      // that must NOT leak into the star group's answer, fractional and
      // integer values, and hosts with no directive (NULL).
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val hosts = u.select(
            Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val robots = hosts.withColumn("txt", concat(
          lit("User-agent: evil\nCrawl-delay: 99\n\nUser-agent: *\nDisallow: /x\n"),
          when(dig % 3 === 0, concat(lit("Crawl-delay: "), (dig % 7).cast("string"), lit(".5\n")))
            .when(dig % 3 === 1, concat(lit("crawl-delay: "), (dig % 11).cast("string"), lit("\n")))
            .otherwise(lit(""))))
        graft.ext.Robots.crawlDelay(robots, "host", "txt")
          .orderBy("host")
      },
      Some {
        val nl = " || chr(10) || "
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val txt = "'User-agent: evil'" + nl + "'Crawl-delay: 99'" + nl + "''" + nl +
          "'User-agent: *'" + nl + "'Disallow: /x'" + nl +
          s"(CASE WHEN $dig % 3 = 0 THEN 'Crawl-delay: ' || CAST($dig % 7 AS VARCHAR) || '.5' " +
          s"WHEN $dig % 3 = 1 THEN 'crawl-delay: ' || CAST($dig % 11 AS VARCHAR) " +
          "ELSE '' END)" + nl + "''"
        val sec = robotsStarSql
        s"$UrlCte, hosts AS (SELECT DISTINCT ${urlHostSql("key")} AS host FROM k), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts) " +
          s"SELECT host, CAST(nullif(regexp_extract($sec, " +
          "'(?im)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+(?:\\.[0-9]+)?)', 1), '') " +
          "AS DOUBLE) AS crawl_delay_s FROM rob ORDER BY host"
      }),

    ("x_sitemap", // sitemap XML parsing — the other frontier source
      // (sitemaps.org: hosts publish what they WANT crawled): <url> blocks
      // exploded per host, trimmed <loc> + canonical key + optional
      // <lastmod> (NULL when absent — the recrawl signal). The fixture
      // rotates a lastmod-bearing entry, a PADDED loc (trim pinned), and
      // an empty loc that must drop; zero-shuffle per-row map.
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val hosts = u.select(
            Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val dd = lpad(((dig % 27) + 1).cast("string"), 2, "0")
        val sm = hosts.withColumn("xml", concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset><url><loc>https://"),
          col("host"), lit("/p/"), (dig % 20).cast("string"),
          lit("</loc><lastmod>2026-02-"), dd,
          lit("</lastmod></url><url><loc> https://"), col("host"),
          lit("/new/"), (dig % 13).cast("string"),
          lit(" </loc></url><url><loc></loc></url></urlset>")))
        Url.sitemapEntries(sm, "host", "xml")
          .orderBy("host", "loc")
      },
      Some {
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val dd = s"lpad(CAST(($dig % 27) + 1 AS VARCHAR), 2, '0')"
        val xml = "'<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset><url><loc>https://' || " +
          s"host || '/p/' || CAST($dig % 20 AS VARCHAR) || " +
          s"'</loc><lastmod>2026-02-' || $dd || " +
          "'</lastmod></url><url><loc> https://' || host || " +
          s"'/new/' || CAST($dig % 13 AS VARCHAR) || " +
          "' </loc></url><url><loc></loc></url></urlset>'"
        s"$UrlCte, hosts AS (SELECT DISTINCT ${urlHostSql("key")} AS host FROM k), " +
          s"sm AS (SELECT host, $xml AS xml FROM hosts), " +
          "b AS (SELECT host, unnest(regexp_extract_all(xml, '(?is)<url>(.*?)</url>', 1)) AS blk FROM sm), " +
          "e AS (SELECT host, trim(regexp_extract(blk, '(?is)<loc>([^<]*)</loc>', 1)) AS loc, " +
          "nullif(trim(regexp_extract(blk, '(?is)<lastmod>([^<]*)</lastmod>', 1)), '') AS lastmod " +
          "FROM b) " +
          "SELECT host, loc, lastmod, " + canonKeySql("loc") + " AS loc_key " +
          "FROM e WHERE loc <> '' ORDER BY host, loc"
      }),

    ("x_recrawl", // the lastmod CONSUMER (same "parsed but not consumed"
      // class the r14 verdict flagged for Crawl-delay): fetched pages
      // whose latest published <lastmod> is strictly newer than the
      // corpus's recorded fetch time re-enter the queue. Lexicographic
      // ISO compare, conservative at mixed precision (a date-only lastmod
      // EQUAL to the fetch day stays fresh — the fixture's independent
      // day synthesis from host digit vs doc id exercises stale, fresh
      // and never-fetched (/new/) locs, plus a lastmod-less loc that the
      // latest-fold must drop). Sitemap side folds to a sliver before
      // the join; the corpus probe pays zero exchanges under AQE.
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val fetched = u.select(Url.canonicalKey(col("url")).as("key"),
            concat(lit("2026-02-"),
              lpad(((col("doc_id") % 17) + 1).cast("string"), 2, "0"),
              lit("T12:00:00Z")).as("fetched_at"))
          .groupBy("key").agg(max("fetched_at").as("fetched_at"))
        val hosts = u.select(
            Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val sm = hosts.withColumn("xml", concat(
          lit("<urlset><url><loc>https://"), col("host"), lit("/p/"),
          (dig % 20).cast("string"),
          lit("</loc><lastmod>2026-02-"),
          lpad(((dig % 13) + 8).cast("string"), 2, "0"),
          lit("</lastmod></url><url><loc>https://"), col("host"),
          lit("/p/"), ((dig + 1) % 20).cast("string"),
          lit("</loc></url><url><loc>https://"), col("host"),
          lit("/new/x</loc><lastmod>2026-03-01</lastmod></url></urlset>")))
        Url.recrawlCandidates(sm, "host", "xml", fetched, "key", "fetched_at")
          .orderBy("link_key")
      },
      Some {
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val xml = "'<urlset><url><loc>https://' || host || '/p/' || " +
          s"CAST($dig % 20 AS VARCHAR) || '</loc><lastmod>2026-02-' || " +
          s"lpad(CAST(($dig % 13) + 8 AS VARCHAR), 2, '0') || " +
          "'</lastmod></url><url><loc>https://' || host || '/p/' || " +
          s"CAST(($dig + 1) % 20 AS VARCHAR) || " +
          "'</loc></url><url><loc>https://' || host || " +
          "'/new/x</loc><lastmod>2026-03-01</lastmod></url></urlset>'"
        s"$UrlCte, " +
          "f AS (SELECT key, max('2026-02-' || " +
          "lpad(CAST((doc_id % 17) + 1 AS VARCHAR), 2, '0') || " +
          "'T12:00:00Z') AS fetched_at FROM k GROUP BY 1), " +
          s"hosts AS (SELECT DISTINCT ${urlHostSql("key")} AS host FROM k), " +
          s"sm AS (SELECT host, $xml AS xml FROM hosts), " +
          "b AS (SELECT host, unnest(regexp_extract_all(xml, " +
          "'(?is)<url>(.*?)</url>', 1)) AS blk FROM sm), " +
          "e AS (SELECT host, trim(regexp_extract(blk, " +
          "'(?is)<loc>([^<]*)</loc>', 1)) AS loc, " +
          "nullif(trim(regexp_extract(blk, " +
          "'(?is)<lastmod>([^<]*)</lastmod>', 1)), '') AS lastmod FROM b), " +
          "se AS (SELECT loc, lastmod, " + canonKeySql("loc") +
          " AS loc_key FROM e WHERE loc <> ''), " +
          "latest AS (SELECT loc_key AS link_key, max(lastmod) AS lastmod, " +
          "min(loc) AS loc FROM se WHERE lastmod IS NOT NULL GROUP BY 1) " +
          "SELECT f.key AS link_key, loc, lastmod, fetched_at " +
          "FROM f JOIN latest ON f.key = latest.link_key " +
          "WHERE lastmod > fetched_at ORDER BY link_key"
      }),

    ("x_sitemap_frontier", // sitemap entries REACHING the frontier — the
      // composition the r14 verdict flagged (sitemapEntries was gate-only;
      // sitemaps are the primary discovery source for pages nothing links
      // yet): link discovery ∪ sitemap discovery, full-outer-merged on the
      // canonical key (both sides group on it, so the merge aligns two
      // key-partitioned aggregates), minus the fetched corpus via the same
      // Bloom + suspects-anti-join as the link-only frontier. The fixture's
      // sitemaps plant an already-fetched loc (/p/<n> — must vanish), a
      // sitemap-only loc (/sm/<n> — n_refs 0, lastmod carried), and a loc
      // the link fixture ALSO discovers (/r/<n> — the merged row keeps its
      // in-degree AND in_sitemap=true).
      (s: SparkSession, d: String) => {
        val links = fixtureLinks(s, d)
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val hosts = u.select(
            Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
          .filter(pmod(length(col("host")), lit(3)) =!= 0)
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val sm = hosts.withColumn("xml", concat(
          lit("<urlset><url><loc>https://"), col("host"),
          lit("/p/"), (dig % 20).cast("string"),
          lit("</loc></url><url><loc>https://"), col("host"),
          lit("/sm/"), (dig % 13).cast("string"),
          lit("</loc><lastmod>2026-03-"),
          lpad(((dig % 27) + 1).cast("string"), 2, "0"),
          lit("</lastmod></url><url><loc>https://"), col("host"),
          lit("/r/"), (dig % 11).cast("string"),
          lit("</loc></url></urlset>")))
        Url.discoveredWithSitemaps(links, sm, "host", "xml",
            u.select(Url.canonicalKey(col("url"))), expectedItems = 100000L)
          .orderBy("link_key")
      },
      Some {
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val dd = s"lpad(CAST(($dig % 27) + 1 AS VARCHAR), 2, '0')"
        val xml = "'<urlset><url><loc>https://' || host || '/p/' || " +
          s"CAST($dig % 20 AS VARCHAR) || " +
          "'</loc></url><url><loc>https://' || host || '/sm/' || " +
          s"CAST($dig % 13 AS VARCHAR) || " +
          s"'</loc><lastmod>2026-03-' || $dd || " +
          "'</lastmod></url><url><loc>https://' || host || '/r/' || " +
          s"CAST($dig % 11 AS VARCHAR) || '</loc></url></urlset>'"
        OutlinksCte + ", " +
          "kc AS (SELECT " + canonKeySql("url") + " AS key FROM u), " +
          "g AS (SELECT " + canonKeySql("link") + " AS link_key, " +
          "min(link) AS link, min(src_id) AS first_src, count(*) AS n_refs " +
          "FROM d GROUP BY 1), " +
          s"hosts AS (SELECT DISTINCT ${urlHostSql(canonKeySql("url"))} AS host " +
          "FROM u), " +
          s"hf AS (SELECT host FROM hosts WHERE length(host) % 3 <> 0), " +
          s"sm AS (SELECT host, $xml AS xml FROM hf), " +
          "b AS (SELECT host, unnest(regexp_extract_all(xml, '(?is)<url>(.*?)</url>', 1)) AS blk FROM sm), " +
          "se AS (SELECT host, trim(regexp_extract(blk, '(?is)<loc>([^<]*)</loc>', 1)) AS loc, " +
          "nullif(trim(regexp_extract(blk, '(?is)<lastmod>([^<]*)</lastmod>', 1)), '') AS lastmod FROM b), " +
          "sf AS (SELECT " + canonKeySql("loc") + " AS link_key, " +
          "min(loc) AS sm_loc, max(lastmod) AS lastmod FROM se " +
          "WHERE loc <> '' GROUP BY 1), " +
          "mg AS (SELECT coalesce(g.link_key, sf.link_key) AS link_key, " +
          "coalesce(g.link, sf.sm_loc) AS link, g.first_src, " +
          "coalesce(g.n_refs, 0) AS n_refs, " +
          "(sf.link_key IS NOT NULL) AS in_sitemap, sf.lastmod " +
          "FROM g FULL OUTER JOIN sf ON g.link_key = sf.link_key) " +
          "SELECT link_key, link, first_src, CAST(n_refs AS BIGINT) AS n_refs, " +
          "in_sitemap, lastmod FROM mg " +
          "WHERE link_key NOT IN (SELECT key FROM kc) ORDER BY link_key"
      }),

    ("x_rel_canonical", // the rel=canonical dedup OVERRIDE (RFC 6596): the
      // author-published "this page's one true spelling" signal — serving
      // variants the URL normalizer cannot see (different paths, different
      // hosts) collapse through the declared canonical target's key. One
      // element pattern catches both attribute orders; the href resolves
      // through the same reduced-RFC3986 chain (the fixture's href-first
      // variant is root-relative on purpose); pages without a declaration
      // keep their own key. Zero-shuffle per-row map; the oracle replays
      // element pattern, boundary'd href pull, resolve chain and canonical
      // chain verbatim.
      (s: SparkSession, d: String) =>
        Url.canonicalKeys(
            Fixtures.attachLinksHtml(
              Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source"),
              "doc_id", "url"),
            "doc_id", "url", "html")
          .orderBy("doc_id"),
      Some(LinksPageCte + ", " +
        "e AS (SELECT doc_id, url, regexp_extract(html, " +
        "'(?i)<link\\s(?:[^>]*?\\s)?rel\\s*=\\s*" +
        "(?:\"(?:[^\"]*\\s)?canonical(?:\\s[^\"]*)?\"[^>]*" +
        "|''(?:[^'']*\\s)?canonical(?:\\s[^'']*)?''[^>]*" +
        "|canonical[\\s/][^>]*|canonical)>', 0) AS el FROM p), " +
        "l AS (SELECT doc_id, url, trim(coalesce(" +
        "nullif(regexp_extract(el, '(?i)\\shref\\s*=\\s*\"([^\"]*)\"', 1), ''), " +
        "nullif(regexp_extract(el, '(?i)\\shref\\s*=\\s*''([^'']*)''', 1), ''))) AS h FROM e), " +
        "r AS (SELECT doc_id, url, " + ResolveCaseSql + " AS raw FROM l), " +
        "c AS (SELECT doc_id, url, CASE WHEN raw IS NULL THEN NULL ELSE " +
        CollapsedLinkSql + " END AS ct FROM r) " +
        "SELECT doc_id, " + canonKeySql("url") + " AS url_key, " +
        "CASE WHEN ct IS NULL THEN " + canonKeySql("url") +
        " ELSE " + canonKeySql("ct") + " END AS canonical_key, " +
        "(ct IS NOT NULL) AS has_canonical FROM c ORDER BY doc_id")),

    ("x_redirect_resolve", // redirect-CHAIN resolution by pointer doubling
      // — the post-fetch normalization that keys frontier/dedup/rank on a
      // chain's END: each round self-joins the functional (url -> next)
      // map, so a length-L chain resolves in ceil(log2 L) equi-join
      // shuffles instead of L (redirect farms chain dozens deep). Output
      // is deterministic even for CYCLES (after k rounds every source
      // points at its 2^k-th successor — a pure function of the input),
      // which is what lets this gate hash: the fixture chains up to 4 hops
      // into %5==0 sinks and plants a 3-cycle whose members must land on
      // their 8th successor with resolved=false. Oracle unrolls the same
      // 3 doublings.
      (s: SparkSession, d: String) => {
        import s.implicits._
        val u = expr("'h' || CAST(doc_id AS STRING) || '.org/p'")
        val v = expr("'h' || CAST(doc_id - 1 AS STRING) || '.org/p'")
        val chains = t(s, d, "documents").filter(col("doc_id") % 5 =!= 0)
          .select(u.as("src"), v.as("dst"))
        val cycle = Seq(("cyc.org/a", "cyc.org/b"), ("cyc.org/b", "cyc.org/c"),
          ("cyc.org/c", "cyc.org/a")).toDF("src", "dst")
        Crawl.resolveRedirects(chains.union(cycle), "src", "dst",
            doublings = 3)
          .orderBy("url")
      },
      Some {
        def dbl(i: Int): String =
          s"m$i AS (SELECT a.src, coalesce(b.next, a.next) AS next, " +
            s"a.hops + coalesce(b.hops, 0) AS hops " +
            s"FROM m${i - 1} a LEFT JOIN m${i - 1} b ON a.next = b.src)"
        "WITH p AS (SELECT 'h' || CAST(doc_id AS VARCHAR) || '.org/p' AS src, " +
          "'h' || CAST(doc_id - 1 AS VARCHAR) || '.org/p' AS next " +
          s"FROM $Docs WHERE doc_id % 5 <> 0 " +
          "UNION ALL SELECT * FROM (VALUES ('cyc.org/a', 'cyc.org/b'), " +
          "('cyc.org/b', 'cyc.org/c'), ('cyc.org/c', 'cyc.org/a')) v(src, next)), " +
          "m0 AS (SELECT src, next, CAST(1 AS BIGINT) AS hops FROM p), " +
          (1 to 3).map(dbl).mkString(", ") + " " +
          "SELECT a.src AS url, a.next AS final_url, a.hops, " +
          "(s.src IS NULL) AS resolved FROM m3 a " +
          "LEFT JOIN (SELECT DISTINCT src FROM p) s ON a.next = s.src " +
          "ORDER BY url"
      }),

    ("x_domain_cap_psl", // the domain quota under the PSL policy (the
      // pluggable domainOf hook): same cap operator, but grouping by the
      // public-suffix-list registrable domain — the URL fixture's ccSLD
      // hosts group identically to the regex form EXCEPT where policy
      // genuinely differs, and the oracle recomputes the PSL algorithm over
      // the same canonical-key hosts.
      (s: SparkSession, d: String) =>
        Url.domainCapKeep(
            Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source"),
            "url", "doc_id", cap = 25,
            domainOf = h => Psl.registrableDomain(h))
          .select("doc_id", "domain").orderBy("doc_id"),
      Some(pslDomainCtes(
          s"$UrlCte, h AS (SELECT doc_id, ${urlHostSql("key")} AS host FROM k)") +
        s", dom AS (SELECT doc_id, $PslDomainExpr AS domain FROM f) " +
        "SELECT doc_id, domain FROM (SELECT doc_id, domain, row_number() OVER " +
        "(PARTITION BY domain ORDER BY doc_id) AS rn FROM dom) " +
        "WHERE rn <= 25 ORDER BY doc_id")),

    // ------------------------------------------------------------- dedup --
    ("x_dedup_exact",
      (s: SparkSession, d: String) =>
        Dedup.exactDedup(t(s, d, "documents"), "text", "doc_id").orderBy("h"),
      Some("SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS keep_id " +
        s"FROM $Docs GROUP BY 1 ORDER BY 1")),

    ("x_dedup_summary",
      (s: SparkSession, d: String) =>
        t(s, d, "documents").agg(
          countDistinct(md5(col("text"))).as("n_unique"),
          count(lit(1)).as("n_total")),
      Some("SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique, " +
        s"count(*) AS n_total FROM $Docs")),

    ("x_segment_dedup", // CCNet/Gopher-style boilerplate removal: 4-word
      // segments occurring in >1 distinct doc are dropped; each doc is
      // rebuilt from its surviving segments in original order. One shuffle
      // (global segment-frequency agg); the frequent set returns as a
      // broadcast 1-row sorted array, so the rebuild is a per-row map with
      // no second shuffle.
      (s: SparkSession, d: String) =>
        Dedup.segmentDedup(t(s, d, "documents"), "doc_id", "text",
          k = 4, maxDocs = 1).orderBy("doc_id"),
      Some("WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w " +
        s"FROM $Docs), " +
        "seg AS (SELECT doc_id, UNNEST(range(CAST(ceil(len(w) / 4.0) AS BIGINT))) AS pos, w FROM ws), " +
        "s2 AS (SELECT doc_id, pos, array_to_string(w[(pos * 4 + 1):(pos * 4 + 4)], ' ') AS s FROM seg), " +
        "f AS (SELECT s, 1 AS dropme FROM s2 GROUP BY s HAVING count(DISTINCT doc_id) > 1) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments, " +
        "CAST(count(dropme) AS BIGINT) AS n_dropped, " +
        "coalesce(array_to_string(list(s ORDER BY pos) FILTER (WHERE dropme IS NULL), ' '), '') AS cleaned " +
        "FROM s2 LEFT JOIN f USING (s) GROUP BY doc_id ORDER BY doc_id")),

    ("x_paragraph_dedup", // cross-document PARAGRAPH dedup — the CCNet/
      // Dolma dedup granularity: newline units, trimmed, empties dropped;
      // a paragraph in >1 distinct docs is removed everywhere and docs
      // rebuild in order. The fixture wraps each doc's text between a
      // corpus-wide header (always dropped) and a 3-variant footer (each
      // shared by ~1/3 of docs — dropped); the doc's own text drops only
      // where the corpus genuinely repeats it. Same one-shuffle shape as
      // x_segment_dedup.
      (s: SparkSession, d: String) =>
        Dedup.paragraphDedup(
          t(s, d, "documents").withColumn("ptext", concat(
            lit("subscribe to our newsletter\n"), col("text"),
            lit("\nfooter variant "), (col("doc_id") % 3).cast("string"))),
          "doc_id", "ptext", delim = "\n", maxDocs = 1)
          .orderBy("doc_id"),
      Some("WITH p AS (SELECT doc_id, 'subscribe to our newsletter' || chr(10) || " +
        "text || chr(10) || 'footer variant ' || CAST(doc_id % 3 AS VARCHAR) AS t " +
        s"FROM $Docs), " +
        "w AS (SELECT doc_id, [trim(x) for x in string_split(t, chr(10)) if trim(x) <> ''] AS us FROM p), " +
        "seg AS (SELECT doc_id, UNNEST(range(len(us))) AS pos, us FROM w), " +
        "s2 AS (SELECT doc_id, pos, us[pos + 1] AS s FROM seg), " +
        "f AS (SELECT s, 1 AS dropme FROM s2 GROUP BY s HAVING count(DISTINCT doc_id) > 1), " +
        "agg AS (SELECT doc_id, count(*) AS nu, count(dropme) AS nd, " +
        "coalesce(array_to_string(list(s ORDER BY pos) FILTER (WHERE dropme IS NULL), chr(10)), '') AS cl " +
        "FROM s2 LEFT JOIN f USING (s) GROUP BY doc_id) " +
        "SELECT w.doc_id, CAST(coalesce(agg.nu, 0) AS BIGINT) AS n_units, " +
        "CAST(coalesce(agg.nd, 0) AS BIGINT) AS n_dropped, " +
        "coalesce(agg.cl, '') AS cleaned " +
        "FROM w LEFT JOIN agg USING (doc_id) ORDER BY w.doc_id")),

    ("x_span_stats", // suffix-array-criterion duplicated-RUN detection
      // (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
      // Better"): any verbatim k-word window occurring >= 2x corpus-wide is
      // a duplicated span, regardless of segment alignment. Per doc: dup
      // window count + MERGED coverage (union of [p, p+k-1], not summed)
      // and its fraction. One heavy shuffle (window-hash frequency agg);
      // see Dedup.duplicateSpanStats scaladoc for the scale shape.
      (s: SparkSession, d: String) =>
        Dedup.duplicateSpanStats(t(s, d, "documents"), "doc_id", "text",
          k = 8).orderBy("doc_id"),
      Some(s"$SpanCte, pd AS (SELECT doc_id, count(*) AS ndw FROM occ GROUP BY doc_id) " +
        "SELECT b.doc_id, b.n_words, " +
        "CAST(coalesce(pd.ndw, 0) AS BIGINT) AS n_dup_windows, " +
        "CAST(coalesce(len(cov.cv), 0) AS BIGINT) AS dup_cov, " +
        "round(CAST(coalesce(len(cov.cv), 0) AS DOUBLE) / b.n_words, 6) AS dup_frac " +
        "FROM b LEFT JOIN pd USING (doc_id) LEFT JOIN cov USING (doc_id) " +
        "ORDER BY doc_id")),

    ("x_span_scrub", // scrub companion: rebuild each doc with every word
      // under a duplicated k-window removed (the paper's "drop the
      // duplicated span" step). Same single heavy shuffle; the rebuild is
      // a per-row positional filter bounded by doc length.
      (s: SparkSession, d: String) =>
        Dedup.duplicateSpanScrub(t(s, d, "documents"), "doc_id", "text",
          k = 8).orderBy("doc_id"),
      Some(s"$SpanCte, " +
        "wp AS (SELECT doc_id, UNNEST(w) AS word, UNNEST(range(len(w))) AS i FROM b), " +
        "cl AS (SELECT wp.doc_id, coalesce(array_to_string(list(word ORDER BY i) " +
        "FILTER (WHERE cov.cv IS NULL OR NOT list_contains(cov.cv, i)), ' '), '') AS cleaned " +
        "FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id GROUP BY wp.doc_id) " +
        "SELECT b.doc_id, b.n_words, " +
        "CAST(coalesce(len(cov.cv), 0) AS BIGINT) AS n_dropped, cl.cleaned " +
        "FROM b LEFT JOIN cov USING (doc_id) JOIN cl USING (doc_id) " +
        "ORDER BY doc_id")),

    ("x_minhash_sig",
      (s: SparkSession, d: String) =>
        Dedup.minhashSig(t(s, d, "documents"), "text", "doc_id").orderBy("doc_id"),
      Some(s"$AbCte SELECT doc_id, $SigSelect FROM ab GROUP BY doc_id ORDER BY doc_id")),

    ("x_lsh_pairs",
      (s: SparkSession, d: String) => {
        val sig = Dedup.minhashSig(t(s, d, "documents"), "text", "doc_id")
        Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id"), "doc_id")
          .orderBy("a_id", "b_id")
      },
      Some(s"$SigCte, $BandsCte " +
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id " +
        "ORDER BY a_id, b_id")),

    ("x_jaccard_pairs",
      (s: SparkSession, d: String) => {
        val sets = graft.ext.Par.ensure(t(s, d, "documents").select("doc_id", "text"))
          .select(col("doc_id"), split(col("text"), " ").as("__ws"))
          .select(col("doc_id"), array_distinct(Dedup.shinglesOfWords(col("__ws"), 3)).as("sset"))
        sets.as("a")
          .join(sets.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            round(Dedup.jaccard(col("a.sset"), col("b.sset")), 6).as("jaccard"))
          .orderBy("a_id")
      },
      Some(s"$ShingleCte, ds AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "round(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) / " +
        "(len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))), 6) AS jaccard " +
        "FROM ds a JOIN ds b ON b.doc_id = a.doc_id + 1 ORDER BY a_id")),

    ("x_simhash16", // native kernel (md5 as bytes, one call per row);
      // bit-identical to the fold form, spec-asserted
      (s: SparkSession, d: String) =>
        graft.ext.Par.ensure(t(s, d, "documents").select("doc_id", "text"))
          .select(col("doc_id"), Dedup.simhash16(split(col("text"), " ")).as("simhash"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(" +
        (1 to 16).map(simhashTermSql).mkString(" + ") +
        " AS BIGINT) AS simhash FROM (SELECT doc_id, string_split(text, ' ') AS ws " +
        s"FROM $Docs) t ORDER BY doc_id")),

    ("x_simhash_pairs", // SimHash pairing: band the 16-bit signature into
      // its two bytes, candidates = pairs sharing either band (guaranteed
      // complete for hamming <= 1 by pigeonhole), ranked by exact hamming.
      // Top-20 closest, deterministic. Computed by SIGNATURE COLLAPSE
      // (Dedup.simhashBandTopPairs): the doc-level band join is Θ(n²/256)
      // — 2.8 B rows at the 600 k-doc sf1 probe — while the collapsed form
      // joins ≤ 65 536 signatures and expands only the ≤ 20 signature
      // pairs that can reach the global top-20. Result-identical to the
      // doc-level join (DedupSpec equivalence) and to the DuckDB oracle.
      (s: SparkSession, d: String) =>
        Dedup.simhashBandTopPairs(
          t(s, d, "documents").select("doc_id", "text"), "text", "doc_id", 20),
      Some("WITH sh AS (SELECT doc_id, CAST(" +
        (1 to 16).map(simhashTermSql).mkString(" + ") +
        " AS BIGINT) AS sh FROM (SELECT doc_id, string_split(text, ' ') AS ws " +
        s"FROM $Docs) t), " +
        "banded AS (SELECT doc_id, sh, UNNEST([" +
        "{'band': 0, 'key': sh & 255}, {'band': 1, 'key': sh >> 8}" +
        "], recursive := true) FROM sh) " +
        "SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id, " +
        "CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming " +
        "FROM banded x JOIN banded y ON x.band = y.band AND x.key = y.key " +
        "AND x.doc_id < y.doc_id " +
        "ORDER BY hamming, a_id, b_id LIMIT 20")),

    ("x_near_dup", // full MinHash-LSH pipeline incl. Jaccard verify
      (s: SparkSession, d: String) =>
        Dedup.nearDupPairs(t(s, d, "documents"), "text", "doc_id", threshold = 0.2)
          .orderBy("a_id", "b_id"),
      // jaccard = int/int division of identical operands on both engines,
      // so even the unrounded double hash-matches
      Some(s"$SigCte, $BandsCte, " +
        "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
        "ds AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh) " +
        "SELECT a_id, b_id, CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / " +
        "(len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) AS jaccard " +
        "FROM cand JOIN ds x ON x.doc_id = a_id JOIN ds y ON y.doc_id = b_id " +
        "WHERE CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / " +
        "(len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) >= 0.2 " +
        "ORDER BY a_id, b_id")),

    ("x_prefix_pairs", // LOSSLESS set-similarity join via prefix filtering
      // (SSJoin/AllPairs): global frequency order, per-doc prefix of
      // |A|-ceil(t|A|)+1 shingles, equi-join on the prefix shingle, size
      // bound inside the join, Jaccard verify on candidates. The reliable-
      // recall route at marginal J where LSH banding is structurally weak
      // (PLANS.md round-7 cap table) — at gate scale this emits EVERY pair
      // with J >= 0.2, which the capped-LSH x_near_dup cannot promise.
      // served from the persisted shingle store: shingling + dictionary
      // encode are paid once per (data, config) and shared with
      // x_containment_pairs / x_source_overlap (the ingest-time artifact
      // at scale); result-identical to the inline Dedup.prefixJoinPairs.
      (s: SparkSession, d: String) =>
        Dedup.prefixJoinPairsFromStore(s, d, "doc_id", "text",
          threshold = 0.2)
          .orderBy("a_id", "b_id"),
      Some(s"$ShingleCte, ds AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh), " +
        "tok AS (SELECT doc_id, len(sset) AS n, UNNEST(sset) AS s FROM ds), " +
        "freq AS (SELECT s, count(*) AS f FROM tok GROUP BY s), " +
        "ranked AS (SELECT tok.doc_id, tok.n, tok.s, " +
        "row_number() OVER (PARTITION BY tok.doc_id ORDER BY freq.f, tok.s) AS rn " +
        s"FROM tok JOIN freq USING (s) WHERE freq.f <= $CapSql), " +
        "pre AS (SELECT doc_id, n, s FROM ranked " +
        "WHERE rn <= n - CAST(ceil(0.2 * n) AS BIGINT) + 1), " +
        "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id " +
        "FROM pre a JOIN pre b USING (s) WHERE a.doc_id < b.doc_id " +
        "AND CAST(least(a.n, b.n) AS DOUBLE) >= 0.2 * greatest(a.n, b.n)) " +
        "SELECT a_id, b_id, CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / " +
        "(len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) AS jaccard " +
        "FROM cand JOIN ds x ON x.doc_id = a_id JOIN ds y ON y.doc_id = b_id " +
        "WHERE CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / " +
        "(len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) >= 0.2 " +
        "ORDER BY a_id, b_id")),

    // -------------------------------------------------------- similarity --
    ("x_cosine_all",
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        em.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy("vec_id")
      },
      Some(s"WITH q AS (SELECT embedding AS qv FROM $Embs WHERE vec_id = 0) " +
        s"SELECT vec_id, round($CosExpr, 6) AS cos FROM $Embs AS embeddings, q " +
        "WHERE vec_id <> 0 ORDER BY vec_id")),

    ("x_cosine_topk",
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        em.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"WITH q AS (SELECT embedding AS qv FROM $Embs WHERE vec_id = 0), " +
        s"c AS (SELECT vec_id, round($CosExpr, 6) AS cos FROM $Embs AS embeddings, q WHERE vec_id <> 0) " +
        "SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10")),

    ("x_ann_lsh", // bucketed ANN; DuckDB reproduces the plane buckets exactly
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.annTopK(em.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          q, k = 10, nPlanes = 4, dim = 64)
      },
      Some {
        val ps = Similarity.planes(4, 64)
        s"WITH q AS (SELECT embedding AS qv, ${lshBucketSql("embedding", ps)} AS bucket " +
          s"FROM $Embs WHERE vec_id = 0), " +
          s"b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", ps)} AS bucket " +
          s"FROM $Embs WHERE vec_id <> 0), " +
          s"c AS (SELECT vec_id, round($CosExpr, 6) AS cos FROM b JOIN q USING (bucket)) " +
          "SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10"
      }),

    ("x_ann_lsh_mp", // multi-probe LSH ANN: query bucket + all Hamming-1
      // neighbors at 8 planes (256 buckets) — ~3.5% of the corpus probed
      // with far better recall than single-probe; the probe list is
      // deterministic from the query bucket, so DuckDB reproduces it.
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.annTopKMultiProbe(em.filter(col("vec_id") =!= 0), "vec_id",
          "embedding", q, k = 10, nPlanes = 8, dim = 64)
      },
      Some {
        val ps = Similarity.planes(8, 64)
        val flipList = (Seq("b0") ++ (0 until 8).map(i => s"xor(b0, ${1L << i})"))
          .mkString("[", ", ", "]")
        s"WITH q AS (SELECT embedding AS qv, ${lshBucketSql("embedding", ps)} AS b0 " +
          s"FROM $Embs WHERE vec_id = 0), " +
          s"p AS (SELECT qv, UNNEST($flipList) AS bucket FROM q), " +
          s"b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", ps)} AS bucket " +
          s"FROM $Embs WHERE vec_id <> 0), " +
          s"c AS (SELECT vec_id, round($CosExpr, 6) AS cos FROM b JOIN p USING (bucket)) " +
          "SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10"
      }),

    ("x_ann_ivf", // IVF ANN off the precomputed centroid artifact; oracle is
      // generated at Verify dump time (SparkEntry.dynamicOracleSql) because
      // the centroid literals are data-derived
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val centroids = Similarity.centroidsFor(s, d)
        Similarity.ivfTopK(em.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          q, k = 10, centroids, nProbe = 2)
      },
      None),

    ("x_ann_ivf_indexed", // same contract via the write-time partitioned
      // index: probe lists become a literal partition filter (pruned scan).
      // Shares x_ann_ivf's dynamically generated centroid-literal oracle.
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val centroids = Similarity.centroidsFor(s, d)
        val idx = Similarity.indexPathFor(s, d, centroids)
        Similarity.ivfTopKIndexed(s, idx, "vec_id", "embedding", q,
          k = 10, centroids, nProbe = 2)
      },
      None),

    ("x_ann_ivf_batch", // BATCHED index queries: 8 query vectors share one
      // pruned scan + one equi-join; probe lists are a centroid-argmin
      // column expression, per-query top-5 a window rank. The production
      // shape — thousands of queries amortize the scan instead of paying a
      // driver round-trip each. Dynamic centroid-literal oracle, like
      // x_ann_ivf.
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val qs = em.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val centroids = Similarity.centroidsFor(s, d)
        val idx = Similarity.indexPathFor(s, d, centroids)
        Similarity.ivfTopKIndexedBatch(s, idx, "vec_id", "embedding", qs,
          k = 5, centroids, nProbe = 2,
          scanFilter = Some(col("vec_id") >= 8))
      },
      None),

    ("x_ann_ivf_append", // incremental index maintenance: the corpus lands
      // in two waves — a base build (4/5ths of vectors) and a delta wave
      // APPENDED into the same list-partitioned layout with the same native
      // assignment kernel. No rebuild, existing files untouched — the 100 TB
      // daily-ingest shape (full rebuilds are the build_sec constant
      // ANNPROBE measures). The standard pruned-probe top-k then runs over
      // the union; sharing x_ann_ivf's exact oracle makes the gate sharp —
      // a dropped or double-appended delta shifts the top-k and hash-fails.
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val centroids = Similarity.centroidsFor(s, d)
        val idx = Similarity.appendIndexPathFor(s, d, centroids)
        Similarity.ivfTopKIndexed(s, idx, "vec_id", "embedding", q,
          k = 10, centroids, nProbe = 2)
      },
      None),

    ("x_ann_index_stats", // per-list occupancy audit over the appended
      // index — the retrain signal for incremental maintenance (appended
      // mass skewing into a few lists means the centroids have gone stale).
      // Counted off the partition layout without decoding vector bytes; the
      // oracle recomputes every vector's argmin list from the centroid
      // literals, so the per-list counts verify the appended index content
      // exactly.
      (s: SparkSession, d: String) => {
        val centroids = Similarity.centroidsFor(s, d)
        val idx = Similarity.appendIndexPathFor(s, d, centroids)
        Similarity.ivfIndexStats(s, idx)
      },
      None),

    ("x_containment_pairs", // asymmetric containment join: (a, b) with
      // |A∩B|/|A| >= 0.5 on the frequency-capped 3-gram universe — the
      // sub-document/quote-inclusion detector symmetric Jaccard misses.
      // Spark side prefix-filters the contained side (lossless on the
      // capped universe); the oracle verifies ALL token-sharing pairs
      // directly — slower but same answer, which is the point.
      // shares the persisted shingle store with x_prefix_pairs (capped
      // universe = ids below the cap count; same dense order)
      (s: SparkSession, d: String) =>
        Dedup.containmentPairsFromStore(s, d, "doc_id", "text",
          shingleK = 3, threshold = 0.5)
          .orderBy("a_id", "b_id"),
      Some(s"$ShingleCte, dd AS (SELECT DISTINCT doc_id, s FROM u), " +
        "f AS (SELECT s, count(*) AS fr FROM dd GROUP BY s), " +
        s"tok AS (SELECT doc_id, s FROM dd JOIN f USING (s) WHERE fr <= $CapSql), " +
        "n AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id), " +
        "i AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter " +
        "FROM tok x JOIN tok y ON x.s = y.s AND x.doc_id <> y.doc_id GROUP BY 1, 2) " +
        "SELECT a_id, b_id, round(CAST(inter AS DOUBLE) / n.n, 6) AS containment " +
        "FROM i JOIN n ON n.doc_id = i.a_id " +
        "WHERE round(CAST(inter AS DOUBLE) / n.n, 6) >= 0.5 " +
        "ORDER BY a_id, b_id")),

    ("x_pq_codes", // product-quantization encode audit: per-(subspace, code)
      // histogram over the whole corpus — 8 subspaces × 16 sub-centroids
      // compress each 64-float vector to 8 bytes (32× scan-IO reduction at
      // 100 TB). Codebooks are a data-derived artifact (deterministic
      // per-subspace k-means over the bounded sample), so the oracle is
      // generated at Verify dump time like the IVF ones.
      (s: SparkSession, d: String) =>
        Similarity.pqCodeHistogram(t(s, d, "embeddings"), "embedding",
          Similarity.pqCodebooksFor(s, d)),
      None),

    ("x_sq8_codes", // SQ8 scalar-quantization encode audit (the storage
      // rung below PQ: 1 B/dim + a per-vector affine pair, 4x smaller
      // scans): per-vector (mn, sc) and code-stream aggregates — the
      // oracle recomputes the affine rounding per element.
      (s: SparkSession, d: String) =>
        graft.ext.Par.ensure(t(s, d, "embeddings").select("vec_id", "embedding"))
          .select(col("vec_id"), Similarity.sq8Encode(col("embedding")).as("q"))
          .select(col("vec_id"),
            round(col("q.mn"), 6).as("mn"),
            round(col("q.sc"), 6).as("sc"),
            aggregate(col("q.codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
            array_min(col("q.codes")).as("code_min"),
            array_max(col("q.codes")).as("code_max"))
          .orderBy("vec_id"),
      Some("SELECT vec_id, round(mn, 6) AS mn, round(sc, 6) AS sc, " +
        "CAST(list_sum(codes) AS BIGINT) AS code_sum, " +
        "CAST(list_min(codes) AS INT) AS code_min, " +
        "CAST(list_max(codes) AS INT) AS code_max FROM " +
        "(SELECT vec_id, mn, sc, " +
        "[CAST(round((CAST(x AS DOUBLE) - mn) / sc * 255) AS INT) for x in embedding] AS codes FROM " +
        "(SELECT vec_id, embedding, mn, CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END AS sc FROM " +
        "(SELECT vec_id, embedding, CAST(list_min(embedding) AS DOUBLE) AS mn, " +
        s"CAST(list_max(embedding) AS DOUBLE) AS mx FROM $Embs))) ORDER BY vec_id")),

    ("x_ann_sq8", // SQ8 ANN — quantize-then-refine: cosine in the
      // DEQUANTIZED domain (float-cast on both engines at the same point)
      // cuts the top-50 by (rounded qcos desc, id), the full vectors
      // re-rank the survivors exactly. Same shape as x_ann_pq one rung up
      // the accuracy/storage ladder.
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.sq8TopK(em.filter(col("vec_id") =!= 0), "vec_id",
          "embedding", q, k = 10, rerank = 50)
      },
      Some(s"WITH q AS (SELECT embedding AS qv FROM $Embs WHERE vec_id = 0), " +
        "s AS (SELECT vec_id, embedding, mn, CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END AS sc FROM " +
        "(SELECT vec_id, embedding, CAST(list_min(embedding) AS DOUBLE) AS mn, " +
        s"CAST(list_max(embedding) AS DOUBLE) AS mx FROM $Embs WHERE vec_id <> 0)), " +
        "dq AS (SELECT vec_id, [CAST(mn + round((CAST(x AS DOUBLE) - mn) / sc * 255) / 255 * sc AS REAL) " +
        "for x in embedding] AS dv FROM s), " +
        s"cand AS (SELECT vec_id, round(${cosSql("dv", "qv")}, 6) AS qcos " +
        "FROM dq, q ORDER BY qcos DESC, vec_id LIMIT 50) " +
        s"SELECT vec_id, cos FROM (SELECT embeddings.vec_id, round($CosExpr, 6) AS cos " +
        s"FROM $Embs AS embeddings JOIN cand USING (vec_id), q) " +
        "ORDER BY cos DESC, vec_id LIMIT 10")),

    ("x_ann_pq", // PQ/ADC ANN — the compressed-domain scan: per-row distance
      // is 8 lookup-table reads summed over the row's CODES (no full vectors
      // touched), top-50 candidates by (rounded ADC asc, id) are then
      // exactly re-ranked by cosine — the PQ-then-refine shape production
      // vector search runs. Dynamic codebook+LUT-literal oracle.
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        Similarity.pqTopKAdc(em.filter(col("vec_id") =!= 0), "vec_id",
          "embedding", q, k = 10, Similarity.pqCodebooksFor(s, d), rerank = 50)
      },
      None),

    ("x_ann_ivfpq", // combined IVF-PQ (the FAISS production shape) in one
      // partitioned table: literal probe-list IN prunes partitions, the ADC
      // candidate stage projects only (id, codes) — parquet column pruning
      // keeps the vector column unread — and just the top-50 fetch vectors
      // for the exact re-rank. Codes are RESIDUAL-encoded against each
      // row's coarse centroid (pqResidualCodebooksFor) so duplicate
      // clusters stay rankable in the compressed domain (the 1M AnnProbe's
      // flat-code tie collapse). Dynamic centroid+codebook+LUT oracle.
      (s: SparkSession, d: String) => {
        val em = t(s, d, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val cents = Similarity.centroidsFor(s, d)
        val cbs = Similarity.pqResidualCodebooksFor(s, d, cents)
        val idx = Similarity.ivfPqIndexPathFor(s, d, cents, cbs)
        Similarity.ivfPqTopK(s, idx, "vec_id", "embedding", q, k = 10,
          cents, cbs, nProbe = 2, rerank = 50)
      },
      None),

    ("x_embed_near_dup", // embedding-cosine near-dup via 8-plane LSH buckets
      // (256 buckets: intra-bucket cost n²/256 and shrinking with nPlanes —
      // the knob that keeps the self-join sub-quadratic at scale); threshold
      // chosen so this corpus (random vectors, max pairwise cos ~0.51)
      // actually yields pairs — a 0-row check can't fail
      (s: SparkSession, d: String) =>
        Similarity.cosineNearDupPairs(
          t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.3, nPlanes = 8, dim = 64)
          .orderBy("a_id", "b_id"),
      Some {
        val ps = Similarity.planes(8, 64)
        s"WITH b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", ps)} AS bucket " +
          s"FROM $Embs) " +
          s"SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
          s"round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos " +
          "FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id " +
          s"WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.3 " +
          "ORDER BY a_id, b_id"
      }),

    // --------------------------------------------------------------- text --
    ("x_text_stats",
      (s: SparkSession, d: String) =>
        t(s, d, "documents") // light per-row work: docsPar measured a loss here
          .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"),
            TextFns.bpeIshTokens(col("text")).as("n_bpe_tokens"),
            length(col("text")).cast("long").as("len_chars"), col("n_chars"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens, " +
        s"CAST(length(text) AS BIGINT) AS len_chars, n_chars FROM $Docs ORDER BY doc_id")),

    ("x_token_topk", // vocabulary stats: token frequencies, deterministic
      // top-20 (count desc, token asc). The wordcount shape at corpus scale:
      // explode -> partial-agg -> shuffle on token -> final agg -> take.
      (s: SparkSession, d: String) =>
        graft.ext.Par.ensure(t(s, d, "documents").select("text"))
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(20),
      Some("SELECT token, count(*) AS cnt FROM " +
        s"(SELECT UNNEST(string_split(text, ' ')) AS token FROM $Docs) " +
        "GROUP BY token ORDER BY cnt DESC, token LIMIT 20")),

    ("x_token_cms", // count-min-sketch heavy-hitter audit: exact top-20
      // token counts beside "the mergeable sketch respects est ∈
      // [true, true + eps·N]" — the fixed-memory frequency path at 100 TB
      // (counter-grid merges commute, so the sketch is bit-deterministic
      // under any partitioning; fixed seed). Only exact counts + the
      // verdict cross the engine boundary, like the HLL audit.
      (s: SparkSession, d: String) =>
        Sampling.cmsTopKAudit(
          graft.ext.Par.ensure(t(s, d, "documents").select("text"))
            .select(explode(split(col("text"), " ")).as("w")),
          "w", k = 20)
          .orderBy(col("n_exact").desc, col("w")),
      Some("SELECT w, n_exact, 1 AS sketch_ok FROM " +
        "(SELECT w, CAST(count(*) AS BIGINT) AS n_exact FROM " +
        s"(SELECT UNNEST(string_split(text, ' ')) AS w FROM $Docs) " +
        "GROUP BY w ORDER BY n_exact DESC, w LIMIT 20) " +
        "ORDER BY n_exact DESC, w")),

    ("x_corpus_stats", // one-row corpus profile: doc count, token volume,
      // length spread, distinct content fingerprints (exact-dup headroom)
      (s: SparkSession, d: String) =>
        t(s, d, "documents").agg(
          count(lit(1)).as("n_docs"),
          sum(TextFns.tokenCount(col("text"))).as("total_tokens"),
          min(length(col("text")).cast("long")).as("min_len"),
          max(length(col("text")).cast("long")).as("max_len"),
          countDistinct(md5(col("text"))).as("n_distinct")),
      Some("SELECT count(*) AS n_docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, " +
        "CAST(min(length(text)) AS BIGINT) AS min_len, " +
        "CAST(max(length(text)) AS BIGINT) AS max_len, " +
        s"CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct FROM $Docs")),

    ("x_text_quality",
      (s: SparkSession, d: String) =>
        docsPar(s, d, "doc_id", "text")
          .select(col("doc_id"),
            TextFns.nonAlphaCount(col("text")).as("n_nonalpha"),
            round(TextFns.stopwordRatio(col("text"), TextFns.enStop), 6).as("stop_ratio"),
            round(TextFns.qualityScore(col("text")), 6).as("quality"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, " +
        "CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS n_nonalpha, " +
        "round(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','to','a'))) AS DOUBLE) " +
        "/ greatest(len(string_split(text, ' ')), 1), 6) AS stop_ratio, " +
        s"round($QualitySql, 6) AS quality " +
        s"FROM $Docs ORDER BY doc_id")),

    ("x_html_extract", // HTML-to-text extraction — the step before every
      // text operator in a web pipeline: script/style/comment blocks die
      // WITH their content (the fixture's script body carries a real `<`),
      // tags become spaces, the five ubiquitous entities decode (&amp;
      // last — the fixture plants &amp;lt; to catch double-decoding),
      // whitespace collapses. Pure regexp chain, zero shuffle; the oracle
      // replays it verbatim over the same synthesized page skeleton.
      (s: SparkSession, d: String) =>
        Fixtures.attachHtml(docsPar(s, d, "doc_id", "text"), "doc_id", "text")
          .select(col("doc_id"),
            TextFns.stripHtml(col("html")).as("extracted"))
          .orderBy("doc_id"),
      Some {
        // the chain folds THE SAME constant the engine folds
        // (TextFns.StripHtmlSteps) — replacements rendered SQL-side: a
        // newline as chr(10) (DuckDB regular strings keep backslashes
        // literal), quotes doubled; patterns pass through (the REGEX
        // engine, not the SQL parser, interprets their \n/\s escapes)
        val chain = TextFns.StripHtmlSteps.foldLeft("h") {
          case (acc, (pat, rep)) =>
            val sqlRep = rep match {
              case "\n" => "chr(10)"
              case r => "'" + r.replace("'", "''") + "'"
            }
            s"regexp_replace($acc, '$pat', $sqlRep, 'g')"
        }
        s"WITH p AS (SELECT doc_id, ${Fixtures.htmlSql("doc_id", "text")} AS h " +
          s"FROM $Docs) " +
          s"SELECT doc_id, $chain AS extracted FROM p ORDER BY doc_id"
      }),

    ("x_text_normalize", // unicode cleanup (CCNet/ftfy step): NFC compose +
      // controls→space + space-run collapse + trim, run over docs with
      // deterministic synthetic noise injected (decomposed e+combining-
      // accent, tab, C0 control, double spaces) so the normalization path
      // is exercised, not just passed through. NFC is pinned by Unicode —
      // java.text.Normalizer and DuckDB's utf8proc agree — so the gate
      // hash-checks the normalized text itself. Pure per-row map.
      (s: SparkSession, d: String) => {
        val noisy = t(s, d, "documents").select(col("doc_id"), // light: docsPar measured a loss here
          concat(lit("cafe\u0301 \t"), col("text"),
            lit("  x\u0001y  ")).as("t2"))
        noisy.select(col("doc_id"),
          TextFns.normalizeText(col("t2")).as("clean"),
          length(TextFns.normalizeText(col("t2"))).cast("long").as("n_chars"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars FROM " +
        "(SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(" +
        "'caf' || chr(101) || chr(769) || ' ' || chr(9) || text || '  x' || chr(1) || 'y  '" +
        "), '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS clean " +
        s"FROM $Docs) ORDER BY doc_id")),

    ("x_text_scrub", // PII-style redaction audit: deterministic synthetic
      // PII (doc_id-derived email, URL, 8+-digit ref) is appended to each
      // doc, counted pre-scrub, then scrubbed URL -> email -> digit-run.
      // Patterns live in the Java-regex/RE2 common subset so both engines
      // mean the same thing. Pure per-row map: zero shuffles at any scale.
      (s: SparkSession, d: String) => {
        val injected = docsPar(s, d, "doc_id", "text").select(col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com via http://site"),
            (col("doc_id") % 7).cast("string"), lit(".org ref "),
            ((col("doc_id") + 10000000L) * 13L).cast("string")).as("t2"))
        val (ne, nu, nn) = TextFns.piiCounts(col("t2"))
        injected.select(col("doc_id"), ne.as("n_emails"), nu.as("n_urls"),
            nn.as("n_nums"), TextFns.scrubPii(col("t2")).as("scrubbed"))
          .orderBy("doc_id")
      },
      Some("WITH inj AS (SELECT doc_id, text || ' contact user' || " +
        "CAST(doc_id AS VARCHAR) || '@example.com via http://site' || " +
        "CAST(doc_id % 7 AS VARCHAR) || '.org ref ' || " +
        "CAST((doc_id + 10000000) * 13 AS VARCHAR) AS t2 " +
        s"FROM $Docs) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(t2, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(t2, 'https?://[a-z0-9./]+')) AS BIGINT) AS n_urls, " +
        "CAST(len(regexp_extract_all(t2, '[0-9]{8,}')) AS BIGINT) AS n_nums, " +
        "regexp_replace(regexp_replace(regexp_replace(t2, " +
        "'https?://[a-z0-9./]+', '<URL>', 'g'), " +
        "'[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'), " +
        "'[0-9]{8,}', '<NUM>', 'g') AS scrubbed " +
        "FROM inj ORDER BY doc_id")),

    ("x_lang_guess",
      (s: SparkSession, d: String) =>
        docsPar(s, d, "doc_id", "text", "lang")
          .select(col("doc_id"), col("lang").as("actual"),
            TextFns.langGuess(col("text")).as("guess"),
            TextFns.hitCount(col("text"), TextFns.enStop).as("s_en"),
            TextFns.hitCount(col("text"), TextFns.esStop).as("s_es"),
            TextFns.hitCount(col("text"), TextFns.frStop).as("s_fr"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, lang AS actual, " +
        "CASE WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' " +
        "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS guess, s_en, s_es, s_fr FROM " +
        "(SELECT doc_id, lang, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','to','a'))) AS BIGINT) AS s_en, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('el','la','de','que','y'))) AS BIGINT) AS s_es, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('le','les','des','et','un'))) AS BIGINT) AS s_fr " +
        s"FROM $Docs) t ORDER BY doc_id")),

    ("x_quality_lr", // hashed-feature linear scoring — the fastText-style
      // classifier inference shape: token -> md5 bucket (1024) -> broadcast
      // integer milli-weight table summed per occurrence. Zero shuffles;
      // INTEGER score keeps the keep/drop threshold engine-exact (the
      // sigmoid is left to consumers). Weights: deterministic stand-in
      // (demoWeightsMilli) — the operator under test is the plumbing.
      (s: SparkSession, d: String) => {
        val w = TextFns.demoWeightsMilli()
        docsPar(s, d, "doc_id", "text").select(col("doc_id"),
            TextFns.tokenCount(col("text")).as("n_tokens"),
            TextFns.hashedLinearScore(col("text"), w).as("score_milli"))
          .withColumn("keep", (col("score_milli") >= 0).cast("int"))
          .orderBy("doc_id")
      },
      Some {
        val wLit = TextFns.demoWeightsMilli().mkString("[", ",", "]")
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(list_sum([($wLit)[" +
          s"${hexToIntSql("substr(md5(w), 1, 4)")} % 1024 + 1] " +
          "for w in string_split(text, ' ')]) AS BIGINT) AS score_milli, " +
          "CAST(CASE WHEN list_sum([(" + wLit + ")[" +
          s"${hexToIntSql("substr(md5(w), 1, 4)")} % 1024 + 1] " +
          "for w in string_split(text, ' ')]) >= 0 THEN 1 ELSE 0 END AS INT) AS keep " +
          s"FROM $Docs ORDER BY doc_id"
      }),

    ("x_lm_score", // CCNet/KenLM-style LM quality filter (Wenzek et al.
      // 2020): documents scored by a reference-trained bigram LM. The model
      // is a driver-side artifact (hash-spread 512-doc sample, top-8192
      // bigrams, add-one smoothing) with log-probs pre-quantized to integer
      // milli-nats, so the per-doc score is an exact integer sum both
      // engines reproduce bit-for-bit (the x_quality_lr pattern); scoring
      // is a zero-shuffle fold with MapType-literal lookups. keep compares
      // the per-bigram mean against -9 nats; perplexity = exp(-lp/1000/n)
      // is a consumer-side display transform. Dynamic oracle: the same
      // quantized tables as SQL literals (SparkEntry.dynamicOracleSql).
      (s: SparkSession, d: String) =>
        graft.ext.Lm.scoreMilli(t(s, d, "documents"), "text", "doc_id",
          graft.ext.Lm.bigramLmFor(s, d))
          .orderBy("doc_id"),
      None),

    ("x_lm_score3", // trigram LM with stupid backoff (Brants et al. 2007):
      // the x_lm_score filter one order up toward CCNet's 5-gram KenLM. An
      // unseen trigram backs off — quantized ln(0.4) penalty — to the
      // bigram chain on (w2, w3); all tables pre-quantized to integer
      // milli-nats so both engines sum identical integers. Same
      // zero-shuffle native-kernel fold shape as the bigram filter.
      // Dynamic oracle: SparkEntry.dynamicOracleSql → lmOracleSql3.
      (s: SparkSession, d: String) =>
        graft.ext.Lm.scoreMilli3(t(s, d, "documents"), "text", "doc_id",
          graft.ext.Lm.trigramLmFor(s, d))
          .orderBy("doc_id"),
      None),

    ("x_ccnet_buckets", // CCNet head/middle/tail perplexity bucketing
      // (Wenzek et al. 2020 §4.3): corpus split into thirds by LM score,
      // cutoffs computed ONCE from the bounded training sample and shipped
      // with the model (CCNet's per-language cutoff files). Bucket
      // assignment is the integer multiply-compare lp >= cutoff*n — no
      // division, so both engines bucket identically at every boundary;
      // zero-bigram docs are 'tail' (no perplexity evidence). Same
      // zero-shuffle kernel pass as x_lm_score.
      // Dynamic oracle: SparkEntry.dynamicOracleSql → ccnetOracleSql.
      (s: SparkSession, d: String) => {
        val lm = graft.ext.Lm.bigramLmFor(s, d)
        graft.ext.Lm.ccnetBuckets(t(s, d, "documents"), "text", "doc_id",
          lm, graft.ext.Lm.ccnetCutoffsFor(s, d, lm))
          .orderBy("doc_id")
      },
      None),

    ("x_dsir_weights", // DSIR importance resampling (Xie et al. 2023,
      // arXiv:2302.03169): per-doc log importance weight under two
      // bag-of-hashed-ngram models — target domain (lang='en' sample)
      // over raw pool — quantized to integer milli-nats at train time so
      // both engines sum identical integers. Features are unigrams +
      // adjacent bigrams hashed into 1024 buckets (the x_quality_lr hash);
      // scoring is a zero-shuffle codegen fold, the model an array literal.
      // Dynamic oracle: SparkEntry.dynamicOracleSql → dsirOracleSql.
      (s: SparkSession, d: String) =>
        graft.ext.Dsir.importanceWeights(t(s, d, "documents"), "text",
          "doc_id", graft.ext.Dsir.modelFor(s, d))
          .orderBy("doc_id"),
      None),

    ("x_gopher_rules", // Gopher quality heuristics (Rae et al. 2021,
      // arXiv:2112.11446 Table A1), word-level subset: word count in
      // [50, 100k], mean word length in [3, 10], ≥80% alphabetic words,
      // symbol-to-word ratio ≤ 0.1, ≥2 stop-word hits. Ratios rounded to
      // 6dp before thresholding so both engines threshold the same values.
      // Pure per-row map — zero shuffles at any scale.
      (s: SparkSession, d: String) => {
        val docs = docsPar(s, d, "doc_id", "text")
        val ws = split(col("text"), " ")
        val cols = TextFns.gopherRules(col("text"), ws)
          .map { case (n, c) => c.as(n) }
        docs.select((col("doc_id") +: cols): _*).orderBy("doc_id")
      },
      Some {
        val stopSum = TextFns.gopherStop
          .map(w => s"(CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END)")
          .mkString(" + ")
        // coalesce mirrors gopherRules' null contract: a null document
        // scores like the empty one on both engines
        s"WITH w AS (SELECT doc_id, coalesce(text, '') AS text, " +
          s"string_split(coalesce(text, ''), ' ') AS ws FROM $Docs), " +
          "c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
          "round(CAST(list_sum([length(x) for x in ws]) AS DOUBLE) / len(ws), 6) AS mean_wlen, " +
          "round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(ws), 6) AS frac_alpha, " +
          "round(CAST(len(regexp_extract_all(text, '#')) + " +
          "len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) / len(ws), 6) AS symbol_ratio, " +
          s"CAST($stopSum AS BIGINT) AS n_stop FROM w) " +
          "SELECT doc_id, n_words, mean_wlen, frac_alpha, symbol_ratio, n_stop, " +
          "CAST(CASE WHEN n_words BETWEEN 50 AND 100000 " +
          "AND mean_wlen BETWEEN 3 AND 10 " +
          "AND frac_alpha >= 0.8 AND symbol_ratio <= 0.1 AND n_stop >= 2 " +
          "THEN 1 ELSE 0 END AS INT) AS keep " +
          "FROM c ORDER BY doc_id"
      }),

    ("x_ngram_novelty", // fraction of a doc's DISTINCT 3-grams first seen in
      // THIS doc (corpus-wide min doc_id owns a gram) — ~1 fresh prose, ~0
      // boilerplate/near-copies. The rank-signal complement to segment
      // dedup. One gram-keyed shuffle + one doc-keyed agg; no doc self-join.
      (s: SparkSession, d: String) =>
        TextFns.ngramNovelty(t(s, d, "documents"), "doc_id", "text", n = 3)
          .orderBy("doc_id"),
      Some(s"$ShingleCte, dd AS (SELECT DISTINCT doc_id, s FROM u), " +
        "f AS (SELECT s, min(doc_id) AS fd FROM dd GROUP BY s) " +
        "SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "round(CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ count(*), 6) AS novelty " +
        "FROM dd JOIN f USING (s) GROUP BY doc_id ORDER BY doc_id")),

    ("x_chunk_docs", // overlapping word-window chunking (RAG/context prep):
      // 32-word windows every 16 words, last window clamped to the doc end.
      // One row per chunk with word count + content digest — pure per-row
      // explode, zero shuffles; the chunk text itself never moves (at scale
      // it would stream straight to a partitioned sink).
      (s: SparkSession, d: String) =>
        TextFns.chunkDocs(t(s, d, "documents"), "doc_id", "text",
          chunkSize = 32, stride = 16)
          .orderBy("doc_id", "chunk_id"),
      Some("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws " +
        s"FROM $Docs), " +
        "st AS (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws), 16)) AS s " +
        "FROM w) " +
        "SELECT doc_id, CAST((s - 1) // 16 AS BIGINT) AS chunk_id, " +
        "CAST(len(ws[s : least(s + 31, len(ws))]) AS BIGINT) AS n_words, " +
        "md5(array_to_string(ws[s : least(s + 31, len(ws))], ' ')) AS chunk_md5 " +
        "FROM st ORDER BY doc_id, chunk_id")),

    ("x_fingerprint",
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"),
            TextFns.rollingHash(col("text")).as("roll_fp"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "[CAST(ascii(c) AS BIGINT) for c in string_split(text, '')]), " +
        "(a, b) -> (a * 31 + b) % 1000000007) AS roll_fp " +
        s"FROM $Docs ORDER BY doc_id")),

    ("x_shingle_fp",
      (s: SparkSession, d: String) =>
        graft.ext.Par.ensure(t(s, d, "documents").select("doc_id", "text"))
          .select(col("doc_id"), split(col("text"), " ").as("__ws"))
          .select(col("doc_id"),
            array_min(transform(Dedup.shinglesOfWords(col("__ws"), 3), x => md5(x))).as("fp"))
          .orderBy("doc_id"),
      Some(s"$ShingleCte SELECT doc_id, min(md5(s)) AS fp FROM u GROUP BY doc_id ORDER BY doc_id")),

    ("x_bpe_pairs", // BPE tokenizer training, round-1 candidate table
      // (Sennrich et al. 2016): adjacent char-pair counts over the
      // frequency-weighted vocab. The corpus is touched by ONE map-side-
      // combinable agg; every merge round after works on word TYPES
      // (corpus-size-independent — the trainer is Bpe.train, spec-tested
      // against a reference implementation).
      (s: SparkSession, d: String) =>
        graft.ext.Bpe.pairCounts(t(s, d, "documents"), "text")
          .orderBy(col("n").desc, col("pair"))
          .limit(20),
      Some("WITH v AS (SELECT w, count(*) AS freq FROM " +
        s"(SELECT unnest(string_split(text, ' ')) AS w FROM $Docs) GROUP BY w), " +
        "p AS (SELECT UNNEST([substr(w, i, 2) for i in generate_series(1, len(w) - 1)]) AS pair, " +
        "freq FROM v WHERE len(w) >= 2) " +
        "SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p GROUP BY pair " +
        "ORDER BY n DESC, pair LIMIT 20")),

    ("x_bpe_tokens", // BPE tokenizer APPLICATION in bulk: the frozen
      // Bpe.DemoMerges vocab applied to every doc via the native BpeEncode
      // expression (compiled kernel + per-task word memo, whole-stage
      // codegen, no UDF) — one corpus scan, zero shuffles. Gate checks the
      // md5 of the full token stream, so any per-word divergence fails
      // loudly. The pure-Catalyst fold (tokenizeBulk) and broadcast
      // big-vocab (tokenizeBulkBig) forms are spec-asserted token-equal.
      (s: SparkSession, d: String) =>
        graft.ext.Bpe.tokenizeBulkNative(t(s, d, "documents"), "doc_id", "text",
            graft.ext.Bpe.DemoMerges)
          .select(col("doc_id"),
            size(col("tokens")).cast("long").as("n_tokens"),
            md5(concat_ws(" ", col("tokens"))).as("tok_hash"))
          .orderBy("doc_id"),
      Some(bpeTokensSql)),

    ("x_winnow_fp", // full winnowing (Schleimer et al. 2003 / MOSS): window
      // min over 56-bit shingle hashes at density ~2/(w+1); per-doc audit
      // (gram count, print count, min/max print — order-free so the
      // engines' distinct orderings can't diverge).
      (s: SparkSession, d: String) =>
        graft.ext.Par.ensure(t(s, d, "documents").select("doc_id", "text"))
          .select(col("doc_id"), split(col("text"), " ").as("__ws"))
          .select(col("doc_id"),
            size(Dedup.shinglesOfWords(col("__ws"), 3)).cast("long").as("n_grams"),
            TextFns.winnowedPrints(col("__ws"), 3, 4).as("__p"))
          .select(col("doc_id"), col("n_grams"),
            size(col("__p")).cast("long").as("n_prints"),
            array_min(col("__p")).as("fp_min"),
            array_max(col("__p")).as("fp_max"))
          .orderBy("doc_id"),
      Some(s"$ShingleCte, h AS (SELECT doc_id, len(shingles) AS n_grams, " +
        s"[${hexToIntSql("substr(md5(g), 1, 14)")} for g in shingles] AS hs FROM sh), " +
        "wn AS (SELECT doc_id, n_grams, list_distinct(CASE WHEN len(hs) <= 4 " +
        "THEN [list_min(hs)] ELSE [list_min(hs[i:i+3]) " +
        "for i in generate_series(1, len(hs) - 3)] END) AS p FROM h) " +
        "SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, " +
        "CAST(len(p) AS BIGINT) AS n_prints, list_min(p) AS fp_min, " +
        "list_max(p) AS fp_max FROM wn ORDER BY doc_id")),

    ("x_winnow_pairs", // winnowed-print candidate pairs: docs sharing >= 2
      // prints — partial-overlap detection off a ~3x sparser index than the
      // full gram join, with the w+k-1-run guarantee. Frequency-capped
      // evidence, like every other pair join here.
      (s: SparkSession, d: String) =>
        Dedup.winnowPairs(t(s, d, "documents"), "text", "doc_id",
          shingleK = 3, window = 4, minShared = 2)
          .orderBy("a_id", "b_id"),
      Some(s"$ShingleCte, h AS (SELECT doc_id, " +
        s"[${hexToIntSql("substr(md5(g), 1, 14)")} for g in shingles] AS hs FROM sh), " +
        "wn AS (SELECT doc_id, UNNEST(list_distinct(CASE WHEN len(hs) <= 4 " +
        "THEN [list_min(hs)] ELSE [list_min(hs[i:i+3]) " +
        "for i in generate_series(1, len(hs) - 3)] END)) AS p FROM h), " +
        "f AS (SELECT p, count(*) AS fr FROM wn GROUP BY p), " +
        s"tk AS (SELECT doc_id, p FROM wn JOIN f USING (p) WHERE fr <= $CapSql) " +
        "SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS n_shared " +
        "FROM tk x JOIN tk y ON x.p = y.p AND x.doc_id < y.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY a_id, b_id")),

    // --------------------------------------------------------- multimodal --
    ("x_mm_bytes",
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            length(col("text").cast("binary")).cast("long").as("n_bytes"),
            lower(substring(hex(col("text").cast("binary")), 1, 16)).as("head8"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, " +
        s"lower(substr(hex(CAST(text AS BLOB)), 1, 16)) AS head8 FROM $Docs ORDER BY doc_id")),

    ("x_mm_decode", // stubbed codec (16-bin byte histogram), fully hash-checked:
      // the float normalization is exactly invertible — count = round(f * L)
      // recovers the integer bin count (|f32(c/L)*L - c| < c * 2^-23 << 0.5
      // for document-sized L), and with 16 bins the bin index of a byte IS its
      // high nibble, i.e. the first hex digit of the byte pair — which DuckDB
      // reads straight off hex(text::BLOB). Emitted as a CSV string because
      // the driver's comparator cannot sort/hash array cells.
      (s: SparkSession, d: String) =>
        Multimodal.decodeFeatures(
          Fixtures.attachFakeMedia(t(s, d, "documents"), "doc_id", "text"))
          .select(col("doc_id"), col("n_bytes"),
            concat_ws(",", transform(col("features"),
              f => round(f.cast("double") * col("n_bytes")).cast("long"))).as("bin_counts"))
          .orderBy("doc_id"),
      Some {
        val counts = "0123456789abcdef".map(dgt =>
          s"len(list_filter(range(CAST(octet_length(CAST(text AS BLOB)) AS INTEGER)), " +
            s"i -> substr(hx, 2 * i + 1, 1) = '$dgt'))").mkString(", ")
        s"SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, " +
          s"concat_ws(',', $counts) AS bin_counts " +
          s"FROM (SELECT doc_id, text, lower(hex(CAST(text AS BLOB))) AS hx FROM $Docs) " +
          "ORDER BY doc_id"
      }),

    ("x_mm_frames", // frame sampling as a pure expression: 8 evenly spaced
      // single-byte "frames" per media blob (no decode required — the real
      // video path samples containers the same way before any codec runs).
      // Emitted as hex CSV; offsets are exact integer arithmetic on both
      // engines (trunc(x+1) == floor(x)+1 for positive x).
      (s: SparkSession, d: String) =>
        Multimodal.frameSample(
          Fixtures.attachFakeMedia(t(s, d, "documents"), "doc_id", "text"), 8)
          .select(col("doc_id"),
            concat_ws(",", transform(col("frames"), f => lower(hex(f)))).as("frames_hex"))
          .orderBy("doc_id"),
      // DuckDB has no substr(BLOB,...): slice the hex rendering instead —
      // byte p of the blob is chars [2p-1, 2p] of hex(blob)
      Some("SELECT doc_id, array_to_string([lower(substr(hx, " +
        "2 * CAST(i * greatest(ln, 1) // 8 + 1 AS INT) - 1, 2)) " +
        "for i in generate_series(0, 7)], ',') AS frames_hex " +
        "FROM (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx, " +
        s"octet_length(CAST(text AS BLOB)) AS ln FROM $Docs) ORDER BY doc_id")),

    ("x_mm_resize", // REAL pixel resize, proven through the real decode path:
      // even ids carry genuine synthesized PNGs at the declared dims; resize
      // runs Graphics2D.drawImage + ImageIO.write re-encode; the emitted w/h
      // for image rows come from ImageIO DECODING the output bytes — a hash
      // match against the arithmetic clamp proves the pixels were scaled,
      // not just the metadata. Non-image rows take the metadata-clamp branch.
      (s: SparkSession, d: String) =>
        Multimodal.actualDims(
          Multimodal.resizeMedia(
            Multimodal.attachRealMedia(t(s, d, "documents"), "doc_id", "text"),
            48, 32))
          .orderBy("doc_id"),
      Some("SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format, " +
        "CAST(least(doc_id % 64 + 16, 48) AS INT) AS w, " +
        "CAST(least(doc_id % 48 + 16, 32) AS INT) AS h " +
        s"FROM $Docs ORDER BY doc_id")),

    ("x_mm_decode_jpeg", // REAL JPEG decode tier (VERDICT r12 item 7): even
      // ids carry genuine ffd8ff baseline-JPEG bytes (ImageIO-encoded at the
      // declared dims); actualDims sniffs the magic and REALLY decodes via
      // ImageIO, so a hash match of the emitted dims against the id formula
      // proves the JPEG path ran — dims are exact under lossy JPEG even
      // though pixels aren't. Odd rows take the metadata branch (wav).
      (s: SparkSession, d: String) =>
        Multimodal.actualDims(
          Multimodal.attachRealMediaJpeg(t(s, d, "documents"), "doc_id", "text"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'jpg' ELSE 'wav' END AS format, " +
        "CAST(doc_id % 64 + 16 AS INT) AS w, " +
        "CAST(doc_id % 48 + 16 AS INT) AS h " +
        s"FROM $Docs ORDER BY doc_id")),

    ("x_mm_frames_gif", // REAL multi-frame decode: even ids carry genuine
      // animated GIFs (doc_id%5+2 solid-color frames, exact indexed palette);
      // gifFrameStats reads the frame count from the CONTAINER, decodes 4
      // evenly spaced frames, and means their ACTUAL pixels — a hash match
      // against the synthesis formula proves the codec ran per frame, not
      // that metadata was echoed. Odd ids (plain bytes) take the total
      // fallback (0, ''). Frame i samples index i*nf/k, k = min(4, nf).
      (s: SparkSession, d: String) =>
        Multimodal.gifFrameStats(
          Multimodal.attachGifMedia(t(s, d, "documents"), "doc_id", "text"), 4)
          .orderBy("doc_id"),
      Some {
        val idx = "(i * nf // k)"
        s"SELECT doc_id, CAST(CASE WHEN doc_id % 2 = 0 THEN nf ELSE 0 END AS BIGINT) AS n_frames, " +
          "CASE WHEN doc_id % 2 = 0 THEN array_to_string([" +
          s"CAST($idx AS VARCHAR) || ':' || " +
          s"CAST((doc_id * 7 + $idx * 11) % 256 AS VARCHAR) || ':' || " +
          s"CAST((doc_id * 13 + $idx * 17) % 256 AS VARCHAR) || ':' || " +
          s"CAST((doc_id * 19 + $idx * 23) % 256 AS VARCHAR) " +
          "for i in range(k)], ',') ELSE '' END AS frames " +
          "FROM (SELECT doc_id, doc_id % 5 + 2 AS nf, " +
          s"least(4, doc_id % 5 + 2) AS k FROM $Docs) ORDER BY doc_id"
      }),

    ("x_mm_dhash", // REAL decode -> 64-bit dHash (difference hash), the
      // LAION/DataComp image fingerprint: even ids carry genuine 9x8
      // grayscale PNGs whose raw samples are an exact mod-251 polynomial of
      // (doc_id/8, doc_id%8); TYPE_BYTE_GRAY->PNG is lossless and lumaGrid
      // reads single-band rasters raw, so a hash match against the oracle's
      // arithmetic bit-sum proves the codec path produced the exact pixels.
      // Hex-rendered because bit 63 lives in BIGINT's sign; the oracle
      // assembles the same 16 digits from overflow-safe 32-bit halves.
      (s: SparkSession, d: String) =>
        Multimodal.dHashes(
          Multimodal.attachDHashMedia(t(s, d, "documents"), "doc_id", "text"))
          .filter(col("dhash").isNotNull)
          .select(col("doc_id"),
            lpad(lower(hex(col("dhash"))), 16, "0").as("dhash_hex"))
          .orderBy("doc_id"),
      Some(s"$DHashCte SELECT doc_id, lpad(lower(hex(hi)), 8, '0') || " +
        "lpad(lower(hex(lo)), 8, '0') AS dhash_hex FROM hsh ORDER BY doc_id")),

    ("x_mm_phash_dup", // image near-dup pairs at Hamming <= 3 via
      // Multi-Index Hashing (Norouzi et al., CVPR 2012): 4 disjoint 16-bit
      // substrings of the dHash, (band, key) equi-join — pigeonhole-LOSSLESS
      // at t = 3 — then an O(1) exact bit_count verify per candidate. The 4
      // even ids of each 8-id block share a gray pattern, differing only in
      // two single-bit-feeding jittered pixels, so clusters sit within
      // Hamming 2 while cross-group hashes land ~32 apart. Same shuffle
      // shape as the text-side LSH/SimHash pairers; no all-pairs product.
      (s: SparkSession, d: String) =>
        Multimodal.dHashPairs(
          Multimodal.dHashes(
            Multimodal.attachDHashMedia(t(s, d, "documents"), "doc_id", "text")),
          t = 3)
          .orderBy("a_id", "b_id"),
      Some(mihPairsSql(DHashCte))),

    ("x_mm_audio_fp", // REAL PCM decode -> 64-bit energy-envelope
      // fingerprint (Haitsma/Kalker ISMIR 2002, time axis): even ids carry
      // genuine mono PCM16 WAVs whose channel-0 samples follow an exact
      // mod-20001 polynomial per 32-sample window; javax.sound decodes them
      // back bit-exact, the box-mean |amplitude| of a constant window IS the
      // sample, so a hash match against the oracle's arithmetic bit-sum
      // proves the codec ran. Hex-rendered like x_mm_dhash (sign bit).
      (s: SparkSession, d: String) =>
        Multimodal.audioEnvelopeHashes(
          Multimodal.attachEnvelopeWavMedia(t(s, d, "documents"), "doc_id", "text"))
          .filter(col("afp").isNotNull)
          .select(col("doc_id"),
            lpad(lower(hex(col("afp"))), 16, "0").as("afp_hex"))
          .orderBy("doc_id"),
      Some(s"$AudioFpCte SELECT doc_id, lpad(lower(hex(hi)), 8, '0') || " +
        "lpad(lower(hex(lo)), 8, '0') AS afp_hex FROM hsh ORDER BY doc_id")),

    ("x_mm_audio_dup", // audio near-dup pairs at Hamming <= 3: the SAME MIH
      // pairer as x_mm_phash_dup over the envelope fingerprint — image and
      // audio dedup share one banded-join operator, only the per-row
      // feature extraction differs. Clusters are the 4 even ids per 8-id
      // block (jitter rides windows 0/64 -> bits 0/63 only).
      (s: SparkSession, d: String) =>
        Multimodal.dHashPairs(
          Multimodal.audioEnvelopeHashes(
            Multimodal.attachEnvelopeWavMedia(t(s, d, "documents"), "doc_id", "text")),
          t = 3, hashCol = "afp")
          .orderBy("a_id", "b_id"),
      Some(mihPairsSql(AudioFpCte))),

    ("x_mm_filter", // DataComp-style basic image filtering (min-side and
      // aspect-ratio gates) driven by DECODED dimensions: even ids' w/h come
      // from ImageIO reading real PNGs (the oracle's formula match proves
      // it), odd ids take the metadata contract. keep = min side >= 24 AND
      // aspect <= 2 (integer compare: max <= 2*min — no float ratio).
      (s: SparkSession, d: String) =>
        Multimodal.actualDims(
          Multimodal.attachRealMedia(t(s, d, "documents"), "doc_id", "text"))
          .select(col("doc_id"), col("w"), col("h"),
            (least(col("w"), col("h")) >= 24 &&
              greatest(col("w"), col("h")) <= least(col("w"), col("h")) * 2)
              .cast("int").as("keep"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(doc_id % 64 + 16 AS INT) AS w, " +
        "CAST(doc_id % 48 + 16 AS INT) AS h, " +
        "CAST(least(doc_id % 64 + 16, doc_id % 48 + 16) >= 24 AND " +
        "greatest(doc_id % 64 + 16, doc_id % 48 + 16) <= " +
        s"2 * least(doc_id % 64 + 16, doc_id % 48 + 16) AS INT) AS keep FROM $Docs " +
        "ORDER BY doc_id")),

    // ------------------------------------------- sampling / batching -------
    ("x_sample_stratified", // hash-threshold stratified sampling: keep iff
      // md5-derived pct < per-lang rate. Map-side filter (zero shuffles
      // before the tiny per-stratum audit agg), reproducible across runs and
      // engines — rand() would be neither.
      (s: SparkSession, d: String) =>
        Sampling.stratifiedSummary(t(s, d, "documents"), "doc_id", "lang",
          SampleRates),
      Some {
        val rateCase = "CASE lang " + SampleRates.toSeq.sorted
          .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") +
          " ELSE 0 END"
        s"SELECT lang, count(*) AS n_total, " +
          "CAST(sum(CASE WHEN pct < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
          s"FROM (SELECT lang, ${hexToIntSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)")} % 100 AS pct, " +
          s"$rateCase AS rate FROM $Docs) GROUP BY lang ORDER BY lang"
      }),

    ("x_source_mix", // temperature-based source mixing (alpha-sampling,
      // α=0.5): per-source keep rate ∝ sqrt(n)/n scaled to a 50% target
      // volume, capped at 100%. sqrt is correctly rounded (unlike pow) and
      // the weight is floored into a BIGINT immediately, so the weight sum
      // and the rate are pure integer arithmetic — bit-identical across
      // engines AND partition orders. Keep decision: hashPct(id) < rate.
      (s: SparkSession, d: String) =>
        Sampling.sourceMixSummary(t(s, d, "documents"), "doc_id", "source",
          targetPct = 50),
      Some("WITH c AS (SELECT source, count(*) AS n_total, " +
        "CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000) AS BIGINT) AS w " +
        s"FROM $Docs GROUP BY source), " +
        "t AS (SELECT CAST(sum(n_total) AS BIGINT) AS n_corpus, " +
        "CAST(sum(w) AS BIGINT) AS w_sum FROM c), " +
        "r AS (SELECT source, n_total, least(100, " +
        "(n_corpus * 50 // 100) * w * 100 // (w_sum * n_total)) AS rate_pct " +
        "FROM c, t) " +
        "SELECT source, CAST(r.n_total AS BIGINT) AS n_total, " +
        "CAST(rate_pct AS BIGINT) AS rate_pct, " +
        "CAST(sum(CASE WHEN pct < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        s"FROM (SELECT source, ${hexToIntSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)")} % 100 AS pct " +
        s"FROM $Docs) d JOIN r USING (source) " +
        "GROUP BY 1, 2, 3 ORDER BY source")),

    ("x_semdedup", // SemDeDup (Abbas et al. 2023): nearest-centroid cluster
      // assignment (the IVF write-time artifact), within-cluster pairwise
      // rounded cosine >= 0.3, keep-first survivor (min vec_id). The
      // clustering bounds the pair count at O(n^2/k) — never all-pairs.
      // Dynamic centroid-literal oracle, like x_ann_ivf.
      (s: SparkSession, d: String) =>
        graft.ext.Similarity.semDedup(
          t(s, d, "embeddings"), "vec_id", "embedding",
          graft.ext.Similarity.centroidsFor(s, d), threshold = 0.3)
          .orderBy("vec_id"),
      None),

    ("x_cluster_sample", // cluster-balanced diversity sampling: per-cluster
      // keep rate ~ sqrt(n)/n (big clusters downsample hard), decided by the
      // portable md5 hash pct — the semantic-diversity resampling pass after
      // SemDeDup. Integer rate arithmetic per the x_source_mix contract.
      // Dynamic centroid-literal oracle.
      (s: SparkSession, d: String) =>
        graft.ext.Similarity.clusterBalancedSample(
          t(s, d, "embeddings"), "vec_id", "embedding",
          graft.ext.Similarity.centroidsFor(s, d), boost = 4),
      None),

    ("x_distinct_sketch", // HLL++ vocabulary-cardinality audit: the exact
      // distinct-token count beside "the fixed-memory mergeable sketch
      // landed within 5%". Only the exact value + the bound verdict cross
      // the engine boundary (sketch internals are engine-specific; the
      // bound is not). rsd 0.02 vs 5% tol = 2.5-sigma headroom, and HLL is
      // RNG-free, so the verdict is deterministic for fixed data.
      (s: SparkSession, d: String) =>
        Sampling.distinctSketchAudit(
          t(s, d, "documents").select(explode(split(col("text"), " ")).as("w")),
          "w"),
      Some("SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact, " +
        "CAST(1 AS INT) AS sketch_ok " +
        s"FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $Docs)")),

    ("x_source_overlap", // cross-source NEAR-dup overlap matrix: J >= 0.2
      // pairs (the lossless prefix join) per unordered source pair — the
      // "how much of A duplicates B" table behind mix/decontamination
      // decisions. (The exact-fingerprint variant, sourceOverlapMatrix, is
      // spec-tested: this corpus has zero verbatim dups, so its gate query
      // would be a vacuous 0-row check.) Oracle: DIRECT all-pairs Jaccard
      // on the capped token universe — slower but independently derived.
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        Dedup.sourceOverlapFromPairs(
          Dedup.prefixJoinPairsFromStore(s, d, "doc_id", "text", threshold = 0.2),
          docs, "doc_id", "source")
          .orderBy("source_a", "source_b")
      },
      Some(s"$ShingleCte, ds AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh), " +
        "dd AS (SELECT DISTINCT doc_id, s FROM u), " +
        "f AS (SELECT s, count(*) AS fr FROM dd GROUP BY s), " +
        s"tokc AS (SELECT doc_id, s FROM dd JOIN f USING (s) WHERE fr <= $CapSql), " +
        "cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id " +
        "FROM tokc x JOIN tokc y ON x.s = y.s AND x.doc_id < y.doc_id), " +
        "p AS (SELECT a_id, b_id FROM cand " +
        "JOIN ds x ON x.doc_id = a_id JOIN ds y ON y.doc_id = b_id " +
        "WHERE CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / " +
        "(len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) >= 0.2) " +
        s"SELECT least(da.source, db.source) AS source_a, " +
        "greatest(da.source, db.source) AS source_b, count(*) AS n_pairs " +
        s"FROM p JOIN $Docs da ON da.doc_id = p.a_id " +
        s"JOIN $Docs db ON db.doc_id = p.b_id " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    ("x_pack_sequences", // token-budget sequence packing: hash-shard the
      // corpus, cumulative token count per shard in doc_id order, bin =
      // start-offset div budget. The window is per-shard (parallelism =
      // nShards, no global sort); bins never split a document.
      (s: SparkSession, d: String) =>
        Sampling.packSummary(t(s, d, "documents"), "doc_id",
          TextFns.tokenCount(col("text")), budget = 1000, nShards = 8),
      Some("WITH tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n, " +
        s"${hexToIntSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)")} % 8 AS shard FROM $Docs), " +
        "c AS (SELECT shard, doc_id, n, sum(n) OVER " +
        "(PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM tk) " +
        "SELECT shard, CAST((cum - n) // 1000 AS BIGINT) AS bin, count(*) AS n_docs, " +
        "CAST(sum(n) AS BIGINT) AS tokens FROM c GROUP BY 1, 2 ORDER BY shard, bin")),

    ("x_value_quantiles", // exact interpolated quantiles of a CONTINUOUS
      // column (events.value — every value effectively distinct, the case
      // x_token_quantiles' histogram shrink can't serve). Spark `percentile`
      // and DuckDB quantile_cont interpolate identically (verified
      // bit-for-bit incl. the .99 point); rounded to 6 for belt and braces.
      // Scale path: Sampling.valueQuantilesApprox (mergeable sketch),
      // rank-error-bounded against this exact form in SamplingSpec.
      (s: SparkSession, d: String) =>
        Sampling.valueQuantiles(t(s, d, "events"), "value",
          Seq(0.25, 0.5, 0.9, 0.99)).orderBy("q"),
      Some(Seq(0.25, 0.5, 0.9, 0.99).map(q =>
        s"SELECT CAST($q AS DOUBLE) AS q, " +
          s"round(quantile_cont(value, $q), 6) AS v FROM events")
        .mkString("", " UNION ALL ", " ORDER BY q"))),

    ("x_token_quantiles", // exact p50/p90/p99 of per-doc token counts via a
      // value-histogram: one shuffle shrinks the corpus to |distinct counts|
      // rows, the quantile walk runs over that. Rank k = (n*p + 99) div 100
      // in integer arithmetic — both engines pick the identical element.
      (s: SparkSession, d: String) =>
        Sampling.quantileSummary(
          t(s, d, "documents").select(TextFns.tokenCount(col("text")).as("n")),
          "n", Seq(50, 90, 99)),
      Some("WITH tk AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v " +
        s"FROM $Docs), h AS (SELECT v, count(*) AS c FROM tk GROUP BY v), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM tk), " +
        "cc AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum, tot FROM h, t) " +
        "SELECT CAST(min(tot) AS BIGINT) AS n_rows, " +
        "CAST(min(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN v END) AS BIGINT) AS p50, " +
        "CAST(min(CASE WHEN cum >= (tot * 90 + 99) // 100 THEN v END) AS BIGINT) AS p90, " +
        "CAST(min(CASE WHEN cum >= (tot * 99 + 99) // 100 THEN v END) AS BIGINT) AS p99 " +
        "FROM cc")),

    ("x_dedup_clusters", // pairs -> clusters: connected components over the
      // verified near-dup graph by min-label propagation (diameter-bounded
      // DataFrame join rounds). cluster_id = min reachable doc_id; the
      // keep-one-per-cluster decision is then `id == cluster_id`. Oracle:
      // recursive-CTE transitive closure over the same pair set. Pairs come
      // from the persisted pair store (the curation-time artifact; built
      // once per (data, config), shared with x_dedup_keep/x_dedup_keep_best
      // — the builder pipeline's cost stays measured by x_near_dup).
      (s: SparkSession, d: String) => {
        val pairs = Dedup.nearDupPairsFromStore(s, d, "doc_id", "text",
            threshold = 0.2)
          .select("a_id", "b_id")
        Dedup.dedupClusters(pairs)
          .select(col("id").as("doc_id"), col("cid").as("cluster_id"))
          .orderBy("doc_id")
      },
      Some(s"$ClusterCte SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id")),

    ("x_dedup_keep", // the dedup DECISION end-to-end: near-dup pairs ->
      // connected components -> keep-one-per-cluster (cluster min survives;
      // docs in no pair survive trivially). One row of corpus-level
      // accounting — the number a curation run reports.
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.nearDupPairsFromStore(s, d, "doc_id", "text",
            threshold = 0.2)
          .select("a_id", "b_id")
        val clusters = Dedup.dedupClusters(pairs)
          .select(col("id").as("doc_id"), col("cid"))
        docs.join(clusters, Seq("doc_id"), "left").agg(
          count(lit(1)).as("n_total"),
          sum(col("cid").isNotNull.cast("long")).as("n_in_pairs"),
          sum((col("cid").isNull || col("cid") === col("doc_id")).cast("long"))
            .as("n_kept"))
      },
      Some(s"$ClusterCte SELECT count(*) AS n_total, " +
        "CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_pairs, " +
        "CAST(sum(CASE WHEN c.doc_id IS NULL OR c.cluster_id = d.doc_id " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        s"FROM $Docs d LEFT JOIN clusters c ON d.doc_id = c.doc_id")),

    ("x_dedup_keep_best", // the survivor rule real curation uses: keep the
      // HIGHEST-quality doc per near-dup cluster (not min-id), doc_id as the
      // deterministic tiebreak — argmax-per-cluster, the Store.latest shape.
      // One row per cluster: (cluster_id, keep_id, best_q). Quality ranks on
      // the 6-dp-ROUNDED value — exactly the value x_text_quality hash-proves
      // bit-equal across engines — with doc_id tiebreak, so a sub-1e-6
      // cross-engine divergence between near-tied members can never swap the
      // survivor.
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.nearDupPairsFromStore(s, d, "doc_id", "text",
            threshold = 0.2)
          .select("a_id", "b_id")
        val clusters = Dedup.dedupClusters(pairs)
          .select(col("id").as("doc_id"), col("cid"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cid").orderBy(round(col("__q"), 6).desc, col("doc_id"))
        docs.join(clusters, Seq("doc_id"))
          .select(col("doc_id"), col("cid"), TextFns.qualityScore(col("text")).as("__q"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("cid").as("cluster_id"), col("doc_id").as("keep_id"),
            round(col("__q"), 6).as("best_q"))
          .orderBy("cluster_id")
      },
      Some(s"$ClusterCte SELECT cluster_id, keep_id, best_q FROM " +
        "(SELECT c.cluster_id, d.doc_id AS keep_id, " +
        s"round($QualitySql, 6) AS best_q, " +
        "row_number() OVER (PARTITION BY c.cluster_id " +
        s"ORDER BY round($QualitySql, 6) DESC, d.doc_id) AS rn " +
        s"FROM clusters c JOIN $Docs d ON d.doc_id = c.doc_id) " +
        "WHERE rn = 1 ORDER BY cluster_id")),

    ("x_tfidf_top", // distinctive terms per doc: tf-idf with an INTEGER
      // score (tf * 1e6 div df) so both engines rank identically — no libm
      // log in the hash path. Shape: tokens -> (doc,term) tf agg -> df agg
      // (vocabulary-sized, broadcast) -> join -> per-doc top-3 window. At
      // 100 TB the df table is the vocabulary, which fits a broadcast; if it
      // ever didn't, the join key (term) is already the shuffle key.
      (s: SparkSession, d: String) =>
        TextFns.distinctiveTerms(t(s, d, "documents"), "doc_id", "text", 3),
      Some("WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term " +
        s"FROM $Docs), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT doc_id, t.term, tf, df, tf * 1000000 // df AS score " +
        "FROM tf t JOIN df USING (term)), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, term) AS rn FROM sc) " +
        "SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, " +
        "CAST(score AS BIGINT) AS score FROM r WHERE rn <= 3 " +
        "ORDER BY doc_id, score DESC, term")),

    ("x_repetition", // Gopher-style repetition signal: 1 - distinct/total
      // shingles per doc. Repetitive boilerplate scores high and gets
      // flagged; pure per-row compute, no shuffle before the final sort.
      (s: SparkSession, d: String) => {
        val shingled = graft.ext.Par.ensure(
            t(s, d, "documents").select("doc_id", "text"))
          .select(col("doc_id"), split(col("text"), " ").as("__ws"))
          .select(col("doc_id"), Dedup.shinglesOfWords(col("__ws"), 3).as("sh"))
        val (n, dct, ratio) = TextFns.repetitionStats(col("sh"))
        shingled
          .select(col("doc_id"), n.as("n_shingles"), dct.as("n_distinct"),
            ratio.as("rep_ratio"))
          .withColumn("repetitive", (col("rep_ratio") > 0.01).cast("long"))
          .orderBy("doc_id")
      },
      Some(s"$ShingleCte SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles, " +
        "CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct, " +
        "round(1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE) / len(shingles), 6) AS rep_ratio, " +
        "CAST(round(1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE) / len(shingles), 6) > 0.01 " +
        "AS BIGINT) AS repetitive " +
        "FROM sh ORDER BY doc_id")),

    ("x_incr_near_dup", // corpus-refresh dedup: docs >= 250 are the "new
      // batch", probed against the existing corpus' PERSISTED band store
      // (< 250; Dedup.writeBands parquet, built once per JVM and read
      // thereafter — the ingest-time artifact at scale). Only the new batch
      // pays signature cost; old text is shingled only for candidate docs.
      // Banding is per-doc, so banding the two subsets separately equals
      // banding the union — which is what the oracle does, with the split
      // applied at the candidate join.
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val store = Td.readTable(s,
          Dedup.bandStorePathFor(s, d, "doc_id", "text", idUpperExclusive = 250L))
        Dedup.incrementalNearDupsFromBands(
          docs.filter(col("doc_id") >= 250), store, docs.filter(col("doc_id") < 250),
          "text", "doc_id", threshold = 0.2)
          .orderBy("new_id", "old_id")
      },
      Some(s"$SigCte, $BandsCte, " +
        "cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket " +
        "AND a.doc_id >= 250 AND b.doc_id < 250), " +
        "ds AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh) " +
        "SELECT new_id, old_id, CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / " +
        "(len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) AS jaccard " +
        "FROM cand JOIN ds x ON x.doc_id = new_id JOIN ds y ON y.doc_id = old_id " +
        "WHERE CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE) / " +
        "(len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset))) >= 0.2 " +
        "ORDER BY new_id, old_id")),

    ("x_bloom_new_docs", // Bloom-accelerated incremental EXACT dedup: docs
      // with doc_id % 10 < 2 are the refresh batch, the rest the ingested
      // corpus. The corpus compresses to a treeAggregate-built Bloom filter
      // probed in a codegen'd projection; definitely-new rows skip the
      // anti-join, only might-contain suspects pay the exact backstop —
      // output is EXACT at any fpp (the filter moves cost, not
      // correctness), so the oracle is the plain anti-join.
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        Dedup.bloomNewDocs(
          docs.filter(col("doc_id") % 10 < 2),
          docs.filter(col("doc_id") % 10 >= 2),
          // production passes the known corpus size instead of paying a
          // sizing count; an over-estimate only lowers the realized fpp
          "text", "doc_id", fpp = 0.01, expectedItems = 10000L)
          .orderBy("doc_id")
      },
      Some(s"SELECT doc_id, md5(text) AS content_hash FROM $Docs " +
        "WHERE doc_id % 10 < 2 AND md5(text) NOT IN " +
        s"(SELECT md5(text) FROM $Docs WHERE doc_id % 10 >= 2) " +
        "ORDER BY doc_id")),

    ("x_curation_funnel", // the end-to-end curation pipeline in one pass:
      // quality gate -> language gate -> stratum-free 60% sample -> near-dup
      // fingerprint dedup, reported as cumulative stage counts. One scan +
      // one (tiny) agg; every stage reuses an operator oracle-proven above.
      (s: SparkSession, d: String) => {
        val staged = graft.ext.Par.ensure(
            t(s, d, "documents").select("doc_id", "text", "lang"))
          .withColumn("__ws", split(col("text"), " "))
          .withColumn("fp",
            array_min(transform(Dedup.shinglesOfWords(col("__ws"), 3), x => md5(x))))
          .withColumn("q",
            round(TextFns.qualityScoreOfWords(col("text"), col("__ws")), 6) >= 0.5)
          .withColumn("l", col("lang").isin("en", "es", "fr"))
          .withColumn("smp", Sampling.hashPct(col("doc_id")) < 60)
        staged.agg(
          count(lit(1)).as("n_total"),
          sum(col("q").cast("long")).as("n_quality"),
          sum((col("q") && col("l")).cast("long")).as("n_lang"),
          sum((col("q") && col("l") && col("smp")).cast("long")).as("n_sampled"),
          countDistinct(when(col("q") && col("l") && col("smp"), col("fp")))
            .as("n_unique"))
      },
      Some {
        val quality = "round(greatest(least(" +
          "least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5 - " +
          "(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)) * 0.3 + " +
          "(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','to','a'))) AS DOUBLE) " +
          "/ greatest(len(string_split(text, ' ')), 1)) * 0.5 + 0.3, 1.0), 0.0), 6)"
        s"$ShingleCte, fp AS (SELECT doc_id, min(md5(s)) AS f FROM u GROUP BY doc_id), " +
          s"base AS (SELECT d.doc_id, $quality >= 0.5 AS q, " +
          "d.lang IN ('en', 'es', 'fr') AS l, " +
          s"${hexToIntSql("substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)")} % 100 < 60 AS smp, " +
          s"f FROM $Docs d JOIN fp ON d.doc_id = fp.doc_id) " +
          "SELECT count(*) AS n_total, " +
          "CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality, " +
          "CAST(sum(CASE WHEN q AND l THEN 1 ELSE 0 END) AS BIGINT) AS n_lang, " +
          "CAST(sum(CASE WHEN q AND l AND smp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled, " +
          "CAST(count(DISTINCT CASE WHEN q AND l AND smp THEN f END) AS BIGINT) AS n_unique " +
          "FROM base"
      }),

    ("x_stream_dedup_eq", // streaming-dedup batch equivalence: the corpus
      // replayed through firstSeenWins as a REAL multi-batch file stream
      // (doc_id-range chunks, maxFilesPerTrigger=1, parquet sink — no
      // driver collect on input or output) must reproduce the pure-SQL
      // first-seen ordinal assignment — the streaming operator family's
      // hash-checked entry (steady-state semantics stay spec-tested in
      // StreamingDedupSpec). Event time is monotone in doc_id and batches
      // arrive doc_id-ascending, so the oracle is a plain window over
      // (hash, doc_id).
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingDedup
          .firstSeenWinsFileRun(s, s"$d/documents.parquet",
            filesPerTrigger = 2)
          .select(col("doc_id"), col("content_hash"),
            col("is_first").cast("long").as("is_first"), col("dup_ordinal"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, md5(text) AS content_hash, " +
        "CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_first, " +
        "CAST(rn - 1 AS BIGINT) AS dup_ordinal FROM " +
        "(SELECT doc_id, text, row_number() OVER " +
        s"(PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM $Docs) " +
        "ORDER BY doc_id")),

    ("x_stream_neardup_eq", // streaming MinHash-LSH near-dup candidates:
      // the corpus replayed through the per-row-signature band stream +
      // (band, bucket)-keyed state as a REAL multi-batch file stream must
      // reproduce the batch candidate join's DISTINCT pair set. The per-row
      // signature (array_min over HOF-transformed shingle hashes — no
      // streaming aggregation, so the whole derivation is one stateful op)
      // is spec-pinned equal to the explode+groupBy batch signature; with
      // in-order arrival each bucket's emitted stream is exactly its
      // { (a, b) : a < b } set, so the oracle is the banding twin's
      // candidate join. Caps (batch retro-drop, stream saturation) are both
      // inert at gate scale — divergence documented in StreamingNearDup.
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingNearDup
          .candidatesFileRun(s, s"$d/documents.parquet", filesPerTrigger = 2)
          .select("a_id", "b_id").distinct()
          .orderBy("a_id", "b_id"),
      Some(s"$SigCte, $BandsCte " +
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket " +
        "AND a.doc_id < b.doc_id ORDER BY a_id, b_id")),

    ("x_stream_dedup_ooo", // exact streaming dedup under PERMUTED arrival
      // (the symmetric gate to x_stream_neardup_ooo): first-seen-wins
      // keepers now follow ARRIVAL order, so the per-doc is_first bits are
      // not the batch ones — the arrival-independent invariant is the
      // CONTENT-hash partition: exactly ONE keeper and a full duplicate
      // count per distinct content, which is what the oracle pins.
      (s: SparkSession, d: String) =>
        graft.streaming.StreamingDedup
          .firstSeenWinsFileRun(s, s"$d/documents.parquet",
            lateness = "36500 days", arrivalOrder = Seq(2, 0, 3, 1),
            filesPerTrigger = 2)
          .groupBy(col("content_hash"))
          .agg(sum(col("is_first").cast("long")).as("n_keepers"),
            count(lit(1)).as("n_docs"))
          .orderBy("content_hash"),
      Some(s"SELECT md5(text) AS content_hash, CAST(1 AS BIGINT) AS n_keepers, " +
        s"count(*) AS n_docs FROM $Docs GROUP BY 1 ORDER BY 1")),

    ("x_stream_neardup_ooo", // OUT-OF-ORDER arrival (VERDICT r11 item 8,
      // promoted from spec to gate): the chunk feed is permuted, so pairs
      // orient by ARRIVAL (a_id = whoever a bucket registered first) — the
      // invariant is the UNORDERED pair set, normalized here with
      // least/greatest before the distinct. Lateness is set far past the
      // fixture's event-time spread so the permutation exercises state
      // re-ordering, not watermark drops; same banding-twin oracle.
      (s: SparkSession, d: String) => {
        // 4 staged chunks (the stronger 4-element permutation), grouped 2
        // per micro-batch (r14): the per-batch constant IS the dominant
        // replay cost when measured batch-by-batch (~0.9 s/batch vs
        // ~0.65 s of chunk compute at sf1 — the r13 3-vs-4-chunk
        // reading that suggested otherwise was era noise).
        // Grouping keeps the cross-boundary inversion (chunks {2,0} land
        // before {3,1}) and the least/greatest normalization keeps the
        // output set chunking-proof.
        val raw = graft.streaming.StreamingNearDup
          .candidatesFileRun(s, s"$d/documents.parquet",
            lateness = "36500 days", arrivalOrder = Seq(2, 0, 3, 1),
            filesPerTrigger = 2)
        raw.select(least(col("a_id"), col("b_id")).as("a_id"),
            greatest(col("a_id"), col("b_id")).as("b_id"))
          .distinct().orderBy("a_id", "b_id")
      },
      Some(s"$SigCte, $BandsCte " +
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket " +
        "AND a.doc_id < b.doc_id ORDER BY a_id, b_id")),

    ("x_token_budget", // token-budget source capping: the mixture-spec
      // primitive real training mixes are written in (per-source token
      // quotas, cf. published LLaMA/GPT-3 mix tables). Docs fill each
      // source's budget in md5-priority order; keep = the maximal prefix
      // with running tokens <= budget (prefix semantics — overflow and
      // everything after it drops, deterministic and growth-stable at the
      // tail). One shuffle; running-sum window, no frame buffer.
      (s: SparkSession, d: String) =>
        Sampling.tokenBudgetKeep(t(s, d, "documents"), "doc_id", "source",
            "text", 20000L)
          .select("doc_id", "source", "n_tokens", "cum_tokens", "keep")
          .orderBy("doc_id"),
      Some(TokenBudgetOracleSql)),

    ("x_source_cap", // per-source quota (domain caps à la CCNet): keep the
      // cap lowest-id docs per source; one shuffle on source, deterministic
      // rank, summary audited per source.
      (s: SparkSession, d: String) =>
        Sampling.sourceCapSummary(t(s, d, "documents"), "doc_id", "source", 40),
      Some("SELECT source, count(*) AS n_total, " +
        "CAST(sum(CASE WHEN rn <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM (SELECT source, row_number() OVER " +
        s"(PARTITION BY source ORDER BY doc_id) AS rn FROM $Docs) " +
        "GROUP BY source ORDER BY source")),

    ("x_source_cap_salted", // the sourceCapKeep SCALE route: two-phase
      // top-k over md5-salt lanes (phase 1 ranks within (source, lane) so a
      // mega-source spreads over `salts` tasks; phase 2 re-ranks the ≤
      // salts·cap lane winners exactly). The keep SET is identical to the
      // single-window route — hash-checked here against the same oracle
      // ranking the plain x_source_cap uses.
      (s: SparkSession, d: String) =>
        Sampling.sourceCapKeep(t(s, d, "documents"), "doc_id", "source", 40,
            salts = 8)
          .select("doc_id", "source").orderBy("doc_id"),
      Some("SELECT doc_id, source FROM " +
        "(SELECT doc_id, source, row_number() OVER " +
        s"(PARTITION BY source ORDER BY doc_id) AS rn FROM $Docs) " +
        "WHERE rn <= 40 ORDER BY doc_id")),

    ("x_source_cap_auto", // the AUTO route (VERDICT r11 item 2): the salts
      // knob becomes a one-aggregation measured-skew decision (largest
      // single-source row count vs threshold) — plain here at gate scale,
      // salted on a mega-source; either way the keep set is the same
      // deterministic rank, so the oracle is the plain route's.
      (s: SparkSession, d: String) =>
        Sampling.sourceCapAuto(t(s, d, "documents"), "doc_id", "source", 40)
          .select("doc_id", "source").orderBy("doc_id"),
      Some("SELECT doc_id, source FROM " +
        "(SELECT doc_id, source, row_number() OVER " +
        s"(PARTITION BY source ORDER BY doc_id) AS rn FROM $Docs) " +
        "WHERE rn <= 40 ORDER BY doc_id")),

    ("x_token_budget_salted", // the tokenBudgetKeep SCALE route: the md5
      // priority key's own hex prefix is a deterministic range partitioning
      // of the sort order, so the running sum distributes as a prefix scan
      // (local cumsum within (source, bucket) + broadcast per-bucket
      // offsets). cum_tokens for EVERY row equals the single-window scan —
      // same oracle as x_token_budget, hash-exact.
      (s: SparkSession, d: String) =>
        Sampling.tokenBudgetKeep(t(s, d, "documents"), "doc_id", "source",
            "text", 20000L, rangeBuckets = 16)
          .select("doc_id", "source", "n_tokens", "cum_tokens", "keep")
          .orderBy("doc_id"),
      Some(TokenBudgetOracleSql)),

    ("x_token_budget_auto", // the AUTO route for the token budget: same
      // measured-skew decision as x_source_cap_auto (plain at gate scale,
      // 16/256 hex-prefix buckets on a mega-source), same cum_tokens/keep
      // contract — the oracle is the single-window scan's.
      (s: SparkSession, d: String) =>
        Sampling.tokenBudgetAuto(t(s, d, "documents"), "doc_id", "source",
            "text", 20000L)
          .select("doc_id", "source", "n_tokens", "cum_tokens", "keep")
          .orderBy("doc_id"),
      Some(TokenBudgetOracleSql)),

    ("x_split_assign", // hash-derived train/val/test split: assignment is a
      // pure function of doc_id, so eval membership survives corpus growth.
      // 90/5/5; audited per (lang, split).
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .groupBy(col("lang"), Sampling.splitAssign(col("doc_id"), 90, 5).as("split"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "split"),
      Some("SELECT lang, CASE WHEN pct < 90 THEN 'train' WHEN pct < 95 THEN 'val' " +
        "ELSE 'test' END AS split, count(*) AS n FROM " +
        s"(SELECT lang, ${hexToIntSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)")} % 100 AS pct " +
        s"FROM $Docs) GROUP BY 1, 2 ORDER BY lang, split")),

    ("x_decontaminate", // eval-set decontamination (GPT-3/Dolma n-gram
      // overlap): corpus docs sharing any 5-gram with the eval slice
      // (doc_id % 97 == 0), with the distinct-shared-gram count. Eval
      // n-grams broadcast (benchmarks are MBs against a 100 TB corpus);
      // the corpus side is explode -> equi-join -> per-doc agg, linear.
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        TextFns.contaminationHits(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 5)
          .orderBy("doc_id")
      },
      Some(s"${shingleCteOf(5)}, " +
        "dd AS (SELECT doc_id, UNNEST(list_distinct(shingles)) AS s FROM sh) " +
        "SELECT dd.doc_id, count(*) AS n_hits FROM dd " +
        "JOIN (SELECT DISTINCT s FROM dd WHERE doc_id % 97 = 0) ev USING (s) " +
        "WHERE dd.doc_id % 97 <> 0 GROUP BY 1 ORDER BY doc_id")),

    ("x_shuffle_order", // deterministic training-order shuffle: top-20 docs
      // by a salted-hash key (new epoch = new salt). Reproducible across
      // runs/engines where rand() is neither; top-k is
      // TakeOrderedAndProject — no full sort at corpus scale.
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), Sampling.shuffleHash(col("doc_id"), "epoch0").as("h"))
          .orderBy("h").limit(20),
      Some("SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h " +
        s"FROM $Docs ORDER BY h LIMIT 20")),

    // ------------------------------------------------- event-time joins ----
    ("x_asof_join", // as-of join: each purchase event attributed to the
      // latest signup of the same user at-or-before it (single-shuffle
      // union+window trick, plans/AsOf.scala). Oracle: per-left LATERAL
      // argmax with the same (ts desc, tie desc) pick order — NOT DuckDB's
      // ASOF JOIN, whose equal-ts tie-break among duplicate right rows is
      // unspecified. ts flows as epoch MICROS on both engines: Spark reads
      // the parquet's raw nanos (legacy nanosAsLong) and truncates with an
      // exact integer div; DuckDB's TIMESTAMP is already micros — nanos
      // would silently diverge in the sub-micro digits (and overflow
      // float64 exactness in the comparator).
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val left = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts"))
        val right = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), expr("ts div 1000").as("ts"),
            col("event_id").as("signup_id"))
        graft.plans.AsOf.asofJoin(left, right, Seq("user_id"), "ts",
          pick = Seq("signup_id"), tie = Some("signup_id"))
          .orderBy("event_id")
      },
      Some("WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events " +
        "WHERE event_type = 'purchase'), " +
        "r AS (SELECT user_id, epoch_us(ts) AS ts, event_id AS signup_id FROM events " +
        "WHERE event_type = 'signup') " +
        "SELECT l.event_id, l.user_id, l.ts, m.ts AS asof_ts, " +
        "m.signup_id AS asof_signup_id " +
        "FROM l LEFT JOIN LATERAL (" +
        "SELECT r.ts, r.signup_id FROM r " +
        "WHERE r.user_id = l.user_id AND r.ts <= l.ts " +
        "ORDER BY r.ts DESC, r.signup_id DESC LIMIT 1) m ON true " +
        "ORDER BY event_id")),

    ("x_asof_tol", // tolerance-gated as-of: same attribution, but signups
      // older than 2 days (in epoch-micros units) are nulled out — the
      // window-gating branch of AsOf.asofJoin (plans/AsOf.scala tolerance
      // param), which x_asof_join's unbounded variant never exercises.
      // 2 days sits near the match-age median on this data, so both the
      // kept and the nulled branch are non-vacuous at every SF. The oracle
      // gates INSIDE the LATERAL: latest-within-tolerance equals
      // latest-then-null-if-stale because ts DESC makes the latest match
      // also the youngest.
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val left = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts"))
        val right = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), expr("ts div 1000").as("ts"),
            col("event_id").as("signup_id"))
        graft.plans.AsOf.asofJoin(left, right, Seq("user_id"), "ts",
          pick = Seq("signup_id"), tie = Some("signup_id"),
          tolerance = Some(lit(172800000000L)))
          .orderBy("event_id")
      },
      Some("WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events " +
        "WHERE event_type = 'purchase'), " +
        "r AS (SELECT user_id, epoch_us(ts) AS ts, event_id AS signup_id FROM events " +
        "WHERE event_type = 'signup') " +
        "SELECT l.event_id, l.user_id, l.ts, m.ts AS asof_ts, " +
        "m.signup_id AS asof_signup_id " +
        "FROM l LEFT JOIN LATERAL (" +
        "SELECT r.ts, r.signup_id FROM r " +
        "WHERE r.user_id = l.user_id AND r.ts <= l.ts " +
        "AND l.ts - r.ts <= 172800000000 " +
        "ORDER BY r.ts DESC, r.signup_id DESC LIMIT 1) m ON true " +
        "ORDER BY event_id")),

    ("x_sessions", // gap-based sessionization (plans/Sessions.scala): new
      // session when the same-user gap exceeds 1 hour; per-session rollup
      // with integer-cents value sum (hash-stable — no double summation
      // order dependence). ts in epoch micros, same rationale as
      // x_asof_join.
      (s: SparkSession, d: String) =>
        graft.plans.Sessions.summary(
          t(s, d, "events").withColumn("ts", expr("ts div 1000")),
          "user_id", "ts",
          maxGap = 3600L * 1000000L, tie = "event_id",
          extra = Seq(sum(round(col("value") * 100).cast("long")).as("value_cents")))
          .orderBy("user_id", "session_id"),
      Some("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts, value FROM events), " +
        "w AS (SELECT *, CASE WHEN lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "> 3600000000 THEN 1 ELSE 0 END AS nw FROM e), " +
        "sess AS (SELECT *, sum(nw) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM w) " +
        "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, " +
        "min(ts) AS start_ts, max(ts) AS end_ts, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents " +
        "FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id")),

    // --------------------------------------------- web-archive ingestion ----
    ("x_main_content", // boilerplate removal (jusText/trafilatura slot —
      // RefinedWeb keeps article bodies, not whole-page text): split the
      // page into visual blocks, keep the ones that are long enough AND
      // link-sparse enough (division-free integer density compare), join
      // with newlines. The fixture's nav and footer both clear the length
      // gate but die on density; the h1/title die on length; two content
      // paragraphs survive — one carrying an inline link below the
      // threshold. Pure per-row regex chain, zero shuffles; the oracle
      // replays the split + per-block chain from the SAME constants.
      (s: SparkSession, d: String) =>
        Fixtures.attachBoilerHtml(docsPar(s, d, "doc_id", "text"), "doc_id", "text")
          .select(col("doc_id"),
            TextFns.mainContent(col("html")).as("main_text"))
          .withColumn("n_chars", length(col("main_text")).cast("long"))
          .orderBy("doc_id"),
      Some(s"WITH p AS (SELECT doc_id, " +
        s"${Fixtures.boilerHtmlSql("doc_id", "text")} AS h FROM $Docs), " +
        s"k AS (SELECT doc_id, ${mainContentSql("h")} AS main_text FROM p) " +
        "SELECT doc_id, main_text, " +
        "CAST(length(main_text) AS BIGINT) AS n_chars " +
        "FROM k ORDER BY doc_id")),

    ("x_warc_records", // WARC container parsing — the entry-point format
      // of every public web corpus (ISO 28500; Common Crawl ships WARC):
      // version-line record split, per-record header fields, and a
      // Content-Length-FRAMED payload (both fixture payloads contain
      // blank lines, so a parser that stops at the first CRLFCRLF inside
      // a payload hash-mismatches on payload_md5; content_length ==
      // payload_chars cross-checks the framing per engine). warcinfo's
      // NULL target URI pins optional-header passthrough. Zero shuffles.
      (s: SparkSession, d: String) => {
        val w = Fixtures.attachWarc(
          Fixtures.attachUrls(docsPar(s, d, "doc_id", "text", "source"),
            "doc_id", "source"),
          "doc_id", "text", "url")
        graft.ext.Warc.records(w, "doc_id", "warc")
          .select(col("doc_id"), col("rec_pos"), col("warc_type"),
            col("target_uri"), col("warc_date"), col("content_length"),
            length(col("payload")).cast("long").as("payload_chars"),
            md5(col("payload")).as("payload_md5"))
          .orderBy("doc_id", "rec_pos")
      },
      Some(WarcParseCtes + " " +
        "SELECT doc_id, CAST(rec_pos AS BIGINT) AS rec_pos, warc_type, " +
        "target_uri, warc_date, content_length, " +
        "CAST(length(payload) AS BIGINT) AS payload_chars, " +
        "md5(payload) AS payload_md5 FROM pp ORDER BY doc_id, rec_pos")),

    ("x_warc_wet", // the WET conversion: response records -> HTTP layer
      // opened (status line, header/body split) -> whole-page text through
      // the SAME stripHtml chain as x_html_extract — the record type
      // Common Crawl derives for text-only consumers. The fixture's 404s
      // (every 5th doc) must drop at the 2xx filter.
      (s: SparkSession, d: String) => {
        val w = Fixtures.attachWarc(
          Fixtures.attachUrls(docsPar(s, d, "doc_id", "text", "source"),
            "doc_id", "source"),
          "doc_id", "text", "url")
        graft.ext.Warc.wetText(graft.ext.Warc.records(w, "doc_id", "warc"))
          .select(col("doc_id"), col("rec_pos"), col("target_uri"),
            col("warc_date"), col("http_status"), col("text"))
          .orderBy("doc_id")
      },
      Some(WarcHttpCtes + " " +
        "SELECT doc_id, CAST(rec_pos AS BIGINT) AS rec_pos, target_uri, " +
        "warc_date, http_status, " +
        regexChainSql("body", TextFns.StripHtmlSteps) + " AS text " +
        "FROM bod WHERE http_status >= 200 AND http_status < 300 " +
        "ORDER BY doc_id")),

    ("x_warc_curate", // the end-to-end ingestion→curation composition:
      // WARC container → response records → HTTP layer → MAIN-CONTENT
      // extraction (not whole-page text — the nav/footer die before
      // quality ever sees them) → token count + quality score → keep
      // decision. This is the "WARC in, curated text out" spine of a
      // public-web training pipeline, hash-exact across both engines;
      // still zero shuffles — every stage is a per-row map.
      (s: SparkSession, d: String) => {
        val w = Fixtures.attachWarc(
          Fixtures.attachUrls(docsPar(s, d, "doc_id", "text", "source"),
            "doc_id", "source"),
          "doc_id", "text", "url")
        graft.ext.Warc.httpResponses(
          graft.ext.Warc.records(w, "doc_id", "warc"))
          .filter(col("http_status") >= 200 && col("http_status") < 300)
          .withColumn("text", TextFns.mainContent(col("body")))
          .select(col("doc_id"),
            TextFns.tokenCount(col("text")).as("n_tokens"),
            round(TextFns.qualityScore(col("text")), 6).as("quality"))
          .withColumn("keep", col("quality") >= 0.5 && col("n_tokens") >= 5)
          .orderBy("doc_id")
      },
      Some(WarcHttpCtes + ", " +
        s"mc AS (SELECT doc_id, ${mainContentSql("body")} AS text FROM bod " +
        "WHERE http_status >= 200 AND http_status < 300), " +
        s"q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        s"round($QualitySql, 6) AS quality FROM mc) " +
        "SELECT doc_id, n_tokens, quality, " +
        "(quality >= 0.5 AND n_tokens >= 5) AS keep FROM q ORDER BY doc_id")),

    ("x_robots_sitemap", // the Sitemap: directive — per the sitemaps.org
      // robots extension it is FILE-WIDE, not group-scoped, so a directive
      // inside the `evil` group must STILL surface (the opposite of every
      // group-scoped robots gate; a group-scoped reader drops rows). This
      // is the discovery edge that closes the sitemap loop: robots names
      // the sitemap URLs, sitemapEntries parses the fetched files,
      // discoveredWithSitemaps feeds the frontier. Fixture rotates casing,
      // indentation, missing space after the colon, an EOL comment that
      // must cut, and hosts with one/two/three directives.
      (s: SparkSession, d: String) => {
        val u = Fixtures.attachUrls(t(s, d, "documents"), "doc_id", "source")
        val hosts = u.select(
          Url.hostOf(Url.canonicalKey(col("url"))).as("host")).distinct()
        val dig = regexp_extract(col("host"), "-([0-9]+)\\.", 1).cast("int")
        val robots = hosts.withColumn("txt", concat(
          lit("User-agent: *\nDisallow: /x\nSitemap: https://"), col("host"),
          lit("/sitemap.xml\n"),
          when(dig % 2 === 0, concat(lit("  SiteMap:https://cdn-"),
            (dig % 4).cast("string"), lit(".example.org/sm/"),
            (dig % 5).cast("string"), lit(".xml # index\n"))).otherwise(lit("")),
          lit("User-agent: evil\nDisallow: /\n"),
          when(dig % 3 === 0, concat(lit("sitemap: https://"), col("host"),
            lit("/in-group.xml\n"))).otherwise(lit(""))))
        graft.ext.Robots.sitemapUrls(robots, "host", "txt")
          .orderBy("host", "sm_pos")
      },
      Some {
        val nl = " || chr(10) || "
        val dig = "CAST(regexp_extract(host, '-([0-9]+)\\.', 1) AS INTEGER)"
        val txt = "'User-agent: *'" + nl + "'Disallow: /x'" + nl +
          "'Sitemap: https://' || host || '/sitemap.xml'" + nl +
          s"(CASE WHEN $dig % 2 = 0 THEN '  SiteMap:https://cdn-' || " +
          s"CAST($dig % 4 AS VARCHAR) || '.example.org/sm/' || " +
          s"CAST($dig % 5 AS VARCHAR) || '.xml # index' || chr(10) " +
          "ELSE '' END)" +
          " || 'User-agent: evil'" + nl + "'Disallow: /'" + nl +
          s"(CASE WHEN $dig % 3 = 0 THEN 'sitemap: https://' || host || " +
          "'/in-group.xml' || chr(10) ELSE '' END)"
        s"$UrlCte, hosts AS (SELECT DISTINCT ${urlHostSql("key")} AS host FROM k), " +
          s"rob AS (SELECT host, $txt AS txt FROM hosts), " +
          "m AS (SELECT host, regexp_extract_all(txt, " +
          "'(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*([^\\r\\n#]+)', 1) AS ms FROM rob), " +
          "un AS (SELECT host, unnest(generate_series(1, len(ms))) AS sm_pos, " +
          "unnest(ms) AS v FROM m) " +
          "SELECT host, CAST(sm_pos AS BIGINT) AS sm_pos, trim(v) AS sitemap_url " +
          "FROM un WHERE trim(v) <> '' ORDER BY host, sm_pos"
      }))
}
