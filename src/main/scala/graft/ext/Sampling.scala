package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus sampling / batching operators for an LLM training-data pipeline
  * (beyond the reference, per the builder brief — like `Dedup`/`Similarity`).
  *
  * All randomness is hash-derived (md5 of the stable doc id), never `rand()`:
  * the sample is reproducible across runs, engines, and partitionings, and a
  * re-run over grown data keeps previously-kept documents kept (the property
  * training-data pipelines need for incremental corpus refreshes).
  *
  * Scale shapes:
  *  - stratified sampling is a map-side filter — zero shuffles before the
  *    (tiny) per-stratum summary agg;
  *  - sequence packing shards the corpus by hash first, then runs the
  *    cumulative-sum window WITHIN each shard — no global sort, parallelism
  *    = nShards, each shard's window is a single local sort;
  *  - quantiles shrink to a value-histogram first (one shuffle to ~hundreds
  *    of rows), then window over the histogram — never a global sort of the
  *    corpus, never a collect of raw values.
  */
object Sampling {

  /** Deterministic [0,100) percentile bucket for a document id: first 4 hex
    * chars of md5 (16 bits, uniform) mod 100. DuckDB reproduces it exactly
    * (ExtQueries.hexToIntSql). */
  def hashPct(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % 100

  /** Deterministic training-order shuffle key: md5 over a salted id. A new
    * epoch's reshuffle is a new salt — reproducible across runs and engines
    * (`rand()` is neither) and stable under corpus growth. Global top-k by
    * this key is TakeOrderedAndProject (no full sort); materializing a full
    * shuffled corpus sorts WITHIN output partitions by the same key after a
    * hash repartition on it — no global order needed for training shards. */
  def shuffleHash(id: Column, salt: String): Column =
    md5(concat_ws(":", lit(salt), id.cast("string")))

  /** Keep a document iff hashPct(id) < rate(stratum); unknown strata drop. */
  def stratifiedKeep(id: Column, stratum: Column, rates: Map[String, Int]): Column = {
    val rate = rates.foldLeft(lit(0)) { case (acc, (k, v)) =>
      when(stratum === k, lit(v)).otherwise(acc)
    }
    hashPct(id) < rate
  }

  /** Per-stratum sample audit: total vs kept under the rate table. */
  def stratifiedSummary(docs: DataFrame, idCol: String, stratumCol: String,
                        rates: Map[String, Int]): DataFrame =
    docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_total"),
        sum(stratifiedKeep(col(idCol), col(stratumCol), rates).cast("long"))
          .as("n_kept"))
      .orderBy(stratumCol)

  /** Hash-shard for packing: first 2 hex chars of md5(id) mod nShards. */
  def hashShard(id: Column, nShards: Int): Column =
    conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("long") % nShards

  /** Contiguous sequence packing: within each hash shard, walk documents in
    * id order accumulating token counts; a document's bin is where its START
    * offset falls — floor((cum - n) / budget) — so every bin except a shard's
    * last holds >= budget tokens and no document is split. Returns one row
    * per (shard, bin) with doc/token totals. The window never sees more than
    * one shard: parallelism is nShards, not 1. */
  def packSummary(docs: DataFrame, idCol: String, tokens: Column,
                  budget: Int, nShards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), tokens.as("n_tokens"),
        hashShard(col(idCol), nShards).as("shard"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) div $budget"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .orderBy("shard", "bin")
  }

  /** Per-source quota: keep at most `cap` documents per source, chosen
    * deterministically (lowest ids win — any stable priority column works).
    *
    * `salts = 1` (default): one shuffle on source; a skewed mega-source is
    * ONE window task — fine until sources get pathological (a source holding
    * 50% of a 100 TB corpus serializes half the scan through one core).
    *
    * `salts > 1` (the scale route): classic two-phase top-k. Phase 1 windows
    * within (source, md5-salt lane) — the mega-source spreads over `salts`
    * tasks — keeping each lane's `cap` lowest ids; the global lowest-`cap`
    * set is a subset of the union of lane winners (every global winner wins
    * its own lane), so phase 2's exact re-rank runs over ≤ salts·cap rows
    * per source — BOUNDED, corpus-size-independent — and emits the identical
    * keep set (spec-pinned equal, plus hash-checked by the
    * `x_source_cap_salted` gate against the same oracle as the plain route).
    * Cost: one extra (tiny) shuffle; pick salts ≈ executor count. */
  def sourceCapKeep(docs: DataFrame, idCol: String, sourceCol: String,
                    cap: Int, salts: Int = 1): DataFrame =
    if (salts <= 1)
      docs.withColumn("__rn", row_number().over(
          Window.partitionBy(sourceCol).orderBy(idCol)))
        .filter(col("__rn") <= cap).drop("__rn")
    else {
      val lanes = docs.withColumn("__lane",
        conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
          .cast("long") % salts)
      val laneWinners = lanes.withColumn("__rn", row_number().over(
          Window.partitionBy(col(sourceCol), col("__lane")).orderBy(idCol)))
        .filter(col("__rn") <= cap)
      laneWinners.withColumn("__rn2", row_number().over(
          Window.partitionBy(sourceCol).orderBy(idCol)))
        .filter(col("__rn2") <= cap)
        .drop("__rn", "__rn2", "__lane")
    }

  /** Per-source audit of the quota: total vs kept vs the cap. */
  def sourceCapSummary(docs: DataFrame, idCol: String, sourceCol: String,
                       cap: Int): DataFrame =
    docs.withColumn("__rn", row_number().over(
        Window.partitionBy(sourceCol).orderBy(idCol)))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_total"),
        sum((col("__rn") <= cap).cast("long")).as("n_kept"))
      .orderBy(sourceCol)

  /** Token-budget source capping — the mixture-spec primitive real
    * training mixes are written in (per-source TOKEN quotas, not doc
    * counts; cf. the published LLaMA/GPT-3 data-mix tables): each source's
    * documents fill their budget in the deterministic md5-priority order
    * every sampler here uses, and `keep` marks the maximal prefix whose
    * running token total stays ≤ `budgetTokens`. PREFIX semantics — a
    * document that overflows the budget is dropped and so is everything
    * after it in priority order (its tokens still count toward later
    * cumsums), so the kept set is a stable prefix that only moves at the
    * tail as the budget moves; greedy fill-then-stop, not bin packing.
    * Tokens are the engine's whitespace count.
    *
    * `rangeBuckets = 1` (default): one shuffle (window by source) — per-
    * source ordering is the operator's semantics, so a giant source IS the
    * partition; fine until a mega-source serializes its whole scan through
    * one window task.
    *
    * `rangeBuckets = 16 | 256` (the scale route): a distributed prefix scan.
    * The priority key IS an md5 string, so its first 1–2 hex chars are a
    * DETERMINISTIC, uniform range partitioning of the sort order (every key
    * in bucket b sorts before every key in bucket b+1 — the bucket is a
    * prefix of the key itself; no sampling, no skew). Phase 1 runs the
    * running sum within (source, bucket) — the mega-source spreads over
    * `rangeBuckets` tasks; phase 2 computes per-(source, bucket) totals (a
    * tiny frame: |sources|·buckets rows), turns them into prefix offsets
    * with a window over that frame, and joins them back (null-safe keys,
    * broadcast left to AQE):
    * cum = local_cum + offset, EXACTLY the single-window number (spec-pinned
    * equal, plus hash-checked by `x_token_budget_salted` against the same
    * oracle). Unlike [[sourceCapKeep]]'s top-k route this cannot prune —
    * the contract emits cum_tokens for every row, kept or not. */
  def tokenBudgetKeep(docs: DataFrame, idCol: String, sourceCol: String,
                      textCol: String, budgetTokens: Long,
                      rangeBuckets: Int = 1): DataFrame = {
    val nTok = size(split(coalesce(col(textCol), lit("")), " ")).cast("long")
    if (rangeBuckets <= 1) {
      val w = Window.partitionBy(sourceCol)
        .orderBy(md5(col(idCol).cast("string")), col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("n_tokens", nTok)
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("keep", (col("cum_tokens") <= budgetTokens).cast("int"))
    } else {
      require(rangeBuckets == 16 || rangeBuckets == 256,
        "rangeBuckets must be a hex-prefix width: 16 (1 char) or 256 (2 chars)")
      val pfx = if (rangeBuckets == 256) 2 else 1
      val withK = docs.withColumn("n_tokens", nTok)
        .withColumn("__k", md5(col(idCol).cast("string")))
        .withColumn("__b", conv(substring(col("__k"), 1, pfx), 16, 10).cast("long"))
      val wLoc = Window.partitionBy(col(sourceCol), col("__b"))
        .orderBy(col("__k"), col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = withK.withColumn("__cum_loc", sum(col("n_tokens")).over(wLoc))
      val wOff = Window.partitionBy(col(sourceCol)).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = withK.groupBy(col(sourceCol), col("__b"))
        .agg(sum("n_tokens").as("__t"))
        .withColumn("__off", sum(col("__t")).over(wOff) - col("__t"))
        .select(col(sourceCol).as("__src_o"), col("__b").as("__b_o"),
          col("__off"))
      // NULL-SAFE join keys: a NULL source (or NULL id -> NULL md5 -> NULL
      // bucket) forms its own window group on BOTH routes, but a plain
      // equi-join would drop those rows here and silently violate the
      // "cum_tokens for every row" contract the single-window route keeps.
      // No broadcast hint either: offsets is |distinct sources|·buckets
      // rows — tiny for curated source labels, but for per-DOMAIN sources
      // at web scale it is millions of rows, and a forced broadcast would
      // fail exactly at the scale this route exists for; AQE broadcasts it
      // when it is actually small.
      local.join(offsets,
          col(sourceCol) <=> col("__src_o") && col("__b") <=> col("__b_o"))
        .withColumn("cum_tokens", col("__cum_loc") + col("__off"))
        .withColumn("keep", (col("cum_tokens") <= budgetTokens).cast("int"))
        .drop("__k", "__b", "__cum_loc", "__off", "__src_o", "__b_o")
    }
  }

  /** Temperature-based source mixing — the data-mix rebalance multilingual /
    * multi-source training runs use (alpha-sampling): per-source keep rate
    * ∝ n_s^α / n_s with α = 0.5, scaled so the expected kept volume is
    * `targetPct`% of the corpus, capped at 100%. Small sources keep ~all
    * their documents, dominant sources are downsampled toward sqrt share.
    *
    * α is fixed at 0.5 (sqrt) deliberately: IEEE-754 sqrt is correctly
    * rounded (pow is not), and the per-source weight is floored into a
    * BIGINT immediately — so the weight sum, the target volume, and the
    * final rate are all INTEGER arithmetic, bit-identical across engines
    * AND across partition orders (a float sum over sources would depend on
    * aggregation order). The keep decision reuses [[hashPct]]: keep iff
    * hashPct(id) < rate_pct — deterministic and growth-stable like every
    * sampler here. At extreme scale swap the BIGINT products for DECIMAL:
    * T·w·100 overflows int64 once the corpus passes ~10^12 docs.
    *
    * Scale shape: the rate table is |sources| rows (one shuffle to a tiny
    * frame), broadcast back; the keep flag is then a map-side join. */
  def sourceMixRates(docs: DataFrame, sourceCol: String,
                     targetPct: Int): DataFrame = {
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("w", floor(sqrt(col("n_total").cast("double")) * 1000.0)
        .cast("long"))
    val tot = counts.agg(sum("n_total").as("n_corpus"), sum("w").as("w_sum"))
    counts.crossJoin(broadcast(tot))
      .withColumn("rate_pct", least(lit(100L),
        expr(s"(n_corpus * $targetPct div 100) * w * 100 div (w_sum * n_total)")))
      .select(col(sourceCol), col("n_total"), col("rate_pct"))
  }

  /** Per-source audit of the mix: totals, the integer keep rate, and the
    * documents actually kept under hashPct — the table a mix rebalance
    * publishes before a training run. */
  def sourceMixSummary(docs: DataFrame, idCol: String, sourceCol: String,
                       targetPct: Int): DataFrame =
    docs.join(broadcast(sourceMixRates(docs, sourceCol, targetPct)),
        Seq(sourceCol))
      .groupBy(col(sourceCol))
      .agg(min("n_total").as("n_total"), min("rate_pct").as("rate_pct"),
        sum((hashPct(col(idCol)) < col("rate_pct")).cast("long")).as("n_kept"))
      .orderBy(sourceCol)

  /** Deterministic train/val/test assignment off the same md5 percentile:
    * [0,train) -> train, [train,train+valPct) -> val, rest -> test. A doc's
    * split never changes as the corpus grows — the property that keeps eval
    * sets uncontaminated across refreshes. */
  def splitAssign(id: Column, trainPct: Int, valPct: Int): Column = {
    val pct = hashPct(id)
    when(pct < trainPct, "train")
      .when(pct < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Exact corpus quantiles via value-histogram: groupBy value (the shrink —
    * one shuffle down to |distinct values| rows), cumulative count over the
    * tiny histogram, then the p-th value is the smallest with cum >= k_p
    * where k_p = ceil(p% * n) computed in INTEGER arithmetic ((n*p + 99)
    * div 100) so both engines pick the identical element — no float
    * interpolation to drift.
    *
    * Scale caveat: the shrink only helps when |distinct values| << n (true
    * for token counts, lengths, small-int features). For continuous values
    * bucket first (e.g. `round(v, 2)` or a width_bucket) — an unbucketed
    * continuous column degenerates the histogram to corpus size and the
    * single-partition window becomes the bottleneck. */
  def quantileSummary(values: DataFrame, valueCol: String,
                      ps: Seq[Int]): DataFrame = {
    val hist = values.groupBy(col(valueCol).as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = values.agg(count(lit(1)).as("tot"))
    val aggs = min("tot").as("n_rows") +:
      ps.map(p => min(when(col("cum") >= expr(s"(tot * $p + 99) div 100"),
        col("v"))).as(s"p$p"))
    hist.withColumn("cum", sum("c").over(w))
      .crossJoin(tot)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Exact interpolated quantiles of a CONTINUOUS column via Spark's
    * `percentile` aggregate — the path [[quantileSummary]]'s histogram
    * shrink can't serve (every value distinct). Output: one (q, v) row per
    * requested quantile. Cross-engine exact: Spark's linear interpolation
    * matches DuckDB's quantile_cont bit-for-bit on this data (verified at
    * sf0.01 and sf0.1 including the .99 interpolation).
    *
    * Scale stance: `percentile` buffers the column per partial aggregate —
    * the correctness anchor, fine up to ~10⁸ rows per executor. */
  def valueQuantiles(df: DataFrame, valueCol: String,
                     qs: Seq[Double]): DataFrame = {
    val qArr = qs.map(q => s"${q}D").mkString("array(", ", ", ")")
    df.agg(expr(s"percentile($valueCol, $qArr)").as("__vs"))
      .select(posexplode(col("__vs")).as(Seq("__i", "__v")))
      .select(
        element_at(typedLit(qs), col("__i").cast("int") + 1).as("q"),
        round(col("__v"), 6).as("v"))
  }

  /** HLL++ cardinality-sketch audit: exact distinct count beside a boolean
    * "the mergeable sketch landed within `tolPct`%". The sketch is the
    * 100 TB path (fixed memory, partial-mergeable — a vocabulary count over
    * exploded tokens never builds a distinct hash table per partition);
    * the exact count anchors it, and only the exact value plus the bound
    * VERDICT cross the engine boundary — sketch internals are
    * engine-specific by nature, the bound is not. Deterministic for fixed
    * data: HLL has no RNG, so the gate either always passes or the rsd is
    * mis-sized (rsd 0.02 vs a 5% tolerance ≈ 2.5σ headroom). */
  def distinctSketchAudit(df: DataFrame, valueCol: String,
                          rsd: Double = 0.02, tolPct: Int = 5): DataFrame =
    df.agg(
        countDistinct(col(valueCol)).as("n_exact"),
        approx_count_distinct(valueCol, rsd).as("__n_approx"))
      .select(col("n_exact"),
        (abs(col("__n_approx") - col("n_exact")) * 100 <=
          col("n_exact") * tolPct).cast("int").as("sketch_ok"))

  /** Count-min-sketch heavy-hitter audit — the frequency twin of
    * [[distinctSketchAudit]]: exact top-k token counts beside the boolean
    * "the mergeable sketch's estimate respects its guarantee". The sketch
    * is the 100 TB path for per-token frequencies (fixed d×w counter grid,
    * map-side partial, merge = counter addition — commutative, so the
    * result is bit-deterministic under ANY partitioning, unlike
    * order-sensitive sketches); the exact top-k anchors it. Guarantee
    * (Cormode & Muthukrishnan 2005): est ≥ true always, and
    * est ≤ true + eps·N with probability 1−δ per item — eps·N is plain
    * arithmetic both engines can state, so only exact counts and the
    * verdict cross the engine boundary. Fixed seed ⇒ fixed hash rows ⇒
    * deterministic verdict for fixed data. */
  def cmsTopKAudit(df: DataFrame, valueCol: String, k: Int,
                   eps: Double = 0.0001, confidence: Double = 0.99): DataFrame = {
    val spark = df.sparkSession
    val bytes = df.agg(count_min_sketch(col(valueCol), lit(eps),
        lit(confidence), lit(42)).as("__cms"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val slack = math.ceil(eps * cms.totalCount()).toLong
    val top = df.groupBy(col(valueCol).as("w"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w"))
      .limit(k).collect()
      .map { r =>
        val est = cms.estimateCount(r.getString(0))
        (r.getString(0), r.getLong(1),
          if (est >= r.getLong(1) && est <= r.getLong(1) + slack) 1 else 0)
      }
    import spark.implicits._
    top.toSeq.toDF("w", "n_exact", "sketch_ok")
  }

  // ------------------------------------------------------------------ auto
  // Measured skew routing for the capping family (VERDICT r11 item 2): the
  // plain-vs-scale-route knobs (`salts`, `rangeBuckets`) become an auto
  // decision from a one-aggregation probe, the winnowPairs measured-routing
  // pattern (Dedup.scala) — route on what the data IS, not on a user guess.

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Largest single-source row count one window task is allowed to sort
    * before the capping operators switch to their scale routes. The plain
    * routes put a whole source through ONE task; the 30 M-row receipt
    * `bench_history/CAPSKEW_r11_30m.json` measured the flip being worth it
    * well below this, but the scale routes carry an extra (tiny) shuffle
    * that is pure overhead at gate scale — so the default only flips when a
    * source is genuinely window-task-hostile. Overridable per call (and by the
    * probe/spec) via the `skewRowThreshold` parameter. */
  val AutoSkewRowThreshold = 2000000L

  /** One-aggregation skew probe: (largest single-source row count, total).
    * A groupBy-count is map-side-combined — at 100 TB this reads as one
    * pass producing |sources| rows, orders cheaper than the window sort it
    * protects against. */
  def maxSourceRows(docs: DataFrame, sourceCol: String): (Long, Long) = {
    val r = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .agg(coalesce(max("__n"), lit(0L)), coalesce(sum("__n"), lit(0L)))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  /** [[sourceCapKeep]] with the salts knob decided by [[maxSourceRows]]:
    * plain single-window below `skewRowThreshold`, the salted two-phase
    * top-k (salts = shuffle partitions, the executor-count stand-in) above
    * it. Same keep set either way (spec- and gate-pinned). */
  def sourceCapAuto(docs: DataFrame, idCol: String, sourceCol: String,
                    cap: Int,
                    skewRowThreshold: Long = AutoSkewRowThreshold): DataFrame = {
    val (maxN, total) = maxSourceRows(docs, sourceCol)
    val salts =
      if (maxN > skewRowThreshold)
        // the conf value may be non-numeric on some platforms (e.g. "auto");
        // degrade to the scheduler's parallelism instead of throwing
        math.max(2, scala.util.Try(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)
          .getOrElse(docs.sparkSession.sparkContext.defaultParallelism))
      else 1
    log.info(s"sourceCapAuto: maxSource=$maxN/$total " +
      s"threshold=$skewRowThreshold -> ${if (salts > 1) s"salted($salts)" else "plain"}")
    sourceCapKeep(docs, idCol, sourceCol, cap, salts)
  }

  /** [[tokenBudgetKeep]] with the rangeBuckets knob decided by
    * [[maxSourceRows]]: plain below `skewRowThreshold`, the 16-bucket
    * hex-prefix scan above it, 256 buckets past 16x the threshold (each
    * bucket then still holds ~threshold/16 rows of the worst source). Same
    * cum_tokens/keep either way (spec- and gate-pinned). */
  def tokenBudgetAuto(docs: DataFrame, idCol: String, sourceCol: String,
                      textCol: String, budgetTokens: Long,
                      skewRowThreshold: Long = AutoSkewRowThreshold): DataFrame = {
    val (maxN, total) = maxSourceRows(docs, sourceCol)
    val buckets =
      if (maxN > 16 * skewRowThreshold) 256
      else if (maxN > skewRowThreshold) 16
      else 1
    log.info(s"tokenBudgetAuto: maxSource=$maxN/$total " +
      s"threshold=$skewRowThreshold -> ${if (buckets > 1) s"bucketed($buckets)" else "plain"}")
    tokenBudgetKeep(docs, idCol, sourceCol, textCol, budgetTokens, buckets)
  }
}
