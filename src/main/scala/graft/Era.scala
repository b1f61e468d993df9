package graft

/** Host-era quality calibration (VERDICT r14 item 6).
  *
  * This host shows BURSTY hypervisor CPU steal: identical benches have
  * measured 60 s and 359 s in one day with zero code delta, and every round
  * since r13 has spent judge+builder effort re-litigating which wall-clocks
  * are comparable. The fix is to make era quality MACHINE-CHECKABLE: every
  * bench/probe JSON carries a spin-calibration constant measured at process
  * start, and `tools/scale_ratio.py` REFUSES a cross-run comparison when the
  * two constants diverge more than 1.3x — the same threshold PLANS.md's
  * drift notes already apply by hand.
  *
  * The probe is a FIXED single-thread xorshift64 workload (pure registers,
  * no allocation, no memory traffic — immune to cache/GC state), reported
  * as million-steps-per-second. Steal inflates a sample's wall time and can
  * never deflate it, so the min over samples is the era FLOOR — same noise
  * model as the bench's min-of-reps. One discarded warmup sample absorbs
  * JIT compilation of the loop itself. ~0.5 s total: cheap enough to run
  * unconditionally in every measurement main.
  */
object Era {
  private val Steps = 1 << 26

  private def once(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < Steps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    // data-dependent side effect so the JIT cannot dead-code the loop
    if (x == 42L) System.err.println("[era] improbable fixed point")
    sec
  }

  /** Million xorshift steps per second — HIGHER is a better (less stolen)
    * host era. Min-of-5 after one discarded warmup. */
  def quality(): Double = {
    once()
    val best = (1 to 5).map(_ => once()).min
    Steps / best / 1e6
  }
}
