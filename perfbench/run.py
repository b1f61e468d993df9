#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source into .bench_build/perfbench (see build.py); later
runs reuse the build while no source changed. Every file a run writes
stays under .bench_build/perfbench and its per-run directory is removed
at the end, except the span file of a traced run
(.bench_build/perfbench/spans-<workload>.jsonl).

Workloads (see BENCHMARK.json for why each was chosen):
  backfill_rpc       Pipeline.runOnce over HTTP RPC from an in-process stub
  query_inventory    one query per inventory group, DuckDB-oracle checked

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics. Notes (tail percentile and its sample
count, blocks/min, tracing overhead, self times) go to stderr.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("backfill_rpc", "query_inventory")
DATA = os.path.join(HERE, "data", "sf0.01")
# everything a run may take once built, JVM start to result
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cmd, limit):
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {limit} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out = os.path.join(ROOT, ".bench_build", "perfbench")
    classpath, cds = build.build(ROOT, out)
    work = os.path.join(out, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-Dspark.ui.enabled=false"] + cds
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--work", work, "--data", DATA])
        t0 = time.monotonic()
        rc = run_jvm(cmd, RUN_LIMIT_S)
        if rc != 0:
            raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
        if args.workload == "query_inventory":
            bad, compared = oracle.compare(DATA, work)
            with open(os.path.join(work, "ops.json")) as fh:
                ops = {q: int(n) for q, n in json.load(fh).items()}
            for q, why in sorted(bad.items()):
                print(f"[perfbench] CHECK FAILED: oracle {q}: {why}", file=sys.stderr)
            if bad:
                result["correct"] = False
                result["failed"] = min(result["attempted"],
                                       result["failed"] + sum(ops.get(q, 0) for q in bad))
            print(f"[perfbench] oracle: {compared - len(bad)} of {compared} sampled queries agree "
                  f"with DuckDB ({len(ops) - compared} sampled queries have no oracle)",
                  file=sys.stderr)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(out, f"spans-{args.workload}.jsonl"))
        print(f"[perfbench] {args.workload} seed {args.seed}: {time.monotonic() - t0:.1f} s",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
