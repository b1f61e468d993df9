#!/bin/bash
# Interleaved A/B of the ANN gate family between two compiled trees
# (r9 worktree vs current), VERDICT r10 item 1. Interleaving defeats the
# host's bursty CPU steal: a burst inflates one pass of BOTH sides, and the
# per-side minimum across passes is the clean number.
# Usage: tools/ann_ab.sh <r9_tree> <r10_tree> <passes> [queries]
set -u
R9=$1; R10=$2; PASSES=$3
Q=${4:-x_ann_ivfpq,x_ann_ivf_batch,x_ann_ivf,x_ann_ivf_indexed,x_ann_pq}
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
export SPARK_GRAFT_BENCH_ONLY=$Q SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_INGEST_BLOCKS=10
for i in $(seq 1 "$PASSES"); do
  for side in r9 r10; do
    tree=$([ "$side" = r9 ] && echo "$R9" || echo "$R10")
    out=$(java -cp "$tree/target/scala-2.13/classes:/opt/spark/jars/*" -Xmx24g \
      graft.Bench 2>/tmp/ann_ab_err.log | grep '"metric"')
    if [ -z "$out" ]; then
      # a crashed side must be LOUD, not a malformed JSON line that parses
      # into a one-sided comparison; keep the stderr for diagnosis
      echo "FATAL: $side produced no bench line (pass $i); stderr tail:" >&2
      tail -5 /tmp/ann_ab_err.log >&2
      exit 1
    fi
    echo "{\"pass\":$i,\"side\":\"$side\",\"bench\":$out}"
  done
done
