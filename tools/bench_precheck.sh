#!/bin/bash
# Machine-health precheck for the bench ritual (round-10 standardization of
# the r9 degraded-window adjudication controls; see BASELINE.md "Round 9 —
# closing bench"). Run this IMMEDIATELY BEFORE any bench run whose numbers
# will be recorded as a reference. Three gates, all of which must pass:
#
#   1. loadavg: 1-min load < 1.5 on 32 cores (no outside-session contention).
#   2. single-thread spin: a fixed 2e7-step LCG in one JVM-free python
#      process. Healthy-window nominal recorded below; >1.3x = degraded CPU
#      allocation (the r9 degraded window read ~1.3x on this spin).
#   3. control queries: the same 13-query subset the r9 adjudication used,
#      compared per-query against the r8 quiet-window reference read from a
#      PINNED git revision (BENCH_REF_REV below), NOT the working-tree
#      BENCH_DETAIL.json — the r10 reconciliation accidentally committed a
#      degraded 493 s run over the 287.5 s reference and the working-tree
#      file was later clobbered again by the driver's 703.6 s run, so a
#      mutable-file reference can silently recalibrate this gate.
#      JIT/codegen warm-up persists well past the first query of a fresh JVM
#      (a 2-query subset read q_tpch_q1 at 5x reference in a HEALTHY window),
#      so the gate is the MEDIAN ratio over the alphabetical tail (warm
#      queries only, first 5 excluded as warm-up absorbers) < 1.4.
#
# Exit 0 = window healthy, record the run. Exit 1 = degraded, do NOT record.
set -uo pipefail
cd "$(dirname "$0")/.."

# Pinned revision holding the qualified quiet-window bench reference
# (r8 run, 287.526 s / 369 queries). Re-pin only to a revision whose run
# passed all three gates of this script.
BENCH_REF_REV=4d65c57

# Healthy-window nominal for the spin, seconds. 2.8 s is the BEST single
# trial observed in the r10 session (band: 2.75-4.76 s across 9 trials on a
# fixed-2.7GHz KVM vCPU with nonzero /proc/stat steal — the host allocation
# fluctuates invisibly to loadavg). The r8-reference-class window is assumed
# to sit at this fast end: every r10 window at spin >= 3.3 s also read
# 1.5-2x on the warm control queries. Re-calibrate only downward (a faster
# trial observed in a window whose controls pass gate 3).
SPIN_NOMINAL=2.8
SPIN_LIMIT=$(python3 -c "print($SPIN_NOMINAL*1.3)")

LOAD1=$(cut -d' ' -f1 /proc/loadavg)
echo "precheck: 1-min load = $LOAD1"
if python3 -c "import sys; sys.exit(0 if float('$LOAD1') < 1.5 else 1)"; then
  echo "precheck: load gate PASS"
else
  echo "precheck: load gate FAIL (outside contention)"; exit 1
fi

SPIN=$(python3 -c "
import time
t0=time.monotonic(); x=1
for _ in range(20_000_000): x=(x*6364136223846793005+1442695040888963407)&0xFFFFFFFFFFFFFFFF
print(f'{time.monotonic()-t0:.2f}')")
echo "precheck: spin = ${SPIN}s (nominal $SPIN_NOMINAL, limit $SPIN_LIMIT)"
if python3 -c "import sys; sys.exit(0 if float('$SPIN') < float('$SPIN_LIMIT') else 1)"; then
  echo "precheck: spin gate PASS"
else
  echo "precheck: spin gate FAIL (degraded CPU allocation)"; exit 1
fi

CONTROLS=dedup_exact,pipeline_dpo_pairs,pipeline_e2e_curation,pipeline_pack_sequences,pipeline_token_budget,q_ab_ttest,q_agg_basic,q_filter_isin,q_skew_join_aqe,q_sql_script,q_tpch_q1,text_cooc_pmi,wc_wordcount
git show "$BENCH_REF_REV:BENCH_DETAIL.json" >/tmp/precheck_ref.json \
  || { echo "precheck: cannot read pinned bench reference $BENCH_REF_REV"; exit 1; }
rm -f BENCH_DETAIL_subset.json
SPARK_GRAFT_ONLY=$CONTROLS bash tools/run_bench.sh >/tmp/precheck_bench.out 2>/dev/null \
  || { echo "precheck: control bench run failed"; exit 1; }
python3 - <<'EOF'
import json, statistics, sys
ref = json.load(open('/tmp/precheck_ref.json'))['queries']
run = json.load(open('BENCH_DETAIL_subset.json'))['queries']
warm = sorted(run)[5:]  # first 5 alphabetical rows absorb JIT warm-up
ratios = {q: run[q] / ref[q] for q in warm}
med = statistics.median(ratios.values())
for q, r in sorted(ratios.items()):
    print(f"precheck: control {q} = {run[q]:.3f}s vs ref {ref[q]:.3f}s ({r:.2f}x)")
print(f"precheck: control median ratio (warm tail) = {med:.3f}")
sys.exit(0 if med < 1.4 else 1)
EOF
if [ $? -eq 0 ]; then
  echo "precheck: control gate PASS — window healthy"
else
  echo "precheck: control gate FAIL (warm-tail median >= 1.4x reference)"; exit 1
fi
