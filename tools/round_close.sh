#!/usr/bin/env bash
# Round-close protocol (r16 verdict #1 made this a committed script so
# the correctness record can never again silently be an empty file):
#
#   bash tools/round_close.sh <N>            # N = round number
#
# 1. TWO fresh full Verify runs at sf0.01 (separate JVMs).
# 2. tools/compare.py over run A -> CORRECTNESS_LOCAL_r<N>.json
#    (per-query pass/fail + gate-env stamp; COMMIT this).
# 3. tools/stability.py over A vs B -> STABILITY_r<N>.json.
# 4. Bench at sf0.1 on 8 cores -> BENCH_LOCAL_r<N>.json (the primary
#    total), then on 32 cores -> BENCH_LOCAL_r<N>_c32.json (committed
#    alongside); tools/bench_diff.py diffs the 8-core run against the
#    previous round's BENCH_LOCAL_r<M>.json. Rounds up to 21 recorded
#    their 32-core run under that name, so the first diff after them
#    crosses core counts.
# 5. Scale probes -> SCALE_r<N>.json, then tools/scale_diff.py vs the
#    previous round's artifact.
# 6. tools/tripwire.py over the DRIVER's CORRECTNESS_r<N>.json when it
#    exists — a driver artifact with fewer entries than
#    SparkEntry.queries fails loudly instead of reading as all-green.
# 7. FULL sbt test — r18 ended with sbt test RED at HEAD because a
#    post-close commit added an audit check without re-running the
#    suite; the close now cannot go green over a red suite.
# 8. Driver-window projection: estimate the driver's gate+bench wall
#    time from this round's artifacts so suite growth is visible
#    BEFORE the driver bench dies of it (r18: BENCH_r18.json rc=124).
#
# Each step's exit code matters; the script stops at the first red.
set -euo pipefail
cd "$(dirname "$0")/.."
N=${1:?usage: round_close.sh <round number>}
SF=${SPARK_GRAFT_SF_DIR_CORRECTNESS:-/root/testdata/sf0.01}

echo "== harness-debris sweep (r19 verdict #1: 2,357 leaked graft-* dirs) =="
# The r20 streaming harness deletes its scratch dirs itself
# (withScratchDir) and stages feeds under target/graft-stage; this
# sweep clears any residue from pre-r20 checkouts or killed runs so
# bench I/O never degrades across rounds. /tmp only — never the
# staged stores.
# Guarded (r21, ADVICE low): -mmin keys on the top-level dir mtime,
# which does not update on nested writes — a >60-min-old LIVE
# checkpoint would be swept mid-stream. Only sweep when no graft JVM
# is running (check only, never kill by pattern).
if pgrep -f 'graft\.(Bench|Verify|tools\.)' > /dev/null 2>&1; then
  echo "  (skipped: a graft JVM is running)"
else
  find /tmp -maxdepth 1 -name 'graft-*' -mmin +60 -exec rm -rf {} + 2>/dev/null || true
fi

echo "== full test suite (r18 lesson: a close over a red suite is void) =="
sbt -batch test

echo "== verify run A =="
rm -rf /tmp/rc_verify_a && sbt -batch "runMain graft.Verify $SF /tmp/rc_verify_a"
echo "== verify run B =="
rm -rf /tmp/rc_verify_b && sbt -batch "runMain graft.Verify $SF /tmp/rc_verify_b"

echo "== oracle compare (committed artifact) =="
python3 tools/compare.py "$SF" /tmp/rc_verify_a "CORRECTNESS_LOCAL_r${N}.json"

echo "== two-run stability =="
python3 tools/stability.py /tmp/rc_verify_a /tmp/rc_verify_b "STABILITY_r${N}.json"

BENCH_SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
echo "== bench, 8 cores (primary total) =="
SPARK_GRAFT_SF_DIR=$BENCH_SF SPARK_GRAFT_CPUS=8 \
  SPARK_GRAFT_BENCH_OUT="BENCH_LOCAL_r${N}.json" \
  sbt -batch "runMain graft.Bench" | grep '"metric"' || true
echo "== bench, 32 cores =="
SPARK_GRAFT_SF_DIR=$BENCH_SF SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT="BENCH_LOCAL_r${N}_c32.json" \
  sbt -batch "runMain graft.Bench" | grep '"metric"' || true
# `|| true`: with no previous-round artifact, grep exits 1 and pipefail
# would abort the whole round close (r17 ADVICE) — no diff base is fine.
# The diff base is the newest BENCH_LOCAL_r<digits>.json other than this
# round's; suffixed artifacts (_c32, _closerun) are never a base.
PREV_BENCH=$(ls BENCH_LOCAL_r*.json 2>/dev/null \
  | grep -E '^BENCH_LOCAL_r[0-9]+\.json$' | grep -vx "BENCH_LOCAL_r${N}.json" \
  | sort -V | tail -1 || true)
RED=0
if [ -n "${PREV_BENCH}" ]; then
  echo "== bench diff vs ${PREV_BENCH} =="
  python3 tools/bench_diff.py "BENCH_LOCAL_r${N}.json" "${PREV_BENCH}" BENCH_DIFF.json || RED=1
fi

echo "== scale probes =="
SPARK_GRAFT_SCALE_OUT="SCALE_r${N}.json" \
  sbt -batch "runMain graft.tools.ScaleProbe 2000000"
PREV_SCALE=$(ls SCALE_r*.json 2>/dev/null | grep -v "r${N}.json" | sort -V | tail -1 || true)
if [ -n "${PREV_SCALE}" ]; then
  echo "== scale diff vs ${PREV_SCALE} =="
  python3 tools/scale_diff.py "SCALE_r${N}.json" "${PREV_SCALE}" SCALE_DIFF.json || RED=1
fi

if [ -f "CORRECTNESS_r${N}.json" ]; then
  echo "== driver-artifact tripwire =="
  python3 tools/tripwire.py "CORRECTNESS_r${N}.json" || RED=1
fi
echo "== driver-window projection =="
python3 tools/project_driver_cost.py \
  "CORRECTNESS_LOCAL_r${N}.json" "BENCH_LOCAL_r${N}.json" || RED=1

if [ "$RED" = "1" ]; then
  echo "== round close: diff tripwires flagged — adjudicate the reports =="
  exit 1
fi
echo "== round close green =="
