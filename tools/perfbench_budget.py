#!/usr/bin/env python3
"""Project a full benchmark session's wall time from one run per mode.

Usage: python3 tools/perfbench_budget.py

Run from the root of a checkout. For every workload it runs
`perfbench/run.py --seed 1 --seconds 5` once with `--trace 0` and once
with `--trace 1`, prints each run's wall time, and projects the session
that perfbench/WORKLOADS.md budgets: "A full benchmark session, 4 + 22
runs per workload plus two builds, must fit in 3,420 s." That sentence
does not say which runs are traced. The projection assumes 4 traced and
22 untraced runs per workload (a traced run repeats the untraced pass
first, so it is the dearer kind), and it also prints the floor with all
26 runs untraced, which assumes nothing about the split.

A build is not timed here: this checkout's build is incremental or
cached, while a session builds each checkout from scratch. Each of the
two builds is charged FRESH_BUILD_S, the wall time of a from-scratch
`perfbench/run.py` build of a fresh checkout measured on a shared 4-vCPU
box, and every line that includes it says so.

Exits 1 when the projection is over budget, 2 when a run fails.
"""
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# importing perfbench/run.py must leave no __pycache__ in perfbench/
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run as perfbench  # noqa: E402

BUDGET_S = 3420
BUILDS = 2
TRACED_RUNS = 4
UNTRACED_RUNS = 22
SEED = 1
# from-scratch build of a fresh checkout, sbt and coursier caches warm:
# 38.1 s and 37.3 s on a shared 4-vCPU box
FRESH_BUILD_S = 38.0


def timed_run(workload, trace):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "5",
           "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    s = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        print(f"{workload} --trace {trace} failed (exit {p.returncode})")
        sys.exit(2)
    return s


def main():
    # build (or reuse) the classpath first, so no run below pays for it
    perfbench.build()
    builds = BUILDS * FRESH_BUILD_S
    print(f"builds: {BUILDS} x {FRESH_BUILD_S:.0f} s (assumed: a fresh-checkout build "
          "measured beforehand, not timed here)")
    total = floor = builds
    print(f"{'workload':<16} {'trace 0 s':>10} {'trace 1 s':>10} {'projected s':>12}")
    for w in perfbench.WORKLOADS:
        t0 = timed_run(w, 0)
        t1 = timed_run(w, 1)
        proj = UNTRACED_RUNS * t0 + TRACED_RUNS * t1
        total += proj
        floor += (UNTRACED_RUNS + TRACED_RUNS) * t0
        print(f"{w:<16} {t0:>10.1f} {t1:>10.1f} {proj:>12.0f}")
    per_run = (BUDGET_S - builds) / (
        len(perfbench.WORKLOADS) * (UNTRACED_RUNS + TRACED_RUNS))
    print(f"split (assumed): {UNTRACED_RUNS} untraced + {TRACED_RUNS} traced runs "
          f"per workload; the budget leaves {per_run:.1f} s a run after the "
          "assumed builds")
    print(f"floor, all runs untraced: {floor:.0f} s (includes {builds:.0f} s "
          "assumed builds)")
    verdict = "within" if total <= BUDGET_S else "OVER"
    print(f"projected session: {total:.0f} s of {BUDGET_S} s ({verdict} budget; "
          f"includes {builds:.0f} s assumed builds)")
    sys.exit(0 if total <= BUDGET_S else 1)


if __name__ == "__main__":
    main()
