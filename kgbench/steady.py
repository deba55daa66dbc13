#!/usr/bin/env python3
"""Steadiness evidence: run each workload in two separate sets of seeded runs
and compare them against the bounds in BENCHMARK.json.

    python3 kgbench/steady.py --runs 5 [--workload kg_lifecycle] [--traced]

Set A uses seeds 1..runs, set B seeds 101..100+runs; runs alternate between
the sets. For every end-to-end metric it prints each set's median and
quartiles, the spread of all runs (quartile distance / median) and the gap
between the two set medians, each against the metric's bound, plus the share
of failed operations per set; it stops with an error when a run leaves a
process running. ``--traced`` adds one traced run per workload and reports
the tracing overhead (traced round wall minus the untraced median) and the
share of the round no layer span covers. Writes the raw results as JSON to
``--out`` when given.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import become_subreaper, tree_pids  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    # orphans of the run come back to this subreaper: any left is the run's
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    left = [q for q in tree_pids() if q != os.getpid()]
    if left:
        raise SystemExit(f"{workload} seed {seed} left processes running: {sorted(left)}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    become_subreaper()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    raw = {}
    for w in workloads:
        sets = {"A": [], "B": []}
        for i in range(args.runs):
            for name, base in (("A", 1), ("B", 101)):
                r = run_once(w, base + i, spec["run_seconds"], 0)
                if not r["correct"]:
                    raise SystemExit(f"{w}: wrong output")
                sets[name].append(r)
        raw[w] = sets
        print(f"== {w}")
        for s, rs in sets.items():
            print(f"   set {s}: failed share "
                  f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}")
        for m in spec["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in sets["A"]]
            b = [r["metrics"][m["name"]]["value"] for r in sets["B"]]
            q1, med, q3 = quartiles(a + b)
            ma, mb = statistics.median(a), statistics.median(b)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            spread = (q3 - q1) / med
            print(f"   {m['name']:>14} {m['unit']:>8}: median {med:.4g} "
                  f"q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} | "
                  f"A {ma:.4g} [{' '.join(f'{x:.4g}' for x in quartiles(a))}] "
                  f"B {mb:.4g} [{' '.join(f'{x:.4g}' for x in quartiles(b))}] "
                  f"B worse by {worse:+.3f} | bound {m['bound']}")
        if args.traced:
            t = run_once(w, 1, spec["run_seconds"], 1)
            raw[w]["traced"] = t
            base = statistics.median(r["metrics"]["round_s"]["value"]
                                     for r in sets["A"] + sets["B"])
            tw = t["metrics"]["trace.whole_round_s"]["value"]
            print(f"   traced: round {tw:.4g} s vs untraced median {base:.4g} s "
                  f"(overhead {tw - base:+.3g} s); uncovered share "
                  f"{t['metrics']['trace.uncovered_share']['value']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(raw, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
