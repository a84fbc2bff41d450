"""Steadiness check: run one workload in two sets of repeated runs, each run
with its own seed, and say whether the sets agree within the bounds of
``BENCHMARK.json``.

    python3 clinbench/steady.py --workload bulk_ingest --runs 5

For every end-to-end metric it prints each set's median and quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread (quartile
distance over the median), then the same over both sets together. The
sets agree when every spread but ``setup_s``'s stays within the metric's
bound, when no metric's second median is worse than the first by more
than its bound, and when the share of failed operations is the same in
both sets. Runs are sequential: run concurrently they would measure each
other. Exits 1 when the sets disagree or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from fractions import Fraction

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run with seed {seed} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seed-base", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]

    sets, walls, ok = [], [], True
    for k in range(2):
        results = []
        for i in range(args.runs):
            seed = args.seed_base + k * args.runs + i
            res, wall = run_once(args.workload, seed, bench["run_seconds"])
            walls.append(wall)
            ok &= res["correct"]
            results.append(res)
            vals = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                            for m in metrics)
            print(f"set {k + 1} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"{vals} wall={wall:.1f}s", flush=True)
        sets.append(results)

    print(f"\n{args.workload}: {args.runs} runs per set, run wall time "
          f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':14} {'set':>4} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for m in metrics:
        name, bound = m["name"], m["bound"]
        per_set = []
        for label, runs in (("1", sets[0]), ("2", sets[1]),
                            ("all", sets[0] + sets[1])):
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, spread = summary(vals)
            per_set.append(med)
            flag = ""
            if name != "setup_s" and spread > bound:
                flag, ok = " SPREAD>BOUND", False
            print(f"{name:14} {label:>4} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:7.3f} {bound:6.2f}{flag}")
        first, second = per_set[0], per_set[1]
        worse = ((second - first) / first if m["better"] == "lower"
                 else (first - second) / first)
        if worse > bound:
            ok = False
        print(f"{name:14} second median {'worse' if worse > 0 else 'better'}"
              f" by {abs(worse):.3f} (bound {bound})"
              + (" DISAGREE" if worse > bound else ""))
    shares = [{Fraction(r["failed"], r["attempted"]) for r in s} for s in sets]
    same = len(shares[0] | shares[1]) == 1
    ok &= same
    print(f"failed share per run: {sorted(str(x) for x in shares[0] | shares[1])}"
          f" ({'the same in every run' if same else 'DIFFERS'})")
    print("sets agree within the bounds" if ok else "sets DO NOT agree")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
