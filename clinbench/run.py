"""Run one benchmark workload and print its metrics as one JSON line.

    python3 clinbench/run.py --workload bulk_ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root. The workload's inputs come from ``--seed``;
set-up (generation, Spark start, one full-size warm-up round) is timed from
the process's start; then whole rounds run until the next one would end
past ``--seconds`` of measured time (at least one round). Every round's
outputs are checked. ``--trace 0`` prints the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` prints its per-layer metrics, from a run
with the tracing of ``tracing.py`` installed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

_T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import env  # noqa: E402


def process_age() -> float:
    """Seconds since this process started (falls back to module import)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.monotonic() - _T0


def declared_metrics(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def end_to_end(rounds, setup_s: float) -> dict:
    """Per round: rows written per second of write calls, and the mean
    latency of the round's fixed read mix; each reported as the median
    over rounds. (A median over one round's reads would sit between the
    mix's clusters of fast and slow endpoints and jump between them.)"""
    rates, reads = [], []
    for r in rounds:
        w = [o for o in r.ops if o.kind == "write"]
        rates.append(sum(o.rows for o in w) / sum(o.seconds for o in w))
        rd = [o.seconds for o in r.ops if o.kind == "read"]
        reads.append(1000 * sum(rd) / len(rd))
    return {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(rates),
        "read_ms": statistics.median(reads),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = env.prepare()
    sys.path.insert(1, ROOT)
    wl = None
    try:
        try:
            import fda_clinical_etl_pipeline_spark  # noqa: F401
        except ImportError as exc:
            print(f"clinbench: cannot import the program ({exc}); "
                  "outputs: wrong", file=sys.stderr)
            return 2
        import tracing as tr
        import workloads

        wl = workloads.WORKLOADS[args.workload](work, args.seed)

        def start_spark() -> dict:
            t0 = time.perf_counter()
            wl.spark = env.start_spark(work, f"clinbench-{wl.name}")
            return {"session.start_s": time.perf_counter() - t0}

        layer = wl.setup(start_spark)
        setup_s = process_age()
        print(f"clinbench: setup {setup_s:.2f} s, "
              + ", ".join(f"{k} {v:.2f}" for k, v in layer.items()),
              file=sys.stderr)
        if args.trace:
            wl.tracer = tr.Tracer(wl.spark)
            undo = tr.instrument(wl.tracer)

        rounds, measured = [], 0.0
        while True:
            r = wl.round()
            rounds.append(r)
            measured += r.seconds
            print(f"clinbench: round {len(rounds)}: {r.seconds:.2f} s, "
                  + ", ".join(f"{o.name} {o.seconds:.2f}" for o in r.ops),
                  file=sys.stderr)
            if measured + r.seconds > args.seconds:
                break

        complaints = [c for r in rounds for c in r.complaints]
        for c in complaints:
            print(f"clinbench: WRONG: {c}", file=sys.stderr)
        ops = [o for r in rounds for o in r.ops]
        if args.trace:
            tr.uninstrument(undo)
            layer.update(wl.layer_metrics(rounds))
            for kind in ("write", "read"):
                layer.update(workloads.engine_counters(wl.tracer, kind))
            values, declared = layer, declared_metrics("per_layer")
        else:
            values = end_to_end(rounds, setup_s)
            declared = declared_metrics("end_to_end")
        result = {
            "correct": not complaints,
            "attempted": len(ops),
            "failed": sum(o.failed for o in ops),
            # a layer the workload does not exercise did no work: 0
            "metrics": {name: {"value": float(values.get(name, 0.0)),
                               "unit": unit}
                        for name, unit in declared.items()},
        }
    finally:
        if wl is not None and wl.spark is not None:
            env.stop_spark(wl.spark)
        env.cleanup(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
