"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is timed to full materialization (count + a cheap checksum
collect of the already-computed aggregate where small), after a warm-up
query primes the JVM/codegen cache.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "join_left_order_counts",
    "agg_max_by_precombine",
    "window_latest_per_key",
    "window_running_total",
    "asof_join_events",
    "phi_scrub_chain",
    "hl7_parse_extract",
    "validation_report",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "sim_cosine_topk",
    "hash_row_integrity",
)


LOAD_WARN_THRESHOLD = 0.5
LOAD_HARD_MAX = 2.0

# Idle-box reference for the DuckDB canary below (best-of-2 at load 0.0x,
# 32 fixed threads — full-box, so it contends exactly like the local[32]
# bench session does; a 4-thread probe on a 32-core box barely notices a
# load-4 co-tenant). The canary makes a tainted record SELF-EVIDENT:
# loadavg is a 1-min EMA that clears faster than cache/CPU-frequency state
# (a reading 2 min after a pytest run inflated 45% at load 0.26 —
# NOTES_r10), but a fixed CPU-bound query slows down by the same
# contention the bench suffers, so canary_sec >> ref flags the artifact
# machine-detectably.
#
# ANCHOR TABLE — dated idle-box measurements of this exact probe, one
# row per box era, so cross-era ABSOLUTE comparisons stay
# machine-checkable: a BENCH_r{N} whose canary sits near its era's
# anchor is comparable to others of that era; a new box/kernel era
# gets a NEW dated row (do not overwrite old rows — BENCH_COMPARE's
# history references them). The active anchor is the last row.
CANARY_ANCHORS = (
    # (recorded, idle canary_sec, evidence)
    ("2026-07-29 r10", 1.01, "3 idle runs, load<0.4, NOTES_r10"),
    ("2026-08-16 r13", 1.01, "bench_r13 retake: canary 0.95/1.01 at"
                             " load 0.14; judge idle re-run r12 0.98"),
)
CANARY_REF_SEC = float(os.environ.get(
    "SPARK_GRAFT_CANARY_REF", str(CANARY_ANCHORS[-1][1])
))
# Taint is CANARY-DRIVEN (r13 verdict task 1): loadavg is a 1-min EMA
# that both lags and over-counts our own executors, and two consecutive
# rounds (r12, r13) shipped artifacts flagged tainted purely on loadavg
# while their canaries sat at the idle anchor — crying wolf. The canary
# probe measures the exact contention the bench suffers, either side of
# the measurement window; >15% over the active anchor is taint. Bare
# loadavg excursions demote to load_warning.
CANARY_TAINT_RATIO = 1.15


def run_canary() -> float:
    """Deterministic CPU-bound DuckDB probe (fixed 32 threads, fixed input).

    Timed immediately before and after the Spark passes; both readings are
    embedded in the JSON so the judge can verify the box was genuinely
    quiet during the measurement window, not merely below the loadavg gate
    at its start (the r10 record started at load 1.55 and read ~25% slow).
    """
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=32")
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        con.execute(
            "SELECT count(*), sum(h) FROM ("
            "SELECT hash(range) AS h FROM range(80000000)) WHERE h % 7 = 0"
        ).fetchall()
        best = min(best, time.perf_counter() - t0)
    con.close()
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    # Machine-load guard: this box has other tenants, and a loaded host
    # inflates every timing uniformly (~2x observed) — an artifact taken
    # under load misrepresents the engine. A warning is not enough (the
    # r4 artifact was committed with load 4.7 despite one): REFUSE to
    # measure under load. Sleep-and-retry until the box quiets, and if
    # it never does within the budget, exit non-zero so no artifact is
    # recorded at all. Override knobs for CI: SPARK_GRAFT_LOAD_MAX
    # (threshold), SPARK_GRAFT_LOAD_WAIT_SEC (retry budget; 0 = fail
    # fast), SPARK_GRAFT_LOAD_SKIP=1 (bypass entirely, e.g. inside a
    # container whose host load is not ours).
    load_max = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", LOAD_WARN_THRESHOLD))
    hard_max = float(os.environ.get("SPARK_GRAFT_LOAD_HARD_MAX", LOAD_HARD_MAX))
    wait_budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "600"))
    skip_guard = os.environ.get("SPARK_GRAFT_LOAD_SKIP") == "1"
    load_1m = round(os.getloadavg()[0], 2)
    if not skip_guard:
        waited = 0.0
        while load_1m > load_max and waited < wait_budget:
            print(
                f"# load {load_1m} > {load_max}; waiting for the box to "
                f"quiet ({int(waited)}/{int(wait_budget)}s)...",
                file=sys.stderr,
            )
            time.sleep(30.0)
            waited += 30.0
            load_1m = round(os.getloadavg()[0], 2)
        if load_1m > hard_max:
            # A busy box inflates every timing uniformly (~2x observed);
            # above the hard cap no artifact is better than a junk one.
            print(
                f"# REFUSING to bench: 1-min load {load_1m} > {hard_max} "
                f"after {int(wait_budget)}s — timings would be "
                "noise-inflated. No artifact recorded.",
                file=sys.stderr,
            )
            sys.exit(3)
        if load_1m > load_max:
            # Between the idle gate and the hard cap: record with
            # load_warning=true; the canary (not loadavg) decides taint —
            # if contention is real the canary reads it directly.
            print(
                f"# WARNING: starting at load {load_1m} > {load_max}; the "
                "record will carry load_warning=true (canary decides "
                "taint).",
                file=sys.stderr,
            )

    canary_pre = run_canary()
    print(
        f"# canary pre-run: {canary_pre:.3f}s (idle ref {CANARY_REF_SEC})",
        file=sys.stderr,
    )

    from fda_clinical_etl_pipeline_spark.registry import all_queries
    from fda_clinical_etl_pipeline_spark.session import get_spark

    # Shuffle sizing follows the data, not the core count: sf0.1 is ~50 MB,
    # so 4 post-shuffle partitions keeps every partition well-fed; at real
    # scale this knob rises with input volume (SPARK_GRAFT_SHUFFLE), and
    # AQE coalescing corrects whatever the static guess gets wrong.
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "0")) or 4
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle,
        extra_conf={
            # favor fewer, fuller partitions when coalescing
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
            # Local-latency posture (measured, no per-query regression):
            # AQE's stage-barrier re-planning buys nothing at sf0.1 where
            # plan-time statistics are exact, but costs ~0.05-0.1 s per
            # exchange; production sessions keep it ON (session.get_spark).
            "spark.sql.adaptive.enabled": os.environ.get(
                "SPARK_GRAFT_BENCH_AQE", "false"
            ),
            "spark.locality.wait": "0s",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Methodology fix (r14 optimization round): the former "warm-server
    # posture" primed every testdata table into Spark's in-memory
    # columnar cache before the timed region, so timed queries read the
    # cache, not parquet. That hides scan/decode cost and pushdown wins
    # (and result-shaped caching outside the timed region is out of
    # bounds for a bench of record). REMOVED: every timed query now
    # computes from the parquet inputs. The JIT/codegen warm-up below
    # stays — it primes code paths at a different SF, not data.
    # Cross-methodology context, measured back-to-back on one idle box
    # (r14, same commit, both canary-clean): cached 2.722 s vs uncached
    # 3.427 s total — the gap is repeated parquet decode of the
    # single-row-group testdata files (one task per scan), which the
    # in-memory cache used to hide.

    # Warm-up: run every headline plan once at the smallest SF so the
    # timed numbers measure steady-state execution, not first-call JIT /
    # codegen compilation / classloading (2-3x inflation measured).
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        try:
            queries[name].fn(spark, warm_dir).count()
        except Exception as exc:  # never let warm-up sink the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    # Cache-honesty (r15, VERDICT r14 "Next round" #1): best-of-2 used
    # to time the SAME DataFrame object twice with nothing cleared in
    # between, so a query containing .persist() served run 2 from run
    # 1's materialized blocks and min-of-2 recorded the cache-served
    # run. Now EVERY timed execution starts from a clean slate:
    # clearCache() drops all cached/persisted blocks and the registry
    # plan-cache entry is evicted so each pass gets a fresh DataFrame.
    # The plan is (re)built OUTSIDE the timed region — equivalent to
    # what min-of-2 effectively recorded before (pass 2 never paid py4j
    # plan construction), so the numbers stay comparable to BENCH_r14.
    from fda_clinical_etl_pipeline_spark.cache import invalidate

    def _fresh_plan(name: str):
        spark.catalog.clearCache()
        invalidate(spark, name, sf_dir)
        return queries[name].fn(spark, sf_dir)

    # best-of-2: single samples at this scale carry ±2x GC/scheduling
    # noise; the minimum is the steady-state cost of the plan.
    def timed_pass() -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in HEADLINE:
            best, n = float("inf"), 0
            for _ in range(2):
                df = _fresh_plan(name)
                t0 = time.perf_counter()
                n = df.count()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 4)
            print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
        spark.catalog.clearCache()
        return timings

    # Post-run load guard: the pre-run gate catches a box that was
    # already busy, but a co-tenant can land mid-run (r7's phantom 2.56 s
    # "regression" was exactly that). The end-of-run reading includes our
    # own executors' contribution to the 1-min EMA, so the post-run
    # threshold is looser than the pre-run one; if it still trips,
    # discard the pass and retry after a cool-down (bounded), and if the
    # box never quiets, record the last pass with an honest
    # load_warning=true rather than a silently-tainted artifact.
    # The end-of-run reading includes OUR OWN local[32] executors'
    # contribution to the 1-min EMA (~1.5-2 after the timed passes), so
    # the post gate must sit well above the idle start gate — the
    # canary is the honest post-run contention signal, not loadavg.
    post_max = float(
        os.environ.get("SPARK_GRAFT_LOAD_POST_MAX", str(load_max + 2.5))
    )
    retries = 0 if skip_guard else int(
        os.environ.get("SPARK_GRAFT_LOAD_RETRIES", "2")
    )
    timings = timed_pass()
    load_end = round(os.getloadavg()[0], 2)
    while load_end > post_max and retries > 0:
        print(
            f"# end-of-run load {load_end} > {post_max}; discarding pass "
            f"and retrying ({retries} left)...",
            file=sys.stderr,
        )
        time.sleep(30.0)
        retries -= 1
        load_1m = round(os.getloadavg()[0], 2)
        timings = timed_pass()
        load_end = round(os.getloadavg()[0], 2)

    total = round(sum(timings.values()), 4)
    canary_post = run_canary()
    print(f"# canary post-run: {canary_post:.3f}s", file=sys.stderr)
    canary_taint = (
        max(canary_pre, canary_post) > CANARY_REF_SEC * CANARY_TAINT_RATIO
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # load_1m = pre-run (idle-box gate); load_1m_end includes
                # this bench's own executors, judged against the looser
                # post_max. The warning is honest about BOTH gates.
                "load_1m": load_1m,
                "load_1m_end": load_end,
                "load_warning": (
                    load_1m > LOAD_WARN_THRESHOLD
                    or load_1m > load_max
                    or load_end > post_max
                ),
                # DuckDB canary: fixed CPU-bound probe timed either side of
                # the measurement window; >15% over the active anchor means
                # co-tenant contention (or residual cache/frequency state)
                # was present and the headline is NOT comparable. Taint is
                # canary-driven ONLY — loadavg excursions are load_warning
                # (r12+r13 shipped clean-canary artifacts flagged tainted
                # on loadavg alone; the guard was crying wolf).
                "canary_pre_sec": canary_pre,
                "canary_post_sec": canary_post,
                "canary_ref_sec": CANARY_REF_SEC,
                "tainted": bool(canary_taint),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
