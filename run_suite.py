"""Sharded test-suite runner: the full pytest suite in <=25 min.

Plain ``pytest tests/`` runs ~41 min on this box: one Spark session
(local[4]) executes ~1090 tests strictly sequentially, and most of
the wall is many small Spark actions waiting on one JVM. The suite
is file-independent (files share no state beyond the marker-guarded
gate scratch tables keyed under ``tempfile.gettempdir()``), so this
runner partitions the test FILES into N shards, balanced by measured
per-file wall (longest-processing-time greedy), and runs each shard
as its own pytest subprocess with its own Spark JVM.

Isolation per shard:
- ``TMPDIR=/tmp/suite_shard_<i>``: gate scratch tables, pytest
  tmp_path factories, Derby databases, and checkpoint dirs all key
  off ``tempfile.gettempdir()``, so shards never share mutable
  on-disk state (gate tables build once per shard — a few seconds of
  duplicated setup buys full isolation).
- Each JVM gets ``-Dderby.system.home=$TMPDIR`` via conftest so
  derby.log / db locks stay shard-local.
- Spark UI is off; API tests bind ephemeral ports.

Per-file walls are RECORDED after every run into
``tests/.shard_weights.json`` (wall seconds per file), so balance
improves with use; unknown files default to 25 s. Usage:

    python run_suite.py [--shards N] [--] [extra pytest args]

Sizing: the shard count fits both the cores and ``MemAvailable``. Each
shard is budgeted its JVM heap (``SPARK_GRAFT_DRIVER_MEM``, default 2g,
passed on to the shards) plus ~2 GB of JVM off-heap and Python workers
plus ~3 GB for its pytest process. The figures come from a 4-core,
16 GB machine, where four 8g-heap shards were killed by the kernel's
out-of-memory killer (JVMs at heap + ~1 GB, a pytest process at up to
3.5 GB); that machine gets two shards. The chosen count and heap print
first.

Exit code 0 iff every shard reports 0 failures and 0 errors. The
aggregate pass/fail counts and per-shard walls print at the end;
per-shard logs land in $TMPDIR/suite_shard_<i>/pytest.log. A shard
killed by a signal is reported lost, with the file it was in and the
number of its tests that never reported a result.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

WEIGHTS_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests", ".shard_weights.json",
)
DEFAULT_WEIGHT = 25.0
# one Spark JVM per shard. 10 shards on 32 cores measured 11.4 min wall
# (r15); the JVMs are latency-bound, so two cores per shard suffice.
MAX_SHARDS = 10
DEFAULT_HEAP = "2g"
SHARD_OVERHEAD_GB = 2.0 + 3.0  # off-heap + Python workers, pytest


def heap_gb(heap: str) -> float:
    """A JVM memory size (``2g``, ``1536m``) in GiB."""
    units = {"k": 1 / 1024**2, "m": 1 / 1024, "g": 1.0, "t": 1024.0}
    heap = heap.strip().lower()
    if heap[-1:] in units:
        return float(heap[:-1]) * units[heap[-1]]
    return float(heap) / 1024**3


def mem_available_gb() -> float | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / 1024**2
    except OSError:
        pass
    return None


def plan_shards(cores: int, mem_gb: float | None, heap: str) -> int:
    """As many shards as the cores and the available memory both hold,
    at least one."""
    n = min(MAX_SHARDS, cores // 2)
    if mem_gb is not None:
        n = min(n, int(mem_gb // (heap_gb(heap) + SHARD_OVERHEAD_GB)))
    return max(1, n)

# seed weights (measured r14, plain sequential run, local[4]) — used
# until tests/.shard_weights.json exists; balance only, not a gate
SEED_WEIGHTS = {
    "test_merge_properties.py": 222, "test_hudi_cdc.py": 200,
    "test_properties.py": 125, "test_stream_admission.py": 104,
    "test_lakehouse_properties.py": 90, "test_hudi_changelog.py": 75,
    "test_hudi_changelog_stream.py": 65, "test_hudi_mor.py": 50,
    "test_pipeline_e2e.py": 30, "test_control.py": 25,
    "test_hudi_clean.py": 25, "test_cdc_net.py": 20,
    "test_unigram.py": 20, "test_api_and_skew.py": 20,
}


def load_weights() -> dict[str, float]:
    if os.path.isfile(WEIGHTS_FILE):
        try:
            return json.load(open(WEIGHTS_FILE))
        except Exception:
            pass
    return dict(SEED_WEIGHTS)


def partition(files: list[str], n: int,
              weights: dict[str, float]) -> list[list[str]]:
    """Greedy LPT: heaviest file onto the lightest shard."""
    shards: list[list[str]] = [[] for _ in range(n)]
    loads = [0.0] * n
    for f in sorted(
        files,
        key=lambda f: -weights.get(os.path.basename(f),
                                   DEFAULT_WEIGHT),
    ):
        i = loads.index(min(loads))
        shards[i].append(f)
        loads[i] += weights.get(os.path.basename(f), DEFAULT_WEIGHT)
    return [s for s in shards if s]


SUMMARY_RE = re.compile(
    r"(?:(\d+) failed)?(?:, )?(?:(\d+) passed)?(?:, )?"
    r"(?:(\d+) skipped)?(?:, )?(?:(\d+) error)?"
)


def parse_summary(log: str) -> dict[str, int]:
    """Counts from pytest's final summary line."""
    out = {"passed": 0, "failed": 0, "skipped": 0, "errors": 0}
    for line in reversed(log.splitlines()):
        if " in " not in line or "=" in line and not any(
            w in line for w in ("passed", "failed", "error", "skipped")
        ):
            continue
        for n, word in re.findall(r"(\d+) (\w+)", line):
            if word in ("passed", "failed", "skipped"):
                out[word] = int(n)
            elif word in ("error", "errors"):
                out["errors"] = int(n)
        if out["passed"] or out["failed"] or out["errors"]:
            return out
    return out


COLLECTED_RE = re.compile(r"^collected (\d+) items?", re.M)
# pytest's progress lines: "tests/test_x.py ..F.s  [ 12%]", continued
# on lines of result characters alone
PROGRESS_RE = re.compile(
    r"^(?:(tests/\S+\.py) )?([.sFExX]+)\s*(?:\[\s*\d+%\])?$", re.M
)


def lost_shard_report(i: int, rc: int, log: str,
                      shard: list[str]) -> tuple[str, int]:
    """What a shard killed by signal ``-rc`` left unreported: the report
    line, and how many collected tests its log shows no result for."""
    m = COLLECTED_RE.search(log)
    collected = int(m.group(1)) if m else 0
    reported, last = 0, None
    for f, chars in PROGRESS_RE.findall(log):
        reported += len(chars)
        last = f or last
    missing = max(collected - reported, 0)
    names = [os.path.relpath(f, os.path.dirname(os.path.abspath(__file__)))
             for f in shard]
    start = names.index(last) if last in names else 0
    after = f"after {last}" if last else "before its first result"
    return (
        f"shard {i} lost (rc={rc}, killed by signal {-rc}) {after}: "
        f"{missing} of {collected} collected tests never reported "
        f"(files {', '.join(names[start:])})",
        missing,
    )


def shard_cmd(shard: list[str], extra: list[str]) -> list[str]:
    return [
        sys.executable, "-m", "pytest",
        "-p", "no:cacheprovider",
        # per-test wall lines for the weights refresh below
        "--durations=0", "--durations-min=0.005",
        *extra, *shard,
    ]


def main(argv: list[str]) -> int:
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_HEAP)
    cores = os.cpu_count() or 8
    mem_gb = mem_available_gb()
    n_shards = plan_shards(cores, mem_gb, heap)
    extra: list[str] = []
    args = argv[1:]
    while args:
        a = args.pop(0)
        if a == "--shards":
            n_shards = int(args.pop(0))
        elif a == "--":
            extra = args
            break
        else:
            extra.append(a)

    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(here, "tests",
                                          "test_*.py")))
    if not files:
        print("no test files found", file=sys.stderr)
        return 2
    weights = load_weights()
    shards = partition(files, n_shards, weights)
    mem = "unknown" if mem_gb is None else f"{mem_gb:.1f} GB"
    print(f"run_suite: {len(shards)} shards, heap {heap} each "
          f"({cores} cores, MemAvailable {mem})", flush=True)

    procs = []
    t0 = time.monotonic()
    root = tempfile.gettempdir()
    for i, shard in enumerate(shards):
        tmpdir = os.path.join(root, f"suite_shard_{i}")
        shutil.rmtree(tmpdir, ignore_errors=True)
        os.makedirs(tmpdir, exist_ok=True)
        # SPARK_GRAFT_SUITE_SHARD both marks shard children and stops
        # tests/conftest.py's full-suite sharded takeover from ever
        # recursing (children also run explicit file lists, which the
        # takeover ignores — this is the second lock on that door)
        # unbuffered: a killed shard's log still shows its last results
        env = dict(os.environ, TMPDIR=tmpdir,
                   SPARK_GRAFT_SUITE_SHARD="1",
                   SPARK_GRAFT_DRIVER_MEM=heap, PYTHONUNBUFFERED="1")
        log_path = os.path.join(tmpdir, "pytest.log")
        with open(log_path, "w") as log_f:
            procs.append((i, shard, log_path,
                          subprocess.Popen(shard_cmd(shard, extra),
                                           cwd=here, env=env,
                                           stdout=log_f,
                                           stderr=subprocess.STDOUT)))
        print(f"shard {i}: {len(shard)} files -> {log_path}", flush=True)

    total = {"passed": 0, "failed": 0, "skipped": 0, "errors": 0}
    ok = True
    lost: list[int] = []
    unreported = 0
    new_weights: dict[str, float] = {}
    for i, shard, log_path, p in procs:
        rc = p.wait()
        with open(log_path) as f:
            log = f.read()
        counts = parse_summary(log)
        for k in total:
            total[k] += counts[k]
        wall = time.monotonic() - t0
        print(f"shard {i}: rc={rc} {counts} (at {wall:.0f}s)")
        if rc < 0:
            line, missing = lost_shard_report(i, rc, log, shard)
            print(line)
            lost.append(i)
            unreported += missing
        if rc != 0 or counts["failed"] or counts["errors"]:
            ok = False
            tail = "\n".join(log.splitlines()[-30:])
            print(f"--- shard {i} log tail ---\n{tail}\n---")
        # fold per-test durations into per-file walls
        for m in re.finditer(
            r"^\s*([\d.]+)s\s+(?:call|setup|teardown)\s+"
            r"tests/(test_\w+\.py)", log, re.M,
        ):
            new_weights[m.group(2)] = (
                new_weights.get(m.group(2), 0.0) + float(m.group(1))
            )

    wall = time.monotonic() - t0
    print(f"TOTAL: {total} in {wall:.0f}s "
          f"({len(shards)} shards)")
    # pytest-style closing line so external parsers of a delegated
    # `pytest tests/` run (tests/conftest.py takeover) see the familiar
    # summary shape
    words = []
    if total["failed"]:
        words.append(f"{total['failed']} failed")
    words.append(f"{total['passed']} passed")
    if total["skipped"]:
        words.append(f"{total['skipped']} skipped")
    if total["errors"]:
        words.append(f"{total['errors']} errors")
    if lost:
        words.append(f"{unreported} not reported (lost shards "
                     f"{', '.join(map(str, lost))})")
    print(f"=== {', '.join(words)} in {wall:.1f}s "
          f"(sharded: {len(shards)} pytest processes) ===")
    if new_weights and ok:
        merged = load_weights()
        merged.update(
            {k: round(v, 2) for k, v in new_weights.items()}
        )
        json.dump(merged, open(WEIGHTS_FILE, "w"), indent=1,
                  sort_keys=True)
    return 0 if ok and total["failed"] == 0 and not total["errors"] \
        else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
