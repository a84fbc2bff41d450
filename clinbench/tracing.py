"""Per-layer tracing, measured from outside the program.

A span times one call into a layer's public function. Each span runs under
its own Spark job group, so the jobs it fires (and their stages' counters
in Spark's status store, which is kept even with the UI off) can be read
back after the operation. Spans nest: a span's jobs are its own group's
plus those of the spans opened inside it.

``instrument`` wraps the public functions the pipeline calls into its
reader, writer and provenance layers; the workloads open spans around
their own calls (pipeline runs, API reads, table-format operations).
Nothing here is installed in an untraced run.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
            "gc_ms", "input_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    layer: str
    name: str
    group: str
    seconds: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)
    own: dict = field(default_factory=dict)  # counters of this group only

    def total(self, key: str) -> float:
        return self.own.get(key, 0) + sum(c.total(key) for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._stack: list[Span] = []
        self._n = 0
        self.roots: list[Span] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        s = Span(layer, name, f"clinbench-{os.getpid()}-{self._n}",
                 attrs=attrs)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, f"{layer}.{name}")
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
                parent.children.append(s)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._collect(s)
                self.roots.append(s)

    def _collect(self, root: Span) -> None:
        """Read each span's job and stage counters from the status store
        once the listener bus has delivered the operation's events."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in root.walk():
            c = dict.fromkeys(COUNTERS, 0)
            for jid in tracker.getJobIdsForGroup(s.group):
                c["jobs"] += 1
                stage_ids = store.job(jid).stageIds()
                for i in range(stage_ids.size()):
                    try:
                        st = store.lastStageAttempt(stage_ids.apply(i))
                    except Exception:  # skipped stage: never attempted
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["executor_run_ms"] += st.executorRunTime()
                    c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    c["gc_ms"] += st.jvmGcTime()
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled())
            s.own = c


def _wrap(tracer: Tracer, owner, attr: str, layer: str, after=None):
    fn = getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(layer, attr) as s:
            out = fn(*args, **kwargs)
        if after is not None:
            after(s, args, kwargs, out)
        return out

    traced.__wrapped__ = fn
    setattr(owner, attr, traced)
    return owner, attr, fn


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and ``_`` files are
    bookkeeping (checksums, _SUCCESS) and count only toward bytes."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += not n.startswith((".", "_"))
    return files, size


def data_files(table_path: str) -> tuple[int, int]:
    """(parquet data files, bytes of every file) under a table directory;
    the formats' logs and metadata (``.hoodie``, ``_delta_log``,
    ``metadata``) count toward bytes only."""
    files = size = 0
    for root, dirs, names in os.walk(table_path):
        rel = os.path.relpath(root, table_path).split(os.sep)
        meta = any(p.startswith((".", "_")) or p == "metadata" for p in rel
                   if p != ".")
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += not meta and n.endswith(".parquet")
    return files, size


def instrument(tracer: Tracer) -> list:
    """Wrap the reader, writer and provenance functions the pipeline calls.
    Returns what ``uninstrument`` needs to restore them."""
    from fda_clinical_etl_pipeline_spark.plans.provenance import (
        ProvenanceStore,
    )
    from fda_clinical_etl_pipeline_spark.sources import readers, writers

    def written(s, args, kwargs, out):
        # quarantine_write returns the directory it wrote; write_parquet
        # takes it as its second argument
        path = out if isinstance(out, str) else kwargs.get("path", args[1])
        s.attrs["files"], s.attrs["bytes"] = dir_size(path)

    undo = []
    for f in ("read_csv_strings", "read_jsonl", "read_hl7"):
        undo.append(_wrap(tracer, readers, f, "readers"))
    undo.append(_wrap(tracer, writers, "write_parquet", "writers", written))
    undo.append(_wrap(tracer, writers, "quarantine_write", "writers",
                      written))
    for f in ("row_hash_agg", "sha256_file"):
        undo.append(_wrap(tracer, writers, f, "writers"))
    for f in ("register_batch", "register_batches_bulk", "update_status",
              "record_step", "record_rule", "write_audit"):
        undo.append(_wrap(tracer, ProvenanceStore, f, "provenance"))
    return undo


def uninstrument(undo: list) -> None:
    for owner, attr, fn in reversed(undo):
        setattr(owner, attr, fn)
