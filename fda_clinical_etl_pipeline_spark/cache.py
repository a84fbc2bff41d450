"""Per-session cached state: registered plans and tracked persists.

This module is the one owner of what a SparkSession accumulates across
queries:

- The plan cache, the DataFrame-API analog of a prepared statement.
  Registered queries are deterministic ``(spark, sf_dir) -> DataFrame``
  builders whose result re-executes freshly on every action, so a rebuild
  only re-pays py4j expression construction (60 ms-0.8 s per query) for
  a byte-identical plan. Plans are keyed by ``(name, sf_dir)`` and
  LRU-bounded at ``_PLAN_CACHE_PLANS`` per session
  (``SPARK_GRAFT_PLAN_CACHE``, default 64): a retained DataFrame pins its
  analyzed plan and every broadcast its executions built on the JVM
  heap, and an unbounded cache walked over the 182-query registry
  exhausted a default-1g driver after ~175 queries (r15).
- Tracked persists. Operators persist reused intermediates inside
  registered plans (diamond dependencies — guide §5); the returned lazy
  DataFrame references them, so no in-operator unpersist is safe.
  ``persist_tracked(df)`` is a drop-in ``df.persist()`` that records the
  frame on the plan being built, so evicting the plan unpersists it, or,
  outside any registered build (``HudiTable.upsert``), on the session.

``release_persists(spark)`` unpersists every frame tracked for a session
(bench.py / bench_compare.py between timed queries, services between
requests); ``invalidate(spark, name, sf_dir)`` drops one plan and its
frames. Later actions recompute, so neither affects results. At most
``_MAX_SESSIONS`` sessions are held (holding the object keeps its id()
from being recycled into a false hit); evicting one unpersists its
frames.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

_MAX_SESSIONS = 4
_PLAN_CACHE_PLANS = int(os.environ.get("SPARK_GRAFT_PLAN_CACHE", "64"))


class _Session:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        # (name, sf_dir) -> (plan, frames its build persisted), LRU order
        self.plans: dict[tuple[str, str],
                         tuple[DataFrame, list[DataFrame]]] = {}
        self.persists: list[DataFrame] = []  # made outside any build


_sessions: dict[int, _Session] = {}
# the persists list of the registered build running in this context
_building: ContextVar[list[DataFrame] | None] = ContextVar(
    "_building", default=None
)


def _unpersist(frames: list[DataFrame]) -> int:
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    frames.clear()
    return n


def _release(entry: _Session) -> int:
    return _unpersist(entry.persists) + sum(
        _unpersist(frames) for _df, frames in entry.plans.values()
    )


def _session(spark: SparkSession, create: bool = True) -> _Session | None:
    entry = _sessions.get(id(spark))
    if entry is not None and entry.spark is spark:
        return entry
    if not create:
        return None
    while len(_sessions) >= _MAX_SESSIONS:
        _release(_sessions.pop(next(iter(_sessions))))
    entry = _sessions[id(spark)] = _Session(spark)
    return entry


def cached_plan(name: str, fn: Callable[[SparkSession, str], DataFrame],
                spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached plan of registered query ``name``, built by ``fn`` on a
    miss. Persists made while ``fn`` runs belong to the plan."""
    plans = _session(spark).plans
    key = (name, sf_dir)
    entry = plans.pop(key, None)
    if entry is None:
        while len(plans) >= max(_PLAN_CACHE_PLANS, 1):
            _unpersist(plans.pop(next(iter(plans)))[1])
        frames: list[DataFrame] = []
        token = _building.set(frames)
        try:
            entry = (fn(spark, sf_dir), frames)
        except BaseException:
            _unpersist(frames)
            raise
        finally:
            _building.reset(token)
    plans[key] = entry  # (re-)insert as newest: hot plans survive sweeps
    return entry[0]


def invalidate(spark: SparkSession, name: str, sf_dir: str) -> None:
    """Drop the cached plan of ``name`` at ``sf_dir`` and unpersist its
    frames; the next call rebuilds it."""
    entry = _session(spark, create=False)
    if entry is not None and (name, sf_dir) in entry.plans:
        _unpersist(entry.plans.pop((name, sf_dir))[1])


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + record the frame for later release (see module doc)."""
    frames = _building.get()
    if frames is None:
        frames = _session(df.sparkSession).persists
    frames.append(df.persist())
    return df


def release_persists(spark: SparkSession) -> int:
    """Unpersist every frame tracked for ``spark``; returns how many.
    Cached plans stay. Safe at any time — later actions recompute."""
    entry = _session(spark, create=False)
    return 0 if entry is None else _release(entry)
