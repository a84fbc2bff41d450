"""Query registry — the single source of truth behind __spark_entry__.py.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an ANSI-SQL oracle string DuckDB can run over the same
parquet tables. The driver hash-compares the two at sf=0.01; tests/
test_oracle_parity.py runs the identical comparison locally at sf=0.001.
This module holds registration and the verification-window rotation
only; the plans the registered callables build are cached per session
by ``cache.py``.

Rules for parity (SURVEY.md §7.4 #6):
- alias every computed column identically on both sides;
- round floating aggregates (both sides) so summation order can't flip
  the hash;
- keep timestamps out of results — project dates or strings;
- make every top-k / per-key-latest deterministic with explicit tiebreaks.
"""

from __future__ import annotations

import functools
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .cache import cached_plan


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame query. The
    registered callable is wrapped with the session's plan cache
    (cache.cached_plan); the decorated function itself is returned
    unwrapped for direct/ad-hoc use."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            return cached_plan(name, fn, spark, sf_dir)

        _REGISTRY[name] = RegisteredQuery(name, cached, oracle, doc)
        return fn

    return wrap


# Externally-verified gate windows are bounded (the driver checks the
# FIRST 50 entries of queries() in iteration order), so ordering is part
# of the verification contract. Rotation rule: queries never
# driver-checked — or changed since their last check — come first, then
# ascending last-checked round, name-tiebroken. Every round therefore
# re-verifies the STALEST ~50 queries, so a regression can never hide
# outside the window for more than ceil(91/50) rounds. This ordering
# must only ever rotate VERIFIED queries out of the window — rotating a
# failing query out to dodge a red row would defeat the gate.
#
# Rotation state lives in rotation.json next to this module:
#   "last_checked": name -> last round with a driver-recorded check
#     (green oracle row, or rows-returned for declared no-oracle
#     queries). fold_rotation.py (repo root) stamps it mechanically
#     from each round's CORRECTNESS_r{N}.json — never hand-edit.
#   "changed": implementations edited since their last driver check —
#     treated as never-checked (front of the window) until the next
#     report re-greens them. Hand-ADD names here when touching a
#     query; fold_rotation.py clears them on re-green. The fold
#     script refuses to stamp red rows, so a failing query can never
#     rotate out of the window.
_ROTATION_PATH = os.path.join(os.path.dirname(__file__), "rotation.json")
with open(_ROTATION_PATH) as _f:
    _rotation_state = json.load(_f)
_LAST_CHECKED: dict[str, int] = _rotation_state["last_checked"]
_CHANGED: set[str] = set(_rotation_state["changed"])


def validate_rotation() -> list[str]:
    """Names in the rotation metadata that no longer exist in the
    registry — a typo or a renamed query would otherwise silently lose
    (or never get) its verification-window slot. Asserted empty in
    tests; warned about at runtime."""
    return sorted((set(_LAST_CHECKED) | _CHANGED) - set(_REGISTRY))


def all_queries() -> dict[str, RegisteredQuery]:
    # Import registers as a side effect; keep imports here so a broken
    # optional module can't take down the whole entry point.
    from .operators import advanced  # noqa: F401
    from .operators import corpus  # noqa: F401
    from .operators import relational  # noqa: F401
    from .operators import windows  # noqa: F401
    from .operators import dedup  # noqa: F401
    from .operators import graph  # noqa: F401
    from .operators import ivm  # noqa: F401
    from .operators import bpe  # noqa: F401
    from .operators import unigram  # noqa: F401
    from .operators import llmprep  # noqa: F401
    from .operators import similarity  # noqa: F401
    from .operators import skew  # noqa: F401
    from .operators import text  # noqa: F401
    from .operators import tpch_extra  # noqa: F401
    from .operators import multimodal  # noqa: F401
    from .operators import substring  # noqa: F401
    from .operators import lakehouse  # noqa: F401
    from .operators import variant  # noqa: F401
    from .plans import clinical_queries  # noqa: F401

    unknown = validate_rotation()
    if unknown:
        import warnings

        warnings.warn(
            f"rotation metadata references unregistered queries: {unknown}",
            stacklevel=2,
        )

    def order(name: str) -> tuple[int, int, str]:
        # Three tiers (VERDICT r11 finding 1: a flooded "changed" set
        # must never displace a never-driver-recorded query from the
        # bounded window, and staleness — not alphabet — breaks ties):
        #   0  never driver-recorded at all       -> absolute front
        #   1  edited since last driver check     -> next, stalest-first
        #   2  verified & unchanged               -> rotate stalest-first
        if name not in _LAST_CHECKED:
            tier = 0
        elif name in _CHANGED:
            tier = 1
        else:
            tier = 2
        return (tier, _LAST_CHECKED.get(name, -1), name)

    return {n: _REGISTRY[n] for n in sorted(_REGISTRY, key=order)}
