"""Owners of cached state: the per-session plan cache with the persists
its plans own (cache.py), and the lakehouse gate tables, rebuilt when the
code that writes them changes (operators/lakehouse.py ``_gate_root``)."""

from __future__ import annotations

import os
import tempfile

from pyspark import StorageLevel
from pyspark.sql import functions as F

from fda_clinical_etl_pipeline_spark import cache
from fda_clinical_etl_pipeline_spark.operators import lakehouse


def _cached(df) -> bool:
    return df.is_cached and df.storageLevel != StorageLevel.NONE


def _plan_builders(frames: dict):
    def builder(name):
        def fn(spark, sf_dir):
            frames[name] = cache.persist_tracked(
                spark.range(5).withColumn("name", F.lit(name))
            )
            return frames[name]
        return fn
    return builder


def test_evicted_plan_unpersists_its_frames(spark, monkeypatch):
    monkeypatch.setattr(cache, "_PLAN_CACHE_PLANS", 2)
    monkeypatch.setattr(cache, "_sessions", {})
    frames: dict = {}
    builder = _plan_builders(frames)
    outside = cache.persist_tracked(spark.range(3))  # no build running
    for name in "abc":
        cache.cached_plan(name, builder(name), spark, "sf")
    assert not _cached(frames["a"])  # LRU-evicted with its plan
    assert _cached(frames["b"]) and _cached(frames["c"])
    assert _cached(outside)

    cache.invalidate(spark, "c", "sf")
    assert not _cached(frames["c"])
    rebuilt = cache.cached_plan("c", builder("c"), spark, "sf")
    assert rebuilt is frames["c"] and _cached(rebuilt)

    assert cache.release_persists(spark) == 3  # b, c and outside
    assert not any(_cached(df) for df in frames.values())
    assert not _cached(outside)
    assert cache.release_persists(spark) == 0


def test_evicted_session_unpersists_its_frames(spark, monkeypatch):
    monkeypatch.setattr(cache, "_MAX_SESSIONS", 1)
    monkeypatch.setattr(cache, "_sessions", {})
    frames: dict = {}
    builder = _plan_builders(frames)
    cache.cached_plan("a", builder("a"), spark, "sf")
    outside = cache.persist_tracked(spark.range(3))
    other = spark.newSession()
    cache.cached_plan("b", builder("b"), other, "sf")  # evicts `spark`
    assert not _cached(frames["a"]) and not _cached(outside)
    assert _cached(frames["b"])
    assert cache.release_persists(spark) == 0  # nothing left for it
    assert cache.release_persists(other) == 1


def test_gate_root_builds_once_per_code(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    code = {"operators/lakehouse.py": "v1"}
    monkeypatch.setattr(lakehouse, "_gate_code", lambda: code)
    builds = []

    def build(root):
        builds.append(root)
        with open(os.path.join(root, f"table_{len(builds)}"), "w"):
            pass
        return {"s0": 2**62 + 1, "note": "kept"}

    root, info = lakehouse._gate_root("/data/sf1", "stub", build)
    assert info == {"s0": 2**62 + 1, "note": "kept"}
    assert lakehouse._gate_root("/data/sf1", "stub", build) == (root, info)
    assert len(builds) == 1

    code["operators/lakehouse.py"] = "v2"  # the writer code changed
    assert lakehouse._gate_root("/data/sf1", "stub", build) == (root, info)
    assert builds == [root, root]
    assert sorted(os.listdir(root)) == ["_gate_complete.json", "table_2"]

    other, _ = lakehouse._gate_root("/data/sf2", "stub", build)
    assert other != root and len(builds) == 3
    assert len(os.listdir(tmp_path)) == 2  # one directory per (gate, sf)


def test_gate_code_covers_the_writers():
    code = lakehouse._gate_code()
    for rel in ("operators/lakehouse.py", "sources/hudi_table.py",
                "sources/delta_log.py", "sources/iceberg.py", "cache.py"):
        assert len(code[rel]) == 32, rel
