"""Verification-window rotation contract (registry ordering).

The external driver checks the FIRST 50 entries of queries() per round,
so ordering is part of the verification contract: never-checked or
changed-since-checked queries must lead, and the rest must rotate
stalest-first so no query sits outside the window indefinitely.
"""

from __future__ import annotations

from fda_clinical_etl_pipeline_spark.registry import (
    _CHANGED,
    _LAST_CHECKED,
    all_queries,
    validate_rotation,
)

WINDOW = 50


def test_rotation_metadata_names_exist():
    # a typo'd or renamed query in the rotation metadata would silently
    # mis-slot the verification window (all_queries() populates the
    # registry via its import side effects first)
    all_queries()
    assert validate_rotation() == []


def test_changed_and_new_queries_lead_the_window():
    names = list(all_queries())
    window = set(names[:WINDOW])
    front = set(_CHANGED) | {
        n for n in names if n not in _LAST_CHECKED
    }
    if len(front) <= WINDOW:
        # every changed/new query must occupy a window slot
        missing = front - window
        assert not missing, (
            f"changed/new queries outside driver window: {missing}"
        )
    else:
        # a heavy round flagged more queries than the window holds:
        # the invariant is then that EVERY slot goes to a changed/new
        # query (stalest-first priority working; the overflow fronts
        # the NEXT round's window because fold_rotation only clears
        # flags on a driver-recorded green)
        strays = window - front
        assert not strays, (
            f"window slots wasted on unflagged queries while "
            f"{len(front - window)} flagged wait: {strays}"
        )


def _tier(n: str) -> tuple[int, int]:
    if n not in _LAST_CHECKED:
        return (0, -1)
    return (1 if n in _CHANGED else 2, _LAST_CHECKED[n])


def test_rotation_is_tiered_stalest_first():
    names = list(all_queries())
    effective = [_tier(n) for n in names]
    assert effective == sorted(effective)


def test_never_checked_names_always_front_the_window():
    # VERDICT r11 finding 1: hand-flooding "changed" past 50 names used
    # to re-sort never-driver-recorded queries out of the window
    # alphabetically. Tier 0 now makes that structurally impossible
    # (as long as fewer than WINDOW names are never-checked, which the
    # assert below also pins).
    names = list(all_queries())
    never = [n for n in names if n not in _LAST_CHECKED]
    assert len(never) < WINDOW, "too many never-checked queries for one window"
    assert set(never) <= set(names[:WINDOW]), (
        f"never-driver-recorded queries outside the window: "
        f"{set(never) - set(names[:WINDOW])}"
    )


def test_every_registered_query_has_rotation_state():
    # new queries may legitimately be absent from _LAST_CHECKED (they
    # sort to the front) — but once the round's CORRECTNESS report
    # lands they must be recorded, or they'd hog window slots forever.
    # This test only pins that the registry and metadata don't diverge
    # in the other direction (metadata naming ghosts) — covered above —
    # and that the window is actually full.
    assert len(all_queries()) >= WINDOW


def test_edited_modules_front_their_gates():
    """Mechanical rotation hygiene (VERDICT r8 finding 1): an edit to
    any package module a registered query transitively depends on —
    ast-resolved, so a gate query in operators/lakehouse.py depends on
    sources/hudi_table.py — must add that query to
    rotation.json["changed"], re-fronting it in the verification
    window. fold_rotation.py re-records the module-hash baseline at
    each driver fold and clears the flags it re-greens."""
    from fda_clinical_etl_pipeline_spark.depcheck import stale_unflagged

    stale = stale_unflagged()
    assert not stale, (
        "package modules edited since the last fold without flagging "
        "their dependent gate queries in rotation.json['changed'] — "
        f"add these names (query -> edited files): {stale}"
    )


def test_unit_granularity_depcheck():
    """r13: function-granularity dependency mapping. One function's
    edit must re-front only the queries whose code transitively
    reaches it — an ADTS/TS probe edit must not flag the decode gate,
    and a _util edit to an unused helper must not flag anything that
    never calls it. Conservative widening stays: module-preamble
    edits flag every unit of the file."""
    from fda_clinical_etl_pipeline_spark.depcheck import (
        query_unit_dependencies,
        stale_unflagged,
        unit_hashes,
    )

    qd = query_unit_dependencies()
    probe = qd["media_probe_features"]
    decode = qd["multimodal_decode_features"]
    # the probe gate reaches the TS walker; the decode gate (a
    # self-contained mapInPandas closure by design) does not
    assert "operators/multimodal.py::probe_mpegts" in probe
    assert "operators/multimodal.py::probe_mpegts" not in decode
    # neither multimodal gate reaches the image decoder the IMAGE
    # gates use
    assert "operators/multimodal.py::decode_png" not in probe
    # _util precision: q1 touches read_table/tables, nothing from
    # the lakehouse sources
    q1 = qd["q1_pricing_summary"]
    assert "operators/_util.py::read_table" in q1
    assert not any(u.startswith("sources/iceberg.py") for u in q1)

    # end-to-end simulation: a fold-time snapshot with ONE unit's
    # hash perturbed must flag exactly the queries that reach it
    snap = unit_hashes()
    key = "operators/multimodal.py::probe_mpegts"
    assert key in snap
    snap[key] = "0" * 32
    stale = stale_unflagged({
        "changed": [], "unit_hashes": snap, "last_checked": {},
    })
    assert "media_probe_features" in stale
    assert "multimodal_decode_features" not in stale
    assert "q1_pricing_summary" not in stale
    # and a clean snapshot flags nothing
    assert stale_unflagged({
        "changed": [], "unit_hashes": unit_hashes(),
        "last_checked": {},
    }) == {}


def test_plan_cache_lru_bound(monkeypatch):
    """r15: the per-session plan cache is LRU-bounded — an unbounded
    cache pinned every built plan (and its executions' broadcasts) on
    the JVM heap, which exhausted a default-1g driver after ~175
    registry queries in one session. Eviction must rebuild correctly
    and hits must refresh recency."""
    from fda_clinical_etl_pipeline_spark import cache

    monkeypatch.setattr(cache, "_PLAN_CACHE_PLANS", 3)
    monkeypatch.setattr(cache, "_sessions", {})
    built = []

    class FakeSession:  # id()-keyed; never dereferenced as a session
        pass

    s = FakeSession()

    def builder(name):
        def fn(spark, sf_dir):
            built.append(name)
            return object()
        return fn

    fns = {n: builder(n) for n in "abcd"}
    a1 = cache.cached_plan("a", fns["a"], s, "sf")
    cache.cached_plan("b", fns["b"], s, "sf")
    cache.cached_plan("c", fns["c"], s, "sf")
    # hit refreshes recency: 'a' moves to newest, 'b' becomes LRU
    assert cache.cached_plan("a", fns["a"], s, "sf") is a1
    cache.cached_plan("d", fns["d"], s, "sf")  # evicts 'b'
    assert cache.cached_plan("a", fns["a"], s, "sf") is a1  # survived
    assert built.count("a") == 1
    cache.cached_plan("b", fns["b"], s, "sf")
    assert built.count("b") == 2  # was evicted, rebuilt
