"""The workloads: set-up, one round, and the metrics a round yields.

A round is a fixed list of operations run by one closed-loop caller. Every
round starts from the same program state (fresh lakes and tables), so its
cost does not depend on how many rounds ran before it. Set-up generates the
inputs, starts Spark and runs one untimed warm-up round at full input size.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import check
import gen
import tracing as tr


@dataclass
class Op:
    kind: str  # "write", "read" or "probe"
    name: str
    seconds: float
    rows: int = 0
    failed: bool = False


@dataclass
class Round:
    ops: list[Op] = field(default_factory=list)
    complaints: list[str] = field(default_factory=list)
    stats: dict = field(default_factory=dict)  # per-layer figures

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark = None
        self.tracer: tr.Tracer | None = None
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, "lakes", f"{tag}-{self._n}")

    def timed(self, rnd: Round, kind: str, layer: str, name: str, fn,
              rows: int = 0, **attrs):
        """Run one operation, timed; traced runs open a span around it."""
        if self.tracer is None:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        else:
            with self.tracer.span(layer, name, kind=kind, **attrs) as s:
                out = fn()
            dt = s.seconds
        rnd.ops.append(Op(kind, name, dt, rows))
        return out

    def setup(self, start_spark) -> dict:
        raise NotImplementedError

    def round(self, checked: bool = True) -> Round:
        raise NotImplementedError

    def layer_metrics(self, rounds: list[Round]) -> dict:
        raise NotImplementedError


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def engine_counters(tracer: tr.Tracer, kind: str) -> dict:
    """Engine counters per operation of one kind, summed over each
    operation's job groups (its own and its children's)."""
    ops = [s for s in tracer.roots if s.attrs.get("kind") == kind]
    return {
        f"engine.{kind}.{c}": (sum(s.total(c) for s in ops) / len(ops)
                               if ops else 0.0)
        for c in tr.COUNTERS
    }


# ------------------------------------------------------------ bulk_ingest

BULK_SIZES = {"hospital_a": (20, 5000), "clinic_b": (20, 5000),
              "hospital_c_hl7": (50, 200)}
BAD_EVERY = 97  # about 1% of records are planted invalid
LATEST_N = 5


class BulkIngest(Workload):
    """``run_bulk`` over the three sources at the reference volumes, then a
    fixed set of lineage reads over the provenance the bulk run wrote, then
    the fixed name-in-notes probe (see ``gen.write_name_in_notes_probe``)."""

    name = "bulk_ingest"

    def setup(self, start_spark) -> dict:
        self.inputs = os.path.join(self.work, "inputs")
        self.books = gen.write_sources(self.inputs, self.seed, BULK_SIZES,
                                       BAD_EVERY)
        self.probe_dir = os.path.join(self.work, "probe", "hospital_a")
        self.probe_book = gen.write_name_in_notes_probe(self.probe_dir)
        self.input_bytes = {
            s: tr.dir_size(os.path.join(self.inputs, s))[1]
            for s in gen.SOURCES}
        timings = start_spark()
        from fda_clinical_etl_pipeline_spark.api import LineageApi
        from fda_clinical_etl_pipeline_spark.catalog import Catalog
        from fda_clinical_etl_pipeline_spark.pipeline import (
            ClinicalPipeline, Zones,
        )

        self._pipeline = lambda lake: ClinicalPipeline(
            self.spark, Zones(lake), Catalog())
        self._api = LineageApi
        t0 = time.perf_counter()
        self.round(checked=False)
        timings["session.warmup_s"] = time.perf_counter() - t0
        return timings

    def round(self, checked: bool = True) -> Round:
        rnd = Round()
        lake = self.fresh_dir("bulk")
        p = self._pipeline(lake)
        results = {}
        for s in gen.SOURCES:
            book = self.books[s]
            results[s] = self.timed(
                rnd, "write", "pipeline", "run_bulk",
                lambda s=s: p.run_bulk(s, os.path.join(self.inputs, s)),
                rows=book.n_input, source=s)

        calls = self._reads(rnd, p, self._api(p.prov))

        probe_lake = self.fresh_dir("probe")
        probe = self._pipeline(probe_lake)
        probe_res = self.timed(
            rnd, "probe", "pipeline", "run_bulk",
            lambda: probe.run_bulk("hospital_a", self.probe_dir),
            rows=self.probe_book.n_input, source="probe")

        if self.tracer is not None:
            rnd.stats["provenance"] = tr.dir_size(
                os.path.join(lake, "provenance"))
        if not checked:
            return rnd
        c = rnd.complaints
        zones = p.zones
        api_books = {}
        for s in gen.SOURCES:
            book, res = self.books[s], results[s]
            c += check.qlm_ids(res["version_path"], book.valid_ids, s)
            c += check.quarantine_rows(
                os.path.join(zones.quarantine, s), book.n_invalid, s)
            c += check.bulk_provenance(zones.provenance, s, book.files, s)
            c += check.no_phi(res["version_path"], book.phi, gen.FIRST,
                              gen.LAST, s)
            api_books.update({
                f: {"source": s, "status": "COMPLETED",
                    "total_rows": b["input"]}
                for f, b in book.files.items()})
        c += check.api_answers(calls, api_books, LATEST_N)
        c += check.qlm_ids(probe_res["version_path"],
                           self.probe_book.valid_ids, "probe")
        # the probe's redaction check is its own operation's outcome: it
        # fails while free-text names pass the scrub unredacted
        leaks = check.no_phi(probe_res["version_path"], self.probe_book.phi,
                             gen.FIRST, gen.LAST, "probe")
        rnd.ops[-1].failed = bool(leaks)
        return rnd

    def _reads(self, rnd: Round, p, api) -> list:
        """The lineage read mix: every COMPLETED batch, three point
        lookups, one assembled lineage record and the latest per source."""
        ans = self.timed(rnd, "read", "api", "search",
                         lambda: api.search("COMPLETED"))
        calls = [("search", ("COMPLETED", s), ans) for s in gen.SOURCES]
        ids = {os.path.basename(r["raw_file_path"]): r["batch_id"]
               for r in ans}
        for s in gen.SOURCES:
            name = sorted(self.books[s].files)[0]
            bid = ids.get(name, "")
            ans = self.timed(rnd, "read", "api", "batch",
                             lambda b=bid: api.batch(b))
            calls.append(("batch", (bid, name), ans))
        rows = self.timed(rnd, "read", "api", "lineage",
                          lambda b=bid: p.prov.lineage(b).collect())
        calls.append(("lineage", (bid, name),
                      rows[0].asDict() if rows else None))
        ans = self.timed(rnd, "read", "api", "latest",
                         lambda: api.latest(LATEST_N))
        calls.append(("latest", (), ans))
        return calls

    def layer_metrics(self, rounds: list[Round]) -> dict:
        t = self.tracer
        out = {}
        runs = [s for s in t.roots
                if s.name == "run_bulk" and s.attrs["source"] != "probe"]
        for src in gen.SOURCES:
            mine = [s for s in runs if s.attrs["source"] == src]
            out[f"pipeline.bulk_s.{src}"] = _median(s.seconds for s in mine)
            out[f"pipeline.bulk_jobs.{src}"] = _median(
                s.total("jobs") for s in mine)
        n_rounds = len(rounds)
        inner = [x for s in runs for x in s.walk()]

        def per_round(layer, names=None, value=lambda s: s.seconds):
            return sum(value(s) for s in inner if s.layer == layer
                       and (names is None or s.name in names)) / n_rounds

        out["readers.plan_ms"] = 1000 * per_round("readers")
        on_disk = sum(self.input_bytes.values()) * n_rounds
        out["readers.scan_amplification"] = sum(
            s.total("input_bytes") for s in runs) / on_disk
        writes = ("write_parquet", "quarantine_write")
        out["writers.write_s"] = per_round("writers", writes)
        out["writers.bytes_written"] = per_round(
            "writers", writes, lambda s: s.attrs["bytes"])
        out["writers.files_written"] = per_round(
            "writers", writes, lambda s: s.attrs["files"])
        files = sum(len(b.files) for b in self.books.values())
        out["provenance.appends_per_file"] = per_round(
            "provenance", value=lambda s: 1) / files
        out["provenance.s_per_file"] = per_round("provenance") / files
        out["provenance.files"] = _median(
            r.stats["provenance"][0] for r in rounds)
        out["provenance.bytes"] = _median(
            r.stats["provenance"][1] for r in rounds)
        api = [s for s in t.roots if s.layer == "api"]
        for ep in ("batch", "search", "latest", "lineage"):
            out[f"api.{ep}.p50_ms"] = 1000 * _median(
                s.seconds for s in api if s.name == ep)
        out["api.jobs_per_request"] = _median(s.total("jobs") for s in api)
        out["api.input_bytes_per_request"] = _median(
            s.total("input_bytes") for s in api)
        return out


# ------------------------------------------------------ versioned_publish

PUBLISH_BASE, PUBLISH_UPSERTS, PUBLISH_UPSERT_ROWS, PUBLISH_DELETES = (
    2000, 1, 400, 50)
FORMATS = ("hudi", "delta", "iceberg")


class VersionedPublish(Workload):
    """The reference's ``register_hudi`` step on canonical QLM rows (upsert
    keyed by patient_id, precombined on visit_date), on each of the three
    table formats: create, a fixed upsert sequence with overlapping keys,
    one delete; then the latest snapshot, an as-of read of every commit
    and the change feed across the commit range, each read in full."""

    name = "versioned_publish"

    def setup(self, start_spark) -> dict:
        self.plan = gen.publish_plan(self.seed, PUBLISH_BASE,
                                     PUBLISH_UPSERTS, PUBLISH_UPSERT_ROWS,
                                     PUBLISH_DELETES)
        self.states = gen.book_states(self.plan)
        self.batch_bytes = [_parquet_bytes(b) for b in self.plan.upserts]
        timings = start_spark()
        from fda_clinical_etl_pipeline_spark.sources.delta_log import (
            DeltaProtocolTable,
        )
        from fda_clinical_etl_pipeline_spark.sources.hudi_table import (
            HudiTable,
        )
        from fda_clinical_etl_pipeline_spark.sources.iceberg import (
            IcebergTable,
        )

        self._cls = {"hudi": HudiTable, "delta": DeltaProtocolTable,
                     "iceberg": IcebergTable}
        t0 = time.perf_counter()
        self.round(checked=False)
        timings["session.warmup_s"] = time.perf_counter() - t0
        return timings

    def _frames(self):
        schema = ", ".join(f"{c} string" for c in gen.QLM_COLUMNS)
        mk = self.spark.createDataFrame
        return (mk(self.plan.create, schema),
                [mk(b, schema) for b in self.plan.upserts],
                mk([(k,) for k in self.plan.delete_keys],
                   "patient_id string"))

    def round(self, checked: bool = True) -> Round:
        from pyspark.sql import functions as F

        rnd = Round()
        plan = self.plan
        for fmt in FORMATS:
            cls = self._cls[fmt]
            path = self.fresh_dir(fmt)
            create_df, upsert_dfs, delete_df = self._frames()
            commits = []  # (files, bytes) of the table dir after each commit
            key, pc = "patient_id", "visit_date"

            if fmt == "hudi":
                def create():
                    t = cls.create(self.spark, path, "qlm", key, pc)
                    t.upsert(create_df)
                    return t
            elif fmt == "delta":
                def create():
                    return cls.create(self.spark, path, create_df, key=key,
                                      precombine=pc, enable_cdf=True)
            else:
                def create():
                    return cls.create(self.spark, path, create_df)
            table = self.timed(rnd, "write", fmt, "create", create,
                               rows=len(plan.create))
            commits.append(tr.data_files(path))
            for i, df in enumerate(upsert_dfs):
                if fmt == "iceberg":
                    fn = lambda df=df: table.upsert(df, key, pc)  # noqa: E731
                else:
                    fn = lambda df=df: table.upsert(df)  # noqa: E731
                self.timed(rnd, "write", fmt, "upsert", fn,
                           rows=len(plan.upserts[i]))
                commits.append(tr.data_files(path))
            if fmt == "hudi":
                fn = lambda: table.delete_keys(delete_df)  # noqa: E731
            else:
                fn = lambda: table.delete_where(  # noqa: E731
                    F.col(key).isin(plan.delete_keys))
            self.timed(rnd, "write", fmt, "delete", fn,
                       rows=len(plan.delete_keys))
            commits.append(tr.data_files(path))

            cols = list(gen.QLM_COLUMNS)
            if fmt == "hudi":
                versions = table.commits()
                as_of = lambda v: table.snapshot(as_of_instant=v)  # noqa
                changes = lambda: table.changelog(versions[0], versions[-1])  # noqa
            elif fmt == "delta":
                versions = list(range(table.latest_version() + 1))
                as_of = lambda v: table.snapshot(version=v)  # noqa: E731
                changes = lambda: table.table_changes(1, versions[-1])  # noqa
            else:
                versions = [h["snapshot_id"] for h in table.history()]
                as_of = lambda v: table.snapshot(snapshot_id=v)  # noqa: E731
                changes = lambda: table.changelog_scan(  # noqa: E731
                    versions[0], versions[-1])

            def rows_of(df):
                return df.select(*cols).toArrow()

            latest = self.timed(rnd, "read", fmt, "snapshot",
                                lambda: rows_of(table.snapshot()))
            reads = [self.timed(rnd, "read", fmt, "as_of",
                                lambda v=v: rows_of(as_of(v)))
                     for v in versions]
            feed = self.timed(
                rnd, "read", fmt, "changes",
                lambda: changes().select("_change_type", key).toArrow())
            if self.tracer is not None:
                rnd.stats[fmt] = commits
            if not checked:
                continue
            c = rnd.complaints
            if len(versions) != len(self.states):
                c.append(f"{fmt}: {len(versions)} commits, the plan made "
                         f"{len(self.states)}")
                continue
            c += check.table_state(_tuples(latest), self.states[-1],
                                   f"{fmt} snapshot")
            for i, r in enumerate(reads):
                c += check.table_state(_tuples(r), self.states[i],
                                       f"{fmt} as-of commit {i}")
            c += check.change_feed(
                list(zip(feed.column(0).to_pylist(),
                         feed.column(1).to_pylist())),
                self.states[0], self.states[-1], f"{fmt} change feed")
        return rnd

    def layer_metrics(self, rounds: list[Round]) -> dict:
        ops = self.tracer.roots
        out = {}
        for fmt in FORMATS:
            mine = [s for s in ops if s.layer == fmt]

            def med(name, value=lambda s: s.seconds):
                return _median(value(s) for s in mine if s.name == name)

            out[f"{fmt}.upsert_s"] = med("upsert")
            out[f"{fmt}.upsert_jobs"] = med("upsert",
                                            lambda s: s.total("jobs"))
            out[f"{fmt}.delete_s"] = med("delete")
            files, amp = [], []
            for r in rounds:
                commits = r.stats[fmt]
                files += [b[0] - a[0] for a, b in zip(commits, commits[1:])]
                amp += [(commits[i + 1][1] - commits[i][1]) / nbytes
                        for i, nbytes in enumerate(self.batch_bytes)]
            out[f"{fmt}.files_per_commit"] = _median(files)
            out[f"{fmt}.write_amplification"] = _median(amp)
            for name in ("snapshot", "as_of", "changes"):
                out[f"{fmt}.{name}_ms"] = 1000 * med(name)
        return out


def _tuples(table) -> list[tuple]:
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return list(zip(*cols))


def _parquet_bytes(rows: list[tuple]) -> int:
    """Size of an upsert batch written alone as snappy parquet: the user
    bytes an upsert publishes."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    t = pa.table({c: list(v) for c, v in zip(gen.QLM_COLUMNS, cols)})
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy")
    return buf.tell()


WORKLOADS = {w.name: w for w in (BulkIngest, VersionedPublish)}
