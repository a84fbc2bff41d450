"""Streaming CHANGELOG source over the Iceberg metadata tree — the
row-level change feed (insert/delete with ``_change_type`` /
``_commit_snapshot_id`` / ``_change_ordinal``) as a Structured
Streaming input, the streaming twin of ``IcebergTable.changelog_scan``
and the third leg of the CDC story (Delta: ``delta_cdf_stream``;
Hudi: ``hudi_changelog_stream``).

Offsets are METADATA VERSIONS. Planning (driver, metadata-only) diffs
each in-range snapshot's manifests against its parent — added files
become insert partitions, removed files become delete partitions
carrying the PARENT's delete scope (a row already dead at the parent
cannot die again), kept files hit by NEW delete files become victim
partitions carrying both the new and the parent scope. ``replace``
snapshots (compaction, rewrite_manifests) emit nothing, exactly the
changelog contract.

Reading is one pyarrow pass per partition — position deletes filter by
(file, pos), equality deletes match by value under the strict sequence
rule (a delete at sequence s kills rows of data files with sequence
< s) — no Spark job nests inside the DataSource worker.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ._admission import AdmissionControl
from ._pyrows import ts_fixer

from .iceberg_stream import _current_version, _metadata, _spark_schema
from ._pyarrow_compat import refuse_variant_columns as _refuse_variant


def _entries_of(snap: dict, content: int) -> list[dict]:
    from .avro_ocf import decode_ocf

    _, manifests = decode_ocf(open(snap["manifest-list"], "rb").read())
    out = []
    for m in manifests:
        if m.get("content", 0) != content:
            continue
        _, es = decode_ocf(open(m["manifest_path"], "rb").read())
        out += [e for e in es if e["status"] != 2]
    return out


def _pos_paths(snap: dict) -> list[str]:
    return sorted(
        e["data_file"]["file_path"]
        for e in _entries_of(snap, 1)
        if e["data_file"].get("content", 1) == 1
    )


def _eqs(snap: dict, id2name: dict) -> list[dict]:
    return [
        {
            "path": e["data_file"]["file_path"],
            "seq": e.get("sequence_number") or 0,
            "ids": list(e["data_file"].get("equality_ids") or []),
            "cols": [
                id2name[i]
                for i in (e["data_file"].get("equality_ids") or [])
            ],
        }
        for e in _entries_of(snap, 1)
        if e["data_file"].get("content") == 2
    ]


class _IcebergChangelogStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, schema: T.StructType, options: dict):
        _refuse_variant(schema, type(self).__name__)
        self.path = path
        self.schema = schema
        start = options.get("starting_version")
        self._initial = int(start) - 1 if start is not None else -1
        self._adm = AdmissionControl(options, "version", self._initial)

    def initialOffset(self):
        return {"version": self._initial}

    def _files_of(self, v: int) -> int:
        """Files the step to metadata version ``v`` touched, from
        manifest-list counts alone (adds + deletes both contribute
        change partitions)."""
        from .avro_ocf import decode_ocf

        meta = _metadata(self.path, v)
        from_seq = self._seq_of(v - 1) if v > 0 else -1
        to_seq = meta["last-sequence-number"]
        sid = meta.get("current-snapshot-id")
        if sid is None or sid == -1:
            return 0
        snap = next(
            (s for s in meta["snapshots"]
             if s["snapshot-id"] == sid), None
        )
        if snap is None or snap["summary"]["operation"] == "replace":
            return 0
        _, manifests = decode_ocf(
            open(snap["manifest-list"], "rb").read()
        )
        return sum(
            m["added_files_count"] + m["deleted_files_count"]
            for m in manifests
            if from_seq < m["sequence_number"] <= to_seq
        )

    def latestOffset(self):
        head = max(_current_version(self.path), self._initial)
        return {"version": self._adm.admit(
            head, lambda lo, hi: range(lo + 1, hi + 1), self._files_of
        )}

    def _seq_of(self, version: int) -> int:
        if version < 0:
            return -1
        return _metadata(self.path, version)["last-sequence-number"]

    def partitions(self, start, end):
        self._adm.note_seen(start, end)
        parts: list[InputPartition] = []
        if end["version"] > start["version"] and end["version"] >= 0:
            meta = _metadata(self.path, end["version"])
            from_seq = self._seq_of(start["version"])
            to_seq = meta["last-sequence-number"]
            id2name = {
                f["id"]: f["name"]
                for f in meta["schemas"][meta["current-schema-id"]]
                ["fields"]
            }
            by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
            window = sorted(
                (s for s in meta["snapshots"]
                 if from_seq < s["sequence-number"] <= to_seq),
                key=lambda s: s["sequence-number"],
            )
            ordinal = 0
            for s in window:
                if s["summary"]["operation"] == "replace":
                    continue
                parent = by_id.get(s.get("parent-snapshot-id"))
                cur = {
                    e["data_file"]["file_path"]: e
                    for e in _entries_of(s, 0)
                }
                par = {} if parent is None else {
                    e["data_file"]["file_path"]: e
                    for e in _entries_of(parent, 0)
                }
                p_pos = _pos_paths(parent) if parent else []
                p_eqs = _eqs(parent, id2name) if parent else []
                n_pos = sorted(set(_pos_paths(s)) - set(p_pos))
                p_eq_paths = {e["path"] for e in p_eqs}
                n_eqs = [e for e in _eqs(s, id2name)
                         if e["path"] not in p_eq_paths]
                emitted = False
                sid = s["snapshot-id"]
                for fp in sorted(p for p in cur if p not in par):
                    parts.append(InputPartition((
                        "insert", fp, 0, sid, ordinal,
                        [], [], [], [],
                    )))
                    emitted = True
                for fp in sorted(p for p in par if p not in cur):
                    fseq = par[fp].get("sequence_number") or 0
                    parts.append(InputPartition((
                        "delete", fp, fseq, sid, ordinal,
                        p_pos, p_eqs, [], [],
                    )))
                    emitted = True
                if n_pos or n_eqs:
                    kept = sorted(p for p in cur if p in par)
                    # same scale guard as the batch changelog: a
                    # 3-row CDC delete must not plan a victim
                    # partition for every carried file
                    from .iceberg import IcebergTable

                    fields = {
                        f["id"]: f
                        for f in meta["schemas"]
                        [meta["current-schema-id"]]["fields"]
                    }
                    narrowed = (
                        IcebergTable._narrow_kept_to_delete_targets(
                            kept, cur, n_pos, n_eqs, fields
                        )
                    )
                    for fp in narrowed:
                        fseq = cur[fp].get("sequence_number") or 0
                        parts.append(InputPartition((
                            "killed", fp, fseq, sid, ordinal,
                            p_pos, p_eqs, n_pos, n_eqs,
                        )))
                    # ordinal parity with the batch scan: the
                    # delete commit claims its ordinal even when
                    # narrowing proves zero victims
                    emitted = emitted or bool(kept)
                if emitted:
                    ordinal += 1
        if not parts:
            parts.append(InputPartition(
                ("", None, 0, 0, 0, [], [], [], [])
            ))
        return parts

    def read(self, partition):
        (kind, fp, fseq, sid, ordinal,
         p_pos, p_eqs, n_pos, n_eqs) = partition.value
        if fp is None:
            return
        import pyarrow.parquet as pq

        data_cols = [f.name for f in self.schema.fields
                     if not f.name.startswith("_change")
                     and f.name != "_commit_snapshot_id"]
        table = pq.read_table(fp)
        by_name = {
            c: table.column(c).to_pylist()
            for c in table.column_names
        }
        n = table.num_rows
        base = os.path.basename(fp)

        def pos_dead(paths) -> set:
            dead = set()
            for p in paths:
                t = pq.read_table(p, columns=["file_path", "pos"])
                for f_, po in zip(
                    t.column("file_path").to_pylist(),
                    t.column("pos").to_pylist(),
                ):
                    if os.path.basename(f_) == base:
                        dead.add(po)
            return dead

        def eq_dead(eqs) -> set:
            dead = set()
            for e in eqs:
                if not e["cols"] or e["seq"] <= fseq:
                    continue  # strict sequence rule
                t = pq.read_table(e["path"], columns=e["cols"])
                vals = set(zip(*[
                    t.column(c).to_pylist() for c in e["cols"]
                ]))
                for i in range(n):
                    if tuple(
                        by_name[c][i] for c in e["cols"]
                    ) in vals:
                        dead.add(i)
            return dead

        parent_dead = pos_dead(p_pos) | eq_dead(p_eqs)
        if kind == "insert":
            emit = (i for i in range(n))
            ctype = "insert"
        elif kind == "delete":
            emit = (i for i in range(n) if i not in parent_dead)
            ctype = "delete"
        else:  # killed: parent-live rows the NEW deletes hit
            victims = pos_dead(n_pos) | eq_dead(n_eqs)
            emit = (
                i for i in range(n)
                if i not in parent_dead and i in victims
            )
            ctype = "delete"
        fix = ts_fixer(self.schema.fields)
        for i in emit:
            out = []
            for name in data_cols:
                out.append(fix(
                    name,
                    by_name[name][i] if name in by_name else None,
                ))
            yield tuple(out + [ctype, sid, ordinal])

    def commit(self, end):
        pass


class IcebergChangelogStreamSource(DataSource):
    """``spark.readStream.format("iceberg_changelog_stream")
    .option("path", p)`` after ``spark.dataSource.register(
    IcebergChangelogStreamSource)`` — the streaming twin of
    ``IcebergTable.changelog_scan``."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_changelog_stream"

    def schema(self):
        base = _spark_schema(
            _metadata(self.options["path"],
                      _current_version(self.options["path"]))
        )
        return T.StructType(list(base.fields) + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_snapshot_id", T.LongType(), False),
            T.StructField("_change_ordinal", T.IntegerType(), False),
        ])

    def streamReader(self, schema):
        return _IcebergChangelogStreamReader(
            self.options["path"], schema, dict(self.options)
        )
