"""Provenance / audit / status state machine (SURVEY.md §2.12).

The reference records lineage in 9 Postgres tables via per-event INSERTs
(etl/provenance_recorder.py:9-65, etl/audit.py:4-11) with the batch
status machine INGESTED → VALIDATED → SCRUBBED → COMPLETED (failure
states FAILED_VALIDATION / FAILED_SCRUB / FAILED_TRANSFORM,
db/init.sql:3-17). The engine keeps the same relational model as
append-only parquet tables (Delta/JDBC in production deployments):

- ``provenance_batch``   current status per batch — stored as an event
  log; "current" is a latest-per-key window over (batch_id, updated_at),
  i.e. the W1 operator. Append-only beats UPDATE at 100 TB: no
  read-modify-write, and history is free.
- ``provenance_steps``   step timeline, details as a JSON string (the
  reference's JSONB, db/init.sql:25).
- ``audit_log``          actor/action/severity.

Idempotency: the reference's ``ON CONFLICT (batch_id) DO NOTHING``
(etl/provenance_recorder.py:11-16) maps to first-event-wins in the event
log (min(updated_at) row for status INGESTED).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

VALID_TRANSITIONS = {
    "INGESTED": {"VALIDATED", "FAILED_VALIDATION"},
    "VALIDATED": {"SCRUBBED", "FAILED_SCRUB"},
    "SCRUBBED": {"COMPLETED", "FAILED_TRANSFORM"},
}

BATCH_SCHEMA = (
    "batch_id string, source_name string, status string, raw_file_path string, "
    "raw_sha256 string, curated_sha256 string, final_sha256 string, "
    "version_path string, total_rows long, error_details string, "
    "updated_at timestamp, seq long"
)
STEP_SCHEMA = (
    "batch_id string, step_name string, step_time timestamp, details_json string"
)
AUDIT_SCHEMA = (
    "actor string, action string, batch_id string, details string, "
    "severity string, created_at timestamp"
)
RULE_SCHEMA = (
    "batch_id string, rule_id string, description string, hits long, "
    "created_at timestamp"
)


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: str | T.StructType) -> DataFrame:
    """A one-partition frame of driver-side rows, for appends of a few
    control-plane rows. The rows travel as an Arrow table typed by
    ``schema``, which Spark plans as a LocalRelation, so writing it starts
    no Python workers. (``createDataFrame(list)`` parallelizes a
    PythonRDD, and each of its tasks starts a Python worker.) Naive
    datetimes are read as UTC."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table).coalesce(1)


def make_batch_id(source_name: str, filename: str) -> str:
    """F9/F16 (etl/ingest.py:46-50): {source}_{file with . → _}_{utc_ts}.

    Divergence: a microsecond suffix (derived from the SAME clock reading
    as the second field) is appended — the reference's second-granularity
    ts collides when the same file is ingested twice within one second.
    """
    now = time.time()
    ts = time.strftime("%Y%m%d%H%M%S", time.gmtime(now))
    return (f"{source_name}_{filename.replace('.', '_')}_{ts}"
            f"{int((now % 1) * 1e6):06d}")


@dataclass
class ProvenanceStore:
    """Parquet-backed append-only provenance store."""

    spark: SparkSession
    root: str

    # Appends are partitioned by event month: bounded directory sizes at
    # 10^8-batch scale, partition-pruned point lookups on recent data, and
    # compact() has a natural unit of work. The month column is derived,
    # never selected by readers (they project explicit columns).
    _TIME_COL = {
        "provenance_batch": "updated_at",
        "provenance_steps": "step_time",
        "provenance_rules_applied": "created_at",
        "audit_log": "created_at",
    }

    def _append(self, rows: list[tuple], table: str, schema: str) -> None:
        # NOTE: one file per append per month. The old
        # createDataFrame(list) frame was a Python-worker RDD scan: its 4
        # tasks started Python workers to write a few rows, ~0.5 s per
        # append, into up to 4 files. local_frame's Arrow-built local
        # relation writes the same rows in ~0.2 s (4 cores, measured).
        df = local_frame(self.spark, rows, schema)
        tcol = self._TIME_COL.get(table)
        df = df.withColumn("p_month", F.date_format(tcol, "yyyy-MM"))
        df.write.mode("append").partitionBy("p_month").parquet(
            os.path.join(self.root, table)
        )

    def compact(self, target_file_mb: int = 128) -> None:
        """Fold the per-event files into right-sized ones per month
        (incremental pipelines accumulate tiny appends; SCALING.md)."""
        from ..sources.layout import compact_small_files

        for table in self._TIME_COL:
            path = os.path.join(self.root, table)
            if os.path.isdir(path):
                compact_small_files(
                    self.spark, path, target_file_mb, ["p_month"]
                )

    # -- batch lifecycle ---------------------------------------------------

    def register_batch(
        self,
        batch_id: str,
        source_name: str,
        raw_file_path: str = "",
        raw_sha256: str = "",
    ) -> None:
        """etl/provenance_recorder.py:9-17 (status=INGESTED)."""
        self._append(
            [
                (
                    batch_id, source_name, "INGESTED", raw_file_path, raw_sha256,
                    None, None, None, None, None, _now(), _seq(),
                )
            ],
            "provenance_batch",
            BATCH_SCHEMA,
        )

    def register_batches_bulk(
        self, rows: list[tuple]
    ) -> None:
        """Bulk registration: one append for many batches (the bulk-ingest
        path). Row shape: (batch_id, source_name, raw_file_path,
        raw_sha256, status, total_rows, version_path, error_details)."""
        now = _now()
        self._append(
            [
                (
                    bid, src, status, raw_path, raw_sha, None, None,
                    version_path, total_rows, error_details, now, _seq(),
                )
                for bid, src, raw_path, raw_sha, status, total_rows,
                    version_path, error_details in rows
            ],
            "provenance_batch",
            BATCH_SCHEMA,
        )

    # Per-update transition enforcement reads the batch's current status
    # (one point filter). At 10^8-batch scale, set strict_transitions
    # False and run transition_violations() as a monitoring sweep instead
    # — append-only stores shouldn't read-before-write on the hot path.
    strict_transitions: bool = True

    def update_status(self, batch_id: str, status: str, **fields) -> None:
        """Status transition + optional column updates (total_rows,
        curated_sha256, final_sha256, version_path, error_details).

        Transitions outside VALID_TRANSITIONS (db/init.sql:3-17 machine)
        are still appended — the event log records what happened — but
        raise an audit WARNING so illegal histories (COMPLETED →
        VALIDATED, FAILED_* resurrection) are never silent."""
        if self.strict_transitions:
            try:
                cur = (
                    self.batches()
                    .filter(F.col("batch_id") == batch_id)
                    .select("status")
                    .collect()
                )
                old = cur[0]["status"] if cur else None
            except Exception:
                old = None  # no batch table yet — first event
            if old is not None and not check_transition(old, status):
                self.write_audit(
                    "provenance", "INVALID_TRANSITION", batch_id,
                    f"{old} -> {status}", severity="WARNING",
                )
        self._append(
            [
                (
                    batch_id,
                    fields.get("source_name"),
                    status,
                    fields.get("raw_file_path"),
                    fields.get("raw_sha256"),
                    fields.get("curated_sha256"),
                    fields.get("final_sha256"),
                    fields.get("version_path"),
                    fields.get("total_rows"),
                    fields.get("error_details"),
                    _now(),
                    _seq(),
                )
            ],
            "provenance_batch",
            BATCH_SCHEMA,
        )

    def record_step(self, batch_id: str, step_name: str, details: dict | None = None):
        """etl/provenance_recorder.py:49-56; details dict → JSON string."""
        self._append(
            [(batch_id, step_name, _now(), json.dumps(details or {}))],
            "provenance_steps",
            STEP_SCHEMA,
        )

    def record_rule(self, batch_id: str, rule_id: str, description: str = "",
                    hits: int = 0) -> None:
        """etl/provenance_recorder.py rules_applied insert — which PHI
        rules fired for this batch (A3's distinct-set, persisted)."""
        self._append(
            [(batch_id, rule_id, description, hits, _now())],
            "provenance_rules_applied",
            RULE_SCHEMA,
        )

    def rules_applied(self, batch_id: str) -> DataFrame:
        """GET /provenance/rules/{batch_id} (api/app.py:106-118)."""
        return (
            self._read("provenance_rules_applied", RULE_SCHEMA)
            .filter(F.col("batch_id") == batch_id)
            .orderBy("rule_id")
        )

    def write_audit(
        self, actor: str, action: str, batch_id: str = "", details: str = "",
        severity: str = "INFO",
    ) -> None:
        """etl/audit.py:4-11."""
        self._append(
            [(actor, action, batch_id, details, severity, _now())],
            "audit_log",
            AUDIT_SCHEMA,
        )

    # -- queries (the API surface, api/app.py:57-152) ----------------------

    def _read(self, table: str, schema: str) -> DataFrame:
        """One event table without its ``p_month`` partition column; an
        empty frame of ``schema`` while no event of it was written."""
        path = os.path.join(self.root, table)
        if not os.path.isdir(path):
            return local_frame(self.spark, [], schema)
        return self.spark.read.parquet(path).drop("p_month")

    def batches(self) -> DataFrame:
        """Current view: latest event per batch_id, with first-seen fields
        carried forward (event-sourced UPDATE)."""
        log = self.spark.read.parquet(os.path.join(self.root, "provenance_batch"))
        w = Window.partitionBy("batch_id").orderBy(
            F.col("updated_at").desc(), F.col("seq").desc()
        )
        wf = Window.partitionBy("batch_id").orderBy(
            F.col("updated_at").asc(), F.col("seq").asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        carried = [
            F.last(c, ignorenulls=True).over(wf).alias(c)
            for c in (
                "source_name", "raw_file_path", "raw_sha256", "curated_sha256",
                "final_sha256", "version_path", "total_rows", "error_details",
            )
        ]
        return (
            log.select("batch_id", "status", "updated_at", "seq", *carried)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "seq")
        )

    def steps(self, batch_id: str) -> DataFrame:
        """GET /provenance/steps/{batch_id} (api/app.py:93-102): timeline."""
        return (
            self._read("provenance_steps", STEP_SCHEMA)
            .filter(F.col("batch_id") == batch_id)
            .orderBy("step_time")
        )

    def latest_per_source(self, n: int = 20) -> DataFrame:
        """GET /provenance/latest (api/app.py:122-132): W2 top-n per source."""
        w = Window.partitionBy("source_name").orderBy(F.col("updated_at").desc())
        return (
            self.batches()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .drop("rn")
        )

    def search(self, status: str | None = None, source_name: str | None = None):
        """GET /provenance/search (api/app.py:136-152): P7 dynamic
        conjunctive predicates as chained optional filters."""
        df = self.batches()
        if status is not None:
            df = df.filter(F.col("status") == status)
        if source_name is not None:
            df = df.filter(F.col("source_name") == source_name)
        return df

    def recent_audit(self, n: int = 50) -> DataFrame:
        """README.md:225 monitoring query: latest n audit entries
        (ORDER BY created_at DESC LIMIT n — TakeOrderedAndProject, O2)."""
        return (
            self.spark.read.parquet(os.path.join(self.root, "audit_log"))
            .orderBy(F.col("created_at").desc())
            .limit(n)
            .drop("p_month")
        )

    def lineage(self, batch_id: str) -> DataFrame:
        """J3: the full lineage record for one batch — current batch state
        joined (left) with its ordered step timeline and fired rules, each
        collapsed to an array so the result is one row (the API's
        assembled-lineage response, api/app.py:93-118, as a single plan)."""
        batch = self.batches().filter(F.col("batch_id") == batch_id)
        out = batch.select("batch_id", "status", "total_rows")
        if os.path.isdir(os.path.join(self.root, "provenance_steps")):
            steps = (
                self.steps(batch_id)
                .groupBy("batch_id")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("step_time", "step_name"))
                    ).alias("timeline")
                )
                .select("batch_id", F.col("timeline.step_name").alias("steps"))
            )
            out = out.join(steps, "batch_id", "left")
        else:
            out = out.withColumn("steps", F.lit(None).cast("array<string>"))
        if os.path.isdir(os.path.join(self.root, "provenance_rules_applied")):
            rules = (
                self.rules_applied(batch_id)
                .groupBy("batch_id")
                .agg(F.sort_array(F.collect_list("rule_id")).alias("rules"))
            )
            out = out.join(rules, "batch_id", "left")
        else:
            out = out.withColumn("rules", F.lit(None).cast("array<string>"))
        return out

    def failed(self) -> DataFrame:
        """README.md:219 monitoring query: status LIKE 'FAILED_%' (P8)."""
        return self.batches().filter(F.col("status").like("FAILED_%"))

    def transition_violations(self) -> DataFrame:
        """Monitoring sweep over the whole event log: every consecutive
        status pair per batch that VALID_TRANSITIONS forbids — one window
        pass (lag over (updated_at, seq)), no per-update reads. The scale
        path for transition enforcement. A lake with no batch events yet
        yields an empty frame, not a read error."""
        log = self._read("provenance_batch", BATCH_SCHEMA)
        w = Window.partitionBy("batch_id").orderBy(
            F.col("updated_at").asc(), F.col("seq").asc()
        )
        allowed = F.create_map(*[
            x
            for old, news in VALID_TRANSITIONS.items()
            for x in (F.lit(old), F.array(*[F.lit(n) for n in sorted(news)]))
        ])
        prev = F.lag("status").over(w)
        return (
            log.select("batch_id", "status", "updated_at",
                       prev.alias("prev_status"))
            .filter(
                F.col("prev_status").isNotNull()
                & ~F.coalesce(
                    F.array_contains(
                        F.element_at(allowed, F.col("prev_status")),
                        F.col("status"),
                    ),
                    F.lit(False),
                )
            )
        )


def _now():
    import datetime

    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


_COUNTER = iter(range(10**12))


def _seq() -> int:
    """Monotonic tiebreak for same-microsecond events in one driver."""
    return next(_COUNTER)


def check_transition(old: str, new: str) -> bool:
    """Self-transitions are allowed (idempotent crash-replay re-records a
    stage's status); everything else follows VALID_TRANSITIONS."""
    if old == new:
        return True
    return new in VALID_TRANSITIONS.get(old, set())
