"""Control tables — the reference's orchestration DSL as a working
job-config layer (SURVEY.md §2.11 surface #2).

The reference defines ``control_header`` (control_id, source_name,
status PENDING→RUNNING→COMPLETED/FAILED, scheduled_time, run_time) and
``control_detail`` (control_id, step_order, step_type, config_json)
(db/init.sql:47-65) with a reader (etl/control.py:8-43) that NO runner
ever invokes — dead code in the reference. Here the same data-driven
shape actually drives the engine: a parquet-backed store whose steps
dispatch onto ClinicalPipeline verbs, with header status tracked as an
append-only event log (latest-per-key current state — the same
event-sourced pattern as plans/provenance.py, so a crashed runner
leaves RUNNING rows that ``pending()``-style polling can detect rather
than silently losing state).

Scale posture: control tables are control-plane metadata (rows = jobs,
not data); every read is a latest-per-key window over a tiny relation,
and the driver loop iterates CONTROLS (jobs to launch), never data
rows.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .provenance import local_frame

_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("control_id", T.StringType()),
        T.StructField("source_name", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("scheduled_time", T.DoubleType()),
        T.StructField("event_time", T.DoubleType()),
        T.StructField("comments", T.StringType()),
    ]
)

_DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("control_id", T.StringType()),
        T.StructField("step_order", T.IntegerType()),
        T.StructField("step_type", T.StringType()),
        T.StructField("config_json", T.StringType()),
    ]
)


@dataclass
class StepResult:
    step_order: int
    step_type: str
    result: dict


class ControlStore:
    """Parquet-backed control_header/control_detail with event-sourced
    header status."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.header_path = os.path.join(path, "control_header")
        self.detail_path = os.path.join(path, "control_detail")

    # -- write side --------------------------------------------------------

    def schedule(
        self,
        source_name: str,
        steps: list[tuple[str, dict]],
        scheduled_time: float | None = None,
        comments: str | None = None,
    ) -> str:
        """Insert one control (status PENDING) plus its ordered steps.
        Returns the control_id."""
        ts = time.time()
        control_id = f"ctl-{source_name}-{int(ts * 1e6):x}"
        sched = ts if scheduled_time is None else scheduled_time
        self._append_header(
            control_id, source_name, "PENDING", sched, comments
        )
        rows = [
            (control_id, i + 1, step_type, json.dumps(config))
            for i, (step_type, config) in enumerate(steps)
        ]
        local_frame(self.spark, rows, _DETAIL_SCHEMA).write.mode(
            "append"
        ).parquet(self.detail_path)
        return control_id

    def mark(self, control_id: str, status: str, comments: str | None = None):
        hdr = self._headers().filter(
            F.col("control_id") == control_id
        ).collect()
        if not hdr:
            raise KeyError(f"unknown control {control_id}")
        self._append_header(
            control_id, hdr[0]["source_name"], status,
            hdr[0]["scheduled_time"], comments,
        )

    def _append_header(self, control_id, source, status, sched, comments):
        row = (control_id, source, status, float(sched), time.time(),
               comments)
        local_frame(self.spark, [row], _HEADER_SCHEMA).write.mode(
            "append"
        ).parquet(self.header_path)

    # -- read side ---------------------------------------------------------

    def _headers(self) -> DataFrame:
        """Current header state: latest event per control_id."""
        raw = self.spark.read.schema(_HEADER_SCHEMA).parquet(self.header_path)
        w = Window.partitionBy("control_id").orderBy(
            F.col("event_time").desc()
        )
        return (
            raw.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def pending(self) -> list[Row]:
        """PENDING controls, scheduled_time ascending — the reference's
        get_pending_controls (etl/control.py:9-16)."""
        return (
            self._headers()
            .filter(F.col("status") == "PENDING")
            .orderBy("scheduled_time", "control_id")
            .collect()
        )

    def steps(self, control_id: str) -> list[Row]:
        """Ordered steps — the reference's get_control_steps
        (etl/control.py:18-33)."""
        return (
            self.spark.read.schema(_DETAIL_SCHEMA)
            .parquet(self.detail_path)
            .filter(F.col("control_id") == control_id)
            .orderBy("step_order")
            .collect()
        )

    def status_of(self, control_id: str) -> str:
        rows = self._headers().filter(
            F.col("control_id") == control_id
        ).collect()
        if not rows:
            raise KeyError(f"unknown control {control_id}")
        return rows[0]["status"]


# step_type → (pipeline, source_name, config) -> result dict
def _step_run_batch(pipeline, source_name, config):
    return pipeline.run_batch(source_name, config["file_path"])


def _step_run_bulk(pipeline, source_name, config):
    return pipeline.run_bulk(source_name, config["files_dir"])


def _step_resume(pipeline, source_name, config):
    return {"resumed": pipeline.resume_pending()}


STEP_TYPES = {
    "run_batch": _step_run_batch,
    "run_bulk": _step_run_bulk,
    "resume_pending": _step_resume,
}


def run_pending_controls(
    store: ControlStore, pipeline, step_types: dict | None = None
) -> dict[str, list[StepResult]]:
    """Execute every PENDING control in scheduled order: mark RUNNING,
    run its steps in step_order through the step-type dispatch table,
    mark COMPLETED — or FAILED on the first failing step (later steps
    of that control are skipped; OTHER controls still run). Returns
    per-control step results."""
    dispatch = STEP_TYPES if step_types is None else step_types
    out: dict[str, list[StepResult]] = {}
    for ctl in store.pending():
        cid = ctl["control_id"]
        store.mark(cid, "RUNNING")
        results: list[StepResult] = []
        try:
            for step in store.steps(cid):
                fn = dispatch.get(step["step_type"])
                if fn is None:
                    raise ValueError(
                        f"unknown step_type {step['step_type']!r}"
                    )
                config = json.loads(step["config_json"] or "{}")
                res = fn(pipeline, ctl["source_name"], config)
                results.append(
                    StepResult(step["step_order"], step["step_type"], res)
                )
            store.mark(cid, "COMPLETED")
        except Exception as exc:  # noqa: BLE001 — job isolation boundary
            store.mark(cid, "FAILED", comments=str(exc)[:500])
        out[cid] = results
    return out
