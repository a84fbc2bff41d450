"""Bulk-ingest mode (SURVEY.md S2 / 100 TB shape): EVERY file of a
source in ONE plan, per-file identity via _input_file, provenance in
a handful of appends. r13 extends bulk beyond CSV to the reference's
other two formats (etl/validate.py:134-213): JSONL and HL7, at
reference volume (100k JSONL records, 10k HL7 messages), with output
parity against the per-batch path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fda_clinical_etl_pipeline_spark.catalog import Catalog
from fda_clinical_etl_pipeline_spark.pipeline import (
    ClinicalPipeline,
    Zones,
)


@pytest.fixture()
def pipeline(spark, tmp_path):
    return ClinicalPipeline(spark, Zones(str(tmp_path / "lake")), Catalog())


def _jsonl_record(i: int) -> str:
    return json.dumps({
        "id": f"C{i:06d}",
        "name": f"Name {i}",
        "date_of_birth": "1981-09-22",
        "encounter": "2025-02-05",
        "icd": "J10",
        "free_text": f"note {i}; contact n{i}@clinic.org",
    })


def _hl7_message(i: int, bad: bool = False) -> str:
    pid = (
        ""  # missing PID segment → quarantined
        if bad else
        f'PID|1||{30000 + i}||"Pat {i}"||19770318|M|||1 Main St'
        f"|||||414-52-9061\n"
    )
    return (
        f"MSH|^~\\&|HOSPITAL_C|LAB|QLM|DEST|20250201||ORU^R01|M{i}|P|2.3\n"
        + pid
        + f"OBR|1||{i}|T^N\n"
        + f"OBX|1|ST|RESULT||{i}|units||N\n"
    )


def test_bulk_jsonl_reference_volume(pipeline, spark, tmp_path):
    d = tmp_path / "jsonl_in"
    d.mkdir()
    n_files, per_file = 4, 25_000
    for f_i in range(n_files):
        lines = [
            _jsonl_record(f_i * per_file + i) for i in range(per_file)
        ]
        (d / f"clinic_{f_i}.jsonl").write_text("\n".join(lines) + "\n")

    res = pipeline.run_bulk("clinic_b", str(d))
    assert res["files"] == n_files
    assert res["rows"] == n_files * per_file
    assert res["quarantined"] == 0

    out = spark.read.parquet(res["version_path"])
    assert out.count() == n_files * per_file
    # canonical schema identical to the per-batch path's
    assert set(out.columns) == {
        "patient_id", "patient_name", "dob", "visit_date", "diagnosis",
        "note_text", "address", "ssn", "source",
    }
    one = out.filter(F.col("patient_id") == "C000007").collect()
    assert len(one) == 1
    assert one[0]["patient_name"] == "[REDACTED_NAME]"
    assert "n7@clinic.org" not in (one[0]["note_text"] or "")

    # provenance: one COMPLETED batch row per input file, exact counts
    b = pipeline.prov.batches()
    assert b.count() == n_files
    got = {
        os.path.basename(r["raw_file_path"]): r for r in b.collect()
    }
    assert set(got) == {f"clinic_{i}.jsonl" for i in range(n_files)}
    assert all(r["status"] == "COMPLETED" for r in got.values())
    assert all(r["total_rows"] == per_file for r in got.values())


def test_bulk_hl7_reference_volume(pipeline, spark, tmp_path):
    d = tmp_path / "hl7_in"
    d.mkdir()
    n_files, per_file, bad_per_file = 2, 5_000, 3
    for f_i in range(n_files):
        msgs = [
            _hl7_message(f_i * per_file + i,
                         bad=(i < bad_per_file))
            for i in range(per_file)
        ]
        (d / f"hosp_{f_i}.hl7").write_text("\n".join(msgs))

    res = pipeline.run_bulk("hospital_c_hl7", str(d))
    assert res["files"] == n_files
    assert res["rows"] == n_files * per_file
    assert res["quarantined"] == n_files * bad_per_file

    out = spark.read.parquet(res["version_path"])
    assert out.count() == n_files * (per_file - bad_per_file)
    assert set(out.columns) == {
        "patient_id", "patient_name", "dob", "visit_date", "diagnosis",
        "note_text", "address", "ssn", "source",
    }
    # PHI scrubbed exactly as the per-batch HL7 path scrubs
    one = out.filter(F.col("patient_id") == "30011").collect()
    assert len(one) == 1
    assert one[0]["patient_name"] == "[REDACTED_NAME]"
    assert one[0]["source"] == "hospital_c_hl7"
    assert "414-52-9061" != one[0]["ssn"]

    # quarantined messages land row-level under the _bulk batch
    q = spark.read.parquet(
        f"{pipeline.zones.quarantine}/hospital_c_hl7/_bulk"
    )
    assert q.count() == n_files * bad_per_file
    errs = q.select("_errors").collect()
    assert all("missing_segment:PID" in r["_errors"] for r in errs)


def test_bulk_matches_per_batch_output(spark, tmp_path):
    """Parity: the same file through run_bulk and run_batch yields the
    identical canonical relation (sorted rows compare equal)."""
    msgs = "\n".join(_hl7_message(i) for i in range(20))
    d_bulk = tmp_path / "in_bulk"
    d_bulk.mkdir()
    (d_bulk / "a.hl7").write_text(msgs)
    f_single = tmp_path / "a.hl7"
    f_single.write_text(msgs)

    p1 = ClinicalPipeline(spark, Zones(str(tmp_path / "l1")), Catalog())
    p2 = ClinicalPipeline(spark, Zones(str(tmp_path / "l2")), Catalog())
    res_bulk = p1.run_bulk("hospital_c_hl7", str(d_bulk))
    res_batch = p2.run_batch("hospital_c_hl7", str(f_single))
    assert res_batch["status"] == "COMPLETED"

    bulk_rows = sorted(
        tuple(r) for r in spark.read.parquet(
            res_bulk["version_path"]
        ).collect()
    )
    vp = p2.prov.batches().collect()[0]["version_path"]
    batch_rows = sorted(
        tuple(r) for r in spark.read.parquet(vp).collect()
    )
    assert bulk_rows == batch_rows


CSV_HEADER = "patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes\n"
CSV_ROW = "P1,Ann Lee,111-22-3333,1970-01-01,2025-02-04,Flu,follow-up\n"


def _csv_dir(tmp_path, files: dict[str, str]):
    d = tmp_path / "csv_in"
    d.mkdir()
    for name, text in files.items():
        (d / name).write_text(text)
    return d


def test_bulk_registers_empty_and_header_only_files(pipeline, tmp_path):
    """A file without rows has no ``_input_file`` group; it still gets
    its COMPLETED batch row, with total_rows 0 and the same file-URI
    path form as the files that have rows."""
    d = _csv_dir(tmp_path, {
        "a.csv": CSV_HEADER + CSV_ROW,
        "header_only.csv": CSV_HEADER,
        "zero.csv": "",
    })
    res = pipeline.run_bulk("hospital_a", str(d))
    assert (res["files"], res["rows"], res["quarantined"]) == (3, 1, 0)

    got = {
        os.path.basename(r["raw_file_path"]): r
        for r in pipeline.prov.batches().collect()
    }
    assert set(got) == {"a.csv", "header_only.csv", "zero.csv"}
    assert {n: r["total_rows"] for n, r in got.items()} == {
        "a.csv": 1, "header_only.csv": 0, "zero.csv": 0,
    }
    assert all(r["status"] == "COMPLETED" for r in got.values())
    assert {r["raw_file_path"].rsplit("/", 1)[0] for r in got.values()} \
        == {"file://" + str(d)}


def test_lineage_steps_and_rules_on_bulk_only_lake(pipeline, tmp_path):
    """run_bulk writes batch rows only; the step and rule endpoints then
    answer an empty list instead of a missing-path error."""
    from fda_clinical_etl_pipeline_spark.api import LineageApi

    d = _csv_dir(tmp_path, {"a.csv": CSV_HEADER + CSV_ROW})
    pipeline.run_bulk("hospital_a", str(d))
    bid = pipeline.prov.batches().collect()[0]["batch_id"]
    api = LineageApi(pipeline.prov)
    assert api.steps(bid) == []
    assert api.rules(bid) == []
    assert pipeline.prov.steps(bid).columns == [
        "batch_id", "step_name", "step_time", "details_json",
    ]


def test_bulk_releases_its_cache(pipeline, spark, tmp_path, monkeypatch):
    """The one persisted scan is unpersisted after run_bulk, also when
    the versioned write raises."""
    from fda_clinical_etl_pipeline_spark.sources import writers

    d = _csv_dir(tmp_path, {"a.csv": CSV_HEADER + CSV_ROW * 3})
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    pipeline.run_bulk("hospital_a", str(d))
    assert cached().size() == before

    def boom(*args, **kwargs):
        raise RuntimeError("versioned write failed")

    monkeypatch.setattr(writers, "write_versioned_artifact", boom)
    with pytest.raises(RuntimeError, match="versioned write failed"):
        pipeline.run_bulk("hospital_a", str(d))
    assert cached().size() == before


def test_bulk_without_invalid_rows_skips_quarantine(pipeline, spark,
                                                     tmp_path, monkeypatch):
    """The quarantine write is decided from the per-file counts: no
    probing ``take`` job, and no quarantine directory when every row is
    valid."""

    def no_take(self, num):
        raise AssertionError("run_bulk fired a take job")

    monkeypatch.setattr(type(spark.range(1)), "take", no_take)
    d = _csv_dir(tmp_path, {"a.csv": CSV_HEADER + CSV_ROW * 3})
    res = pipeline.run_bulk("hospital_a", str(d))
    assert (res["rows"], res["quarantined"]) == (3, 0)
    assert not os.path.exists(
        os.path.join(pipeline.zones.quarantine, "hospital_a")
    )


def test_provenance_append_one_file_same_values(spark, tmp_path,
                                                monkeypatch):
    """A 20-row append writes one file, and stores what the
    ``createDataFrame(list)`` path stored on a UTC host, all-null long
    and string columns included."""
    import datetime
    import glob
    import time

    from fda_clinical_etl_pipeline_spark.plans.provenance import (
        BATCH_SCHEMA,
        ProvenanceStore,
        _now,
    )

    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    try:
        now = _now()
        rows = [
            (f"b{i}", "src", "COMPLETED", f"file:///in/{i}.csv", "",
             None, None, "/v", None, None if i % 2 else "err",
             now + datetime.timedelta(microseconds=i), i)
            for i in range(20)
        ]
        store = ProvenanceStore(spark, str(tmp_path / "prov"))
        store._append(rows, "provenance_batch", BATCH_SCHEMA)
        files = glob.glob(
            str(tmp_path / "prov" / "provenance_batch" / "*" / "*.parquet")
        )
        stored = sorted(
            tuple(r) for r in spark.read.parquet(
                str(tmp_path / "prov" / "provenance_batch")
            ).drop("p_month").collect()
        )
        old = sorted(
            tuple(r)
            for r in spark.createDataFrame(rows, BATCH_SCHEMA).collect()
        )
    finally:
        monkeypatch.undo()
        time.tzset()
    assert len(files) == 1
    assert stored == old
