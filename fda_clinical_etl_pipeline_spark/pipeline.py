"""The end-to-end clinical pipeline: ingest → validate → scrub →
canonicalize → versioned publish, with provenance at every step
(SURVEY.md §3.1, re-expressed as one declarative flow).

The reference runs four OS processes that hand off through a Postgres
status machine and the filesystem (test/run_*.py). Here each stage is a
DataFrame transformation; state passes through the provenance store; one
Spark job per batch runs the whole narrow pipeline scan → validate-exprs
→ scrub-exprs → canonical select → write with NO shuffle (SURVEY.md §4.4).

Engine-over-reference semantics (documented divergences, SURVEY.md §4.3):
- quirk #1 FIXED: transform consumes the *scrubbed* frame, not the raw
  file;
- quirk #6 UNIFIED: dispatch is on registry ``source_type`` only;
- validation is full-data, not first-200-sample (quirk #8; both counts
  recorded in provenance details).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql.functions import col as F_col

from .catalog import Catalog, SourceMeta
from .plans import canonical, validate as validate_mod
from .plans.provenance import ProvenanceStore, make_batch_id
from .functions.scrub import DEFAULT_PHI_RULES, scrub_dataframe
from .sources import readers, writers


@dataclass
class Zones:
    """Lake tiers (SURVEY.md §1.1): directory prefixes, one root."""

    root: str

    @property
    def raw(self) -> str:
        return os.path.join(self.root, "raw")

    @property
    def quarantine(self) -> str:
        return os.path.join(self.root, "quarantine")

    @property
    def curated(self) -> str:
        return os.path.join(self.root, "curated")

    @property
    def qlm_ready(self) -> str:
        return os.path.join(self.root, "qlm_ready")

    @property
    def provenance(self) -> str:
        return os.path.join(self.root, "provenance")


def _listed_inputs(files_dir: str) -> list[str]:
    """The files directly in ``files_dir`` that a Spark read of it takes,
    as the file URIs ``input_file_name()`` reports: regular files whose
    names do not start with ``.`` or ``_`` (Spark skips those as
    hidden)."""
    return [
        Path(os.path.abspath(os.path.join(files_dir, name))).as_uri()
        for name in sorted(os.listdir(files_dir))
        if not name.startswith((".", "_"))
        and os.path.isfile(os.path.join(files_dir, name))
    ]


class ClinicalPipeline:
    def __init__(self, spark: SparkSession, zones: Zones,
                 catalog: Catalog | None = None):
        self.spark = spark
        self.zones = zones
        self.catalog = catalog or Catalog()
        self.prov = ProvenanceStore(spark, zones.provenance)

    # -- stage 1: ingest (etl/ingest.py:52-114) -----------------------------

    def ingest_file(self, source: SourceMeta, file_path: str) -> str:
        """RAW copy (K1, byte-exact for hashing) + SHA-256 + registration.
        Returns batch_id."""
        import shutil

        batch_id = make_batch_id(source.source_name, os.path.basename(file_path))
        raw_dir = os.path.join(self.zones.raw, source.source_name)
        os.makedirs(raw_dir, exist_ok=True)
        raw_path = os.path.join(raw_dir, os.path.basename(file_path))
        shutil.copyfile(file_path, raw_path)
        sha = writers.sha256_file(raw_path)
        self.prov.register_batch(batch_id, source.source_name, raw_path, sha)
        self.prov.record_step(batch_id, "INGEST", {"raw_sha256": sha})
        return batch_id

    def _read_batch(self, source: SourceMeta, path: str) -> DataFrame:
        if source.source_type == "csv":
            cols = [c.column_name for c in source.columns] or None
            return readers.read_csv_strings(self.spark, path, cols)
        if source.source_type == "jsonl":
            return readers.read_jsonl(self.spark, path)
        if source.source_type == "hl7":
            return readers.read_hl7(self.spark, path)
        raise ValueError(f"unknown source_type {source.source_type!r}")

    # -- stage 2: validate (etl/validate.py:225-285) -------------------------

    @staticmethod
    def _errors(source: SourceMeta, df: DataFrame, meta: list[dict]):
        """The ``_errors`` array column of a batch. HL7 gets P13's
        required-segment/field checks on the segments array
        (etl/validate.py:179-213 semantics); the other formats get the
        metadata checks, an always-empty array without metadata
        (etl/validate.py:239-243). One codegen expression, shared by the
        per-batch and bulk paths."""
        if source.source_type != "hl7":
            return validate_mod.errors_expr(df, meta)
        from pyspark.sql import functions as F

        from .functions import hl7 as hl7f

        return F.filter(
            F.array(
                F.when(~hl7f.has_segment(F.col("segments"), "PID"),
                       F.lit("missing_segment:PID")),
                *[
                    F.when(
                        hl7f.nullif_empty(
                            hl7f.pid_field(F.col("segments"), n)
                        ).isNull(),
                        F.lit(f"missing_field:PID-{n}"),
                    )
                    for n in (3, 5, 7)
                ],
            ),
            lambda x: x.isNotNull(),
        )

    def validate_batch(self, source: SourceMeta, batch_id: str,
                       raw_path: str) -> DataFrame | None:
        """Returns the valid DataFrame (None if the batch failed
        validation and was quarantined)."""
        df = self._read_batch(source, raw_path)
        meta = self.catalog.schema_metadata(source.source_name)
        if not meta:
            # no metadata ⇒ skip validation, pass (etl/validate.py:239-243)
            self.prov.record_step(batch_id, "VALIDATION_SKIPPED", {})
            self.prov.update_status(batch_id, "VALIDATED",
                                    total_rows=df.count())
            return df
        result = validate_mod.ValidationResult.split(
            df.withColumn("_errors", self._errors(source, df, meta))
        )

        n_total = df.count()
        n_bad = result.quarantine.count()
        if n_bad > 0:
            writers.quarantine_write(
                result.quarantine, self.zones.quarantine,
                source.source_name, batch_id,
            )
            self.prov.record_step(
                batch_id, "VALIDATION_FAILED",
                {"total_rows": n_total, "error_rows": n_bad},
            )
            self.prov.record_step(batch_id, "QUARANTINE_MOVED", {})
            self.prov.update_status(batch_id, "FAILED_VALIDATION",
                                    total_rows=n_total,
                                    error_details=f"{n_bad} invalid rows")
            return None
        self.prov.record_step(batch_id, "VALIDATION_PASSED",
                              {"total_rows": n_total})
        self.prov.update_status(batch_id, "VALIDATED", total_rows=n_total)
        return result.valid

    # -- stage 3: scrub (etl/scrub_phi.py:280-318) ----------------------------

    def scrub_batch(self, source: SourceMeta, batch_id: str,
                    df: DataFrame) -> DataFrame:
        meta = self.catalog.schema_metadata(source.source_name)
        scrubbed = self._scrub(source, df, meta)
        curated_dir = os.path.join(self.zones.curated, source.source_name, batch_id)
        writers.write_parquet(scrubbed, curated_dir)
        digest = writers.row_hash_agg(scrubbed)
        self.prov.record_step(batch_id, "SCRUB_PHI", {"row_digest": digest})
        self._record_fired_rules(source, batch_id, df)
        self.prov.update_status(batch_id, "SCRUBBED", curated_sha256=digest)
        # quirk #1 fixed: downstream reads THIS frame, not the raw file
        return self.spark.read.parquet(curated_dir)

    @staticmethod
    def _scrub(source: SourceMeta, df: DataFrame,
               meta: list[dict]) -> DataFrame:
        if source.source_type == "hl7":
            from pyspark.sql import functions as F

            from .functions.scrub import redact_hl7_segments

            # Column-level PID redaction from schema metadata (reference
            # scrub_hl7, etl/scrub_phi.py:199-266) + regex chain on every
            # other field/segment (quirk #7) — one codegen expression.
            return df.withColumn(
                "segments",
                redact_hl7_segments(F.col("segments"), meta),
            ).withColumn("message", F.array_join("segments", "\n"))
        return scrub_dataframe(df, meta, DEFAULT_PHI_RULES)

    def _record_fired_rules(self, source: SourceMeta, batch_id: str,
                            pre_scrub: DataFrame) -> None:
        """A3: the distinct set of rules that fired for this batch
        (etl/scrub_phi.py:81-132), measured as aggregate regexp hit counts
        over the pre-scrub text — one pass, no per-row side effects."""
        from pyspark.sql import functions as F

        from .functions.scrub import rule_hits_expr

        if source.source_type == "hl7":
            text = F.col("message")
            self._record_hl7_column_redactions(source, batch_id, pre_scrub)
        else:
            string_cols = [c for c, t in pre_scrub.dtypes
                           if t == "string" and not c.startswith("_")]
            if not string_cols:
                return
            text = F.concat_ws(" \x1e ", *string_cols)
        totals = (
            pre_scrub.select(F.explode(rule_hits_expr(text)).alias("rh"))
            .groupBy("rh.rule_id")
            .agg(F.sum("rh.hits").alias("hits"))
            .filter(F.col("hits") > 0)
            .collect()
        )
        by_id = {r.rule_id: r for r in DEFAULT_PHI_RULES}
        for row in totals:
            rule = by_id.get(row["rule_id"])
            self.prov.record_rule(
                batch_id, row["rule_id"],
                rule.description if rule else "", int(row["hits"]),
            )

    def _record_hl7_column_redactions(self, source: SourceMeta,
                                      batch_id: str,
                                      pre_scrub: DataFrame) -> None:
        """The reference's PHI_COLUMN_REDACT_{NAME,DATE,GENERIC} entries in
        rules_applied (etl/scrub_phi.py:237-255): count non-empty catalogued
        is_phi PID fields in one aggregate pass."""
        from pyspark.sql import functions as F

        from .functions import hl7 as hl7f

        meta = self.catalog.schema_metadata(source.source_name)
        buckets: dict[str, list[int]] = {}
        for m in meta:
            cname = str(m["column_name"]).upper()
            if not (m.get("is_phi") and cname.startswith("PID-")):
                continue
            try:
                pos = int(cname.split("-")[1])
            except (ValueError, IndexError):
                continue
            if "NAME" in cname or cname == "PID-5":
                rid = "PHI_COLUMN_REDACT_NAME"
            elif ("DOB" in cname or cname == "PID-7"
                  or "date" in str(m.get("data_type") or "").lower()):
                rid = "PHI_COLUMN_REDACT_DATE"
            else:
                rid = "PHI_COLUMN_REDACT_GENERIC"
            buckets.setdefault(rid, []).append(pos)
        if not buckets:
            return
        aggs = [
            F.sum(
                sum(
                    (
                        F.when(
                            F.trim(
                                F.coalesce(
                                    hl7f.pid_field(F.col("segments"), p),
                                    F.lit(""),
                                )
                            )
                            != "",
                            1,
                        ).otherwise(0)
                        for p in positions
                    ),
                    start=F.lit(0),
                )
            ).alias(rid)
            for rid, positions in buckets.items()
        ]
        row = pre_scrub.agg(*aggs).collect()[0]
        desc = {
            "PHI_COLUMN_REDACT_NAME": "column-level name redaction",
            "PHI_COLUMN_REDACT_DATE": "column-level date redaction",
            "PHI_COLUMN_REDACT_GENERIC": "column-level generic redaction",
        }
        for rid in buckets:
            hits = int(row[rid] or 0)
            if hits > 0:
                self.prov.record_rule(batch_id, rid, desc[rid], hits)

    # -- stage 4: transform / canonicalize (etl/transform.py:159-215) --------

    @staticmethod
    def _canonicalize(source: SourceMeta, df: DataFrame) -> DataFrame:
        if source.source_name == "hospital_a" or source.source_type == "csv":
            return canonical.canonicalize_hospital_a(df)
        if source.source_type == "jsonl":
            return canonical.canonicalize_clinic_b(df)
        return canonical.canonicalize_hl7(df)

    def transform_batch(self, source: SourceMeta, batch_id: str,
                        df: DataFrame) -> DataFrame:
        import time as _time

        out = self._canonicalize(source, df)
        ts = _time.strftime("%Y%m%dT%H%M%S", _time.gmtime())
        path = writers.write_versioned_artifact(
            out, self.zones.qlm_ready, source.source_name, batch_id, ts
        )
        digest = writers.row_hash_agg(out)
        self.prov.record_step(batch_id, "TRANSFORM", {"version_path": path})
        self.prov.update_status(
            batch_id, "COMPLETED", final_sha256=digest, version_path=path
        )
        return out

    # -- orchestration ---------------------------------------------------

    def run_all(self) -> list[dict]:
        """S1/S2 (etl/ingest.py:52-114): iterate active sources, enumerate
        each source's directory, run every file through all four stages.
        Returns one summary dict per batch."""
        import glob

        results = []
        for source in self.catalog.active_sources():
            if not source.file_path:
                continue
            for path in sorted(glob.glob(os.path.join(source.file_path, "*"))):
                if os.path.isfile(path):
                    results.append(self.run_batch(source.source_name, path))
        return results

    def run_bulk(self, source_name: str, files_dir: str) -> dict:
        """Bulk mode — the 100 TB ingest shape: EVERY file of the source
        in ONE plan. Per-file identity survives as ``_input_file``
        (SURVEY.md S2); validation/scrub/canonicalize run once over the
        union; per-file row counts come from one grouped aggregation; all
        provenance rows land in one append.

        One scan per source (operator fusion): the validated frame is
        ``persist()``-ed once, and the per-file stats, the quarantine
        write and the versioned write all read that cache. The first of
        them, the stats ``collect``, fills it. The cache is
        ``unpersist()``-ed in a ``finally``, so it is released whether
        the writes succeed or raise.

        Every file in ``files_dir`` gets a COMPLETED batch row; a file
        without rows (empty or header-only) has ``total_rows`` 0.

        Contrast run_batch/run_all (per-file sequential, ~20 Spark jobs
        per file — faithful to the reference's batch-per-file semantics
        but orchestration-bound: measured ~6 s/file at 5k rows/file).
        Bulk amortizes the fixed costs across the whole directory; this is
        the mode a 1000-executor deployment runs.
        """
        import time as _time

        from pyspark.sql import functions as F

        source = self.catalog.source(source_name)
        # the directory, not a ``files_dir/*`` glob: past 32 globbed
        # paths Spark lists them with a job of its own
        df = self._read_batch(source, files_dir)
        meta = self.catalog.schema_metadata(source_name)
        annotated = df.withColumn(
            "_errors", self._errors(source, df, meta)
        ).persist()
        try:
            # per-file totals and violation counts; fills the cache
            stats = (
                annotated.groupBy("_input_file")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.when(F.size("_errors") > 0, 1).otherwise(0))
                    .alias("n_bad"),
                )
                .collect()
            )
            result = validate_mod.ValidationResult.split(annotated)
            if sum(s["n_bad"] for s in stats) > 0:
                writers.quarantine_write(
                    result.quarantine, self.zones.quarantine, source_name,
                    "_bulk",
                )
            scrubbed = self._scrub(
                source, result.valid.drop("_input_file"), meta
            )
            ts = _time.strftime("%Y%m%dT%H%M%S", _time.gmtime())
            path = writers.write_versioned_artifact(
                self._canonicalize(source, scrubbed), self.zones.qlm_ready,
                source_name, "_bulk", ts,
            )
        finally:
            annotated.unpersist()
        per_file = [
            (s["_input_file"], int(s["n_rows"]), int(s["n_bad"]))
            for s in stats
        ]
        seen = {unquote(os.path.basename(f)) for f, _, _ in per_file}
        per_file += [
            (uri, 0, 0) for uri in _listed_inputs(files_dir)
            if unquote(os.path.basename(uri)) not in seen
        ]
        # provenance: one batch row per input file, ALL files in a single
        # multi-row append (per-file appends are per-write jobs)
        self.prov.register_batches_bulk(
            [
                (make_batch_id(source_name, os.path.basename(fpath)),
                 source_name, fpath, "", "COMPLETED", n_rows, path,
                 f"{n_bad} rows quarantined" if n_bad else None)
                for fpath, n_rows, n_bad in per_file
            ]
        )
        return {
            "files": len(per_file),
            "rows": sum(p[1] for p in per_file),
            "quarantined": sum(p[2] for p in per_file),
            "version_path": path,
        }

    def resume_pending(self) -> list[dict]:
        """The reference's polling semantics (etl/validate.py:42-50,
        etl/scrub_phi.py:281-291, etl/transform.py:218-228): pick up every
        batch stranded in a non-terminal status and drive it to
        completion, FIFO by ingest_time (O1). Crash-recovery for the
        single-process pipeline: state lives in provenance, exactly like
        the reference's Postgres status machine.

        - INGESTED            → validate → scrub → transform
        - VALIDATED           → re-validate from raw (stages are
                                 idempotent; valid rows aren't persisted,
                                 matching the reference) → scrub → transform
        - SCRUBBED            → transform from the CURATED artifact
        - COMPLETED/FAILED_*  → untouched
        """
        import os as _os

        pending = (
            self.prov.batches()
            .filter(F_col("status").isin("INGESTED", "VALIDATED", "SCRUBBED"))
            .orderBy("updated_at")
            .collect()
        )
        results = []
        for b in pending:
            source = self.catalog.source(b["source_name"])
            bid = b["batch_id"]
            try:
                if b["status"] in ("INGESTED", "VALIDATED"):
                    valid = self.validate_batch(source, bid, b["raw_file_path"])
                    if valid is None:
                        results.append({"batch_id": bid,
                                        "status": "FAILED_VALIDATION"})
                        continue
                    scrubbed = self.scrub_batch(source, bid, valid)
                else:  # SCRUBBED: curated artifact exists
                    curated = _os.path.join(
                        self.zones.curated, source.source_name, bid
                    )
                    scrubbed = self.spark.read.parquet(curated)
                out = self.transform_batch(source, bid, scrubbed)
                results.append({"batch_id": bid, "status": "COMPLETED",
                                "rows": out.count()})
            except Exception as exc:  # pragma: no cover - defensive
                self.prov.update_status(bid, "FAILED_TRANSFORM",
                                        error_details=str(exc)[:500])
                results.append({"batch_id": bid, "status": "FAILED_TRANSFORM"})
        return results

    def run_batch(self, source_name: str, file_path: str) -> dict:
        """One file through all four stages. Returns a summary dict."""
        source = self.catalog.source(source_name)
        batch_id = self.ingest_file(source, file_path)
        raw_path = os.path.join(
            self.zones.raw, source.source_name, os.path.basename(file_path)
        )
        valid = self.validate_batch(source, batch_id, raw_path)
        if valid is None:
            return {"batch_id": batch_id, "status": "FAILED_VALIDATION"}
        scrubbed = self.scrub_batch(source, batch_id, valid)
        out = self.transform_batch(source, batch_id, scrubbed)
        return {
            "batch_id": batch_id,
            "status": "COMPLETED",
            "rows": out.count(),
        }
