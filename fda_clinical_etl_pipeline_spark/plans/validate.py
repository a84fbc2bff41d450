"""Validation as expression-generated boolean columns (SURVEY.md §2.3
P9–P13; etl/validate.py semantics, distributed).

The reference validates row-at-a-time with Python type probes
(etl/validate.py:19-37) and *file-level* quarantine (a single bad row
quarantines the whole file, etl/validate.py:216-223). The engine compiles
``schema_metadata`` rows into one derived ``_errors`` array column, then:

- row-level split: valid rows flow on, violating rows go to quarantine
  (strictly better than file-level; the file-level verdict is still
  derivable as ``count(_errors) > 0`` per input file);
- error taxonomy matches the reference: ``missing_columns`` /
  ``null_not_allowed`` / ``type_mismatch(<type>)`` (etl/validate.py:102-119);
- type probes are ANSI-safe try_cast / try_to_timestamp — parse failure
  yields NULL, never a job failure (the cast-null idiom).

At 100 TB: validation is a narrow map over the scan — no shuffle; the
quarantine split is two filtered writes off one cached plan
(``ValidationResult.split`` over the frame ``ClinicalPipeline.run_bulk``
persists, so the file is scanned once).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Lenient multi-format date probe, mirroring dateutil.parser leniency
# (etl/validate.py:28) with an explicit format inventory (F10).
DATE_FORMATS = (
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "dd/MM/yyyy",
    "MM-dd-yyyy",
    "yyyyMMdd",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
)


def lenient_timestamp(c: Column) -> Column:
    return F.coalesce(
        *[F.try_to_timestamp(c, F.lit(fmt)) for fmt in DATE_FORMATS]
    )


def type_ok(c: Column, data_type: str) -> Column:
    """P10: does the string value parse as the declared type? Unknown
    types are accepted (etl/validate.py:36-37). Empty/NULL is handled by
    the nullability check, so it's vacuously OK here."""
    t = (data_type or "").lower()
    empty = c.isNull() | (c == "")
    if t in ("int", "integer"):
        return empty | c.try_cast("long").isNotNull()
    if t in ("float", "double", "numeric"):
        return empty | c.try_cast("double").isNotNull()
    if t in ("date", "datetime", "timestamp"):
        return empty | lenient_timestamp(c).isNotNull()
    return F.lit(True)  # string/text/unknown: accept


@dataclass
class ValidationResult:
    annotated: DataFrame  # original columns + _errors array<string>
    valid: DataFrame      # rows with no errors (original columns)
    quarantine: DataFrame  # rows with errors + _errors detail

    @classmethod
    def split(cls, annotated: DataFrame) -> "ValidationResult":
        """Both outputs are filters over ``annotated``: persist it first,
        and writing both scans the input once."""
        return cls(
            annotated=annotated,
            valid=annotated.filter(F.size("_errors") == 0).drop("_errors"),
            quarantine=annotated.filter(F.size("_errors") > 0),
        )

    def error_summary(self) -> DataFrame:
        """Grouped error taxonomy counts — the provenance `details` payload
        (bounded, aggregated; never a driver-side list of rows)."""
        return (
            self.quarantine.select(F.explode("_errors").alias("error"))
            .groupBy("error")
            .count()
        )


def errors_expr(df: DataFrame, schema_meta: list[dict]) -> Column:
    """Compile metadata rows into one array<string> of violation tags."""
    checks: list[Column] = []
    cols = set(df.columns)
    for m in schema_meta:
        name, dtype = m["column_name"], m.get("data_type", "string")
        nullable = m.get("is_nullable", True)
        if name not in cols:
            # P11 plan-time column-set diff: declared column absent from
            # the data — every row carries the error (file-level verdict).
            checks.append(F.lit(f"missing_columns:{name}"))
            continue
        c = F.col(name)
        if not nullable:
            checks.append(
                F.when(c.isNull() | (c == ""), F.lit(f"null_not_allowed:{name}"))
            )
        checks.append(
            F.when(~type_ok(c, dtype), F.lit(f"type_mismatch({dtype}):{name}"))
        )
    if not checks:
        return F.array().cast("array<string>")
    return F.filter(F.array(*checks), lambda x: x.isNotNull())


def validate(df: DataFrame, schema_meta: list[dict]) -> ValidationResult:
    """Split a batch into valid/quarantine. No metadata ⇒ everything passes
    (the reference's skip-validation short-circuit, etl/validate.py:239-243).
    """
    return ValidationResult.split(
        df.withColumn("_errors", errors_expr(df, schema_meta))
    )


def extra_columns(df: DataFrame, schema_meta: list[dict]) -> list[str]:
    """P11's other half: data columns not declared in metadata (reported,
    not fatal — etl/validate.py:100-106 treats both as errors for CSV;
    engine policy: report)."""
    declared = {m["column_name"] for m in schema_meta}
    return [c for c in df.columns if c not in declared and not c.startswith("_")]
