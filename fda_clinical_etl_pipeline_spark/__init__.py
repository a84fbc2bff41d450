"""fda_clinical_etl_pipeline_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference `Jeevan-prasanth/fda-clinical-etl-pipeline`
(clinical batch ETL: ingest → validate → scrub PHI → canonicalize →
versioned publish, with provenance/audit), re-expressed as declarative
DataFrame / Spark SQL plans so Catalyst + Tungsten pick the physical
strategy, plus the large-scale training-data operators (dedup,
similarity search, text analysis, multimodal columns) the reference's
domain implies at 100 TB scale.

Layout
------
- ``session``     SparkSession factory (UTC, AQE, sane shuffle sizing)
- ``catalog``     source registry + schema metadata as DataFrames
- ``sources``     readers (csv/jsonl/hl7/parquet/binary) and writers
- ``plans``       validation / scrub / canonicalize / provenance plan builders
- ``operators``   relational, dedup, similarity, text, versioning, multimodal
- ``functions``   scalar expression helpers (regex redaction, HL7, hashing)
- ``streaming``   Structured Streaming equivalents of the polling pipeline
"""

__version__ = "0.1.0"

# Session hygiene for long-lived consumers: cache.py owns each session's
# cached plans and the intermediates they persist. A plan evicted from
# the plan cache unpersists its frames; release_persists(spark) releases
# every frame tracked for the session between requests (safe any time —
# later actions recompute). Re-exported here so harnesses and services
# need not know the module layout.
from .cache import persist_tracked, release_persists  # noqa: E402,F401
