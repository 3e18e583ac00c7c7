"""PySpark-native incremental ETL/analytics engine.

A from-scratch, idiomatic-Spark rebuild of the query and data-processing
capabilities of ``fulldecent/google-sheets-etl`` (reference snapshot at
``/root/reference``), extended with large-scale data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Architecture (SURVEY.md §7):

- ``operators/``  — pure DataFrame transforms: the sheet kernel (T1-T6),
  watermark/min_by (A1/A2), change filter (J2+J3), fingerprints (A3),
  plus the extension operators (dedup / similarity / text / multimodal).
- ``sources/``    — pluggable sheet sources (fixture + Google REST stub).
- ``plans/``      — stateful table layer: versioned-parquet accounting
  tables with MERGE-style upserts (U1/U2), partition-overwrite targets
  (U4/U5), idempotent DDL + additive schema evolution (U7).
- ``functions/``  — reusable Column-level helpers (cosine, shingles,
  hashes) built on pyspark.sql.functions only (JVM-side, codegen-able).
- ``streaming/``  — Structured Streaming ingest (extension; the
  reference is batch-polling only, SURVEY.md §2.7).
- ``etl.py``      — orchestration: discover / batched load pass
  (change filter, driver-side headers, one write per target table,
  one accounting apply) / verify_oldest (O1-O6).
"""

__version__ = "0.1.0"
