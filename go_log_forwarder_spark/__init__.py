"""go_log_forwarder_spark — a PySpark-native rebuild of the capabilities of
MuchTitan/go-log-forwarder (reference snapshot at /root/reference, read-only).

This is NOT a port: the reference's goroutine/channel row-at-a-time engine is
replaced by a declarative DataFrame pipeline (Catalyst-optimized, Arrow
vectorized), re-targeted onto tables of pre-tokenized training sequences
``(doc_id string, tokens array<int>, n_tok int, source string)`` at
10^12-row scale per BASELINE.json.

Layout
------
- ``functions/`` — column-level kernels: tag-wildcard compiler, json/regex
  parsers, grep filter, enrichment, text analysis, dedup, similarity.
- ``operators/`` — routing (multi-sink fan-out) and aggregation (counters,
  metrics).
- ``sources/`` — tokens-table reader + synthetic generator, tail/http-shaped
  ingestion, parquet snapshot store (the Iceberg stand-in).
- ``plans/`` — YAML pipeline config -> DataFrame DAG builder, lineage/resume.
- ``streaming/`` — Structured Streaming variant of the same pipeline.
- ``oracle.py`` — pure-Python reimplementation of the reference semantics,
  used to generate golden expectations in tests.
"""

__version__ = "0.1.0"
