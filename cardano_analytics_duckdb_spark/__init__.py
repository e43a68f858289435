"""PySpark-native analytics engine with the query and data-processing
capabilities of ``mpizenberg/cardano-analytics-duckdb``.

The reference (at /root/reference, read-only) is an ETL + embedded-OLAP
application delegating execution to DuckDB over a slot-partitioned Parquet
lake.  This package re-expresses the same capabilities Spark-first:

- ``lake``       — table schemas, readers, partitioned writers, compaction
- ``sources``    — block-JSON parsing (offline Ogmios replay), streaming ingest
- ``operators``  — the query library (reference parity + LLM-pipeline ops)
- ``functions``  — scalar/column helpers (slot→time, bech32, rounding, ordering)
- ``streaming``  — Structured Streaming windowed aggregations
- ``plans``      — session construction and Catalyst-facing tuning
"""

__version__ = "0.1.0"
