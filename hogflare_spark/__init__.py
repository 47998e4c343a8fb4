"""hogflare_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference event-analytics engine
(sidequery/hogflare, surveyed in SURVEY.md) as idiomatic Spark:

- ``sources``   — wire-format decoding (base64/gzip/zlib/form/envelope/batch)
- ``operators`` — normalization to the 21-column event schema, stateful
  person/group folds, identity resolution, dedup/similarity/text analysis
- ``functions`` — expression helpers (hashing, JSON, coercion)
- ``flags``     — feature-flag config → compiled Column predicates
- ``plans``     — the SQL/DataFrame query layer over the governed tables
- ``streaming`` — Structured Streaming ingestion pipeline
- ``sinks``     — partitioned Parquet/Iceberg writers

Everything engine-side is built from pure Spark expressions so Catalyst
can push down, prune, and codegen; Python appears only as `mapInArrow`
kernels where semantics demand it: request decode and the ordered
person and group replays. Their workers fork from ``worker_daemon``.
"""

__version__ = "0.1.0"
