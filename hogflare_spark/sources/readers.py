"""Parquet table readers for the driver-generated test lake.

At 100 TB these would be Iceberg catalog tables (`spark.table(...)`) with
partition pruning; here each table is a single parquet file per
TESTDATA.md. The reader keeps the scan declarative so Catalyst pushes
filters and prunes columns into the parquet reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Scan-plan memo (r13, guide §7.3): `spark.read.parquet` pays schema
# inference (a footer read + a dozen py4j round-trips, ~0.14 s at this
# box's ~2.5 ms/round-trip) on EVERY call, and the bench builds each
# query 4 times over the same static tables — several seconds of pure
# driver overhead per run. The memo caches no data and no results, but
# a scan plan does freeze the table's schema and file listing, so each
# plan is kept with the fingerprint of the files it was planned over
# (`_fingerprint`): a `load_table` that finds the table's path or
# entries changed plans the table again. Keyed on applicationId so a
# new session never sees stale py4j handles; the events normalization
# below is part of the memoized value (it is pure plan too).
_SCAN_MEMO: dict = {}


def _fingerprint(path: str) -> tuple | None:
    """(name, mtime_ns, size) of `path` and, for a directory, of each of
    its entries; None for a path the local filesystem cannot stat (the
    read then reports it, or it is not a local path)."""
    try:
        st = os.stat(path)
        stamps = [("", st.st_mtime_ns, st.st_size)]
        if os.path.isdir(path):
            for e in sorted(os.scandir(path), key=lambda e: e.name):
                est = e.stat()
                stamps.append((e.name, est.st_mtime_ns, est.st_size))
    except OSError:
        return None
    return tuple(stamps)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    stamp = _fingerprint(f"{sf_dir}/{name}.parquet")
    hit = _SCAN_MEMO.get(key)
    if hit is None or hit[0] != stamp:
        hit = _SCAN_MEMO[key] = (stamp, _load_table(spark, sf_dir, name))
    return hit[1]


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The lake's events.ts encoding has shifted between driver rounds:
        # TIMESTAMP(NANOS) (r1) and timestamp[us] with no timezone (r2+),
        # which Spark 4 infers as TIMESTAMP_NTZ. Query code downstream uses
        # unix_micros / bigint casts that require a zoned TIMESTAMP, so
        # defend against both encodings: nanosAsLong keeps a NANOS scan from
        # failing outright, inferTimestampNTZ=false makes a tz-less
        # timestamp[us] column arrive as TimestampType, and UTC session time
        # keeps arithmetic identical to the DuckDB oracle. All three confs
        # are runtime-settable, so this holds even under the driver's own
        # SparkSession (built without session.py).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # NANOS lake + nanosAsLong: long ns-since-epoch. Integer `div`
            # (not float /) keeps full precision above 2^53, then truncate
            # to micros like DuckDB does.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Belt-and-braces: if NTZ still slips through (e.g. a cached
            # scan planned before the conf flip), cast to zoned timestamp —
            # NTZ→TIMESTAMP reads the naive value in the session timezone,
            # which is pinned to UTC above, so instants are preserved.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
