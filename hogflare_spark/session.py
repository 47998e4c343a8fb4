"""SparkSession factory with scale-appropriate defaults.

Tuned for correctness tests on ``local[N]`` but with every knob chosen so
the same plan shape survives a 1000-executor cluster at 100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion decisions at runtime),
- auto broadcast threshold left on so dimension tables broadcast,
- Arrow enabled for the few pandas-UDF folds,
- UTC session timezone (the reference stores UTC RFC3339 everywhere,
  /root/reference/src/models.rs:16).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_ENTRIES = 500


def get_spark(
    app_name: str = "hogflare_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # AQE: coalesce post-shuffle partitions, split skewed joins,
        # re-plan join strategy with runtime stats. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas-UDF boundaries (ordered folds, embeddings).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: vectorized reader + pushdown are defaults, but be
        # explicit: these are the difference between reading 100 TB and 2 TB.
        .config("spark.sql.parquet.filterPushdown", "true")
        # the test lake's events.ts is TIMESTAMP(NANOS); read as long and
        # convert in the reader (sources/readers.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # The test lake is one small parquet file per table; at the default
        # 128 MB split size every scan is a single task and CPU-heavy
        # per-row operators (minhash sketches, cosine scoring) serialize on
        # one core. 4 MB splits parallelize them across local[N] without
        # any shuffle. On a real cluster with many files this is moot but
        # harmless (openCostInBytes still batches tiny files).
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.ui.enabled", "false")
        # Hold every generated class of an ingest pass. A warm
        # capture_batch pass of the 16k-request perfbench log generates
        # 107 distinct classes and an identity pass at most 115 (CodegenMetrics,
        # scripts/pass_profile.py); at the default 100 entries the LRU
        # cache evicted part of each pass, so every warm pass recompiled
        # 40-52 classes (100-300 ms of Janino on the driver, and C2 JIT
        # work on the new classes). A pass stays below the constant with
        # room for the flag and plan queries sharing the session.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
