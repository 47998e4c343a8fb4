"""Partitioning helpers for CPU-bound operators.

A single small parquet file arrives as ONE scan partition (splits can't
cross row-group boundaries), which serializes per-row-heavy operators
(minhash sketching, cosine scoring) on one core no matter how many the
session has. `fan_out` round-robin repartitions ONLY when the input has
fewer partitions than the session's parallelism — on a real cluster where
a 100 TB table scans as tens of thousands of splits it is a no-op, so the
shuffle cost exists exactly in the regime where it's negligible (small
inputs) and disappears in the regime where it would hurt (large ones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def has_explicit_repartition(df: DataFrame) -> bool:
    """True when the analyzed plan already contains a user-inserted
    Repartition / RepartitionByExpression / Rebalance node — the author
    has taken control of parallelism, so fan_out must not stack a second
    shuffle on top (r9: gates pre-fan their SCAN so heavy projections
    evaluate above the exchange; fan_out re-shuffling the projected rows
    was measured 3x slower because the projection ran single-threaded
    below the round-robin). Cheap: one plan-string render, no execution.
    A false positive only skips an optional widening shuffle."""
    try:
        return "Repartition" in df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False


def is_small_file_input(df: DataFrame, target: int | None = None) -> bool:
    """0 < #input-files < target: the under-parallel regime where one
    small parquet file arrives as one scan partition. Pure FileIndex
    metadata (inputFiles()), because df.rdd.getNumPartitions() pays a
    >1s plan->RDD conversion per call."""
    target = target or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return False
    return 0 < n_files < target


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition to `target` (default: defaultParallelism)
    iff the plan reads fewer input files than that AND the author hasn't
    already inserted an explicit repartition.

    A 100 TB table backs onto thousands of files, so this is a no-op
    exactly where the repartition shuffle would be expensive; non-file
    sources (createDataFrame, streams) report no files and are left
    untouched.
    """
    if not is_small_file_input(df, target):
        return df
    if has_explicit_repartition(df):
        return df
    spark = df.sparkSession
    return df.repartition(target or spark.sparkContext.defaultParallelism)


def one_slice_df(spark, rows, schema) -> DataFrame:
    """DRIVER-SIZED row list → a one-partition frame backed by a JVM-side
    local relation, so no job that reads it starts a Python worker.

    The rows go to the JVM once, as an Arrow table (`createDataFrame` of
    a `pyarrow.Table` builds a `LocalRelation`). A plain
    `createDataFrame(rows)` is a Python RDD instead: every job that reads
    it — a broadcast build's collect, a join's scan, an orderBy's
    range-sampling pass — runs a Python task per slice, about 100 ms
    each before it touches a row. One partition keeps a reading job at
    one task. Only for frames that are model-sized by contract
    (collected query tables, distance tables, trainer outputs, the
    driver CC labels): a single partition is then the right shape at any
    scale factor."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType

    if not isinstance(schema, StructType):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def input_bytes(df: DataFrame, uncompressed: bool = False) -> int:
    """Total bytes of the plan's input files (FileIndex metadata only —
    no job). 0 when the source is not file-backed.

    With `uncompressed`, parquet files report the footer's row-group
    total_byte_size sum instead of the on-disk size (one local footer
    read per file, still no job). On-disk bytes under-estimate the WORK
    a CPU-bound operator does whenever the encoding compresses repeated
    values away — measured on the replicated-document scale probe,
    where 10x the rows landed at 1.5x the on-disk bytes but 11.5x the
    uncompressed bytes (r12; every other table scales ~10x on disk).
    Non-parquet (or unreadable) files fall back to their on-disk size."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        total = 0
        for uri in df.inputFiles():
            path = unquote(urlparse(uri).path) or uri
            if uncompressed and path.endswith(".parquet"):
                try:
                    import pyarrow.parquet as pq

                    md = pq.ParquetFile(path).metadata
                    total += sum(
                        md.row_group(i).total_byte_size
                        for i in range(md.num_row_groups)
                    )
                    continue
                except Exception:
                    pass
            total += os.path.getsize(path)
        return total
    except Exception:
        return 0


def adaptive_partitions(
    df: DataFrame,
    bytes_per_partition: int = 32 * 1024 * 1024,
    expansion: float = 1.0,
    floor: int = 2,
    cap: int | None = None,
    uncompressed: bool = False,
) -> int:
    """Partition count derived from the plan's input size (guide §2:
    partitioning must be scale-adaptive, not a constant tuned for one
    deployment). `expansion` scales the on-disk estimate for operators
    that blow rows up before partitioning (e.g. a token explode).
    Returns `floor`..`cap` (default cap: session parallelism); falls
    back to the session parallelism when the input is not file-backed
    (no estimate — keep the old behavior). At toy scale this collapses
    iterated-operator state to a couple of partitions — every per-stage
    cost at that scale is task launch + commit machinery, measured with
    scripts/profile_query.py — while a 100 TB input saturates the cap,
    which is exactly the old constant."""
    spark = df.sparkSession
    cap = cap or spark.sparkContext.defaultParallelism
    est = int(input_bytes(df, uncompressed=uncompressed) * expansion)
    if est <= 0:
        return cap
    return max(1, min(cap, max(floor, est // bytes_per_partition + 1)))
