"""Round-13 optimization pins: operator internals changed for job-count
reductions must keep their outputs bit-identical."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_one_slice_df_single_partition_and_rows(spark):
    from hogflare_spark.operators.partitioning import one_slice_df

    rows = [(1, "a"), (2, "b"), (3, "c")]
    df = one_slice_df(spark, rows, "id long, s string")
    assert df.rdd.getNumPartitions() == 1
    assert [(r["id"], r["s"]) for r in df.collect()] == rows
    # the whole point: a consumer action runs ONE task over this frame
    assert df.count() == 3


def test_exact_quantile_values_shared_stats_matches_per_rank_kth(spark):
    """The fused path (one cached projection + one shared stats
    aggregate) must return exactly what independent kth_smallest calls
    return — including on inputs small enough for the direct path AND
    large enough to force histogram narrowing."""
    import math

    from hogflare_spark.operators.selection import (
        exact_quantile_values,
        kth_smallest,
    )

    df = spark.range(1, 2001).select(
        (F.col("id") * 37 % 1999).cast("double").alias("value")
    )
    qs = (0.1, 0.5, 0.99)
    fused = exact_quantile_values(df, "value", qs=qs, direct_threshold=100)
    n = df.count()
    for (q, k, v), q_want in zip(fused, qs):
        assert q == q_want
        assert k == max(1, int(math.ceil(q * n)))
        assert v == kth_smallest(df, "value", k, direct_threshold=100)


def test_ancestor_closure_observe_probe_matches_depths(spark):
    """The observe()-fused emptiness probe must terminate at exactly the
    same depth as the old isEmpty() probe: a 3-level chain yields depths
    1..3 and no level-4 rows."""
    from hogflare_spark.operators.recursion import ancestor_closure

    edges = spark.createDataFrame(
        [(8, 4), (4, 2), (2, 1)], "node long, parent long"
    )
    out = ancestor_closure(edges, max_depth=10).collect()
    got = sorted((r["node"], r["anc"], r["depth"]) for r in out)
    assert got == [
        (2, 1, 1),
        (4, 1, 2),
        (4, 2, 1),
        (8, 1, 3),
        (8, 2, 2),
        (8, 4, 1),
    ]


def test_pq_adc_query_pred_matches_explicit_queries(spark):
    """_query_pred (collect from the gate's cached working set) must
    produce exactly the rows of passing the filtered frame."""
    from hogflare_spark.operators.similarity import pq_adc_topk

    vecs = spark.range(0, 64).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.col("id") * (i + 3) % 17).cast("double")
                for i in range(8)
            ]
        ).alias("embedding"),
    )
    q = vecs.where(F.col("vec_id") % 16 == 0)
    a = pq_adc_topk(q, vecs, k_top=5, m_subspaces=4, k=4, iters=1).collect()
    b = pq_adc_topk(
        q,
        vecs,
        k_top=5,
        m_subspaces=4,
        k=4,
        iters=1,
        _query_pred=F.col("id") % 16 == 0,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, b), key=lambda t: (t[0], t[2])
    )


def _reads_python(df) -> bool:
    """True when computing `df` runs Python: a Python RDD in its lineage
    or a scan of an RDD the Python side built."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    return "PythonRDD" in lineage or "ExistingRDD" in plan


def test_one_slice_df_is_a_jvm_local_relation(spark):
    """A scan of one_slice_df (and of the driver CC labels built with it)
    starts no Python worker: the rows live in a JVM local relation."""
    from hogflare_spark.operators.identity import connected_components
    from hogflare_spark.operators.partitioning import one_slice_df

    df = one_slice_df(spark, [(1, [[1, 2], [3]]), (2, None)], "qid long, t array<array<long>>")
    assert not _reads_python(df)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in df.collect()] == [(1, [[1, 2], [3]]), (2, None)]
    empty = one_slice_df(spark, [], "id string, comp string")
    assert not _reads_python(empty) and empty.count() == 0

    edges = spark.createDataFrame([("a", "b"), ("c", "b"), ("x", "y")], "src string, dst string")
    labels = connected_components(edges)
    assert not _reads_python(labels)
    assert sorted(tuple(r) for r in labels.collect()) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]
