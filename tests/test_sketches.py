"""Accuracy gates for approximate operators (rows-only driver entries) and
lake time-travel/expiration tests."""

from __future__ import annotations

from pyspark.sql import Row

from tests.conftest import SF_SMOKE


def test_approx_distinct_within_rsd(spark):
    from hogflare_spark.plans import QUERIES, load_all

    load_all()
    rows = {
        r["event_type"]: r
        for r in QUERIES["ev_approx_distinct_users"](spark, SF_SMOKE).collect()
    }
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for k, r in rows.items():
        assert r["exact_users"] == exact[k], f"{k}: exact mismatch"
        assert r["approx_within_5pct"], f"{k}: HLL++ estimate off by >5%"


def test_time_travel_and_expiration(spark, tmp_path, monkeypatch):
    from hogflare_spark.sinks import lake
    from hogflare_spark.sinks.lake import expire_versions, read_entry, read_table, upsert_table

    # the third upsert compacts, so versions 1 and 2 share a base that
    # only they name
    monkeypatch.setattr(lake, "COMPACT_AFTER_DELTAS", 1)
    root = str(tmp_path / "dim")
    upsert_table(spark, spark.createDataFrame([Row(key="a", val=1)]), root, ["key"])
    upsert_table(spark, spark.createDataFrame([Row(key="a", val=2)]), root, ["key"])
    upsert_table(spark, spark.createDataFrame([Row(key="a", val=3)]), root, ["key"])
    assert read_entry(root)["deltas"] == []

    assert read_table(spark, root).collect()[0]["val"] == 3
    assert read_table(spark, root, version=1).collect()[0]["val"] == 1
    assert read_table(spark, root, version=2).collect()[0]["val"] == 2

    assert expire_versions(root, keep_last=2) == []  # version 2 still names the base
    dropped = expire_versions(root, keep_last=1)
    assert dropped == [1, 2]
    assert read_table(spark, root).collect()[0]["val"] == 3
    for version in dropped:
        try:
            read_table(spark, root, version=version)
            raise AssertionError("expired version must not be readable")
        except FileNotFoundError:
            pass
