"""Hot keys: one distinct_id or one (group_type, group_key) cell carrying
hundreds of thousands of ops among normal traffic, folded with default
settings. The reference never meets this (one Durable Object per person,
persons.rs:863-961); a distributed batch fold puts a hot key's whole op
run in one task. The replays keep one key's state, not
its op list, and stream the run in sorted Arrow batches — these tests pin
that a hot key folds correctly without buffering it.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from hogflare_spark.operators.group_state import fold_group_state
from hogflare_spark.operators.person_state import fold_person_state


def test_hot_key_million_ops_default_settings(spark):
    """One distinct_id with 1M ops among 50 normal ids: the person replay
    streams the hot component through one task."""
    n_hot = 1_000_000
    hot = spark.range(n_hot).select(
        F.col("id").alias("request_seq"),
        F.lit(0).cast("long").alias("item_index"),
        F.lit(None).cast("string").alias("alias"),
        F.lit("0").alias("skip_person"),
        F.lit(None).cast("string").alias("anon_distinct_id"),
        F.lit("hot").alias("distinct_id"),
        F.concat(
            F.lit('{"distinct_id": "hot", "set": {"k": '),
            (F.col("id") % 1000).cast("string"),
            F.lit('}, "set_once": {}, "unset": []}'),
        ).alias("person_update"),
        F.lit(None).cast("string").alias("timestamp"),
    )
    normal = spark.range(n_hot, n_hot + 50).select(
        F.col("id").alias("request_seq"),
        F.lit(0).cast("long").alias("item_index"),
        F.lit(None).cast("string").alias("alias"),
        F.lit("0").alias("skip_person"),
        F.lit(None).cast("string").alias("anon_distinct_id"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("distinct_id"),
        F.concat(
            F.lit('{"distinct_id": "u'),
            F.col("id").cast("string"),
            F.lit('", "set": {"a": 1}, "set_once": {}, "unset": []}'),
        ).alias("person_update"),
        F.lit(None).cast("string").alias("timestamp"),
    )
    cmds = hot.unionByName(normal)
    snapshots, persons, _ = fold_person_state(cmds, team_id=1)
    by_id = {r["canonical_id"]: r for r in persons.collect()}
    assert len(by_id) == 51
    hot_rec = by_id["hot"]
    assert hot_rec["version"] == n_hot
    # last write wins: k = (n_hot-1) % 1000, JSON-encoded map value
    assert json.loads(hot_rec["properties"]["k"]) == (n_hot - 1) % 1000
    assert snapshots.count() == n_hot + 50


def test_hot_group_cell_default_settings(spark):
    """One (company, hot) cell with 600k ops — each of 300k commands
    $group_sets it and then reads it back — among 50 small team cells:
    the group replay streams the hot cell through one task."""
    n_hot = 300_000

    def commands(ids, gtype, gkey, value):
        return ids.select(
            F.col("id").alias("request_seq"),
            F.lit(0).cast("long").alias("item_index"),
            F.lit(None).cast("string").alias("timestamp"),
            F.concat(F.lit(f'{{"{gtype}": "'), gkey, F.lit('"}')).alias("groups"),
            F.concat(
                F.lit(f'[{{"group_type": "{gtype}", "group_key": "'),
                gkey,
                F.lit('", "properties": {"p": '),
                value.cast("string"),
                F.lit("}}]"),
            ).alias("group_updates"),
            F.lit(None).cast("string").alias("group_identify"),
        )

    hot = commands(spark.range(n_hot), "company", F.lit("hot"), F.col("id"))
    small = commands(
        spark.range(n_hot, n_hot + 50),
        "team",
        F.concat(F.lit("t"), F.col("id").cast("string")),
        F.lit(1),
    )
    results, groups = fold_group_state(hot.unionByName(small))
    by_key = {(r["group_type"], r["group_key"]): r for r in groups.collect()}
    assert len(by_key) == 51
    hot_rec = by_key[("company", "hot")]
    assert hot_rec["version"] == n_hot
    assert json.loads(hot_rec["properties"]["p"]) == n_hot - 1  # last write wins
    assert results.count() == n_hot + 50
    # every hot read sees its own command's write (updates precede reads)
    own_write = F.concat(F.lit('{"p":'), F.col("request_seq").cast("string"), F.lit("}"))
    hot_reads = results.where(
        (F.col("group_type") == "company")
        & (F.col("props") == own_write)
        & F.col("present")
        & ~F.col("echo")
    )
    assert hot_reads.count() == n_hot
