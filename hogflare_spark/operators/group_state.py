"""Distributed group-state fold: ingest commands → per-event hydration +
groups table.

Reference semantics (/root/reference/src/groups.rs:16-41, src/lib.rs):

- GroupRecord.apply_update: last-write-wins per property key, version+1,
  create on first touch (groups.rs:36-41)
- capture/engage/batch events: apply `$group_set` updates first, then
  hydrate the *current* state of every `$groups` entry (lib.rs:423-460) —
  within one event, updates precede reads
- groupidentify: apply update when `properties` is an object (even empty),
  else read-only snapshot; the event echoes that group's key slot and
  properties (lib.rs:869-920, 760-801)
- hydration emits `{group_type: {props}}` only for groups whose record
  exists; empty result → NULL (lib.rs:1393-1411)

Spark shape: one narrow Catalyst projection (`from_json` + explode, no
Python worker) turns commands into group ops; the sorted replay
(`partitioning.replay_sorted`: one shuffle keyed by (group_type,
group_key), one `mapInArrow` stage) runs the LWW fold per key in
(request_seq, item_index, sub) order — the fold's only Python stage;
per-key serial processing, exactly the reference's
Durable-Object-per-group model (groups.rs:183-235). Hydration results
join back to events on the seq pair. At 100 TB the op stream is a small projection of events and the
state per key is one property bag.
"""

from __future__ import annotations

import json
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hogflare_spark.functions.fastjson import loads as fj_loads
from hogflare_spark.operators.partitioning import (
    arrow_columns,
    arrow_rows,
    replay_sorted,
)
from hogflare_spark.operators.person_store import parse_event_time

_FOLD_OUT = StructType(
    [
        StructField("row_type", StringType(), False),  # result | group
        StructField("request_seq", LongType(), True),
        StructField("item_index", LongType(), True),
        StructField("group_type", StringType(), True),
        StructField("group_key", StringType(), True),
        StructField("props", StringType(), True),  # JSON (present ⇒ non-null)
        StructField("present", BooleanType(), True),
        StructField("echo", BooleanType(), True),  # groupidentify echo row
        StructField("created_at", TimestampType(), True),
        StructField("version", LongType(), True),
    ]
)


# replay order within a (group_type, group_key) cell's run: request order
_FOLD_ORDER = ["request_seq", "item_index", "sub"]
# the op columns the replay kernel reads, in its unpacking order
_OP_COLS = [
    "request_seq", "item_index", "sub", "kind", "group_type", "group_key", "props",
    "timestamp",
]

# a GroupUpdate as the commands carry it: `properties` read as its raw
# JSON text (Spark's JSON reader copies a non-string value verbatim into
# a string field), JSON null → NULL
_UPDATE = "struct<group_type:string,group_key:string,properties:string>"


def _op(sub, kind, group_type, group_key, props):
    return F.struct(
        sub.cast("long").alias("sub"),
        kind.alias("kind"),
        group_type.alias("group_type"),
        group_key.alias("group_key"),
        props.alias("props"),
    )


def derive_group_ops(commands: DataFrame) -> DataFrame:
    """Command rows → group-op rows (request_seq, item_index, sub, kind,
    group_type, group_key, props, timestamp), as Catalyst expressions:
    one projection parses `group_identify`, `group_updates` and `groups`
    with `from_json`, builds each command's op array and explodes it. No
    Python worker runs.

    - A groupidentify is one op, sub 0: `gi_update` when its
      `properties` is an object (even `{}`), `gi_lookup` when it is JSON
      null. It is the command's only op.
    - Otherwise each `$group_set` update is an `update` op, sub = its
      position, then each `$groups` entry is a `lookup` op, sub = 1000 +
      its position. `groups` holds only string keys
      (`normalize.extract_groups`).

    `props` is the raw JSON text of the properties object. It is
    JSON-equal to Python's `json.dumps` of it but not byte-equal
    (non-ASCII stays UTF-8, doubles print Java-style); the fold parses
    it (`tests/test_group_fold.py` pins the parity)."""
    gi = F.from_json("group_identify", _UPDATE)
    gi_ops = F.array(
        _op(
            F.lit(0),
            F.when(gi["properties"].isNull(), "gi_lookup").otherwise("gi_update"),
            gi["group_type"], gi["group_key"], gi["properties"],
        )
    )
    updates = F.transform(
        F.from_json(F.coalesce("group_updates", F.lit("[]")), f"array<{_UPDATE}>"),
        lambda u, i: _op(i, F.lit("update"), u["group_type"], u["group_key"], u["properties"]),
    )
    lookups = F.transform(
        F.map_entries(F.from_json(F.coalesce("groups", F.lit("{}")), "map<string,string>")),
        lambda e, j: _op(
            F.lit(1000) + j, F.lit("lookup"), e["key"], e["value"], F.lit(None).cast("string")
        ),
    )
    ops = F.when(gi.isNotNull(), gi_ops).otherwise(F.concat(updates, lookups))
    return commands.where(
        F.col("groups").isNotNull()
        | F.col("group_updates").isNotNull()
        | F.col("group_identify").isNotNull()
    ).select("request_seq", "item_index", F.inline(ops), "timestamp")


def _seed_group_ops(prior_groups: DataFrame) -> DataFrame:
    """Prior groups table → seed op rows (request_seq=-1, before real ops)."""
    payload = F.to_json(
        F.struct(
            F.date_format("created_at", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").alias(
                "created_at"
            ),
            F.col("version"),
            F.col("properties"),
        )
    )
    return prior_groups.select(
        F.lit(-1).cast("long").alias("request_seq"),
        F.lit(0).cast("long").alias("item_index"),
        F.lit(0).cast("long").alias("sub"),
        F.lit("seed").alias("kind"),
        "group_type",
        "group_key",
        payload.alias("props"),
        F.lit(None).cast("string").alias("timestamp"),
    )


def fold_group_state(
    commands: DataFrame,
    prior_groups: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (results, groups_table).

    results: one row per (event, group_type) the event touches for output —
    hydration reads (echo=False) and groupidentify echoes (echo=True),
    with `props` = the group's property bag at that point, `present` =
    record existed.
    groups_table: final state per GROUP_SCHEMA.

    `prior_groups` (streaming incremental folds): GROUP_SCHEMA frame seeded
    into the replay before this batch's ops.

    Every cell is folded by the sorted LWW replay (`_replay_stream`
    below), which keeps one cell's record, never its op list: a hot
    (group_type, group_key) cell streams through one task. A group-free
    batch derives zero ops and folds to empty results and an
    empty table.
    """
    ops = derive_group_ops(commands)
    if prior_groups is not None:
        ops = ops.unionByName(_seed_group_ops(prior_groups))

    def _group_row(key: tuple, rec: dict) -> tuple:
        # a finished cell's final record, in _FOLD_OUT order; table
        # values are JSON-encoded for lossless nesting
        props = {k: json.dumps(v, separators=(",", ":")) for k, v in rec["props"].items()}
        return (
            "group", None, None, *key, json.dumps(props, separators=(",", ":")),
            True, False, rec["created_at"], rec["version"],
        )

    def _replay_stream(batches: Any) -> Any:
        """The replay_sorted kernel: rows arrive as each (group_type,
        group_key) cell's contiguous run in (request_seq, item_index,
        sub) order, and one kernel instance walks the partition, cutting
        records at cell boundaries."""
        cur: tuple | None = None
        record: dict | None = None
        for batch in batches:
            rows: list[tuple] = []
            for rseq, item, sub, kind, gt, gk, props, ts in zip(
                *arrow_columns(batch, _OP_COLS)
            ):
                key = (gt, gk)
                if key != cur:
                    if record is not None:
                        rows.append(_group_row(cur, record))
                    cur, record = key, None
                if kind == "seed":
                    payload = fj_loads(props)
                    record = {
                        "created_at": datetime.fromisoformat(payload["created_at"]),
                        "version": int(payload["version"]),
                        "props": {k: fj_loads(v) for k, v in payload["properties"].items()},
                    }
                    continue
                if kind in ("update", "gi_update"):
                    if record is None:
                        seq_linear = rseq * 1_000_000 + item * 100 + min(sub, 99)
                        record = {
                            "created_at": parse_event_time(ts, seq_linear),
                            "version": 0,
                            "props": {},
                        }
                    record["version"] += 1
                    record["props"].update(fj_loads(props))
                if kind in ("lookup", "gi_lookup", "gi_update"):
                    rows.append(
                        (
                            "result", rseq, item, gt, gk,
                            json.dumps(record["props"], separators=(",", ":"))
                            if record is not None
                            else None,
                            record is not None, kind.startswith("gi_"), None, None,
                        )
                    )
            if rows:
                yield arrow_rows(rows, _FOLD_OUT)
        if record is not None:
            yield arrow_rows([_group_row(cur, record)], _FOLD_OUT)

    folded = replay_sorted(
        ops, ["group_type", "group_key"], _FOLD_ORDER, _replay_stream, _FOLD_OUT
    )

    results = folded.where(F.col("row_type") == "result").select(
        "request_seq", "item_index", "group_type", "group_key", "props", "present", "echo"
    )
    groups = folded.where(F.col("row_type") == "group").select(
        "group_type",
        "group_key",
        "created_at",
        "version",
        F.from_json("props", "map<string,string>").alias("properties"),
    )
    return results, groups
