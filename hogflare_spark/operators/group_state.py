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
Python worker) turns commands into group ops, one shuffle keyed by
(group_type, group_key), a partition-streaming `mapInPandas` replays the
LWW fold per key in (request_seq, item_index, sub) order — the fold's
only Python stage; per-key serial
processing, exactly the reference's Durable-Object-per-group model
(groups.rs:183-235). Hydration results join back to events on the seq
pair. At 100 TB the op stream is a small projection of events and the
state per key is one property bag.
"""

from __future__ import annotations

import json

from hogflare_spark.functions.fastjson import loads as fj_loads
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

    Every cell is folded by the partition-streaming LWW replay
    (`_replay_stream` below), which keeps one cell's record, never its op
    list: a hot (group_type, group_key) cell streams through one task.
    A group-free batch derives zero ops and folds to empty results and an
    empty table.
    """
    ops = derive_group_ops(commands)
    if prior_groups is not None:
        ops = ops.unionByName(_seed_group_ops(prior_groups))

    _COLS = [f.name for f in _FOLD_OUT.fields]
    # replay order within a partition: (type, key) cell runs contiguous,
    # ops within a run in request order
    _SORT = ["group_type", "group_key", "request_seq", "item_index", "sub"]

    def _replay_stream(batches: Any) -> Any:
        """Partition-streaming LWW replay: rows arrive sorted by _SORT
        (enforced by the sortWithinPartitions below), so each
        (group_type, group_key) cell is a contiguous run; one kernel
        instance walks the partition, cutting records at cell boundaries
        (state persists across Arrow batches). Replaces the per-cell
        groupBy().applyInPandas, whose per-group Arrow/pandas machinery
        cost ~5x the fold itself on many-small-cells traffic (measured
        in person_state; same operator shape)."""
        import pandas as pd

        state: dict[str, Any] = {"cur": None, "record": None}

        def _flush(out: list) -> None:
            rec = state["record"]
            if rec is not None:
                gt, gk = state["cur"]
                out.append(
                    {
                        "row_type": "group",
                        "request_seq": None,
                        "item_index": None,
                        "group_type": gt,
                        "group_key": gk,
                        "props": json.dumps(
                            {
                                k: json.dumps(v, separators=(",", ":"))
                                for k, v in rec["props"].items()
                            },
                            separators=(",", ":"),
                        ),
                        "present": True,
                        "echo": False,
                        "created_at": rec["created_at"],
                        "version": rec["version"],
                    }
                )
            state["record"] = None

        for pdf in batches:
            out: list = []
            for row in pdf.itertuples(index=False):
                key = (row.group_type, row.group_key)
                if key != state["cur"]:
                    _flush(out)
                    state["cur"] = key
                record = state["record"]
                seq_linear = (
                    int(row.request_seq) * 1_000_000
                    + int(row.item_index) * 100
                    + min(int(row.sub), 99)
                )
                if row.kind == "seed":
                    payload = fj_loads(row.props)
                    state["record"] = {
                        "created_at": datetime.fromisoformat(payload["created_at"]),
                        "version": int(payload["version"]),
                        # table values are JSON-encoded for lossless
                        # nesting
                        "props": {
                            k: fj_loads(v) for k, v in payload["properties"].items()
                        },
                    }
                    continue
                if row.kind in ("update", "gi_update"):
                    if record is None:
                        record = {
                            "created_at": parse_event_time(row.timestamp, seq_linear),
                            "version": 0,
                            "props": {},
                        }
                        state["record"] = record
                    record["version"] += 1
                    record["props"].update(fj_loads(row.props))
                if row.kind in ("lookup", "gi_lookup", "gi_update"):
                    record = state["record"]
                    out.append(
                        {
                            "row_type": "result",
                            "request_seq": int(row.request_seq),
                            "item_index": int(row.item_index),
                            "group_type": row.group_type,
                            "group_key": row.group_key,
                            "props": json.dumps(record["props"], separators=(",", ":"))
                            if record is not None
                            else None,
                            "present": record is not None,
                            "echo": row.kind.startswith("gi_"),
                            "created_at": None,
                            "version": None,
                        }
                    )
            if out:
                yield pd.DataFrame(out, columns=_COLS, dtype=object)
        out = []
        _flush(out)
        if out:
            yield pd.DataFrame(out, columns=_COLS, dtype=object)

    # pinned-width shuffle for the CPU-bound Python replay — see the
    # matching note in person_state.fold_person_state (AQE would coalesce
    # this to 1-4 partitions by bytes)
    n_fold = ops.sparkSession.sparkContext.defaultParallelism
    folded = (
        ops.repartition(n_fold, "group_type", "group_key")
        .sortWithinPartitions(*_SORT)
        .mapInPandas(_replay_stream, _FOLD_OUT)
    )
    # physical pin (see person_state.fold_person_state): the replay runs
    # exactly once across the results and groups-table consumers
    folded = folded.localCheckpoint(eager=True)

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
