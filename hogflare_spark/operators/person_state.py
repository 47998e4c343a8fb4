"""Distributed person-state fold: ingest commands → per-event snapshots +
persons table.

Spark shape (SURVEY.md §7 M3):

1. derive person ops (alias / update / ensure) from the command rows —
   pure expressions, one narrow projection;
2. connected components over alias edges (identity.py; a batch without
   alias ops hands it an empty edge set and gets no labels back) →
   co-partitioning key; ops for unrelated distinct_ids stay in singleton
   components, so the shuffle is effectively a groupBy(distinct_id) with
   identity clusters coalesced;
3. the sorted replay (`partitioning.replay_sorted`, one `mapInArrow`
   stage keyed by component) runs the PersonStoreReplay kernel
   (person_store.py) over each component in (request_seq, item_index,
   sub) order, emitting post-update snapshots per event (U12 — the
   event carries the person state as of *after* its own update,
   lib.rs:462-470) plus final person records, tombstones and
   id-allocation events;
4. global sequential person ids materialize post-hoc as one row_number
   over allocation order (U10 — the replay never serializes on a
   counter; SURVEY.md §7.4.3 documents the parity condition).

At 100 TB: stage 1 is map-only; stage 2 shuffles only alias edges
(~#persons, not #events); stage 3 is one shuffle of person-op rows keyed
by component — the same data movement a shuffled streaming state op would
do; stage 4 is a single-reducer window over the batch's new-person
allocations (one row per new person, never per event). Event rows
themselves never shuffle — snapshots join back to events on
(request_seq, item_index).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hogflare_spark.operators.partitioning import (
    arrow_columns,
    arrow_rows,
    replay_sorted,
)
from hogflare_spark.operators.person_store import (
    PersonStoreReplay,
    snapshot_fields,
)

_FOLD_OUT = StructType(
    [
        StructField("row_type", StringType(), False),
        StructField("request_seq", LongType(), True),
        StructField("item_index", LongType(), True),
        StructField("person_id", StringType(), True),
        StructField("person_created_at", TimestampType(), True),
        StructField("person_properties", StringType(), True),
        StructField("canonical_id", StringType(), True),
        StructField("uuid", StringType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("version", LongType(), True),
        StructField("distinct_ids", StringType(), True),
        StructField("properties", StringType(), True),
        StructField("properties_set_once", StringType(), True),
        StructField("alloc_a", LongType(), True),
        StructField("alloc_b", LongType(), True),
        StructField("prior_id", LongType(), True),
    ]
)


# replay order within a component's run: request order (ties only among
# seed rows, which load disjoint records — order-insensitive)
_FOLD_ORDER = ["request_seq", "item_index", "sub"]
# the op columns the replay kernel reads, in its unpacking order
_OP_COLS = [
    "request_seq", "item_index", "sub", "kind", "distinct_id", "alias_id",
    "update", "timestamp", "emit", "comp",
]


def derive_person_ops(commands: DataFrame) -> DataFrame:
    """Command rows → person-op rows (request_seq, item_index, sub, kind,
    distinct_id, alias, update, timestamp, emit).

    Mirrors handler orchestration: identify's auto-alias precedes its
    update (lib.rs:690-718); the snapshot placed on the event comes from
    the update/ensure op (or the alias op for `/alias` items); group-
    identify events carry no person fields (lib.rs:869-920).

    ONE scan (r9): a command derives at most two ops — an alias/auto-
    alias op and an update/ensure op — built as conditional structs and
    exploded, instead of the former three filtered branches unioned
    (three scans of the command projection per fold; at 100 TB that is
    two redundant passes over the decoded batch). `F.when` with no
    otherwise yields a NULL struct, which the array filter drops, so a
    command matching no branch still contributes nothing.
    """
    is_alias = F.col("alias").isNotNull()
    eligible = F.col("alias").isNull() & (F.col("skip_person") == "0")
    null_s = F.lit(None).cast("string")
    op_first = F.when(
        is_alias,
        F.struct(
            F.lit(1).alias("sub"),
            F.lit("alias").alias("kind"),
            F.get_json_object("alias", "$.distinct_id").alias("distinct_id"),
            F.get_json_object("alias", "$.alias").alias("alias_id"),
            null_s.alias("update"),
            F.lit(True).alias("emit"),
        ),
    ).when(
        eligible & F.col("anon_distinct_id").isNotNull(),
        F.struct(
            F.lit(0).alias("sub"),
            F.lit("alias").alias("kind"),
            F.col("distinct_id").alias("distinct_id"),
            F.col("anon_distinct_id").alias("alias_id"),
            null_s.alias("update"),
            F.lit(False).alias("emit"),
        ),
    )
    op_update = F.when(
        eligible,
        F.struct(
            F.lit(1).alias("sub"),
            F.when(F.col("person_update").isNotNull(), F.lit("update"))
            .otherwise(F.lit("ensure"))
            .alias("kind"),
            F.col("distinct_id").alias("distinct_id"),
            null_s.alias("alias_id"),
            F.col("person_update").alias("update"),
            F.lit(True).alias("emit"),
        ),
    )
    return commands.select(
        "request_seq",
        "item_index",
        "timestamp",
        F.explode(
            F.filter(F.array(op_first, op_update), lambda x: x.isNotNull())
        ).alias("_op"),
    ).select(
        "request_seq",
        "item_index",
        F.col("_op.sub").alias("sub"),
        F.col("_op.kind").alias("kind"),
        F.col("_op.distinct_id").alias("distinct_id"),
        F.col("_op.alias_id").alias("alias_id"),
        F.col("_op.update").alias("update"),
        F.col("timestamp"),
        F.col("_op.emit").alias("emit"),
    )


def _seed_ops(prior_persons: DataFrame) -> DataFrame:
    """Prior persons table → seed op rows (kind='seed', request_seq=-1,
    sorted before every real op). The record is serialized whole into the
    `update` slot and reconstructed by PersonStoreReplay.load_record."""
    payload = F.to_json(
        F.struct(
            F.col("uuid"),
            F.date_format("created_at", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").alias(
                "created_at"
            ),
            F.col("version"),
            F.col("distinct_ids"),
            F.col("properties"),
            F.col("properties_set_once"),
            F.col("id"),
            F.col("team_id"),
        )
    )
    return prior_persons.select(
        F.lit(-1).cast("long").alias("request_seq"),
        F.lit(0).cast("long").alias("item_index"),
        F.lit(0).alias("sub"),
        F.lit("seed").alias("kind"),
        F.col("canonical_id").alias("distinct_id"),
        F.lit(None).cast("string").alias("alias_id"),
        payload.alias("update"),
        F.lit(None).cast("string").alias("timestamp"),
        F.lit(False).alias("emit"),
    )


def fold_person_state(
    commands: DataFrame,
    team_id: int | None = None,
    prior_persons: DataFrame | None = None,
    person_id_floor: int | None = None,
    emit_snapshots: bool = True,
) -> tuple[DataFrame, DataFrame, int]:
    """Returns (snapshots, persons, allocated).

    Every component is folded by the sorted replay of the
    PersonStoreReplay kernel (`_replay_stream` below). The replay keeps
    one component's state, never its op list: a hot distinct_id with
    millions of ops streams through one task in sorted Arrow batches.
    Connected components always runs (an empty edge set costs its one
    edge collect), and new ids come from one row_number.

    `emit_snapshots=False` skips the per-op snapshot assembly inside the
    replay (merged-property dict + JSON dump per emitted op) for callers
    that consume ONLY the persons table — a persons rebuild at 100 TB
    shouldn't serialize one snapshot per event it never reads. The
    returned snapshots frame is then empty.

    snapshots: (request_seq, item_index, person_id, person_created_at,
    person_properties) — join back to events on the seq pair.
    persons: per PERSON_SCHEMA, the upsert delta over the seed: every
    seeded or created person's record, plus a tombstone (`uuid` NULL)
    for each seeded person a merge absorbed; without a seed, the table.
    allocated: the ids the batch consumed, merged-away persons included
    (the reference's counter skips theirs too, persons.rs:251-253).

    `prior_persons` (streaming incremental folds): a PERSON_SCHEMA frame
    whose records are seeded into the replay before this batch's ops —
    their distinct_ids contribute identity edges so ops touching any of a
    record's ids land in its component, and their sequential ids survive
    (new allocations continue above the prior max).
    """
    from hogflare_spark.operators.identity import connected_components

    ops = derive_person_ops(commands)
    if prior_persons is not None:
        ops = ops.unionByName(_seed_ops(prior_persons))

    # identity graph: alias edges ONLY. Singleton distinct_ids don't need to
    # pass through the CC loop — the left join below coalesces them to their
    # own id. This keeps the iterative CC input at ~#alias-ops (tiny) instead
    # of ~#ops (the event stream), which is the difference between a
    # constant-size fixpoint loop and one shuffling the whole stream per
    # round at 100 TB.
    edges = ops.where(F.col("kind") == "alias").select(
        F.col("distinct_id").alias("src"), F.col("alias_id").alias("dst")
    )
    if prior_persons is not None:
        # a prior record's distinct_ids are identity edges: new ops
        # touching any of them must land in the record's component
        edges = edges.union(
            prior_persons.select(
                F.col("canonical_id").alias("src"),
                F.explode("distinct_ids").alias("dst"),
            )
        )
    components = connected_components(edges)

    ops_with_comp = ops.join(
        components.withColumnRenamed("id", "distinct_id"), "distinct_id", "left"
    ).withColumn("comp", F.coalesce("comp", "distinct_id"))

    # row tuples follow _FOLD_OUT: row_type, then the five snapshot
    # fields (request_seq .. person_properties), then the ten record
    # fields (canonical_id .. prior_id)
    no_snapshot = (None,) * 5
    no_record = (None,) * 10

    def _alloc_key(alloc: tuple) -> tuple[int, int]:
        # (request_seq, item_index, sub, k) → sortable pair
        return (
            alloc[0] * 1_000_000 + alloc[1] * 100 + alloc[2],
            alloc[3] if len(alloc) > 3 else 0,
        )

    def _json_map(values: dict) -> str:
        # map values JSON-encoded for lossless nesting (FIXTURES.md §3)
        return json.dumps(
            {k: json.dumps(v, separators=(",", ":")) for k, v in values.items()},
            separators=(",", ":"),
        )

    def _flush_store(store: PersonStoreReplay, seeded: list, rows: list) -> None:
        """Emit a finished component's alloc events, final records and
        a tombstone for each seeded record a merge removed."""
        for uuid_, alloc in store.alloc_events:
            a, b = _alloc_key(alloc)
            rows.append(
                ("alloc", *no_snapshot, None, uuid_, None, None, None, None, None, a, b, None)
            )
        for canonical, record in store.records.items():
            a, b = _alloc_key(record.alloc_seq or (0, 0, 0, 0))
            rows.append(
                (
                    "person",
                    *no_snapshot,
                    canonical,
                    record.uuid,
                    record.created_at,
                    record.version,
                    json.dumps(record.distinct_ids),
                    _json_map(record.properties),
                    _json_map(record.properties_set_once),
                    a,
                    b,
                    record.prior_id,
                )
            )
        rows.extend(
            ("person", *no_snapshot, canonical, *no_record[1:])
            for canonical in seeded
            if canonical not in store.records
        )

    def _replay_stream(batches: Iterator[Any]) -> Iterator[Any]:
        """The replay_sorted kernel: rows arrive as each component's
        contiguous run in (request_seq, item_index, sub) order, and one
        kernel instance walks the whole partition, switching stores at
        comp boundaries."""
        from hogflare_spark.functions.fastjson import loads

        comp_cur: Any = None
        store: PersonStoreReplay | None = None
        seeded: list[str] = []  # the current component's seeded canonical ids
        for batch in batches:
            rows: list[tuple] = []
            # Columnar extraction + plain zip (itertuples paid a
            # namedtuple._make per row plus int() casts per field —
            # measured ~15% of the kernel). op_time is passed as the RAW
            # (timestamp, seq_linear) pair; the store parses it only
            # when a record is actually created (person_store
            # _resolve_time — per-op eager parsing was another ~10%).
            for rseq, item, sub, kind, did, alias_id, update, ts, emit, comp in zip(
                *arrow_columns(batch, _OP_COLS)
            ):
                if comp != comp_cur or store is None:
                    if store is not None:
                        _flush_store(store, seeded, rows)
                    comp_cur = comp
                    store = PersonStoreReplay(comp_cur, team_id)
                    seeded = []
                seq_linear = rseq * 1_000_000 + item * 100 + sub
                op_time = (ts, seq_linear)
                seq = (rseq, item, sub)
                if kind == "seed":
                    store.load_record(did, loads(update))
                    seeded.append(did)
                    continue
                if kind == "alias":
                    _, record = store.apply_alias(did, alias_id, op_time, seq)
                elif kind == "update":
                    _, record = store.apply_update(loads(update), op_time, seq)
                else:
                    _, record = store.ensure_person(did, op_time, seq)
                if emit_snapshots and emit:
                    pid, pcreated, pprops = snapshot_fields(record)
                    rows.append(
                        ("snapshot", rseq, item, pid, pcreated, pprops, *no_record)
                    )
            if rows:
                yield arrow_rows(rows, _FOLD_OUT)
        if store is not None:
            rows = []
            _flush_store(store, seeded, rows)
            if rows:
                yield arrow_rows(rows, _FOLD_OUT)

    # the pass's id count rides the replay's pin: no job of its own
    allocs = Observation()
    folded = replay_sorted(
        ops_with_comp, ["comp"], _FOLD_ORDER, _replay_stream, _FOLD_OUT,
        observe=(allocs, F.count_if(F.col("row_type") == "alloc").alias("n")),
    )

    snapshots = folded.where(F.col("row_type") == "snapshot").select(
        "request_seq", "item_index", "person_id", "person_created_at", "person_properties"
    )

    # Global dense allocation rank (U10): one row_number over the unique
    # allocation key (alloc_uuid is a fresh UUID), so the rank is total
    # and deterministic. The window has no partitionBy: every allocation
    # passes through one reducer — #new persons rows, not #events.
    id_rank = folded.where(F.col("row_type") == "alloc").select(
        F.col("uuid").alias("alloc_uuid"),
        F.row_number()
        .over(Window.orderBy("alloc_a", "alloc_b", "uuid"))
        .cast("long")
        .alias("new_id"),
    )
    # new allocations continue above the prior max id (seeded records keep
    # their stored id via prior_id). `person_id_floor` overrides the
    # derived max for callers that seed only a SLICE of the prior table
    # (the stream passes the affected persons plus the id counter its
    # log entry records) — without it a
    # restricted seed would re-issue ids already held by unseeded rows.
    if person_id_floor is not None:
        # a known floor is a literal — no join needed
        id_rank = id_rank.withColumn(
            "new_id", F.col("new_id") + F.lit(int(person_id_floor)).cast("long")
        )
    elif prior_persons is not None:
        max_prior = prior_persons.agg(
            F.coalesce(F.max("id"), F.lit(0)).cast("long").alias("_max_prior")
        )
        id_rank = id_rank.crossJoin(F.broadcast(max_prior)).select(
            "alloc_uuid", (F.col("new_id") + F.col("_max_prior")).alias("new_id")
        )
    # else a fresh fold: ids start at 1
    persons = (
        folded.where(F.col("row_type") == "person")
        .join(id_rank, F.col("uuid") == F.col("alloc_uuid"), "left")
        .select(
            "canonical_id",
            F.coalesce(F.col("prior_id"), F.col("new_id")).cast("long").alias("id"),
            F.lit(team_id).cast("long").alias("team_id"),
            "uuid",
            "created_at",
            "version",
            F.from_json("distinct_ids", "array<string>").alias("distinct_ids"),
            F.from_json("properties", "map<string,string>").alias("properties_raw"),
            F.from_json("properties_set_once", "map<string,string>").alias("set_once_raw"),
        )
        .withColumnRenamed("properties_raw", "properties")
        .withColumnRenamed("set_once_raw", "properties_set_once")
    )
    return snapshots, persons, int(allocs.get["n"])
