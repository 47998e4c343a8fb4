"""Structured Streaming ingest (SURVEY.md §7 M6).

The reference processes requests synchronously per HTTP call with per-key
Durable-Object state (/root/reference/src/lib.rs:406-475,
src/persons.rs:488-541). The Spark realization is micro-batch:

- `read_request_stream`: readStream over a landing directory of JSON
  request rows (a thin HTTP receiver writes these; Kafka would slot in
  identically via format("kafka")).
- `StreamingIngestJob`: foreachBatch incremental fold. Each micro-batch
  decodes + normalizes its requests, seeds the person/group folds with
  the prior rows its ids touch, and commits its events, groups and
  persons to lake's table log: an events append, and for each state
  table a `lake.upsert_table` of the rows the batch touched (a delta, or
  a compaction once the table holds enough deltas). Every commit records
  the transaction (run, batch id), so a batch Spark re-runs after a stop
  recomputes from the version before its own entry and commits nothing
  twice (see the class docstring).
- `windowed_event_counts`: event-time tumbling-window aggregation with a
  watermark — the late-data policy the reference never had (SURVEY.md
  §2.6 "Streaming" row documents the divergence).

Arrival-order parity: within a micro-batch, ops replay in (request_seq,
item_index) order exactly like the batch path; across batches, order is
micro-batch arrival order. This matches the reference's per-request
sequencing as long as the receiver assigns monotone request_seq.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from hogflare_spark.schemas import GROUP_SCHEMA, PERSON_SCHEMA
from hogflare_spark.functions.caching import unpersist_all
from hogflare_spark.sinks import lake

RAW_STREAM_SCHEMA = StructType(
    [
        StructField("request_seq", LongType(), False),
        StructField("endpoint", StringType(), False),
        StructField("body", StringType(), False),
        StructField("content_encoding", StringType(), True),
        StructField("header_api_key", StringType(), True),
        StructField("header_sent_at", StringType(), True),
    ]
)


def read_request_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source request stream; one JSON object per line."""
    reader = spark.readStream.schema(RAW_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(landing_dir)


class StreamingIngestJob:
    """Incremental ingest: micro-batches append to the events table and
    fold into the persons and groups tables, all on lake's table log.

    The folds are seeded the way the reference's DO model routes a
    request to its per-key state (persons.rs:281-326 merges are per-key
    there): once a table has a base, each micro-batch seeds the person
    fold with only the persons its distinct_ids touch (alias endpoints
    included) and the group fold with only the groups it touches, and
    commits the fold output as one `lake.upsert_table` delta over the
    entry it seeded from: O(batch), not O(all persons). Persons a batch
    merge absorbs get tombstone rows. The upsert that finds
    ``lake.COMPACT_AFTER_DELTAS`` deltas compacts the table by a view
    merge in Spark, so no batch replays the whole persons table through
    Python. The state equals the one-shot batch fold's
    (tests/test_streaming.py convergence tests). ``hybrid`` is kept only
    as a keyword whose one legal value is True.

    Exactly-once: each table commit records the transaction
    (``run_id``, batch id); ``run_id`` defaults to the checkpoint path,
    so one checkpoint is one writer. A batch commits events, then
    groups, then persons. A batch Spark re-runs after a stop (at any
    point before its commit-log entry) finds its transaction in a
    table's log, seeds that table from the version just before the entry
    that recorded it and commits nothing to that table (for events: it
    appends nothing). A table whose commit the stop cut off gets it now;
    the events append writes into a data directory named after the
    transaction, so it overwrites what the stopped write left there.

    At 100 TB the affected-person lookup is a join against a
    distinct_id→canonical_id index (here: explode over the persons scan
    + two broadcast semi/anti joins — no shuffle of the persons table,
    but a linear scan; a bucketed index table turns it into a pruned
    bucket join).
    """

    def __init__(
        self,
        warehouse_dir: str,
        team_id: int | None = None,
        group_types: tuple[str | None, ...] = (None, None, None, None, None),
        hybrid: bool = True,
        run_id: str | None = None,
    ):
        if not hybrid:
            raise ValueError("StreamingIngestJob has one lane: hybrid must be True")
        self.warehouse_dir = warehouse_dir
        self.team_id = team_id
        self.group_types = group_types
        self.events_dir = os.path.join(warehouse_dir, "events")
        # The writer (app) id of every table transaction. Spark batch ids
        # restart at 0 with a fresh checkpoint, so a NEW stream's batch N
        # over an existing warehouse must not look like a replay of the
        # previous stream's batch N; start() defaults this to the
        # checkpoint path.
        self.run_id = run_id

    def _state_root(self, table: str) -> str:
        return os.path.join(self.warehouse_dir, table)

    def _read_pointer(self, table: str) -> dict | None:
        """The table's latest log entry."""
        return lake.read_entry(self._state_root(table))

    def read_persons(self, spark: SparkSession) -> DataFrame | None:
        """The current persons view: base ∪ deltas, last writer wins per
        canonical_id (a delta row retires or replaces its canonical_id,
        so canonical_id is a stable upsert key across deltas)."""
        root = self._state_root("persons")
        return lake.table_view(spark, root, lake.read_entry(root), PERSON_SCHEMA)

    def read_groups(self, spark: SparkSession) -> DataFrame | None:
        root = self._state_root("groups")
        return lake.table_view(spark, root, lake.read_entry(root), GROUP_SCHEMA)

    # ---- the micro-batch body -------------------------------------------

    @staticmethod
    def _touched_distinct_ids(commands: DataFrame) -> DataFrame:
        """Every distinct_id a batch's person ops can reference —
        including BOTH endpoints of alias/auto-alias edges (mirrors
        derive_person_ops' gates). Components of the prior table not
        intersecting this set are provably untouched by the batch: a
        batch can only merge records along its own alias edges, and both
        edge endpoints appear here, so seeding the intersected records
        (already-merged components) closes the batch's alias closure."""
        skip0 = F.col("skip_person") == "0"
        return (
            commands.select(
                F.explode(
                    F.array_compact(
                        F.array(
                            F.when(skip0, F.col("distinct_id")),
                            F.when(skip0, F.col("anon_distinct_id")),
                            F.get_json_object("alias", "$.distinct_id"),
                            F.get_json_object("alias", "$.alias"),
                        )
                    )
                ).alias("_did")
            )
            .distinct()
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # release every operator cache this batch registered (`cached`;
        # the commands and fold pins are local checkpoints the JVM frees
        # with their frames) on BOTH paths — a long-lived stream must
        # not accumulate JVM cache blocks across micro-batches, and (r7
        # ADVICE) an exception mid-batch (write failure, CommitConflict)
        # must not leak that batch's caches until the next successful
        # batch happens to drain them.
        try:
            self._process_batch_inner(batch_df, batch_id)
        finally:
            unpersist_all()

    def _process_batch_inner(self, batch_df: DataFrame, batch_id: int) -> None:
        from hogflare_spark.operators.group_state import derive_group_ops
        from hogflare_spark.operators.ingest import ingest_commands, pin_commands
        from hogflare_spark.operators.normalize import decode_normalize_requests

        spark = batch_df.sparkSession
        app_id = str(self.run_id)
        p_root, g_root = self._state_root("persons"), self._state_root("groups")
        # the version each table builds on, and whether its log already
        # holds this batch (then the fold is recomputed from the version
        # before that entry and nothing is committed to the table; the
        # events log is only asked whether it holds the batch's append)
        p_seed, p_held = lake.seed_entry(p_root, app_id, batch_id)
        g_seed, g_held = lake.seed_entry(g_root, app_id, batch_id)
        e_held = lake.seed_entry(self.events_dir, app_id, batch_id)[1]

        # one eager pin: the touched-id and touched-group-key scans below
        # and ingest_commands all read it
        commands = pin_commands(decode_normalize_requests(batch_df))
        # Every batch after the bootstrap seeds only the prior components
        # its ids touch: both endpoints of every alias edge are in the
        # touched set, so a cross-key merge folds correctly against the
        # restricted seed; untouched rows stay in base/deltas and are
        # never replayed.
        seed_persons = seed_groups = affected_ids = floor = None
        if p_seed is not None:
            prior_persons = lake.table_view(spark, p_root, p_seed, PERSON_SCHEMA)
            touched = self._touched_distinct_ids(commands)
            affected_ids = (
                prior_persons.select(
                    "canonical_id", F.explode("distinct_ids").alias("_pdid")
                )
                .join(F.broadcast(touched), F.col("_pdid") == F.col("_did"), "semi")
                .select("canonical_id")
                .distinct()
                .localCheckpoint(eager=True)
            )
            seed_persons = prior_persons.join(
                F.broadcast(affected_ids), "canonical_id", "semi"
            )
            floor = p_seed["max_id"]
            if floor is None:
                row = prior_persons.agg(
                    F.coalesce(F.max("id"), F.lit(0)).alias("m")
                ).collect()[0]
                floor = int(row["m"] or 0)
        if g_seed is not None:
            touched_keys = (
                derive_group_ops(commands)
                .select("group_type", "group_key")
                .distinct()
            )
            seed_groups = lake.table_view(spark, g_root, g_seed, GROUP_SCHEMA).join(
                F.broadcast(touched_keys), ["group_type", "group_key"], "semi"
            )
        out = ingest_commands(
            commands,
            team_id=self.team_id,
            group_types=self.group_types,
            prior_persons=seed_persons,
            prior_groups=seed_groups,
            person_id_floor=floor,
        )
        txn = (app_id, int(batch_id))
        if not e_held:
            lake.append_events(out["events"], self.events_dir, txn)
        # pinned once: the persons commit, the max-id aggregate and the
        # tombstone anti-join below read it; the groups are a filter of
        # the group fold's pinned output
        new_persons = out["persons"].localCheckpoint(eager=True)
        if not g_held:
            # touched ∪ newly-created keys only
            lake.upsert_table(
                spark, out["groups"], g_root, ["group_type", "group_key"],
                base=g_seed, txn=txn,
            )
        if p_held:
            return
        row = new_persons.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m")).collect()[0]
        max_id = int(row["m"] or 0)
        if affected_ids is not None:
            # new_persons holds ONLY affected ∪ newly-created rows. A
            # seeded canonical_id missing from the fold output was
            # absorbed by a batch merge — write a tombstone (uuid NULL)
            # so the LWW read view retires its stale base/delta row.
            gone = affected_ids.join(
                new_persons.select("canonical_id"), "canonical_id", "left_anti"
            )
            tombstones = gone.select(
                "canonical_id",
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in PERSON_SCHEMA.fields
                    if f.name != "canonical_id"
                ],
            )
            new_persons = new_persons.unionByName(tombstones)
            max_id = max(floor, max_id)
        lake.upsert_table(
            spark, new_persons, p_root, ["canonical_id"],
            base=p_seed, txn=txn, max_id=max_id,
        )

    def start(
        self,
        raw_stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        if self.run_id is None:
            # One checkpoint dir == one logical stream: restarting from
            # the same checkpoint resumes the same writer (so replays are
            # recognized); a fresh checkpoint is a new writer (so its
            # batches apply on top of prior state).
            self.run_id = os.path.abspath(checkpoint_dir)
        writer = (
            raw_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_available_now(self, raw_stream: DataFrame, checkpoint_dir: str) -> None:
        q = self.start(raw_stream, checkpoint_dir, available_now=True)
        q.awaitTermination()


# ---------------------------------------------------------------------------
# event-time windowed aggregation with watermark
# ---------------------------------------------------------------------------


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    time_col: str = "created_at",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming sessionization via native session windows.

    `session_window` grows a per-key window whose end is always
    last-event-time + gap; overlapping windows MERGE in the state store
    (a session spanning micro-batches is stitched before it closes), and
    a session is emitted exactly once when the watermark passes its end.
    Boundary semantics (verified by test_streaming_sessions_gap_boundary
    _and_merge): an event at precisely prev + gap DOES merge — windows
    touch and touching windows coalesce — so the batch mirror must split
    sessions on `diff > gap`, not `>=`.

    This is the streaming twin of the batch `ev_sessionization` plan
    (plans/events_analytics.py): same gap rule, but with late-data
    eviction the reference's in-order executor never needed.
    """
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(
            F.session_window(F.col(time_col), gap).alias("win"), F.col(key_col)
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_exact_dedup(
    events: DataFrame,
    id_cols: list[str],
    watermark: str = "1 hour",
    time_col: str = "created_at",
) -> DataFrame:
    """At-least-once → effectively-once: drop re-deliveries of the same
    key arriving within the watermark horizon.

    `dropDuplicatesWithinWatermark` keeps the FIRST arrival per key and
    evicts key state once the watermark passes its event time — bounded
    state where a plain `dropDuplicates` on a stream would grow forever.
    This is the streaming twin of operators/dedup.exact_dedup and the
    idempotency layer an at-least-once delivery pipeline (the
    reference's R2 batching, pipeline.rs:57-143) needs in front of the
    lake append.
    """
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        id_cols
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    time_col: str = "created_at",
) -> DataFrame:
    """Tumbling-window per-event-name counts with late-data bound.

    The watermark drops events later than `watermark` behind the max seen
    event time and lets the state store evict closed windows — the policy
    knob the reference lacks (it processes strictly in arrival order).
    """
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("win"), F.col("event"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event",
            "n",
        )
    )
