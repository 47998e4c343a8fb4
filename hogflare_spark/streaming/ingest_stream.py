"""Structured Streaming ingest (SURVEY.md §7 M6).

The reference processes requests synchronously per HTTP call with per-key
Durable-Object state (/root/reference/src/lib.rs:406-475,
src/persons.rs:488-541). The Spark realization is micro-batch:

- `read_request_stream`: readStream over a landing directory of JSON
  request rows (a thin HTTP receiver writes these; Kafka would slot in
  identically via format("kafka")).
- `StreamingIngestJob`: foreachBatch ingest. Each micro-batch is one
  `operators.ingest.commit_pass` — the pass a batch writer runs — with
  the transaction (run, batch id), so a batch Spark re-runs after a stop
  commits nothing twice.
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

from hogflare_spark.operators import ingest
from hogflare_spark.schemas import GROUP_SCHEMA, PERSON_SCHEMA
from hogflare_spark.sinks import lake

RAW_STREAM_SCHEMA = StructType(
    [
        StructField("request_seq", LongType(), False),
        StructField("endpoint", StringType(), False),
        StructField("body", StringType(), False),
        StructField("content_encoding", StringType(), True),
        StructField("header_api_key", StringType(), True),
        StructField("header_sent_at", StringType(), True),
        # the signature headers the HMAC gate reads (X-POSTHOG-SIGNATURE,
        # X-HUB-SIGNATURE)
        StructField("sig_posthog", StringType(), True),
        StructField("sig_hub", StringType(), True),
    ]
)


def read_request_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source request stream; one JSON object per line."""
    return spark.readStream.schema(RAW_STREAM_SCHEMA).json(landing_dir)


class StreamingIngestJob:
    """Incremental ingest: each micro-batch appends to the events table
    and folds into the persons and groups tables, all on lake's table
    log, through `operators.ingest.commit_pass` (its docstring has the
    touched-only seeding and the exactly-once protocol).

    The transaction of batch N is (``run_id``, N). ``run_id`` defaults
    to the checkpoint path, so one checkpoint is one writer, and a batch
    Spark re-runs after a stop (at any point before its commit-log
    entry) is a rewrite. ``signing_secret`` turns on the HMAC gate, so a
    stream refuses exactly the rows a batch pass with the same secret
    refuses. ``hybrid`` is kept only as a keyword whose one legal value
    is True.
    """

    def __init__(
        self,
        warehouse_dir: str,
        team_id: int | None = None,
        group_types: tuple[str | None, ...] = (None, None, None, None, None),
        hybrid: bool = True,
        run_id: str | None = None,
        signing_secret: str | None = None,
    ):
        if not hybrid:
            raise ValueError("StreamingIngestJob has one lane: hybrid must be True")
        self.warehouse_dir = warehouse_dir
        self.team_id = team_id
        self.group_types = group_types
        self.signing_secret = signing_secret
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
        """The current persons view, through `lake.read_table`'s snapshot:
        base ∪ deltas, last writer wins per canonical_id (a delta row
        retires or replaces its canonical_id, so canonical_id is a stable
        upsert key across deltas)."""
        return lake.read_table(spark, self._state_root("persons"), PERSON_SCHEMA)

    def read_groups(self, spark: SparkSession) -> DataFrame | None:
        return lake.read_table(spark, self._state_root("groups"), GROUP_SCHEMA)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        ingest.commit_pass(
            batch_df,
            self.warehouse_dir,
            (str(self.run_id), int(batch_id)),
            team_id=self.team_id,
            group_types=self.group_types,
            signing_secret=self.signing_secret,
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
