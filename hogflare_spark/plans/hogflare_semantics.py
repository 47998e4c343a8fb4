"""Correctness-gate queries exercising the hogflare-semantics operators
against the driver's test lake, each with a DuckDB oracle.

These re-route the generic `events` stream table through the REAL engine
paths (decode → normalize → person/group folds → flag compiler), then
reduce the outcome to an oracle-SQL-expressible shape:

- hf_person_fold_state: $set / $set_once / $unset fold over per-user
  update streams (U1/U5, persons.rs:55-74,360-379)
- hf_group_fold_state: last-write-wins group upserts (G1, groups.rs:36-41)
- hf_identity_components: connected components over a deterministic alias
  graph (U8/U9 co-partitioning; DuckDB oracle = recursive CTE)
- hf_flag_eval: compiled flag evaluation (F3/F4/F5 operators + coercion)
  over customer contexts
- hf_flag_rollout_buckets / hf_flag_multivariate: sha1 rollout bucketing
  and variant walks (F6/F7) — DuckDB 1.0 has no sha1, so their oracles
  join hashlib-precomputed buckets from fixtures/flag_buckets.parquet
  (scripts/make_flag_fixture.py); bit-parity is additionally enforced in
  tests/test_flags.py against a hashlib oracle
- hf_flags_batch_responses: full /flags response JSON (F8) — byte-exact
  SQL reconstruction of the kernel's sorted-keys compact serialization
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hogflare_spark.plans import BENCH_EXTRA, ORACLES, QUERIES, query
from hogflare_spark.functions.scratch import scratch_dir
from hogflare_spark.sources.readers import load_table


def _capture_requests_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table → raw capture request rows driving the real ingest path.

    Each event becomes {"event", "distinct_id", "properties": {"$set":
    {"k": k}, "$set_once": {"first_k": k}, "$unset": ["temp"] | "$set"
    {"temp": k}}} — even k sets temp, odd k unsets it, so every event
    touches every key and the oracle reduces to the k at each user's
    boundary events.

    The SCAN is fanned out before the body projection: a single small
    parquet file reads as one task, and the ~10-JSON-op body build plus
    the decode lane's eligibility/command expressions would all run
    single-threaded below decode's own round-robin exchange (measured
    3x slower at sf0.1). With the exchange under the projection, every
    expression evaluates at session width and decode's lane sees the
    explicit repartition and does not re-shuffle. At real scale the
    scan has thousands of splits and fan_out is a no-op.
    """
    from hogflare_spark.operators.partitioning import fan_out

    # (Tried and reverted: extracting k below the exchange so the five
    # CollapseProject-inlined get_json_object references become one parse
    # — consistently ~0.5 s SLOWER at sf1, because the parse then rides
    # the narrow 6-task scan stage instead of spreading 32-wide above
    # the exchange. Parse count is not the binding constraint; stage
    # width is.)
    ev = fan_out(load_table(spark, sf_dir, "events"))
    k = F.get_json_object("props", "$.k").cast("long")
    even = (k % 2) == 0
    set_map = F.when(
        even,
        F.to_json(F.struct(k.alias("k"), k.alias("temp"))),
    ).otherwise(F.to_json(F.struct(k.alias("k"))))
    body = F.concat(
        F.lit('{"event":"ev","distinct_id":"'),
        F.col("user_id").cast("string"),
        F.lit('","properties":{"$set":'),
        set_map,
        F.lit(',"$set_once":{"first_k":'),
        k.cast("string"),
        F.lit("}"),
        F.when(even, F.lit("")).otherwise(F.lit(',"$unset":["temp"]')),
        F.lit("}}"),
    )
    return ev.select(
        F.col("event_id").alias("request_seq"),
        F.lit("capture").alias("endpoint"),
        body.alias("body"),
    )


# Shared by hf_person_fold_state (single-batch fold) and
# hf_streaming_person_fold (micro-batch incremental fold): both must
# converge to the same final persons table.
_PERSON_FOLD_ORACLE = """
    WITH k_events AS (
      SELECT user_id, event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    ), lasts AS (
      SELECT user_id,
             arg_max(k, event_id) AS last_k,
             arg_min(k, event_id) AS first_k
      FROM k_events GROUP BY user_id
    )
    SELECT user_id, last_k AS k_last, first_k AS k_first,
           CASE WHEN last_k % 2 = 0 THEN last_k END AS temp_last,
           (SELECT count(*) FROM k_events e WHERE e.user_id = lasts.user_id) AS version
    FROM lasts ORDER BY user_id
    """


@query("hf_person_fold_state", oracle=_PERSON_FOLD_ORACLE)
def hf_person_fold_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + person fold, persons table only. A persons-table rebuild
    consumes neither per-event snapshots nor the group fold, so the plan
    calls the fold directly with emit_snapshots=False instead of running
    the full ingest composition (which eagerly pins the group fold and
    serializes one snapshot per event for nobody to read) — the
    full-ingest path stays pinned by hf_event_snapshots,
    hf_event_group_props, and the streaming gates."""
    from hogflare_spark.operators.normalize import decode_normalize_requests
    from hogflare_spark.operators.person_state import fold_person_state

    raw = _capture_requests_from_events(spark, sf_dir)
    # No cached() here (r9): decode's fused-checkpoint lane already
    # pins the decoded rows; every fold consumer (count, the one-scan
    # op derivation, the alias-edge probe) re-reads cheap column
    # selects off that checkpoint, so a second cache materialization
    # pass bought nothing and cost ~0.3 s of the warm gate.
    commands = decode_normalize_requests(raw)
    _, persons = fold_person_state(commands, emit_snapshots=False)
    return persons.select(
        F.col("canonical_id").cast("long").alias("user_id"),
        F.element_at("properties", "k").cast("long").alias("k_last"),
        F.element_at("properties_set_once", "first_k").cast("long").alias("k_first"),
        F.element_at("properties", "temp").cast("long").alias("temp_last"),
        F.col("version").alias("version"),
    ).orderBy("user_id")


@query("hf_person_fold_fast", oracle=_PERSON_FOLD_ORACLE)
def hf_person_fold_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fold with snapshot assembly on, over the pinned command
    frame: the call ingest_commands makes. hf_person_fold_state skips
    snapshots, so this gate is the one that grades the replay's snapshot
    path against the same oracle at sf scale. Persons-only output, like
    hf_person_fold_state."""
    from hogflare_spark.operators.ingest import pin_commands
    from hogflare_spark.operators.normalize import decode_normalize_requests
    from hogflare_spark.operators.person_state import fold_person_state

    raw = _capture_requests_from_events(spark, sf_dir)
    commands = pin_commands(decode_normalize_requests(raw))
    _, persons = fold_person_state(commands)
    return persons.select(
        F.col("canonical_id").cast("long").alias("user_id"),
        F.element_at("properties", "k").cast("long").alias("k_last"),
        F.element_at("properties_set_once", "first_k").cast("long").alias("k_first"),
        F.element_at("properties", "temp").cast("long").alias("temp_last"),
        F.col("version").alias("version"),
    ).orderBy("user_id")


@query("hf_streaming_person_fold", oracle=_PERSON_FOLD_ORACLE)
def hf_streaming_person_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-gate query: replay the capture-request stream as THREE
    Structured Streaming micro-batches (file source + foreachBatch
    incremental fold, `streaming/ingest_stream.py`) and read back the final
    persons state table.

    The oracle is identical to hf_person_fold_state's — the incremental
    fold seeded with prior state per micro-batch must converge to exactly
    the single-batch fold when cross-batch arrival order respects
    request_seq (reference semantics: per-request sequencing,
    /root/reference/src/persons.rs:488-541). Splits are request_seq-range
    thirds, so the global replay order is preserved.

    After the first (bootstrap) micro-batch, each batch seeds only the
    persons it touches and commits an O(batch) delta through
    `lake.upsert_table`, so the gate proves the delta commits converge
    to the one-shot fold too.
    """
    import shutil
    import tempfile

    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    raw = _capture_requests_from_events(spark, sf_dir)
    # Range-split into three micro-batches on request_seq. approxQuantile
    # is a tiny driver-side scalar (two doubles), not a data collect.
    lo, hi = raw.approxQuantile("request_seq", [1.0 / 3, 2.0 / 3], 0.001)
    chunks = [
        raw.where(F.col("request_seq") <= F.lit(int(lo))),
        raw.where(
            (F.col("request_seq") > F.lit(int(lo)))
            & (F.col("request_seq") <= F.lit(int(hi)))
        ),
        raw.where(F.col("request_seq") > F.lit(int(hi))),
    ]

    work = scratch_dir("hf_stream_gate_")
    landing = os.path.join(work, "landing")
    ckpt = os.path.join(work, "ckpt")
    warehouse = os.path.join(work, "warehouse")
    job = StreamingIngestJob(warehouse)
    try:
        for chunk in chunks:
            # append new files into the landing dir, then drain: the stream
            # checkpoint has already seen the earlier files, so each drain
            # processes exactly this chunk as one (or more) micro-batches.
            chunk.write.mode("append").json(landing)
            job.run_available_now(read_request_stream(spark, landing), ckpt)
        persons = job.read_persons(spark)
        result = persons.select(
            F.col("canonical_id").cast("long").alias("user_id"),
            F.element_at("properties", "k").cast("long").alias("k_last"),
            F.element_at("properties_set_once", "first_k").cast("long").alias("k_first"),
            F.element_at("properties", "temp").cast("long").alias("temp_last"),
            F.col("version").alias("version"),
        ).orderBy("user_id")
        # materialize before the temp warehouse disappears
        result = result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return result


# /decide on live state (r8 verdict #9): the reference's flag read path
# evaluates against CURRENT person state (lib.rs:1284-1345), not against
# a batch rebuild — this gate closes that loop by folding the capture
# stream through the streaming ingest job and evaluating compiled flags
# on the read-back persons table.
_STREAM_FLAGS_CONFIG = """
{"flags": [
  {"key": "big-k",
   "conditions": [{"properties": [
     {"key": "k", "value": 50, "operator": "gte"}]}]},
  {"key": "temp-set",
   "conditions": [{"properties": [
     {"key": "temp", "value": 0, "operator": "gte"}]}]},
  {"key": "early-bird-or-big",
   "conditions": [
     {"properties": [{"key": "first_k", "value": 10, "operator": "lt"}]},
     {"properties": [{"key": "k", "value": 90, "operator": "gte"}]}]}
]}
"""

_STREAM_FLAGS_ORACLE = """
    WITH k_events AS (
      SELECT user_id, event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    ), lasts AS (
      SELECT user_id,
             arg_max(k, event_id) AS last_k,
             arg_min(k, event_id) AS first_k
      FROM k_events GROUP BY user_id
    ), state AS (
      SELECT user_id, last_k, first_k,
             CASE WHEN last_k % 2 = 0 THEN last_k END AS temp_last
      FROM lasts
    )
    SELECT user_id, flag_key, value, reason, condition_index FROM (
      SELECT user_id, 'big-k' AS flag_key,
             CASE WHEN last_k >= 50 THEN 'true' ELSE 'false' END AS value,
             CASE WHEN last_k >= 50 THEN 'match' ELSE 'no_match' END AS reason,
             CASE WHEN last_k >= 50 THEN 0 END AS condition_index
      FROM state
      UNION ALL
      SELECT user_id, 'temp-set',
             CASE WHEN temp_last IS NOT NULL AND temp_last >= 0 THEN 'true' ELSE 'false' END,
             CASE WHEN temp_last IS NOT NULL AND temp_last >= 0 THEN 'match' ELSE 'no_match' END,
             CASE WHEN temp_last IS NOT NULL AND temp_last >= 0 THEN 0 END
      FROM state
      UNION ALL
      SELECT user_id, 'early-bird-or-big',
             CASE WHEN first_k < 10 OR last_k >= 90 THEN 'true' ELSE 'false' END,
             CASE WHEN first_k < 10 OR last_k >= 90 THEN 'match' ELSE 'no_match' END,
             CASE WHEN first_k < 10 THEN 0 WHEN last_k >= 90 THEN 1 END
      FROM state
    )
    ORDER BY user_id, flag_key
    """


@query("hf_flags_on_streaming_state", oracle=_STREAM_FLAGS_ORACLE)
def hf_flags_on_streaming_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/decide against LIVE streaming state (r8 verdict #9): the capture
    stream folds through the streaming ingest job as two micro-batches,
    then compiled flags evaluate over the READ-BACK persons table — the
    reference's flag read path consumes current person state
    (lib.rs:1284-1345), and this is the first gate composing the
    streaming fold's output with the flag kernel. Flag contexts carry
    the state table's merged properties (values are JSON-encoded
    strings, so the gte/lt filters also exercise F5 coercion); the
    oracle derives the same final state relationally and replays the
    ordered-conditions semantics as CASE arms."""
    import shutil
    import tempfile

    from hogflare_spark.flags.compiler import evaluate_flags_df
    from hogflare_spark.flags.model import parse_flag_config
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    raw = _capture_requests_from_events(spark, sf_dir)
    (mid,) = raw.approxQuantile("request_seq", [0.5], 0.001)
    chunks = [
        raw.where(F.col("request_seq") <= F.lit(int(mid))),
        raw.where(F.col("request_seq") > F.lit(int(mid))),
    ]
    work = scratch_dir("hf_stream_flags_")
    landing = os.path.join(work, "landing")
    ckpt = os.path.join(work, "ckpt")
    warehouse = os.path.join(work, "warehouse")
    job = StreamingIngestJob(warehouse)
    try:
        for chunk in chunks:
            chunk.write.mode("append").json(landing)
            job.run_available_now(read_request_stream(spark, landing), ckpt)
        persons = job.read_persons(spark)
        contexts = persons.select(
            F.col("canonical_id").cast("long").alias("user_id"),
            F.col("canonical_id").alias("distinct_id"),
            F.to_json(
                F.struct(
                    F.element_at("properties", "k").alias("k"),
                    F.element_at("properties", "temp").alias("temp"),
                    F.element_at("properties_set_once", "first_k").alias(
                        "first_k"
                    ),
                )
            ).alias("person_properties"),
            F.create_map().cast("map<string,string>").alias("groups"),
            F.lit(None).cast("string").alias("group_properties"),
        )
        flags = parse_flag_config(_STREAM_FLAGS_CONFIG)
        out = evaluate_flags_df(
            contexts.orderBy("user_id"), sorted(flags, key=lambda f: f.key)
        ).select("user_id", "flag_key", "value", "reason", "condition_index")
        result = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return result


def _stream_shuffle_partitions(staged_bytes: int, parallelism: int) -> int:
    """Scale-adaptive state-partition count for the stream gates
    (guide §2: derive partitioning from input size, never a constant
    tuned for one deployment). A stateful streaming query pays per
    micro-batch a fixed cost PER state partition — a state-store commit
    (delta file + fsync), a sink file, and a task launch — so the count
    must track data volume: ~64 MB of input per partition, floored at 2
    (never serialize on one core), capped at 4x the session parallelism
    (the standard 2-4x-cores shuffle sizing; at 100 TB the cap binds and
    gives the large count a real cluster needs, while a toy replay gets
    2 instead of paying 32 commits x batches for kilobytes of state —
    measured r12: 99 sink files -> ~8, and every 32-task stateful stage
    collapses to 2)."""
    return max(2, min((staged_bytes >> 26) + 1, 4 * parallelism))


def _drain_chunks_long_lived(
    spark: SparkSession,
    chunked: DataFrame,
    chunk_col: str,
    n_chunks: int,
    in_schema: str,
    transform,
    out_schema: str,
    work: str,
    deliveries: int = 1,
):
    """Drive batch `chunks` through a streaming `transform` as ONE
    long-lived file-source query, with a `processAllAvailable()` barrier
    after each chunk lands.

    Why one query instead of an availableNow restart per chunk (the
    r1-r8 gate pattern): StreamingQuery.lastProgress attribution at
    sf0.1 showed `triggerExecution` is only 0.65-1.2 s of each ~1.5-2.5 s
    restart drain — the rest is per-start query LIFECYCLE (stream
    construction, source listing, planning, thread setup), paid n times
    for machinery that says nothing about the engine (PLANS.md round-9
    attribution). The barrier is semantically identical: watermark and
    state evolve per micro-batch in the state store either way, and
    `processAllAvailable` also waits for the watermark-advance no-data
    batch, so the emitted set matches the restart pattern exactly.
    Restart-from-checkpoint recovery itself stays pinned by
    tests/test_streaming.py::test_streaming_sessions_gap_boundary_and_merge,
    which still starts a fresh query per batch over a shared checkpoint,
    and by the ingest stream's ::test_restart_* tests, which stop
    a stream at each commit boundary and restart it on its checkpoint.

    Chunk atomicity: each chunk is staged as a single parquet file and
    `os.rename`d into the landing dir. A multi-file append (the restart
    pattern's layout) would race the live source's directory listing —
    a partial listing advances the watermark past the unlisted files'
    event times and silently late-drops them. At real scale this gate
    machinery is a Kafka/queue source with broker-side batch atomicity;
    the single-file rename is the file-source equivalent, not a scale
    statement (the sink-side plan parallelism is untouched).
    `deliveries > 1` renames the same chunk in N times before the
    barrier (at-least-once re-delivery for the dedup gate; a re-delivery
    split across micro-batches is still emitted at most once — the
    duplicate is either deduped by state or dropped as late, never
    re-emitted).

    r12 staging + partitioning (guide §1/§2, profiled via
    scripts/profile_query.py): the caller now passes ONE frame with a
    `chunk_col` (0..n_chunks-1) instead of n filtered frames — all
    chunks stage in a single partitionBy write (one source scan, not n;
    `repartition(n, chunk_col)` puts each chunk value in exactly one
    task so every chunk dir holds exactly one part file, preserving the
    atomic-rename contract). The stream's shuffle/state partition count
    is derived from the staged bytes (`_stream_shuffle_partitions`)
    rather than inheriting the session constant: the event-log profile
    showed every stateful stage at 32 tasks and a 99-file sink for
    kilobytes of state — per-batch commit machinery, not computation.
    The session conf is restored before returning, so batch queries are
    untouched.
    """
    import shutil

    landing = os.path.join(work, "landing")
    stage = os.path.join(work, "stage")
    out_dir = os.path.join(work, "out")
    os.makedirs(landing, exist_ok=True)

    # stage every chunk in ONE pass over the source
    (
        chunked.repartition(n_chunks, F.col(chunk_col))
        .write.partitionBy(chunk_col)
        .mode("overwrite")
        .parquet(stage)
    )
    chunk_files: list[str | None] = []
    staged_bytes = 0
    for i in range(n_chunks):
        sdir = os.path.join(stage, f"{chunk_col}={i}")
        part = None
        if os.path.isdir(sdir):
            names = [
                f
                for f in os.listdir(sdir)
                if f.startswith("part-") and f.endswith(".parquet")
            ]
            if names:
                (name,) = names  # one task per chunk value => one file
                part = os.path.join(sdir, name)
                staged_bytes += os.path.getsize(part)
        chunk_files.append(part)

    shuffle_key = "spark.sql.shuffle.partitions"
    prev_shuffle = spark.conf.get(shuffle_key)
    spark.conf.set(
        shuffle_key,
        str(
            _stream_shuffle_partitions(
                staged_bytes, spark.sparkContext.defaultParallelism
            )
        ),
    )
    try:
        stream = spark.readStream.schema(in_schema).parquet(landing)
        q = (
            transform(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .outputMode("append")
            .start()
        )
        try:
            for i, part in enumerate(chunk_files):
                if part is None:  # empty chunk: nothing to deliver
                    continue
                for d in range(1, deliveries):
                    # each re-delivery gets its own staged copy, renamed
                    # in atomically like the original
                    dup = part + f".redeliver_{d}"
                    shutil.copyfile(part, dup)
                    os.rename(
                        dup, os.path.join(landing, f"chunk_{i}_{d}.parquet")
                    )
                os.rename(part, os.path.join(landing, f"chunk_{i}_0.parquet"))
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(shuffle_key, prev_shuffle)
    return spark.read.schema(out_schema).parquet(out_dir)


@query(
    "ev_stream_windowed_counts",
    oracle="""
    WITH b AS (
      SELECT date_trunc('minute', ts) AS window_start, event_type AS event
      FROM events
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS watermark FROM events)
    SELECT window_start,
           window_start + INTERVAL 1 MINUTE AS window_end,
           event,
           count(*) AS n
    FROM b
    WHERE window_start + INTERVAL 1 MINUTE <= (SELECT watermark FROM wm)
    GROUP BY window_start, event
    ORDER BY window_start, event
    """,
)
def ev_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming window gate: replay the events table as THREE
    ascending event-time micro-batches through `windowed_event_counts`
    (1-minute tumbling windows, 10-minute watermark, append mode) and
    return everything the stream emitted.

    Determinism: chunks are ts-range thirds in ascending order, so no row
    is ever behind the watermark (zero late drops) and the final
    emitted set is exactly the windows whose end <= max(ts) - 10min —
    which is what the SQL oracle computes. This gates the late-data
    policy the reference never had (SURVEY.md §2.6 streaming row): the
    watermark advances across micro-batches via the stream checkpoint,
    closed windows are evicted from the state store and appended to the
    sink, and the still-open tail is withheld.
    """
    import shutil
    import tempfile

    from hogflare_spark.streaming.ingest_stream import windowed_event_counts

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("created_at"), F.col("event_type").alias("event")
    )
    # epoch-second split points (approxQuantile needs a numeric column);
    # tiny driver-side scalars, not a data collect
    evs = ev.withColumn("created_at_s", F.col("created_at").cast("long"))
    lo, hi = evs.approxQuantile("created_at_s", [1.0 / 3, 2.0 / 3], 0.001)
    sec = F.col("created_at").cast("long")
    chunked = ev.withColumn(
        "chunk",
        F.when(sec <= F.lit(int(lo)), 0)
        .when(sec <= F.lit(int(hi)), 1)
        .otherwise(2),
    )

    work = scratch_dir("ev_stream_win_")
    try:
        emitted = _drain_chunks_long_lived(
            spark,
            chunked.select("created_at", "event", "chunk"),
            "chunk",
            3,
            "created_at timestamp, event string",
            windowed_event_counts,
            "window_start timestamp, window_end timestamp, event string, n long",
            work,
        ).orderBy("window_start", "event")
        return emitted.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "ev_stream_sessionization",
    oracle="""
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END
               AS is_start
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), g AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), sess AS (
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events
      FROM g GROUP BY user_id, sid
    ), wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS watermark FROM events)
    SELECT user_id, session_start, session_end, n_events
    FROM sess WHERE session_end <= (SELECT watermark FROM wm)
    ORDER BY user_id, session_start
    """,
)
def ev_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window streaming gate: replay the events table as
    THREE ascending event-time micro-batches through
    `streaming_sessions` (30-minute gap, 2-hour watermark, append mode)
    and return every closed session the stream emitted.

    What this gates beyond `ev_stream_windowed_counts`: session windows
    are DATA-DEFINED (end = last event + gap, not a fixed grid), so the
    state store must MERGE a session whose events straddle micro-batch
    boundaries before the watermark closes it. The SQL oracle computes
    the same sessions with the batch lag/gap construction — splitting on
    `diff > gap`, because touching session windows coalesce (verified by
    the gap-boundary pytest) — and keeps exactly the sessions whose end
    the final watermark passed.
    """
    import shutil
    import tempfile

    from hogflare_spark.streaming.ingest_stream import streaming_sessions

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("created_at"), F.col("user_id")
    )
    evs = ev.withColumn("created_at_s", F.col("created_at").cast("long"))
    lo, hi = evs.approxQuantile("created_at_s", [1.0 / 3, 2.0 / 3], 0.001)
    sec = F.col("created_at").cast("long")
    chunked = ev.withColumn(
        "chunk",
        F.when(sec <= F.lit(int(lo)), 0)
        .when(sec <= F.lit(int(hi)), 1)
        .otherwise(2),
    )

    work = scratch_dir("ev_stream_sess_")
    try:
        emitted = _drain_chunks_long_lived(
            spark,
            chunked.select("created_at", "user_id", "chunk"),
            "chunk",
            3,
            "created_at timestamp, user_id bigint",
            streaming_sessions,
            "user_id bigint, session_start timestamp, "
            "session_end timestamp, n_events long",
            work,
        ).orderBy("user_id", "session_start")
        return emitted.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "ev_stream_exact_dedup",
    oracle="""
    SELECT event_id, user_id FROM events ORDER BY event_id
    """,
)
def ev_stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup gate: replay the events table as three
    ascending micro-batches, writing EVERY chunk TWICE into the landing
    dir (simulated at-least-once re-delivery), and run the doubled
    stream through `streaming_exact_dedup` keyed by event_id. The
    emitted set must be exactly one row per original event — the SQL
    oracle is simply the events table itself, which is the whole point:
    a duplicated delivery layer must be invisible to the sink."""
    import shutil
    import tempfile

    from hogflare_spark.streaming.ingest_stream import streaming_exact_dedup

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").alias("created_at"), "user_id"
    )
    evs = ev.withColumn("created_at_s", F.col("created_at").cast("long"))
    lo, hi = evs.approxQuantile("created_at_s", [1.0 / 3, 2.0 / 3], 0.001)
    sec = F.col("created_at").cast("long")
    chunked = ev.withColumn(
        "chunk",
        F.when(sec <= F.lit(int(lo)), 0)
        .when(sec <= F.lit(int(hi)), 1)
        .otherwise(2),
    )

    work = scratch_dir("ev_stream_dedup_")
    try:
        emitted = _drain_chunks_long_lived(
            spark,
            chunked.select("event_id", "created_at", "user_id", "chunk"),
            "chunk",
            3,
            "event_id bigint, created_at timestamp, user_id bigint",
            lambda s: streaming_exact_dedup(s, ["event_id"]).select(
                "event_id", "user_id"
            ),
            "event_id bigint, user_id bigint",
            work,
            deliveries=2,  # every chunk delivered twice (at-least-once)
        ).orderBy("event_id")
        return emitted.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "hf_group_fold_state",
    oracle="""
    SELECT event_type AS group_key,
           arg_max(CAST(json_extract(props, '$.k') AS BIGINT), event_id) AS k_last,
           count(*) AS version
    FROM events
    GROUP BY event_type
    ORDER BY group_key
    """,
)
def hf_group_fold_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → groupidentify stream keyed by event_type → groups table."""
    from hogflare_spark.operators.ingest import ingest_raw_requests

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    body = F.to_json(
        F.struct(
            F.lit("segment").alias("group_type"),
            F.col("event_type").alias("group_key"),
            F.struct(k.alias("k")).alias("properties"),
        )
    )
    raw = ev.select(
        F.col("event_id").alias("request_seq"),
        F.lit("groups").alias("endpoint"),
        body.alias("body"),
    )
    groups = ingest_raw_requests(raw)["groups"]
    return groups.select(
        F.col("group_key"),
        F.element_at("properties", "k").cast("long").alias("k_last"),
        F.col("version"),
    ).orderBy("group_key")


@query(
    "hf_identity_components",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT CAST(c_custkey AS VARCHAR) AS id FROM customer
    ), edges AS (
      SELECT CAST(c_custkey AS VARCHAR) AS src, CAST(c_custkey + 1 AS VARCHAR) AS dst
      FROM customer
      WHERE c_custkey % 5 <> 0 AND c_custkey + 1 <= (SELECT max(c_custkey) FROM customer)
    ), sym AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach AS (
      SELECT id, id AS comp FROM nodes
      UNION
      SELECT s.dst AS id, r.comp FROM sym s JOIN reach r ON s.src = r.id
    )
    SELECT id, min(comp) AS component
    FROM reach GROUP BY id
    ORDER BY CAST(id AS BIGINT)
    """,
)
def hf_identity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic alias chains over custkeys → connected components.

    Chains break at multiples of 5, so components are runs of ≤5 keys;
    the oracle recomputes them with a recursive CTE. Component label =
    lexicographic min (both sides), e.g. '10' < '9'.
    """
    from hogflare_spark.operators.identity import connected_components

    cust = load_table(spark, sf_dir, "customer")
    max_key = cust.agg(F.max("c_custkey")).collect()[0][0]
    nodes = cust.select(F.col("c_custkey").cast("string").alias("id"))
    edges = (
        cust.where((F.col("c_custkey") % 5 != 0) & (F.col("c_custkey") + 1 <= max_key))
        .select(
            F.col("c_custkey").cast("string").alias("src"),
            (F.col("c_custkey") + 1).cast("string").alias("dst"),
        )
    )
    all_edges = edges.union(nodes.select(F.col("id").alias("src"), F.col("id").alias("dst")))
    comp = connected_components(all_edges)
    return comp.select("id", F.col("comp").alias("component")).orderBy(
        F.col("id").cast("long")
    )


_FLAG_CONFIG = """
{"flags": [
  {"key": "rich-building",
   "conditions": [{"properties": [
     {"key": "segment", "value": ["BUILDING"], "operator": "in"},
     {"key": "balance", "value": 5000, "operator": "gte"}]}],
   "payload": {"tier": "rich"}},
  {"key": "not-machinery",
   "conditions": [{"properties": [
     {"key": "segment", "value": "MACHINERY", "operator": "is_not"}]}]},
  {"key": "low-balance-or-household",
   "conditions": [
     {"properties": [{"key": "balance", "value": 0, "operator": "lt"}]},
     {"properties": [{"key": "segment", "value": "HOUSEHOLD"}]}]},
  {"key": "name-regex",
   "conditions": [{"properties": [
     {"key": "name", "value": "[13579]$", "operator": "regex"}]}]}
]}
"""


@query(
    "hf_flag_eval",
    oracle="""
    WITH ctx AS (
      SELECT c_custkey,
             c_name AS name,
             c_mktsegment AS segment,
             c_acctbal AS balance
      FROM customer
    )
    SELECT c_custkey, flag_key, value, reason, condition_index
    FROM (
      SELECT c_custkey, 'rich-building' AS flag_key,
             CASE WHEN segment = 'BUILDING' AND balance >= 5000 THEN 'true' ELSE 'false' END AS value,
             CASE WHEN segment = 'BUILDING' AND balance >= 5000 THEN 'match' ELSE 'no_match' END AS reason,
             CASE WHEN segment = 'BUILDING' AND balance >= 5000 THEN 0 END AS condition_index
      FROM ctx
      UNION ALL
      SELECT c_custkey, 'not-machinery',
             CASE WHEN segment <> 'MACHINERY' THEN 'true' ELSE 'false' END,
             CASE WHEN segment <> 'MACHINERY' THEN 'match' ELSE 'no_match' END,
             CASE WHEN segment <> 'MACHINERY' THEN 0 END
      FROM ctx
      UNION ALL
      SELECT c_custkey, 'low-balance-or-household',
             CASE WHEN balance < 0 OR segment = 'HOUSEHOLD' THEN 'true' ELSE 'false' END,
             CASE WHEN balance < 0 OR segment = 'HOUSEHOLD' THEN 'match' ELSE 'no_match' END,
             CASE WHEN balance < 0 THEN 0 WHEN segment = 'HOUSEHOLD' THEN 1 END
      FROM ctx
      UNION ALL
      SELECT c_custkey, 'name-regex',
             CASE WHEN regexp_matches(name, '[13579]$') THEN 'true' ELSE 'false' END,
             CASE WHEN regexp_matches(name, '[13579]$') THEN 'match' ELSE 'no_match' END,
             CASE WHEN regexp_matches(name, '[13579]$') THEN 0 END
      FROM ctx
    )
    ORDER BY c_custkey, flag_key
    """,
)
def hf_flag_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compiled flag evaluation over customer contexts.

    `balance` is passed as a STRING property while the filters compare
    numerically — exercising the coercion parity path (F5).
    """
    from hogflare_spark.flags.compiler import evaluate_flags_df
    from hogflare_spark.flags.model import parse_flag_config

    cust = load_table(spark, sf_dir, "customer")
    contexts = cust.select(
        F.col("c_custkey"),
        F.col("c_custkey").cast("string").alias("distinct_id"),
        F.to_json(
            F.struct(
                F.col("c_name").alias("name"),
                F.col("c_mktsegment").alias("segment"),
                F.col("c_acctbal").cast("string").alias("balance"),
            )
        ).alias("person_properties"),
        F.create_map().cast("map<string,string>").alias("groups"),
        F.lit(None).cast("string").alias("group_properties"),
    )
    flags = parse_flag_config(_FLAG_CONFIG)
    # Output must be ordered by (c_custkey, flag_key). Sorting AFTER the
    # per-flag explode sorts |contexts| x |flags| wide result rows; the
    # sf1 probe (scripts/flag_scale_probe.py) measured that post-explode
    # sort at ~2.8s of the gate's ~8.7s. Instead sort the narrow context
    # rows BEFORE the explode and emit the flag structs in key order:
    # Project/Generate preserve per-partition row order and the range
    # sort fixes the partition order, so the result arrives fully
    # ordered with the sort paying |contexts| rows, not |result| rows.
    out = evaluate_flags_df(
        contexts.orderBy("c_custkey"), sorted(flags, key=lambda f: f.key)
    )
    return out.select(
        "c_custkey", "flag_key", "value", "reason", "condition_index"
    )


_PERSON_FLAG_CONFIG = """
{"flags": [
  {"key": "channel-web",
   "conditions": [{"properties": [{"key": "channel", "value": "web"}]}]},
  {"key": "cust-odd",
   "conditions": [{"properties": [
     {"key": "cust", "value": "[13579]$", "operator": "regex"}]}]},
  {"key": "not-fulfilled",
   "conditions": [{"properties": [
     {"key": "status", "value": "F", "operator": "is_not"}]}]},
  {"key": "open-orders",
   "conditions": [{"properties": [{"key": "status", "value": "O"}]}]},
  {"key": "urgent-high-value",
   "conditions": [
     {"properties": [
       {"key": "priority", "value": ["1-URGENT", "2-HIGH"], "operator": "in"},
       {"key": "total_cents", "value": 15000000, "operator": "gte"}]},
     {"properties": [{"key": "status", "value": "P"}]}]}
]}
"""


@query(
    "hf_flag_eval_persons",
    oracle="""
    WITH p AS (
      SELECT o_orderkey AS okey,
             o_orderstatus AS status,
             o_orderpriority AS priority,
             CAST(o_custkey AS VARCHAR) AS cust,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
             CASE WHEN o_orderkey % 3 = 0 THEN 'app'
                  WHEN o_orderkey % 7 = 0 THEN NULL
                  WHEN o_orderkey % 2 = 0 THEN 'web'
                  ELSE 'email' END AS channel
      FROM orders
    ), r AS (
      SELECT okey, 'channel-web' AS flag_key,
             CASE WHEN channel = 'web' THEN 'true' ELSE 'false' END AS value,
             CASE WHEN channel = 'web' THEN 0 END AS condition_index
      FROM p
      UNION ALL
      SELECT okey, 'cust-odd',
             CASE WHEN regexp_matches(cust, '[13579]$') THEN 'true' ELSE 'false' END,
             CASE WHEN regexp_matches(cust, '[13579]$') THEN 0 END
      FROM p
      UNION ALL
      SELECT okey, 'not-fulfilled',
             CASE WHEN status <> 'F' THEN 'true' ELSE 'false' END,
             CASE WHEN status <> 'F' THEN 0 END
      FROM p
      UNION ALL
      SELECT okey, 'open-orders',
             CASE WHEN status = 'O' THEN 'true' ELSE 'false' END,
             CASE WHEN status = 'O' THEN 0 END
      FROM p
      UNION ALL
      SELECT okey, 'urgent-high-value',
             CASE WHEN priority IN ('1-URGENT', '2-HIGH')
                       AND total_cents >= 15000000 THEN 'true'
                  WHEN status = 'P' THEN 'true' ELSE 'false' END,
             CASE WHEN priority IN ('1-URGENT', '2-HIGH')
                       AND total_cents >= 15000000 THEN 0
                  WHEN status = 'P' THEN 1 END
      FROM p
    )
    SELECT flag_key, value, condition_index,
           count(*) AS n_persons,
           CAST(sum(okey) AS BIGINT) AS key_sum
    FROM r GROUP BY 1, 2, 3
    ORDER BY flag_key, value, coalesce(condition_index, -1)
    """,
)
def hf_flag_eval_persons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag-eval read path at PERSON SCALE (r11 verdict #6; the
    "evaluate every person at once" demo SURVEY §3.3 promises — the
    reference can only answer per-request, src/lib.rs:1284-1345): the
    whole orders table becomes a persons store — (properties,
    properties_set_once) MAPS of JSON-encoded values, some set_once
    maps NULL as parquet-read persons normally are — and the full
    compiled flag set runs STORE-NATIVELY over every person in ONE
    whole-stage-codegen'd projection
    (flags/compiler.evaluate_flags_maps): the set/set_once merge and
    every property access are map operations; no JSON text is
    assembled or parsed, no kernel, no Python, no per-request loop
    (~1.5e6 persons/flag-set at sf1; the map lane measured ~4x faster
    than the JSON/variant lane, which stays pinned bit-identical by
    the tests/test_round12.py differential). Exercises
    exact / in-list / is_not / regex / AND conditions / ordered
    multi-condition fallthrough, numeric coercion from a JSON-string
    property (F5: total_cents is a quoted integer string), and
    set_once-vs-set precedence with NULL maps. Graded columns reduce
    to integer counts + an orderkey checksum per (flag, value,
    condition_index) cell — every person's evaluation lands in exactly
    one cell of the checksum, and nothing floats."""
    from hogflare_spark.flags.compiler import evaluate_flags_maps
    from hogflare_spark.flags.model import parse_flag_config
    from hogflare_spark.operators.partitioning import fan_out

    # fan_out BELOW the person projection: the store-native flag eval is
    # a wide codegen'd expression per person — profiled at 1.35 s on the
    # ONE scan partition a single-file orders table produces (r12, guide
    # §2.5 input skew); a no-op on real multi-file stores.
    orders = fan_out(load_table(spark, sf_dir, "orders"))
    okey = F.col("o_orderkey")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    jstr = lambda c: F.concat(F.lit('"'), c, F.lit('"'))  # noqa: E731
    base_props = F.create_map(
        F.lit("status"), jstr(F.col("o_orderstatus")),
        F.lit("priority"), jstr(F.col("o_orderpriority")),
        F.lit("cust"), jstr(F.col("o_custkey").cast("string")),
        F.lit("total_cents"), jstr(cents.cast("string")),
    )
    props = F.when(
        okey % 3 == 0,
        F.map_concat(
            base_props, F.create_map(F.lit("channel"), F.lit('"app"'))
        ),
    ).otherwise(base_props)
    set_once = F.when(
        okey % 7 == 0, F.lit(None).cast("map<string,string>")
    ).otherwise(
        F.create_map(
            F.lit("channel"),
            F.when(okey % 2 == 0, F.lit('"web"')).otherwise(F.lit('"email"')),
        )
    )
    persons = orders.select(
        okey.alias("okey"),
        okey.cast("string").alias("distinct_id"),
        props.alias("properties"),
        set_once.alias("properties_set_once"),
    )
    flags = parse_flag_config(_PERSON_FLAG_CONFIG)
    out = evaluate_flags_maps(persons, sorted(flags, key=lambda f: f.key))
    return (
        out.groupBy("flag_key", "value", "condition_index")
        .agg(
            F.count(F.lit(1)).alias("n_persons"),
            F.sum("okey").alias("key_sum"),
        )
        .orderBy("flag_key", "value", F.coalesce("condition_index", F.lit(-1)))
    )


@query(
    "hf_lake_roundtrip",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
           count(DISTINCT user_id) AS users
    FROM events GROUP BY event_date ORDER BY event_date
    """,
)
def hf_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink contract end-to-end inside the gate: ingest the capture
    stream, append to a date-partitioned lake dir (S10 layout), compact
    small files, read BACK from the lake and aggregate — the oracle works
    from the raw events table, so any loss/duplication in the
    write-compact-read cycle breaks parity. Event time passes through as
    the event's `timestamp`, so lake partitions match CAST(ts AS DATE)."""
    import shutil
    import tempfile

    from hogflare_spark.sinks.lake import append_events, compact_events, read_events

    ev = load_table(spark, sf_dir, "events")
    body = F.concat(
        F.lit('{"event":"ev","distinct_id":"'),
        F.col("user_id").cast("string"),
        F.lit('","timestamp":"'),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        F.lit('"}'),
    )
    raw = ev.select(
        F.col("event_id").alias("request_seq"),
        F.lit("capture").alias("endpoint"),
        body.alias("body"),
    )
    from hogflare_spark.operators.ingest import ingest_raw_requests

    events = ingest_raw_requests(raw)["events"]
    lake_dir = scratch_dir("hf_lake_")
    try:
        # partition by the EVENT time (client timestamp), not receipt time
        with_date = events.withColumn("created_at", F.col("timestamp"))
        append_events(with_date, lake_dir)
        compact_events(spark, lake_dir, small_file_bytes=64 * 1024 * 1024)
        back = read_events(spark, lake_dir)
        out = (
            back.groupBy(F.col("event_date"))
            .agg(
                F.count("*").alias("n"),
                F.count_distinct(F.col("distinct_id").cast("long")).alias("users"),
            )
            .orderBy("event_date")
            .localCheckpoint(eager=True)  # materialize before tmp cleanup
        )
        return out
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)


@query(
    "hf_flag_multivariate",
    # The oracle replays the variant walk in SQL over hashlib-precomputed
    # buckets (fixtures/flag_buckets.parquet, salt "experiment-1"): gate at
    # rollout 80, then cumulative variant thresholds control<50, test-a<80
    # (test-b is unreachable — the 80% gate cuts the walk, a semantics the
    # oracle must reproduce, not "fix"). value/payload are JSON-encoded to
    # match the compiled result columns.
    oracle="""
    SELECT c.c_custkey,
           'experiment-1' AS flag_key,
           CASE WHEN fb.bucket_exp >= 80 THEN 'false'
                WHEN fb.bucket_exp < 50 THEN '"control"'
                ELSE '"test-a"' END AS value,
           CASE WHEN fb.bucket_exp >= 80 THEN NULL
                WHEN fb.bucket_exp < 50 THEN '{"cta":"none"}'
                ELSE '{"cta":"A"}' END AS payload,
           CASE WHEN fb.bucket_exp >= 80 THEN 'out_of_rollout'
                ELSE 'match' END AS reason,
           CAST(NULL AS INTEGER) AS condition_index
    FROM customer c
    JOIN read_parquet('/root/repo/fixtures/flag_buckets.parquet') fb
      ON fb.custkey = c.c_custkey
    ORDER BY c.c_custkey
    """,
)
def hf_flag_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate selection (F7): cumulative variant walk over the
    deterministic rollout bucket, with per-variant payloads
    (feature_flags.rs:371-390, 312-342)."""
    from hogflare_spark.flags.compiler import evaluate_flags_df
    from hogflare_spark.flags.model import parse_flag_config

    config = """
    {"flags": [
      {"key": "experiment-1", "type": "multivariate",
       "variants": [
         {"key": "control", "rollout_percentage": 50},
         {"key": "test-a", "rollout_percentage": 30, "payload": {"cta": "A"}},
         {"key": "test-b", "rollout_percentage": 20}],
       "variant_payloads": {"control": {"cta": "none"}},
       "rollout_percentage": 80}
    ]}
    """
    cust = load_table(spark, sf_dir, "customer")
    contexts = cust.select(
        F.col("c_custkey"),
        F.col("c_custkey").cast("string").alias("distinct_id"),
        F.lit("{}").alias("person_properties"),
        F.create_map().cast("map<string,string>").alias("groups"),
        F.lit(None).cast("string").alias("group_properties"),
    )
    out = evaluate_flags_df(contexts, parse_flag_config(config))
    return out.select(
        "c_custkey", "flag_key", "value", "payload", "reason", "condition_index"
    ).orderBy("c_custkey", "flag_key")


@query(
    "hf_flag_rollout_buckets",
    oracle="""
    SELECT c.c_custkey,
           fb.bucket_bench AS bucket,
           fb.bucket_bench < 30.0 AS enabled
    FROM customer c
    JOIN read_parquet('/root/repo/fixtures/flag_buckets.parquet') fb
      ON fb.custkey = c.c_custkey
    ORDER BY c.c_custkey
    """,
)
def hf_flag_rollout_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha1 rollout bucketing over customers at 30%% — bit-parity with the
    reference's bucket (F6) is enforced against a hashlib oracle in
    tests/test_flags.py::test_compiled_bucket_bit_parity. DuckDB 1.0 has
    no sha1, so the oracle joins hashlib-precomputed buckets from
    fixtures/flag_buckets.parquet (scripts/make_flag_fixture.py)."""
    from hogflare_spark.flags.compiler import bucket_expr

    cust = load_table(spark, sf_dir, "customer")
    bucket = bucket_expr("bench-flag", F.col("c_custkey").cast("string"))
    return (
        cust.select(
            "c_custkey",
            bucket.alias("bucket"),
            (bucket < 30.0).alias("enabled"),
        )
        .orderBy("c_custkey")
    )


@query(
    "hf_event_snapshots",
    oracle="""
    WITH k_events AS (
      SELECT event_id, user_id,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_id, user_id,
           k AS k_now,
           CASE WHEN k % 2 = 0 THEN k END AS temp_now,
           first_value(k) OVER (PARTITION BY user_id ORDER BY event_id) AS first_k
    FROM k_events
    ORDER BY event_id
    """,
)
def hf_event_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U12 — the subtle one (SURVEY §7.4.1): every emitted event carries
    the person state as of AFTER its own update (lib.rs:462-470,
    person_fields lib.rs:1347-1358). Each capture $sets k (+temp on even
    k, $unsets temp on odd) and $set_onces first_k, so the event-level
    person_properties must show this event's k, temp iff this k is even,
    and the user's FIRST k — a running-state read the oracle reproduces
    with window functions."""
    from hogflare_spark.operators.ingest import ingest_raw_requests

    raw = _capture_requests_from_events(spark, sf_dir)
    events = ingest_raw_requests(raw)["events"]
    pp = F.col("person_properties")
    return events.select(
        F.col("request_seq").alias("event_id"),
        F.col("distinct_id").cast("long").alias("user_id"),
        F.get_json_object(pp, "$.k").cast("long").alias("k_now"),
        F.get_json_object(pp, "$.temp").cast("long").alias("temp_now"),
        F.get_json_object(pp, "$.first_k").cast("long").alias("first_k"),
    ).orderBy("event_id")


@query(
    "hf_event_group_props",
    oracle="""
    WITH k_events AS (
      SELECT event_id, user_id, event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_id,
           last_value(k) OVER (PARTITION BY event_type ORDER BY event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS k_asof
    FROM k_events
    ORDER BY event_id
    """,
)
def hf_event_group_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 hydration at event granularity: every capture carries the
    CURRENT group state of its `$groups` entries, with its own
    `$group_set` applied first (updates precede reads within one event —
    lib.rs:423-460). Each event $group_sets {k} and references its
    event_type group, so the hydrated k must equal the group's running
    last-write as of this event — the oracle reproduces it with a
    last_value window."""
    from hogflare_spark.operators.ingest import ingest_raw_requests

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    body = F.concat(
        F.lit('{"event":"ev","distinct_id":"'),
        F.col("user_id").cast("string"),
        F.lit('","properties":{"$groups":{"segment":"'),
        F.col("event_type"),
        F.lit('"},"$group_set":{"segment":{"k":'),
        k.cast("string"),
        F.lit("}}}}"),
    )
    raw = ev.select(
        F.col("event_id").alias("request_seq"),
        F.lit("capture").alias("endpoint"),
        body.alias("body"),
    )
    events = ingest_raw_requests(raw)["events"]
    return events.select(
        F.col("request_seq").alias("event_id"),
        F.get_json_object("group_properties", "$.segment.k").cast("long").alias(
            "k_asof"
        ),
    ).orderBy("event_id")


@query(
    "hf_flags_batch_responses",
    # All four _FLAG_CONFIG flags are 100%-rollout, so every response byte
    # is determined by (segment, balance): the oracle rebuilds the exact
    # json.dumps(sort_keys=True, separators=(",",":")) serialization the
    # kernel emits — key-sorted maps, compact separators, the rich-building
    # payload appearing both as an object (featureFlagPayloads) and as an
    # escaped JSON string (flags.*.metadata.payload). The name-regex flag
    # is always false here: the persons built below carry only
    # segment/balance, and a missing property never matches (F4).
    oracle="""
    WITH ctx AS (
      SELECT CAST(c_custkey AS VARCHAR) AS id,
             (c_mktsegment = 'BUILDING' AND c_acctbal >= 5000) AS rich,
             (c_mktsegment <> 'MACHINERY') AS nm,
             (c_acctbal < 0) AS low0,
             (c_mktsegment = 'HOUSEHOLD') AS low1
      FROM customer
    )
    SELECT id AS canonical_id,
      '{"errorsWhileComputingFlags":false,"evaluatedAt":0,"featureFlagPayloads":'
      || CASE WHEN rich THEN '{"rich-building":{"tier":"rich"}}' ELSE '{}' END
      || ',"featureFlags":{"low-balance-or-household":'
      || CASE WHEN low0 OR low1 THEN 'true' ELSE 'false' END
      || ',"name-regex":false,"not-machinery":'
      || CASE WHEN nm THEN 'true' ELSE 'false' END
      || ',"rich-building":' || CASE WHEN rich THEN 'true' ELSE 'false' END
      || '},"flags":{"low-balance-or-household":'
      || CASE WHEN low0 THEN '{"enabled":true,"key":"low-balance-or-household","reason":{"code":"match","condition_index":0}}'
              WHEN low1 THEN '{"enabled":true,"key":"low-balance-or-household","reason":{"code":"match","condition_index":1}}'
              ELSE '{"enabled":false,"key":"low-balance-or-household","reason":{"code":"no_match"}}' END
      || ',"name-regex":{"enabled":false,"key":"name-regex","reason":{"code":"no_match"}}'
      || ',"not-machinery":'
      || CASE WHEN nm THEN '{"enabled":true,"key":"not-machinery","reason":{"code":"match","condition_index":0}}'
              ELSE '{"enabled":false,"key":"not-machinery","reason":{"code":"no_match"}}' END
      || ',"rich-building":'
      || CASE WHEN rich THEN '{"enabled":true,"key":"rich-building","metadata":{"payload":"{\\"tier\\":\\"rich\\"}"},"reason":{"code":"match","condition_index":0}}'
              ELSE '{"enabled":false,"key":"rich-building","reason":{"code":"no_match"}}' END
      || '},"requestId":"req-' || id || '"}' AS response
    FROM ctx
    ORDER BY canonical_id
    """,
)
def hf_flags_batch_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-serve the /flags response for every customer-derived person —
    response shaping per lib.rs:1089-1147, evaluated table-wide (the
    reference can only do one request at a time). Runs the NATIVE path
    (compiled Columns + string assembly, one codegen'd projection); the
    per-row Arrow kernel (batch_flag_responses) stays as the differential
    oracle, pinned bit-identical in tests/test_round11.py."""
    from hogflare_spark.flags.model import parse_flag_config
    from hogflare_spark.flags.response import batch_flag_responses_native

    cust = load_table(spark, sf_dir, "customer")
    persons = cust.select(
        F.col("c_custkey").cast("string").alias("canonical_id"),
        F.create_map(
            # values are JSON-encoded; segments/balances are quote-safe
            F.lit("segment"), F.concat(F.lit('"'), F.col("c_mktsegment"), F.lit('"')),
            F.lit("balance"), F.concat(F.lit('"'), F.col("c_acctbal").cast("string"), F.lit('"')),
        ).alias("properties"),
        F.create_map().cast("map<string,string>").alias("properties_set_once"),
    )
    flags = parse_flag_config(_FLAG_CONFIG)
    return batch_flag_responses_native(persons, flags).orderBy("canonical_id")


def _register_person_history_oracle() -> None:
    from hogflare_spark.operators.temporal import scd2_history_sql

    inner = scd2_history_sql(
        "events",
        ("user_id", "user_id"),
        [
            ("CAST(json_extract(props, '$.k') AS BIGINT)", "k"),
            ("event_type", "event_type"),
        ],
        "event_id",
    )
    ORACLES["hf_person_history"] = (
        f"SELECT * FROM ({inner}) ORDER BY user_id, valid_from"
    )


@query("hf_person_history", oracle=None)
def hf_person_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 person-property history (operators/temporal.scd2_history):
    the warehouse temporal form of the person store — the reference
    keeps only CURRENT state + version (persons.rs:55-74); this builds
    one row per (k, event_type) value epoch with [valid_from, valid_to)
    event-sequence bounds, so any past state is a range predicate away
    and as-of joins can hit historical attributes. Two window passes
    sharing one (user_id, event_id) sort = ONE Exchange in the plan."""
    from hogflare_spark.operators.temporal import scd2_history

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        "event_type",
    )
    return scd2_history(ev, "user_id", ["k", "event_type"], "event_id").orderBy(
        "user_id", "valid_from"
    )


_register_person_history_oracle()


def _register_point_in_time_oracle() -> None:
    from hogflare_spark.operators.temporal import scd2_history_sql

    hist = scd2_history_sql(
        "events",
        ("user_id", "user_id"),
        [("CAST(json_extract(props, '$.k') AS BIGINT)", "k")],
        "event_id",
    )
    ORACLES["hf_point_in_time_props"] = f"""
    WITH hist AS ({hist})
    SELECT e.event_id, e.user_id, hist.k AS k_at_event, hist.version
    FROM events e JOIN hist ON hist.user_id = e.user_id
      AND e.event_id >= hist.valid_from
      AND (hist.valid_to IS NULL OR e.event_id < hist.valid_to)
    ORDER BY e.event_id
    """


@query("hf_point_in_time_props", oracle=None)
def hf_point_in_time_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature lookup (operators/temporal.
    point_in_time_join over scd2_history): every event joined to the
    person-property epoch valid AT that event — the leakage-free form
    of 'enrich training examples with person state' (joining CURRENT
    state onto past examples leaks the future). Exactly one epoch per
    event by interval construction, so the row count must equal the
    events table — any duplicate or dropped match breaks the hash."""
    from hogflare_spark.operators.temporal import point_in_time_join, scd2_history

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    hist = scd2_history(ev, "user_id", ["k"], "event_id").select(
        "user_id", "valid_from", "valid_to", "k", "version"
    )
    facts = ev.select("user_id", "event_id")
    return (
        point_in_time_join(facts, hist, "user_id", "event_id")
        .select(
            "event_id",
            "user_id",
            F.col("k").alias("k_at_event"),
            "version",
        )
        .orderBy("event_id")
    )


_register_point_in_time_oracle()


@query(
    "hf_lake_deletion",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           count(*) AS n,
           count(DISTINCT user_id) AS users
    FROM events
    WHERE user_id % 13 <> 0
    GROUP BY 1 ORDER BY event_date
    """,
)
def hf_lake_deletion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style targeted deletion (sinks/lake.delete_person_rows):
    ingest the capture stream into the date-partitioned lake, delete
    every row of the user_id % 13 == 0 subjects via the pruned-probe +
    leaf-partition-rewrite path, read back and aggregate — the oracle
    excludes the same subjects from the raw events table, so an
    under-delete, over-delete, or partition lost in the rewrite commit
    breaks parity."""
    import shutil
    import tempfile

    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.sinks.lake import (
        append_events,
        delete_person_rows,
        read_events,
    )

    ev = load_table(spark, sf_dir, "events")
    body = F.concat(
        F.lit('{"event":"ev","distinct_id":"'),
        F.col("user_id").cast("string"),
        F.lit('","timestamp":"'),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        F.lit('"}'),
    )
    raw = ev.select(
        F.col("event_id").alias("request_seq"),
        F.lit("capture").alias("endpoint"),
        body.alias("body"),
    )
    events = ingest_raw_requests(raw)["events"]
    subjects = [
        str(r[0])
        for r in ev.select("user_id")
        .where(F.col("user_id") % 13 == 0)
        .distinct()
        .collect()
    ]
    lake_dir = scratch_dir("hf_lake_del_")
    try:
        append_events(
            events.withColumn("created_at", F.col("timestamp")), lake_dir
        )
        delete_person_rows(spark, lake_dir, subjects)
        back = read_events(spark, lake_dir)
        return (
            back.groupBy(F.col("event_date"))
            .agg(
                F.count("*").alias("n"),
                F.count_distinct(F.col("distinct_id").cast("long")).alias(
                    "users"
                ),
            )
            .orderBy("event_date")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)


BENCH_EXTRA.update(
    {
        "hf_person_fold_state",
        "hf_flag_eval",
        "ev_stream_sessionization",
        # round-9 second half: cheap new analytics/temporal classes
        "hf_person_history",
        "hf_point_in_time_props",
        "ev_attribution_multitouch",
        "ev_sketch_rollup",
        "ev_volume_anomalies",
        # round-10: the new pre-aggregation / recursion / layout /
        # selection classes (the stream-hist and time-travel gates stay
        # out: their cost is tmp-dir write machinery, not query plans)
        "ev_hist_quantile_rollup",
        "q_recursive_ancestors",
        "ev_zorder_locality",
        "q_exact_quantile_value",
        # round-11: the Misra-Gries census (bounded map-side state +
        # candidate recount — the 100 TB one-pass census shape), the
        # KMV set-algebra sketches, and the two graph-analytics gates
        "ev_heavy_hitter_entities",
        "ev_kmv_audience_overlap",
        "q_triangle_count",
        "q_pagerank_parts",
        # round-12: the person-scale compiled-Column flag read path
        # (r11 verdict #6 asks for it graded AND benched), plus the two
        # new past-window classes
        "hf_flag_eval_persons",
        "llm_maxsim_rerank",
        "ev_decayed_engagement",
    }
)


def _stream_hist_oracle() -> str:
    """The ev_hist_quantile_rollup estimator replica (same binning,
    merge, and the pure-integer micro-unit interpolation from
    operators/rollup.hist_quantiles_oracle_exprs — BIGINT graded
    columns only, per the r11 driver-hash red) — valid for the
    STREAMING state too because histogram counts are additive: after
    the three micro-batches the accumulated state IS the batch fine
    histogram bit-for-bit."""
    from hogflare_spark.operators.rollup import hist_quantiles_oracle_exprs

    w, last = 8.0, 127
    qsel = ",\n             ".join(hist_quantiles_oracle_exprs(w))
    return f"""
    WITH fine AS (
      SELECT date_trunc('day', ts) AS bucket, event_type AS key,
             least(greatest(CAST(floor(value::DOUBLE / {w}) AS BIGINT), 0),
                   {last}) AS bin,
             count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
    ), merged AS (
      SELECT date_trunc('week', bucket) AS bucket, key, bin,
             CAST(sum(cnt) AS BIGINT) AS cnt
      FROM fine GROUP BY 1, 2, 3
    ), c AS (
      SELECT bucket, key, bin, cnt,
             CAST(sum(cnt) OVER (PARTITION BY bucket, key ORDER BY bin)
                  AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY bucket, key) AS BIGINT) AS n
      FROM merged
    )
    SELECT bucket::DATE AS bucket, key,
           CAST(max(n) AS BIGINT) AS n_events,
             {qsel}
    FROM c GROUP BY bucket, key
    ORDER BY bucket, key
    """


@query("ev_stream_hist_rollup", oracle=_stream_hist_oracle())
def ev_stream_hist_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous aggregate (streaming/incremental_model.
    IncrementalHistQuantiles): the events table arrives as three
    event_id-range micro-batches with a mid-stream compaction; the
    weekly p50/p90/p99 estimates read from the ACCUMULATED histogram
    state must equal the batch rollup bit-for-bit (additive integer
    counts), so the oracle is the batch estimator replica. This is the
    deployment shape of the histogram-quantile class: ingest folds
    bin-bounded rows per trigger, dashboards never rescan raw events."""
    import shutil
    import tempfile

    from hogflare_spark.streaming.incremental_model import (
        IncrementalHistQuantiles,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # coalesce the empty-table None to -1 so the gate degrades to
    # empty micro-batches instead of a TypeError (ADVICE r11)
    n = (ev.agg(F.max("event_id")).first()[0] or -1) + 1
    b1, b2 = n // 3, 2 * n // 3
    work = scratch_dir("ev_stream_hist_")
    try:
        job = IncrementalHistQuantiles(work, compact_every=2)
        job.process_batch(ev.where(F.col("event_id") < b1), 0)
        job.process_batch(
            ev.where((F.col("event_id") >= b1) & (F.col("event_id") < b2)), 1
        )  # triggers a compaction (compact_every=2)
        job.process_batch(ev.where(F.col("event_id") >= b2), 2)
        return (
            job.quantiles(spark)
            .select(
                F.to_date("bucket").alias("bucket"),
                "key",
                "n_events",
                "p50_est_micros",
                "p90_est_micros",
                "p99_est_micros",
            )
            .orderBy("bucket", "key")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "hf_lake_time_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 100 = 0
    ), v1 AS (
      SELECT k, CASE WHEN k % 3 = 0 THEN cents * 2 ELSE cents END AS cents
      FROM base
    ), v2 AS (
      SELECT k, CASE WHEN k % 5 = 0 THEN cents + 100000 ELSE cents END AS cents
      FROM v1
    )
    SELECT 0 AS version, count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents FROM base
    UNION ALL
    SELECT 1, count(*), CAST(sum(cents) AS BIGINT) FROM v1
    UNION ALL
    SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM v2
    ORDER BY version
    """,
)
def hf_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (sinks/lake.read_table(version=...)): three
    MERGE commits build version history — base prices, a 2x reprice of
    every 3rd key, then +1000.00 on every 5th key — and the gate reads
    ALL THREE versions back by version number, reducing each to exact
    integer invariants (cents, floor-rounded identically on both
    engines, so the floating source column can't drift the sums). The
    Iceberg contract being stood in for: every committed snapshot stays
    readable until expiration (reference sink: Iceberg-on-R2,
    /root/reference/src/pipeline.rs:57-143; versioned-commit mapping in
    CATALOG.md)."""
    import shutil
    import tempfile

    from hogflare_spark.sinks.lake import read_table, upsert_table

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = orders.where(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("k"), cents.alias("cents")
    )
    root = scratch_dir("hf_lake_tt_")
    try:
        v0 = upsert_table(spark, base, root, ["k"])
        upd1 = base.where(F.col("k") % 3 == 0).select(
            "k", (F.col("cents") * 2).alias("cents")
        )
        v1 = upsert_table(spark, upd1, root, ["k"])
        # v2 updates apply ON TOP of v1 state, so reprice reads v1 back
        v1_state = read_table(spark, root, version=v1)
        upd2 = v1_state.where(F.col("k") % 5 == 0).select(
            "k", (F.col("cents") + 100000).alias("cents")
        )
        v2 = upsert_table(spark, upd2, root, ["k"])
        frames = []
        for out_ver, v in ((0, v0), (1, v1), (2, v2)):
            frames.append(
                read_table(spark, root, version=v).agg(
                    F.lit(out_ver).cast("long").alias("version"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("cents").alias("sum_cents"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.orderBy("version").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
