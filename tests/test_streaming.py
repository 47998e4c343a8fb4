"""Structured Streaming tests: incremental foreachBatch ingest equals the
batch fold over the same input, across replays and restarts; watermarked
windowed aggregation."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _write_batch(landing_dir: str, name: str, rows: list[dict]) -> None:
    os.makedirs(landing_dir, exist_ok=True)
    path = os.path.join(landing_dir, name)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for row in rows:
            fh.write(json.dumps(row) + "\n")
    os.replace(tmp, path)


def _capture(seq: int, distinct_id: str, props: dict | None = None) -> dict:
    body = {"event": "ev", "distinct_id": distinct_id}
    if props:
        body["properties"] = props
    return {"request_seq": seq, "endpoint": "capture", "body": json.dumps(body)}


def _alias(seq: int, distinct_id: str, alias: str) -> dict:
    return {
        "request_seq": seq,
        "endpoint": "alias",
        "body": json.dumps({"distinct_id": distinct_id, "alias": alias}),
    }


BATCH1 = [
    _capture(1, "anon-1", {"$set": {"plan": "free"}}),
    _capture(2, "anon-2", {"$set": {"team": "red"}, "$set_once": {"first": "a"}}),
]
BATCH2 = [
    # cross-micro-batch identity merge: user-1 absorbs anon-1's record
    _alias(3, "user-1", "anon-1"),
    _capture(4, "user-1", {"$set": {"plan": "pro"}}),
    _capture(5, "anon-2", {"$set_once": {"first": "b"}, "$unset": ["team"]}),
]


def test_streaming_ingest_matches_batch_fold(spark, tmp_path):
    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    job = StreamingIngestJob(warehouse)

    _write_batch(landing, "b1.json", BATCH1)
    job.run_available_now(read_request_stream(spark, landing), ckpt)
    _write_batch(landing, "b2.json", BATCH2)
    job.run_available_now(read_request_stream(spark, landing), ckpt)

    stream_persons = {
        r["canonical_id"]: r for r in job.read_persons(spark).collect()
    }

    batch_raw = spark.createDataFrame(
        [Row(request_seq=r["request_seq"], endpoint=r["endpoint"], body=r["body"])
         for r in BATCH1 + BATCH2]
    )
    batch_persons = {
        r["canonical_id"]: r
        for r in ingest_raw_requests(batch_raw)["persons"].collect()
    }

    assert set(stream_persons) == set(batch_persons)
    for cid, want in batch_persons.items():
        got = stream_persons[cid]
        assert sorted(got["distinct_ids"]) == sorted(want["distinct_ids"]), cid
        assert got["properties"] == want["properties"], cid
        assert got["properties_set_once"] == want["properties_set_once"], cid
        assert got["version"] == want["version"], cid

    # the merged identity: user-1 canonical, plan=pro, both distinct_ids
    merged = stream_persons["user-1"]
    assert json.loads(merged["properties"]["plan"]) == "pro"
    assert set(merged["distinct_ids"]) == {"user-1", "anon-1"}
    # anon-2's $set_once first=a survived batch2's first=b; team unset
    a2 = stream_persons["anon-2"]
    assert json.loads(a2["properties_set_once"]["first"]) == "a"
    assert "team" not in a2["properties"]

    # events landed date-partitioned, one row per item
    events = spark.read.parquet(os.path.join(warehouse, "events"))
    assert events.count() == len(BATCH1 + BATCH2)
    assert "event_date" in events.columns


def _identify(seq: int, distinct_id: str, props: dict | None = None,
              anon: str | None = None) -> dict:
    body: dict = {"distinct_id": distinct_id}
    if props:
        body["properties"] = props
    if anon:
        body["$anon_distinct_id"] = anon
    return {"request_seq": seq, "endpoint": "identify", "body": json.dumps(body)}


# The reference DO e2e scenario (reference tests/persons_do.rs:22-99:
# identify $set/$set_once → capture $set → alias absorbs anon), extended
# with a second merge chain, an identify auto-alias, and an $unset.
CHAOS_OPS = [
    _capture(1, "anon-1", {"$set": {"plan": "free"}}),
    _identify(2, "person-1", {"$set": {"email": "person1@example.com"},
                              "$set_once": {"created_at": "2024-01-01"}}),
    _capture(3, "anon-1", {"$set": {"theme": "dark"}}),
    _alias(4, "person-1", "anon-1"),
    _capture(5, "person-1", {"$set": {"plan": "pro"}}),
    _identify(6, "person-2", {"$set": {"email": "p2@example.com"}}, anon="anon-2"),
    _capture(7, "anon-2", {"$set_once": {"src": "ad"}}),
    _capture(8, "person-2", {"$unset": ["email"]}),
    _capture(9, "anon-3", {"$set": {"solo": True}}),
]

# batch-boundary splits: all-at-once, one-op-per-batch, and two uneven
# cuts that place each merge op at a batch edge (before/after its anon's
# captures) — the orderings that broke the reference's DO serialization
# are the ones worth replaying here.
CHAOS_SPLITS = [
    [9],
    [1] * 9,
    [3, 1, 1, 4],
    [1, 4, 2, 2],
]


def test_streaming_chaos_batch_splits_match_batch_fold(spark, tmp_path):
    """VERDICT r1 item 10: whatever micro-batch boundaries the stream
    commits under, the final persons table equals the one-shot batch fold
    over the same ordered ops, sequential ids included (a person a merge
    absorbs still consumes its id); every post-bootstrap batch is a
    delta."""
    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    batch_raw = spark.createDataFrame(
        [Row(request_seq=r["request_seq"], endpoint=r["endpoint"], body=r["body"])
         for r in CHAOS_OPS]
    )
    want = {
        r["canonical_id"]: r
        for r in ingest_raw_requests(batch_raw)["persons"].collect()
    }

    for si, split in enumerate(CHAOS_SPLITS):
        assert sum(split) == len(CHAOS_OPS)
        landing = str(tmp_path / f"landing{si}")
        ckpt = str(tmp_path / f"ckpt{si}")
        job = StreamingIngestJob(str(tmp_path / f"wh{si}"))
        start = 0
        for bi, size in enumerate(split):
            _write_batch(landing, f"b{bi}.json", CHAOS_OPS[start:start + size])
            start += size
            job.run_available_now(read_request_stream(spark, landing), ckpt)

        persons = job.read_persons(spark)
        got = {r["canonical_id"]: r for r in persons.collect()}
        assert set(got) == set(want), f"split {split}"
        for cid, w in want.items():
            g = got[cid]
            assert sorted(g["distinct_ids"]) == sorted(w["distinct_ids"]), (split, cid)
            assert g["properties"] == w["properties"], (split, cid)
            assert g["properties_set_once"] == w["properties_set_once"], (split, cid)
            assert g["version"] == w["version"], (split, cid)
            assert g["id"] == w["id"], (split, cid)

        # the reference's fetch_person asserts (S13 debug lookup): anon-1
        # resolves to canonical person-1 carrying the merged state
        p1 = persons.where(F.array_contains("distinct_ids", "anon-1")).collect()
        assert len(p1) == 1 and p1[0]["canonical_id"] == "person-1", split
        assert json.loads(p1[0]["properties"]["plan"]) == "pro", split
        assert json.loads(p1[0]["properties"]["email"]) == "person1@example.com"
        assert json.loads(p1[0]["properties_set_once"]["created_at"]) == "2024-01-01"
        # identify auto-alias merged anon-2 into person-2; email later unset
        p2 = got["person-2"]
        assert "anon-2" in p2["distinct_ids"] and "email" not in p2["properties"]
        assert json.loads(p2["properties_set_once"]["src"]) == "ad"
        # the bootstrap wrote the base, every later batch one delta
        assert len(job._read_pointer("persons")["deltas"]) == len(split) - 1, split


DELTA_OPS = [
    _capture(1, "anon-1", {"$set": {"plan": "free"}}),
    _capture(2, "u2", {"$set": {"t": "x"}}),
    _alias(3, "user-1", "anon-1"),  # cross-key merge → touched-component
    # delta: both edge endpoints are in the touched set, so the batch
    # seeds anon-1's record, merges it into user-1, and writes a
    # tombstone retiring the absorbed canonical id
    _capture(4, "anon-1", {"$set": {"plan": "pro"}}),  # touches the merged
    # person through its ABSORBED id — the affected-person semi-join must
    # resolve anon-1 → canonical user-1
    _capture(5, "new-guy", {"$set": {"n": 1}}),  # creates a person in a
    # delta; its id must continue above the pointer's tracked max
    _capture(6, "u2", {"$unset": ["t"]}),
]


def test_streaming_alias_deltas_converge_to_batch_fold(spark, tmp_path):
    """VERDICT r3 item 4 (+ r4 item 7): a mixed stream (captures + late
    alias) — EVERY post-bootstrap batch commits an O(touched components)
    delta, alias batches included — converges to the one-shot batch
    fold, ids included."""
    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.sinks.lake import read_entry
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ck")
    job = StreamingIngestJob(warehouse)

    for bi, (start, end) in enumerate([(0, 2), (2, 3), (3, 6)]):
        _write_batch(landing, f"b{bi}.json", DELTA_OPS[start:end])
        job.run_available_now(read_request_stream(spark, landing), ckpt)

    # the alias micro-batch (batch id 1) is a DELTA: the latest entry keeps batch 0's base with both later batches
    # stacked as deltas
    pointer = job._read_pointer("persons")
    assert pointer["version"] == 3 and len(pointer["deltas"]) == 2, pointer
    assert pointer["deltas"][-1] == pointer["committed_batch"]
    assert pointer["base"] == read_entry(os.path.join(warehouse, "persons"), 1)["base"]
    # the alias delta is O(touched): exactly the merged record plus the
    # tombstone for the absorbed canonical id — u2's record must NOT be
    # replayed into it
    d1 = spark.read.parquet(os.path.join(warehouse, "persons", pointer["deltas"][0]))
    d1_rows = {r["canonical_id"]: r for r in d1.collect()}
    assert set(d1_rows) == {"user-1", "anon-1"}, sorted(d1_rows)
    assert d1_rows["anon-1"]["uuid"] is None  # tombstone
    assert d1_rows["user-1"]["uuid"] is not None

    batch_raw = spark.createDataFrame(
        [Row(request_seq=r["request_seq"], endpoint=r["endpoint"], body=r["body"])
         for r in DELTA_OPS]
    )
    want = {
        r["canonical_id"]: r
        for r in ingest_raw_requests(batch_raw)["persons"].collect()
    }
    got = {r["canonical_id"]: r for r in job.read_persons(spark).collect()}
    assert set(got) == set(want)
    for cid, w in want.items():
        g = got[cid]
        assert sorted(g["distinct_ids"]) == sorted(w["distinct_ids"]), cid
        assert g["properties"] == w["properties"], cid
        assert g["properties_set_once"] == w["properties_set_once"], cid
        assert g["version"] == w["version"], cid
        assert g["id"] == w["id"], cid

    merged = got["user-1"]
    assert json.loads(merged["properties"]["plan"]) == "pro"
    assert set(merged["distinct_ids"]) == {"user-1", "anon-1"}
    assert "t" not in got["u2"]["properties"]
    events = spark.read.parquet(os.path.join(warehouse, "events"))
    assert events.count() == len(DELTA_OPS)


def _group_upsert(seq: int, gtype: str, gkey: str, props: dict | None) -> dict:
    return {
        "request_seq": seq,
        "endpoint": "groups",
        "body": json.dumps(
            {"group_type": gtype, "group_key": gkey, "properties": props}
        ),
    }


def test_streaming_group_deltas_converge(spark, tmp_path):
    """Group state committed as deltas (every post-bootstrap batch) equals
    the one-shot batch fold."""
    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    ops = [
        _group_upsert(1, "team", "t1", {"m": 1}),
        _capture(2, "u1", {"$set": {"a": 1}}),
        # batch 2 (a delta): new group key + LWW update of t1
        _group_upsert(3, "team", "t2", {"m": 7}),
        _group_upsert(4, "team", "t1", {"m": 5, "x": "y"}),
        _capture(5, "u1", {"$set": {"a": 2}}),
    ]
    landing = str(tmp_path / "glanding")
    warehouse = str(tmp_path / "gwh")
    ckpt = str(tmp_path / "gck")
    job = StreamingIngestJob(warehouse, group_types=("company", "team", None, None, None))
    for bi, (start, end) in enumerate([(0, 2), (2, 5)]):
        _write_batch(landing, f"b{bi}.json", ops[start:end])
        job.run_available_now(read_request_stream(spark, landing), ckpt)

    # batch id 1 wrote a groups DELTA, not a full rewrite
    pointer = job._read_pointer("groups")
    assert pointer["version"] == 2, pointer
    assert pointer["deltas"] == [pointer["committed_batch"]], pointer
    # the delta holds only the touched keys: t2 (new) and t1 (updated)
    d1 = spark.read.parquet(os.path.join(warehouse, "groups", pointer["deltas"][0]))
    assert {r["group_key"] for r in d1.collect()} == {"t1", "t2"}

    batch_raw = spark.createDataFrame(
        [Row(request_seq=r["request_seq"], endpoint=r["endpoint"], body=r["body"])
         for r in ops]
    )
    want = {
        (r["group_type"], r["group_key"]): r
        for r in ingest_raw_requests(
            batch_raw, group_types=("company", "team", None, None, None)
        )["groups"].collect()
    }
    got = {
        (r["group_type"], r["group_key"]): r
        for r in job.read_groups(spark).collect()
    }
    assert set(got) == set(want) == {("team", "t1"), ("team", "t2")}
    for key, w in want.items():
        g = got[key]
        assert g["properties"] == w["properties"], key
        assert g["version"] == w["version"], key
    assert json.loads(got[("team", "t1")]["properties"]["m"]) == 5


def test_streaming_sequential_ids_continue_across_batches(spark, tmp_path):
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    landing = str(tmp_path / "landing")
    job = StreamingIngestJob(str(tmp_path / "wh"))

    _write_batch(landing, "b1.json", [_capture(1, "a"), _capture(2, "b")])
    job.run_available_now(read_request_stream(spark, landing), str(tmp_path / "ck"))
    ids1 = {r["canonical_id"]: r["id"] for r in job.read_persons(spark).collect()}

    _write_batch(landing, "b2.json", [_capture(3, "c"), _capture(4, "a")])
    job.run_available_now(read_request_stream(spark, landing), str(tmp_path / "ck"))
    ids2 = {r["canonical_id"]: r["id"] for r in job.read_persons(spark).collect()}

    # prior ids stable, new id continues the sequence
    assert ids2["a"] == ids1["a"] and ids2["b"] == ids1["b"]
    assert ids2["c"] == max(ids1.values()) + 1


def test_windowed_event_counts_watermark(spark, tmp_path):
    from hogflare_spark.streaming.ingest_stream import windowed_event_counts

    src = str(tmp_path / "ev")
    rows = [
        {"event": "a", "created_at": "2025-01-01T00:00:10Z"},
        {"event": "a", "created_at": "2025-01-01T00:00:50Z"},
        {"event": "b", "created_at": "2025-01-01T00:01:10Z"},
        {"event": "a", "created_at": "2025-01-01T00:02:05Z"},
    ]
    _write_batch(src, "e1.json", rows)

    stream = (
        spark.readStream.schema("event string, created_at string")
        .json(src)
        .withColumn("created_at", F.to_timestamp("created_at"))
    )
    agg = windowed_event_counts(stream, window="1 minute", watermark="5 minutes")

    got = []
    q = (
        agg.writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    counts = {(str(r["window_start"]), r["event"]): r["n"] for r in got}
    assert counts[("2025-01-01 00:00:00", "a")] == 2
    assert counts[("2025-01-01 00:01:00", "b")] == 1
    assert counts[("2025-01-01 00:02:00", "a")] == 1


def test_streaming_sessions_gap_boundary_and_merge(spark, tmp_path):
    """Closed-boundary session semantics: an event exactly `gap` after
    the previous one still MERGES (touching session windows coalesce) —
    the property the batch oracle must mirror with `diff > gap`. A
    session straddling two micro-batches is stitched in the state store
    and emitted once, with the merged count; a clearly-past-gap event
    opens a new session."""
    from hogflare_spark.streaming.ingest_stream import streaming_sessions

    src = str(tmp_path / "sess")
    b1 = [
        # u1: two events 10 min apart -> one session (merged)
        {"user_id": 1, "created_at": "2025-01-01T00:00:00Z"},
        {"user_id": 1, "created_at": "2025-01-01T00:10:00Z"},
        # u2: second event exactly 30 min later -> touching windows MERGE
        {"user_id": 2, "created_at": "2025-01-01T00:00:00Z"},
        {"user_id": 2, "created_at": "2025-01-01T00:30:00Z"},
        # u3: second event past the gap -> two sessions
        {"user_id": 3, "created_at": "2025-01-01T00:00:00Z"},
        {"user_id": 3, "created_at": "2025-01-01T00:30:00.000001Z"},
    ]
    # u1's third event lands in the NEXT micro-batch, 5 min after the
    # second -> still the same session (cross-batch merge)
    b2 = [
        {"user_id": 1, "created_at": "2025-01-01T00:15:00Z"},
        # watermark pusher far in the future closes everything
        {"user_id": 9, "created_at": "2025-01-02T00:00:00Z"},
    ]
    out_dir = str(tmp_path / "out")
    for i, rows in enumerate([b1, b2]):
        _write_batch(src, f"s{i}.json", rows)
        stream = (
            spark.readStream.schema("user_id bigint, created_at string")
            .json(src)
            .withColumn("created_at", F.to_timestamp("created_at"))
        )
        q = (
            streaming_sessions(stream, gap="30 minutes", watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ck_sess"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    emitted = (
        spark.read.schema(
            "user_id bigint, session_start timestamp, "
            "session_end timestamp, n_events long"
        )
        .parquet(out_dir)
        .collect()
    )
    sessions = {
        (r["user_id"], str(r["session_start"])): r["n_events"] for r in emitted
    }
    # u1: ONE session of 3 events spanning both micro-batches
    assert sessions[(1, "2025-01-01 00:00:00")] == 3
    assert sum(1 for (u, _) in sessions if u == 1) == 1
    # u2: exactly-at-gap event merged into one session
    assert sessions[(2, "2025-01-01 00:00:00")] == 2
    assert sum(1 for (u, _) in sessions if u == 2) == 1
    # u3: a microsecond past the gap opened a second session
    assert sessions[(3, "2025-01-01 00:00:00")] == 1
    assert sum(1 for (u, _) in sessions if u == 3) == 2


def _raw_df(spark, rows):
    return spark.createDataFrame(
        [Row(request_seq=r["request_seq"], endpoint=r["endpoint"], body=r["body"])
         for r in rows]
    )


def test_batch_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch body can re-run with the same batch id after a
    crash between the state commit and the stream checkpoint. Replays
    must be REWRITES, not re-applications: person/group version counters
    must not double, ids must not advance, and warehouse events must not
    duplicate — for an alias batch and an alias-free one."""
    from hogflare_spark.streaming.ingest_stream import StreamingIngestJob

    def snap(job):
        persons = {
            r["canonical_id"]: (r["version"], r["id"], dict(r["properties"] or {}))
            for r in job.read_persons(spark).collect()
        }
        groups = {
            (r["group_type"], r["group_key"]): r["version"]
            for r in job.read_groups(spark).collect()
        }
        return persons, groups, spark.read.parquet(job.events_dir).count()

    job = StreamingIngestJob(str(tmp_path / "wh"))
    job.process_batch(_raw_df(spark, BATCH1), 0)
    alias_batch = BATCH2 + [_group_upsert(9, "company", "acme", {"size": 2})]
    job.process_batch(_raw_df(spark, alias_batch), 1)
    want = snap(job)
    job.process_batch(_raw_df(spark, alias_batch), 1)  # checkpoint replay
    assert snap(job) == want
    job.process_batch(_raw_df(spark, alias_batch), 1)  # replay of a replay
    assert snap(job) == want

    capture_batch = [
        _capture(6, "user-1", {"$set": {"plan": "max"}}),
        _capture(7, "anon-2", {"$set": {"color": "blue"}}),
    ]
    job.process_batch(_raw_df(spark, capture_batch), 2)
    want = snap(job)
    job.process_batch(_raw_df(spark, capture_batch), 2)
    assert snap(job) == want
    # a later batch after the replays converges normally
    later = [_capture(8, "user-1", {"$set": {"z": 1}})]
    job.process_batch(_raw_df(spark, later), 3)
    final = snap(job)
    assert final[0]["user-1"][0] == want[0]["user-1"][0] + 1  # one more version
    job.process_batch(_raw_df(spark, later), 3)
    assert snap(job) == final  # and batch 3's replay is a rewrite too


def test_fresh_checkpoint_new_run_is_not_a_replay(spark, tmp_path):
    """Spark batch ids restart at 0 with a fresh checkpoint dir. A NEW
    stream's batch 0 over an existing warehouse must APPLY on top of the
    committed state — not be misread as a checkpoint replay of the OLD
    stream's batch 0 (which would recompute from old state and commit
    nothing). Table transactions are keyed by (run, batch), so the two
    runs' batch 0s are distinct while same-run replays stay
    recognizable."""
    from hogflare_spark.sinks.lake import read_events
    from hogflare_spark.streaming.ingest_stream import StreamingIngestJob

    wh = str(tmp_path / "wh")

    def version_of(job, did):
        return {
            did_: r["version"]
            for r in job.read_persons(spark).collect()
            for did_ in (r["distinct_ids"] or [])
        }[did]

    a = StreamingIngestJob(wh, run_id="ckpt-a")
    a.process_batch(_raw_df(spark, BATCH1), 0)
    v_a = version_of(a, "anon-1")
    n_events_a = read_events(spark, a.events_dir).count()

    # a new stream (fresh checkpoint => new run id), batch ids restart
    b = StreamingIngestJob(wh, run_id="ckpt-b")
    nb = [_capture(10, "anon-1", {"$set": {"plan": "pro"}})]
    b.process_batch(_raw_df(spark, nb), 0)
    assert version_of(b, "anon-1") == v_a + 1, "new run must apply, not roll back"
    assert version_of(b, "anon-2") is not None  # untouched state survived
    assert read_events(spark, b.events_dir).count() == n_events_a + 1

    # while a genuine same-run replay of that batch is still a rewrite
    b2 = StreamingIngestJob(wh, run_id="ckpt-b")
    b2.process_batch(_raw_df(spark, nb), 0)
    assert version_of(b2, "anon-1") == v_a + 1
    assert read_events(spark, b2.events_dir).count() == n_events_a + 1


def test_alias_delta_batch_replay_is_a_rewrite(spark, tmp_path):
    """A checkpoint replay of an ALIAS-carrying delta batch (merge +
    tombstone) must be a rewrite: same merged record, same tombstone,
    no double version bump, no resurrected absorbed id."""
    from hogflare_spark.streaming.ingest_stream import StreamingIngestJob

    wh = str(tmp_path / "wh")
    job = StreamingIngestJob(wh, run_id="r")
    job.process_batch(_raw_df(spark, BATCH1), 0)  # bootstrap: anon-1, anon-2

    alias_batch = [
        _alias(10, "user-1", "anon-1"),
        _capture(11, "user-1", {"$set": {"plan": "pro"}}),
    ]

    def snap():
        persons = {
            r["canonical_id"]: (r["version"], sorted(r["distinct_ids"]))
            for r in job.read_persons(spark).collect()
        }
        entry = job._read_pointer("persons")
        d = spark.read.parquet(os.path.join(wh, "persons", entry["deltas"][-1]))
        delta = {r["canonical_id"]: r["uuid"] is None for r in d.collect()}
        return persons, delta

    job.process_batch(_raw_df(spark, alias_batch), 1)  # alias delta
    want = snap()
    assert want[1] == {"user-1": False, "anon-1": True}  # merge + tombstone
    assert "anon-1" not in want[0] and "user-1" in want[0]
    assert sorted(want[0]["user-1"][1]) == ["anon-1", "user-1"]

    job.process_batch(_raw_df(spark, alias_batch), 1)  # checkpoint replay
    assert snap() == want
    job.process_batch(_raw_df(spark, alias_batch), 1)  # replay of a replay
    assert snap() == want


def test_resume_after_interleaved_writer_is_exactly_once(spark, tmp_path):
    """r6 verdict #3: run A commits batch 0; run B (fresh checkpoint)
    interleaves a write; A resumes from ITS OWN checkpoint and replays
    batch 0. The replay finds (run-a, 0) in both tables' logs behind B's
    commits: it must be a pure rewrite — no state applied twice, no
    duplicate events, and B's commits untouched."""
    from hogflare_spark.sinks.lake import read_events
    from hogflare_spark.streaming.ingest_stream import StreamingIngestJob

    wh = str(tmp_path / "wh")

    def version_of(job, did):
        return {
            did_: r["version"]
            for r in job.read_persons(spark).collect()
            for did_ in (r["distinct_ids"] or [])
        }[did]

    a = StreamingIngestJob(wh, run_id="run-a")
    a.process_batch(_raw_df(spark, BATCH1), 0)

    b = StreamingIngestJob(wh, run_id="run-b")
    b.process_batch(
        _raw_df(spark, [_capture(10, "anon-1", {"$set": {"plan": "pro"}})]), 0
    )
    v_after_b = version_of(b, "anon-1")
    n_events = read_events(spark, b.events_dir).count()

    # A resumes from its own checkpoint AFTER B wrote: the
    # at-least-once replay of its batch 0 is a rewrite.
    a2 = StreamingIngestJob(wh, run_id="run-a")
    a2.process_batch(_raw_df(spark, BATCH1), 0)
    assert version_of(a2, "anon-1") == v_after_b, "replay double-applied state"
    assert read_events(spark, a2.events_dir).count() == n_events, (
        "replay duplicated events"
    )



def test_hybrid_keyword_accepts_only_true():
    from hogflare_spark.streaming.ingest_stream import StreamingIngestJob

    StreamingIngestJob("unused", hybrid=True)
    with pytest.raises(ValueError):
        StreamingIngestJob("unused", hybrid=False)


# batch 3 is the compacting one (COMPACT_AFTER_DELTAS lowered to 2);
# merges land on both sides of it
COMPACTION_BATCHES = [
    [
        _capture(1, "anon-1", {"$set": {"plan": "free"}}),
        _capture(2, "u2", {"$set": {"t": "x"}}),
        _capture(3, "anon-3", {"$set": {"a": 1}}),
        _group_upsert(4, "company", "acme", {"size": 1}),
    ],
    [
        _alias(5, "user-1", "anon-1"),
        _capture(6, "user-1", {"$set": {"plan": "pro"}}),
    ],
    [
        _capture(7, "u2", {"$set": {"t": "y"}}),
        _group_upsert(8, "company", "acme", {"size": 2}),
    ],
    [
        _capture(9, "anon-1", {"$set": {"n": 1}}),
        _capture(10, "fresh", {"$set": {"k": 1}}),
        _group_upsert(11, "company", "beta", {"tier": "gold"}),
    ],
    [
        _alias(12, "user-1", "anon-3"),
        _capture(13, "anon-3", {"$set": {"z": 2}}),
        _identify(14, "person-4", {"$set": {"e": "x"}}, anon="u2"),
    ],
]


def _replay_persons(rows):
    """canonical_id → (distinct_ids, properties, set_once, version) after
    replaying the person ops of capture/alias/identify rows through one
    PersonStoreReplay
    (the reference's per-key store, in arrival order)."""
    from hogflare_spark.operators.person_store import PersonStoreReplay

    store = PersonStoreReplay("replay", None)
    for row in rows:
        if row["endpoint"] == "groups":  # no person op
            continue
        body, seq = json.loads(row["body"]), (row["request_seq"], 0, 1)
        op_time = (None, row["request_seq"] * 1_000_000 + 1)
        if row["endpoint"] == "alias":
            store.apply_alias(body["distinct_id"], body["alias"], op_time, seq)
            continue
        if row["endpoint"] == "identify":
            store.apply_alias(body["distinct_id"], body["$anon_distinct_id"], op_time,
                              (row["request_seq"], 0, 0))
        props = body.get("properties", {})
        if {"$set", "$set_once", "$unset"} & props.keys():
            store.apply_update({
                "distinct_id": body["distinct_id"],
                "set": props.get("$set", {}),
                "set_once": props.get("$set_once", {}),
                "unset": props.get("$unset", []),
            }, op_time, seq)
        else:
            store.ensure_person(body["distinct_id"], op_time, seq)
    return {
        cid: (sorted(r.distinct_ids),
              {k: json.dumps(v, separators=(",", ":")) for k, v in r.properties.items()},
              {k: json.dumps(v, separators=(",", ":"))
               for k, v in r.properties_set_once.items()},
              r.version)
        for cid, r in store.records.items()
    }


def test_stream_across_a_compaction_matches_batch_fold(spark, tmp_path, monkeypatch):
    """A stream whose persons and groups tables compact mid-way, with
    alias merges before and after the compaction, ends with the state of
    the one-shot batch fold and of a sequential PersonStoreReplay. The
    compacting entry is a base with no deltas that records its txn and
    max_id (the id counter of the batch fold over the same batches), and
    a replay of the compacting batch is a rewrite."""
    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.sinks import lake
    from hogflare_spark.streaming.ingest_stream import StreamingIngestJob

    monkeypatch.setattr(lake, "COMPACT_AFTER_DELTAS", 2)
    group_types = ("company", None, None, None, None)
    job = StreamingIngestJob(str(tmp_path / "wh"), group_types=group_types, run_id="r")

    def entries():
        return job._read_pointer("persons"), job._read_pointer("groups")

    for batch_id, rows in enumerate(COMPACTION_BATCHES[:4]):
        job.process_batch(_raw_df(spark, rows), batch_id)
    persons_entry, groups_entry = entries()
    for entry in (persons_entry, groups_entry):
        assert entry["version"] == 4 and entry["deltas"] == [], entry
        assert entry["base"] == entry["committed_batch"]
        assert entry["txns"] == {"r": 3}
    head = [r for batch in COMPACTION_BATCHES[:4] for r in batch]
    counter = ingest_raw_requests(_raw_df(spark, head), group_types=group_types)["ids_allocated"]
    assert persons_entry["max_id"] == counter
    # the compaction dropped the tombstone of the merged-away anon-1
    base = spark.read.parquet(os.path.join(job.warehouse_dir, "persons", persons_entry["base"]))
    assert base.where(F.col("uuid").isNull()).count() == 0
    assert "anon-1" not in {r["canonical_id"] for r in base.collect()}

    state = _state(job.read_persons(spark), job.read_groups(spark))
    job.process_batch(_raw_df(spark, COMPACTION_BATCHES[3]), 3)  # checkpoint replay
    assert entries() == (persons_entry, groups_entry)
    assert _state(job.read_persons(spark), job.read_groups(spark)) == state

    job.process_batch(_raw_df(spark, COMPACTION_BATCHES[4]), 4)
    assert [len(e["deltas"]) for e in entries()] == [1, 1]

    rows = [r for batch in COMPACTION_BATCHES for r in batch]
    want = ingest_raw_requests(_raw_df(spark, rows), group_types=group_types)
    persons = job.read_persons(spark)
    assert _state(persons, job.read_groups(spark)) == _state(want["persons"], want["groups"])
    got = {
        r["canonical_id"]: (sorted(r["distinct_ids"]), r["properties"],
                            r["properties_set_once"], r["version"])
        for r in persons.collect()
    }
    assert got == _replay_persons(rows)
    assert sorted(got["user-1"][0]) == ["anon-1", "anon-3", "user-1"]


# ---- a real stream stopped at each commit boundary, then restarted

_RESTART_GROUP_TYPES = ("company", "team", None, None, None)


def _capture_in(seq: int, distinct_id: str, company: str, props: dict) -> dict:
    return _capture(seq, distinct_id, {**props, "$groups": {"company": company}})


# alias and auto-alias merges, `$groups` captures and group upserts; the
# last batch is the one each test stops
RESTART_BATCHES = [
    [
        _capture(1, "anon-1", {"$set": {"plan": "free"}}),
        _capture_in(2, "u2", "acme", {"$set": {"team": "red"}}),
        _group_upsert(3, "company", "acme", {"size": 1}),
    ],
    [
        _alias(4, "user-1", "anon-1"),
        _capture(5, "user-1", {"$set": {"plan": "pro"}}),
        _group_upsert(6, "company", "acme", {"size": 2}),
    ],
    [
        _capture(7, "anon-1", {"$set": {"n": 1}}),
        _identify(8, "person-3", {"$set": {"email": "p3@example.com"}}, anon="u2"),
        _capture_in(9, "person-3", "beta", {"$set_once": {"src": "ad"}}),
        _group_upsert(10, "company", "beta", {"tier": "gold"}),
        _capture(11, "fresh", {"$set": {"k": 1}}),
    ],
]


def _state(persons, groups):
    return (
        {
            r["canonical_id"]: (
                sorted(r["distinct_ids"]), r["properties"],
                r["properties_set_once"], r["version"], r["id"],
            )
            for r in persons.collect()
        },
        {
            (r["group_type"], r["group_key"]): (r["properties"], r["version"])
            for r in groups.collect()
        },
    )


_PERSON_ID_COLUMNS = ["request_seq", "item_index", "person_id"]


def _event_rows(df, columns):
    return sorted(tuple(str(v) for v in r) for r in df.select(*columns).collect())


def _stream_restart_batches(spark, root, stop=None):
    """Stream RESTART_BATCHES through a job; `stop(run)` runs the
    last batch and stops it, then a fresh job restarts on the same
    checkpoint. Returns the job that ran last."""
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    landing, ckpt = str(root / "landing"), str(root / "ck")

    def job():
        return StreamingIngestJob(str(root / "wh"), group_types=_RESTART_GROUP_TYPES)

    def run(j):
        return lambda: j.run_available_now(read_request_stream(spark, landing), ckpt)

    first = job()
    for i, rows in enumerate(RESTART_BATCHES):
        _write_batch(landing, f"b{i}.json", rows)
        if i < len(RESTART_BATCHES) - 1 or stop is None:
            run(first)()
    if stop is None:
        return first
    stop(run(first))
    # a restart is a new process: a new job object on the same checkpoint
    restarted = job()
    run(restarted)()
    assert os.path.exists(os.path.join(ckpt, "commits", str(len(RESTART_BATCHES) - 1)))
    return restarted


@pytest.fixture(scope="module")
def uninterrupted_events(spark, tmp_path_factory):
    """Event person_id columns of the same stream run without a stop. A
    streamed event keeps the person_id of the person it hydrated against
    when its batch ran; the one-shot batch fold differs for persons a
    LATER batch absorbs (u2 here), so this column is compared with the
    uninterrupted stream rather than the batch fold."""
    from hogflare_spark.sinks.lake import read_events

    job = _stream_restart_batches(spark, tmp_path_factory.mktemp("uninterrupted"))
    return _event_rows(read_events(spark, job.events_dir), _PERSON_ID_COLUMNS)


def _stop_and_restart(spark, tmp_path, stop, uninterrupted_events) -> None:
    """Stop the last of RESTART_BATCHES with `stop`, restart, and compare
    persons, groups and event rows (as the events log names them) with
    the one-shot batch fold; a plain read of the events root must return
    the same rows, with no copy of a replayed batch."""
    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.schemas import EVENT_STABLE_COLUMNS
    from hogflare_spark.sinks.lake import read_events

    restarted = _stream_restart_batches(spark, tmp_path, stop)

    rows = [r for batch in RESTART_BATCHES for r in batch]
    want = ingest_raw_requests(_raw_df(spark, rows), group_types=_RESTART_GROUP_TYPES)
    assert _state(restarted.read_persons(spark), restarted.read_groups(spark)) == (
        _state(want["persons"], want["groups"])
    )
    got_events = read_events(spark, restarted.events_dir)
    columns = [c for c in EVENT_STABLE_COLUMNS if c != "person_id"]
    assert _event_rows(got_events, columns) == _event_rows(want["events"], columns)
    assert _event_rows(got_events, _PERSON_ID_COLUMNS) == uninterrupted_events
    plain = spark.read.parquet(restarted.events_dir)
    assert _event_rows(plain, EVENT_STABLE_COLUMNS) == (
        _event_rows(got_events, EVENT_STABLE_COLUMNS)
    )


def _stop_at_commit(monkeypatch, n: int):
    """A stop that lets the last batch run until its `n`-th log entry
    (1 = events, 2 = groups, 3 = persons) and kills it there, after that
    table's data directory is written."""
    from hogflare_spark.sinks import lake

    def stop(run):
        create = lake._create_exclusive
        calls = []

        def dies(path, text):
            calls.append(os.path.basename(os.path.dirname(os.path.dirname(path))))
            if len(calls) == n:
                raise RuntimeError("stopped at a commit boundary")
            return create(path, text)

        monkeypatch.setattr(lake, "_create_exclusive", dies)
        with pytest.raises(Exception, match="stopped at a commit boundary"):
            run()
        monkeypatch.setattr(lake, "_create_exclusive", create)
        assert calls == ["events", "groups", "persons"][:n]

    return stop


def test_restart_after_events_write_matches_batch_fold(
    spark, tmp_path, monkeypatch, uninterrupted_events
):
    """Boundary (a): the batch wrote its events data, then stopped before
    the events entry; the restart re-runs it, overwrites the stopped
    write's data directory and commits each table once."""
    _stop_and_restart(
        spark, tmp_path, _stop_at_commit(monkeypatch, 1), uninterrupted_events
    )


def test_restart_after_events_commit_matches_batch_fold(
    spark, tmp_path, monkeypatch, uninterrupted_events
):
    """Boundary (b): the events entry committed, the groups entry did
    not; the restart finds the batch in the events log, appends nothing
    there and commits both state tables once."""
    _stop_and_restart(
        spark, tmp_path, _stop_at_commit(monkeypatch, 2), uninterrupted_events
    )


def test_restart_between_group_and_person_commits_matches_batch_fold(
    spark, tmp_path, monkeypatch, uninterrupted_events
):
    """Boundary (c): events and groups committed, persons did not; the
    restart finds the batch in both of those logs (seeds groups from the
    version before it, commits nothing there) and commits persons once."""
    _stop_and_restart(
        spark, tmp_path, _stop_at_commit(monkeypatch, 3), uninterrupted_events
    )


def test_restart_before_spark_commit_log_matches_batch_fold(
    spark, tmp_path, uninterrupted_events
):
    """Boundary (d): foreachBatch returned but Spark's commit-log entry
    was never written (simulated by deleting it); the restart re-runs the
    batch, which finds itself in all three logs and commits nothing."""

    def stop(run):
        run()
        commits = os.path.join(str(tmp_path / "ck"), "commits")
        last = str(len(RESTART_BATCHES) - 1)
        for name in (last, f".{last}.crc"):
            if os.path.exists(os.path.join(commits, name)):
                os.remove(os.path.join(commits, name))

    _stop_and_restart(spark, tmp_path, stop, uninterrupted_events)


def test_restart_after_compaction_write_matches_batch_fold(
    spark, tmp_path, monkeypatch, uninterrupted_events
):
    """Boundary (c) when the stopped batch is the compacting one: with
    COMPACT_AFTER_DELTAS at 1 the last batch compacts both state tables,
    and it stops after writing the persons base, before its entry. The
    restart seeds groups from the entry before the compacted one, commits
    nothing there, and compacts persons once."""
    from hogflare_spark.sinks import lake

    monkeypatch.setattr(lake, "COMPACT_AFTER_DELTAS", 1)
    _stop_and_restart(
        spark, tmp_path, _stop_at_commit(monkeypatch, 3), uninterrupted_events
    )
    for table in ("persons", "groups"):
        entry = lake.read_entry(str(tmp_path / "wh" / table))
        assert entry["version"] == 3 and entry["deltas"] == [], (table, entry)
