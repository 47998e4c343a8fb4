"""`ingest.commit_pass` as a batch writer's pass: a re-run with the same
transaction commits nothing, a pass stopped before its events entry
re-runs without leaving a second copy, a stream with a signing secret
refuses what the batch signature gate refuses, person ids continue from
the id counter, and a pass stays within its Spark job budget."""

from __future__ import annotations

import glob
import hashlib
import hmac
import json
import os
import random

import pytest

from tests.test_streaming import (
    BATCH1,
    BATCH2,
    _alias,
    _capture,
    _event_rows,
    _group_upsert,
    _identify,
    _raw_df,
    _state,
    _write_batch,
)

GROUP_TYPES = ("company", None, None, None, None)


def _tables(spark, warehouse):
    from hogflare_spark.schemas import GROUP_SCHEMA, PERSON_SCHEMA
    from hogflare_spark.sinks import lake

    def view(table, schema):
        root = os.path.join(warehouse, table)
        return lake.table_view(spark, root, lake.read_entry(root), schema)

    return view("persons", PERSON_SCHEMA), view("groups", GROUP_SCHEMA)


def _logs(warehouse):
    """Every log entry of every table, by path."""
    out = {}
    for path in sorted(glob.glob(os.path.join(warehouse, "*", "_log", "*.json"))):
        with open(path) as fh:
            out[os.path.relpath(path, warehouse)] = fh.read()
    return out


def _snapshot(spark, warehouse):
    from hogflare_spark.schemas import EVENT_STABLE_COLUMNS
    from hogflare_spark.sinks.lake import read_events

    events = read_events(spark, os.path.join(warehouse, "events"))
    return (
        _state(*_tables(spark, warehouse)),
        _event_rows(events, EVENT_STABLE_COLUMNS),
        _logs(warehouse),
    )


def test_batch_pass_rerun_with_same_txn_commits_nothing(spark, tmp_path):
    """A batch writer that re-runs its latest pass with the same txn (an
    alias merge with a tombstone, and a group upsert) leaves the events,
    persons, groups and every log entry as the first run left them."""
    from hogflare_spark.operators.ingest import commit_pass

    wh = str(tmp_path / "wh")
    commit_pass(_raw_df(spark, BATCH1), wh, ("batch-writer", 0), group_types=GROUP_TYPES)
    second = BATCH2 + [_group_upsert(9, "company", "acme", {"size": 2})]
    commit_pass(_raw_df(spark, second), wh, ("batch-writer", 1), group_types=GROUP_TYPES)
    want = _snapshot(spark, wh)
    assert len(want[1]) == len(BATCH1) + len(second)
    assert "anon-1" not in want[0][0] and "user-1" in want[0][0]  # merged

    commit_pass(_raw_df(spark, second), wh, ("batch-writer", 1), group_types=GROUP_TYPES)
    assert _snapshot(spark, wh) == want

    # the next pass of the writer applies on top
    third = [_capture(10, "user-1", {"$set": {"z": 1}})]
    commit_pass(_raw_df(spark, third), wh, ("batch-writer", 2), group_types=GROUP_TYPES)
    persons = _snapshot(spark, wh)[0][0]
    assert persons["user-1"][3] == want[0][0]["user-1"][3] + 1


def test_batch_pass_stopped_before_its_events_entry_reruns_once(
    spark, tmp_path, monkeypatch
):
    """A batch pass that dies after writing its events data and before
    the events entry, then re-runs with the same txn, leaves no second
    copy: a plain parquet read of the events root equals `read_events`,
    and the state equals the one-shot batch fold."""
    from hogflare_spark.operators.ingest import commit_pass, ingest_raw_requests
    from hogflare_spark.schemas import EVENT_STABLE_COLUMNS
    from hogflare_spark.sinks import lake

    wh = str(tmp_path / "wh")
    events_root = os.path.join(wh, "events")
    commit_pass(_raw_df(spark, BATCH1), wh, ("batch-writer", 0))

    create = lake._create_exclusive

    def dies(path, text):
        raise RuntimeError("stopped at the events entry")

    monkeypatch.setattr(lake, "_create_exclusive", dies)
    with pytest.raises(RuntimeError, match="stopped at the events entry"):
        commit_pass(_raw_df(spark, BATCH2), wh, ("batch-writer", 1))
    monkeypatch.setattr(lake, "_create_exclusive", create)
    assert lake.read_entry(events_root)["version"] == 1  # the stop left data only

    commit_pass(_raw_df(spark, BATCH2), wh, ("batch-writer", 1))
    committed = _event_rows(lake.read_events(spark, events_root), EVENT_STABLE_COLUMNS)
    plain = _event_rows(spark.read.parquet(events_root), EVENT_STABLE_COLUMNS)
    assert plain == committed
    assert len(committed) == len(BATCH1) + len(BATCH2)
    want = ingest_raw_requests(_raw_df(spark, BATCH1 + BATCH2))
    assert _state(*_tables(spark, wh)) == _state(want["persons"], want["groups"])


SECRET = "stream-secret"


def _signed(row: dict, how: str) -> dict:
    """`row` with its signature headers: `posthog` (sha256, algo
    prefixed), `hub` (bare sha1 hex), `bad` (a wrong digest) or `none`."""
    body = row["body"].encode()
    if how == "posthog":
        digest = hmac.new(SECRET.encode(), body, hashlib.sha256).hexdigest()
        return {**row, "sig_posthog": f"sha256={digest}"}
    if how == "hub":
        return {**row, "sig_hub": hmac.new(SECRET.encode(), body, hashlib.sha1).hexdigest()}
    if how == "bad":
        digest = hmac.new(b"other-secret", body, hashlib.sha256).hexdigest()
        return {**row, "sig_posthog": digest}
    return row


SIGNED_BATCHES = [
    [
        _signed(_capture(1, "ok-1", {"$set": {"plan": "free"}}), "posthog"),
        _signed(_capture(2, "unsigned-1", {"$set": {"plan": "x"}}), "none"),
        _signed(_group_upsert(3, "company", "acme", {"size": 1}), "hub"),
        _signed(_group_upsert(4, "company", "evil", {"size": 9}), "bad"),
    ],
    [
        _signed(_alias(5, "ok-1", "ok-2"), "hub"),
        _signed(_capture(6, "ok-1", {"$set": {"plan": "pro"}}), "posthog"),
        _signed(_capture(7, "ok-1", {"$set": {"plan": "forged"}}), "bad"),
        _signed(_capture(8, "unsigned-2", {}), "none"),
    ],
]


def test_stream_with_signing_secret_matches_the_batch_gate(spark, tmp_path):
    """A stream with `signing_secret`, fed signed, unsigned and
    mis-signed requests, commits the persons, groups and events that
    `ingest_raw_requests(..., signing_secret=)` gives for the same rows."""
    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.schemas import EVENT_STABLE_COLUMNS
    from hogflare_spark.sinks.lake import read_events
    from hogflare_spark.streaming.ingest_stream import (
        StreamingIngestJob,
        read_request_stream,
    )

    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ck")
    job = StreamingIngestJob(
        str(tmp_path / "wh"), group_types=GROUP_TYPES, signing_secret=SECRET
    )
    for i, rows in enumerate(SIGNED_BATCHES):
        _write_batch(landing, f"b{i}.json", rows)
        job.run_available_now(read_request_stream(spark, landing), ckpt)

    rows = [r for batch in SIGNED_BATCHES for r in batch]
    raw = spark.createDataFrame(
        [
            (r["request_seq"], r["endpoint"], r["body"], r.get("sig_posthog"), r.get("sig_hub"))
            for r in rows
        ],
        "request_seq long, endpoint string, body string, sig_posthog string, sig_hub string",
    )
    want = ingest_raw_requests(raw, group_types=GROUP_TYPES, signing_secret=SECRET)
    got = _state(job.read_persons(spark), job.read_groups(spark))
    assert got == _state(want["persons"], want["groups"])
    got_events = read_events(spark, job.events_dir)
    assert _event_rows(got_events, EVENT_STABLE_COLUMNS) == (
        _event_rows(want["events"], EVENT_STABLE_COLUMNS)
    )

    # only the validly signed requests got through
    assert sorted(got[0]) == ["ok-1"]
    assert sorted(got[0]["ok-1"][0]) == ["ok-1", "ok-2"]
    assert json.loads(got[0]["ok-1"][1]["plan"]) == "pro"
    assert sorted(got[1]) == [("company", "acme")]
    assert _event_rows(got_events, ["request_seq"]) == [("1",), ("3",), ("5",), ("6",)]


def test_person_ids_continue_from_the_id_counter(spark, tmp_path):
    """A person a merge absorbs keeps the id it took, as in the
    reference's store (persons.rs:251-253): after a pass whose identify
    auto-alias allocates two ids and merges them into one person, the
    persons entry records max_id 2, and the next pass's new person gets
    the id the one-shot batch fold gives it (3, not the survivors' max
    plus one)."""
    from hogflare_spark.operators.ingest import commit_pass, ingest_raw_requests
    from hogflare_spark.sinks import lake

    wh = str(tmp_path / "wh")
    batches = [[_identify(1, "p1", anon="a1")], [_capture(2, "x")]]
    commit_pass(_raw_df(spark, batches[0]), wh, ("batch-writer", 0))
    assert lake.read_entry(os.path.join(wh, "persons"))["max_id"] == 2
    commit_pass(_raw_df(spark, batches[1]), wh, ("batch-writer", 1))

    want = ingest_raw_requests(_raw_df(spark, batches[0] + batches[1]))
    want_ids = {r["canonical_id"]: r["id"] for r in want["persons"].collect()}
    got_ids = {r["canonical_id"]: r["id"] for r in _tables(spark, wh)[0].collect()}
    assert got_ids == want_ids == {"p1": 1, "x": 3}
    assert lake.read_entry(os.path.join(wh, "persons"))["max_id"] == want["ids_allocated"] == 3


def _mixed_log(seed: int, n: int, seq0: int) -> list[dict]:
    """`n` requests over 12 users: identify auto-aliases, aliases,
    `$groups` captures, group upserts and `$set_once` captures."""
    rnd = random.Random(seed)
    rows = []
    for seq in range(seq0, seq0 + n):
        user, anon = f"user-{rnd.randrange(12)}", f"anon-{rnd.randrange(12)}"
        kind = rnd.randrange(5)
        if kind == 0:
            rows.append(_identify(seq, user, {"$set": {"n": seq}}, anon=anon))
        elif kind == 1:
            rows.append(_alias(seq, user, anon))
        elif kind == 2:
            company = f"c{rnd.randrange(4)}"
            rows.append(_capture(seq, rnd.choice([user, anon]),
                                 {"$set": {"v": seq}, "$groups": {"company": company}}))
        elif kind == 3:
            rows.append(_group_upsert(seq, "company", f"c{rnd.randrange(4)}", {"size": seq}))
        else:
            rows.append(_capture(seq, rnd.choice([user, anon]), {"$set_once": {"first": seq}}))
    return rows


def _pass_jobs(spark, group: str, run) -> int:
    """The Spark jobs `run()` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# A bootstrap pass and a seeded pass of the log above, in the test
# session. A pass that built the tombstones and the survivor max id
# outside the fold (a pin of the persons delta, an anti-join, a max
# collect, and a pin of the affected ids rather than of the seed) ran 23
# and 33 jobs.
BOOTSTRAP_JOBS, SEEDED_JOBS = 20, 27


def test_commit_pass_job_budget(spark, tmp_path):
    """A bootstrap pass and a seeded pass of a fixed 40-request log each
    run at most their budgeted number of Spark jobs; a change that cuts
    jobs lowers the budget."""
    from hogflare_spark.operators.ingest import commit_pass

    wh = str(tmp_path / "wh")
    jobs = [
        _pass_jobs(
            spark,
            f"job-budget-{tmp_path.name}-{i}",
            lambda i=i: commit_pass(
                _raw_df(spark, _mixed_log(11 + i, 40, 1 + 100 * i)), wh,
                ("batch-writer", i), group_types=GROUP_TYPES,
            ),
        )
        for i in range(2)
    ]
    assert jobs[0] <= BOOTSTRAP_JOBS and jobs[1] <= SEEDED_JOBS, jobs
