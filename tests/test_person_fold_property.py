"""The distributed person fold (CC co-partitioning + partition-streaming
replay) must produce the same person state and per-event snapshots as a
single-threaded sequential replay of the same requests through the
kernel: on example sequences that pin value encoding, key order,
timestamps and aliasing, and on ARBITRARY interleavings of
set/set_once/unset/alias ops over a small id space (property test). This
is the guard against partitioning and ordering bugs."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

IDS = ["a", "b", "c", "d", "e"]
KEYS = ["k1", "k2"]

_op = st.one_of(
    st.fixed_dictionaries(
        {
            "kind": st.just("capture"),
            "distinct_id": st.sampled_from(IDS),
            "set": st.dictionaries(st.sampled_from(KEYS), st.integers(0, 9), max_size=2),
            "set_once": st.dictionaries(st.sampled_from(KEYS), st.integers(0, 9), max_size=1),
            "unset": st.lists(st.sampled_from(KEYS), max_size=1),
        }
    ),
    st.fixed_dictionaries(
        {
            "kind": st.just("alias"),
            "distinct_id": st.sampled_from(IDS),
            "alias": st.sampled_from(IDS),
        }
    ),
)


def _capture(did, props=None, ts=None):
    body = {"event": "ev", "distinct_id": did}
    if props is not None:
        body["properties"] = props
    if ts is not None:
        body["timestamp"] = ts
    return ("capture", body)


def _alias(did, alias):
    return ("alias", {"distinct_id": did, "alias": alias})


# request sequences whose fold must equal the sequential kernel: the
# persons table (map values byte for byte; a map has no key order) and
# every event's snapshot JSON, key order included
FOLD_CASES = {
    "scalar_interleavings": [
        _capture("u1", {"$set": {"a": 1, "b": "x"}}),
        _capture("u1", {"$set_once": {"a": 9, "c": True}}),
        _capture("u1", {"$unset": ["a"]}),
        _capture("u1", {"$set": {"a": 2}}),  # re-set after unset → end of dict
        _capture("u1", {"$set_once": {"d": None}}),
        _capture("u2", {"$set": {"z": "last"}, "$unset": ["z"]}),  # same-op unset wins
        _capture("u2", {"$set_once": {"z": 5}}),  # sticks: segment is empty
        _capture("u3", {}),  # ensure only: version 0, empty maps
        _capture("u1", {"$set": {"b": "y"}}),
    ],
    "set_once_after_set": [
        _capture("u", {"$set": {"k": 1}}),
        _capture("u", {"$set_once": {"k": 99}}),  # blocked: k in properties
        _capture("u", {"$unset": ["k"]}),
        _capture("u", {"$set_once": {"k": 42}}),  # sticks after unset
        _capture("u", {"$set": {"k": 7}}),  # set wins on read; once survives in map
    ],
    "timestamps_and_strings": [
        _capture("u", {"$set": {"s": "hello world", "n": 0}}, ts="2024-03-01T10:00:00Z"),
        _capture("u", {"$set": {"s": "with, commas:and colons"}}, ts="2024-03-01 11:30:00"),
        _capture("u", {"$set_once": {"t": "x"}}, ts="2024-03-01T12:00:00+02:00"),
        _capture("v", {"$set": {"s": "later"}}, ts="2024-03-02T08:15:30.123456+05:30"),
    ],
    "float_nested_quoted_bigint_payloads": [
        _capture("u1", {"$set": {"f": 1.5}}),
        _capture("u2", {"$set": {"o": {"nested": 1}}}),
        _capture("u3", {"$set": {"a": [1, 2]}}),
        _capture("u4", {"$set": {"q": 'quo"te'}}),
        _capture("u5", {"$set": {"u": "ünïcode"}}),
        _capture("u6", {"$set": {"big": 12345678901234567890}}),
    ],
    "quoted_distinct_id": [
        _capture('a"b'),  # ensure-only: the id is the whole record
        _capture('a"b', {"$set": {"k": 1}}),
        _capture("plain", {"$set": {"k": 2}}),
    ],
    "key_ordering": [
        req
        for d in ("user0", "user1", "user2", "user3", "user4")
        for req in (
            _capture(d, {"$set": {"k1": 1, "k2": 2}}),
            _capture(d, {"$unset": ["k1"]}),
            _capture(d, {"$set": {"k1": 3}}),  # kernel: pop+reinsert appends
        )
    ],
    "alias_components": [
        _capture("a", {"$set": {"k": 1}}),
        _capture("b", {"$set": {"k": 2}}),
        _alias("a", "b"),
        _capture("c", {"$set": {"k": 3}}),
    ],
}


def _utc(ts):
    from datetime import timezone

    if ts is None:  # no record, e.g. a self-alias of an unknown id
        return None
    if ts.tzinfo is None:  # Spark collects session-UTC wall time
        return ts.replace(tzinfo=timezone.utc)
    return ts.astimezone(timezone.utc)


def _encoded(props):
    return {k: json.dumps(v, separators=(",", ":")) for k, v in props.items()}


def _kernel_fold(requests):
    """The requests through ONE kernel instance in arrival order: each
    event's snapshot and the final records, in the fold's output shapes."""
    from hogflare_spark.operators.person_store import PersonStoreReplay, snapshot_fields

    store = PersonStoreReplay("seq", None)
    snapshots = {}
    for i, (endpoint, body) in enumerate(requests):
        seq = (i, 0, 1)
        op_time = (body.get("timestamp"), i * 1_000_000 + 1)
        did = body["distinct_id"]
        if endpoint == "alias":
            _, record = store.apply_alias(did, body["alias"], op_time, seq)
        else:
            props = body.get("properties", {})
            if {"$set", "$set_once", "$unset"} & props.keys():
                update = {
                    "distinct_id": did,
                    "set": props.get("$set", {}),
                    "set_once": props.get("$set_once", {}),
                    "unset": props.get("$unset", []),
                }
                _, record = store.apply_update(update, op_time, seq)
            else:
                _, record = store.ensure_person(did, op_time, seq)
        _, created, merged = snapshot_fields(record)
        snapshots[i] = (_utc(created), merged)
    persons = {
        canonical: (
            sorted(rec.distinct_ids),
            _utc(rec.created_at),
            rec.version,
            _encoded(rec.properties),
            _encoded(rec.properties_set_once),
        )
        for canonical, rec in store.records.items()
    }
    return snapshots, persons


def _raw(spark, requests):
    return spark.createDataFrame(
        [
            Row(request_seq=i, endpoint=endpoint, body=json.dumps(body))
            for i, (endpoint, body) in enumerate(requests)
        ]
    )


def _persons_view(rows):
    return {
        r["canonical_id"]: (
            sorted(r["distinct_ids"]),
            _utc(r["created_at"]),
            r["version"],
            r["properties"],
            r["properties_set_once"],
        )
        for r in rows
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=14))
def test_distributed_fold_equals_sequential_replay(spark, ops):
    from hogflare_spark.operators.ingest import ingest_raw_requests

    requests = []
    for op in ops:
        if op["kind"] == "alias":
            requests.append(_alias(op["distinct_id"], op["alias"]))
        else:
            props = {"$set": op["set"], "$set_once": op["set_once"], "$unset": op["unset"]}
            requests.append(_capture(op["distinct_id"], {k: v for k, v in props.items() if v}))
    persons = ingest_raw_requests(_raw(spark, requests))["persons"].collect()
    _, want = _kernel_fold(requests)
    assert _persons_view(persons) == want, f"ops={ops}"


@pytest.mark.parametrize("case", sorted(FOLD_CASES))
def test_fold_matches_sequential_kernel(spark, case):
    from hogflare_spark.operators.normalize import decode_normalize_requests
    from hogflare_spark.operators.person_state import fold_person_state

    requests = FOLD_CASES[case]
    snapshots, persons, _ = fold_person_state(decode_normalize_requests(_raw(spark, requests)))
    got_snapshots = {
        r["request_seq"]: (_utc(r["person_created_at"]), r["person_properties"])
        for r in snapshots.collect()
    }
    want_snapshots, want_persons = _kernel_fold(requests)
    assert _persons_view(persons.collect()) == want_persons
    assert got_snapshots == want_snapshots
