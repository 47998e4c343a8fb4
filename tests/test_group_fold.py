"""The distributed group fold (fold_group_state) must equal a sequential
last-write-wins replay of the same requests (groups.rs:36-41, lib.rs:
423-460, 869-920): hydration results, groupidentify echoes and the final
groups table."""

from __future__ import annotations

import json
from datetime import timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from hogflare_spark.operators.group_state import fold_group_state
from hogflare_spark.operators.normalize import decode_normalize_requests
from hogflare_spark.operators.person_store import synthetic_time


def _gi(gtype, gkey, props):
    body = {"group_type": gtype, "group_key": gkey, "properties": props}
    return ("groupidentify", body)


def _cap(did, groups=None, gset=None):
    props = {}
    if groups:
        props["$groups"] = groups
    if gset:
        props["$group_set"] = gset
    return ("capture", {"event": "ev", "distinct_id": did, "properties": props})


def _dumps(value):
    return json.dumps(value, separators=(",", ":"))


def _sequential_lww(requests):
    """Reference: one dict of records, requests applied in arrival order.
    Within a capture its $group_set updates precede its $groups reads; a
    groupidentify with an object (even empty) updates, else only reads;
    both echo the group's state. Returns (results, groups) in the fold's
    output shapes."""
    records = {}
    results = []

    def update(key, props, seq_linear):
        rec = records.setdefault(
            key, {"created_at": synthetic_time(seq_linear), "version": 0, "props": {}}
        )
        rec["version"] += 1
        rec["props"].update(props)

    def read(i, key, echo):
        rec = records.get(key)
        props = _dumps(rec["props"]) if rec is not None else None
        results.append((i, 0, *key, props, rec is not None, echo))

    for i, (endpoint, body) in enumerate(requests):
        if endpoint == "groupidentify":
            key = (body["group_type"], body["group_key"])
            if isinstance(body["properties"], dict):
                update(key, body["properties"], i * 1_000_000)
            read(i, key, True)
            continue
        props = body["properties"]
        groups = {t: k for t, k in props.get("$groups", {}).items() if isinstance(k, str)}
        sub = 0
        for gtype, gprops in props.get("$group_set", {}).items():
            if gtype in groups and isinstance(gprops, dict) and gprops:
                update((gtype, groups[gtype]), gprops, i * 1_000_000 + sub)
                sub += 1
        for gtype, gkey in groups.items():
            read(i, (gtype, gkey), False)
    groups_table = {
        key: (rec["created_at"], rec["version"], {k: _dumps(v) for k, v in rec["props"].items()})
        for key, rec in records.items()
    }
    return sorted(results), groups_table


def _spark_fold(spark, requests):
    raw = spark.createDataFrame(
        [
            Row(request_seq=i, endpoint=endpoint, body=json.dumps(body))
            for i, (endpoint, body) in enumerate(requests)
        ]
    )
    results, groups = fold_group_state(decode_normalize_requests(raw))
    got_groups = {
        (r["group_type"], r["group_key"]): (
            r["created_at"].replace(tzinfo=timezone.utc),  # session-UTC wall time
            r["version"],
            r["properties"],
        )
        for r in groups.collect()
    }
    return sorted(tuple(r) for r in results.collect()), got_groups


GROUP_CASES = {
    "lww_hydration_echo_absent_empty": [
        _gi("org", "acme", {"plan": "free", "seats": 1}),
        _cap("u1", groups={"org": "acme"}),  # hydrates current state
        _gi("org", "acme", {"plan": "pro"}),  # LWW overwrite
        _cap("u2", groups={"org": "acme"}, gset={"org": {"seats": 9}}),
        _gi("org", "other", None),  # read-only groupidentify, absent record
        _cap("u3", groups={"org": "ghost"}),  # lookup, absent
        _gi("team", "t1", {}),  # empty-object update: creates, version 1
        _cap("u4", groups={"team": "t1"}),  # hydrates '{}'
    ],
    "float_nested_quoted_bigint_payloads": [
        _gi("org", "a", {"rate": 1.5}),
        _gi("org", "b", {"cfg": {"deep": 1}}),
        _gi("org", "c", {"name": 'quo"ted'}),
        _gi("org", "d", {"n": 12345678901234567890}),
        _gi("org", "e", {"ok": 1}),
        _cap("u", groups={"org": "a"}),
    ],
    # nothing derives a group op: no hydration rows, empty groups table
    "group_free": [
        _cap("u1"),
        _cap("u2", gset={"org": {"plan": "free"}}),
        _cap("u3", groups={"org": 5}),  # non-string key: no lookup
    ],
}


@pytest.mark.parametrize("case", sorted(GROUP_CASES))
def test_group_fold_matches_sequential_lww(spark, case):
    requests = GROUP_CASES[case]
    assert _spark_fold(spark, requests) == _sequential_lww(requests)


_GTYPES = ["org", "team"]
_GKEYS = ["a", "b"]
_PKEYS = ["k1", "k2"]

_group_op = st.one_of(
    st.fixed_dictionaries(
        {
            "op": st.just("gi"),
            "gtype": st.sampled_from(_GTYPES),
            "gkey": st.sampled_from(_GKEYS),
            "props": st.one_of(
                st.none(),
                st.dictionaries(st.sampled_from(_PKEYS), st.integers(0, 9), max_size=2),
            ),
        }
    ),
    st.fixed_dictionaries(
        {
            "op": st.just("cap"),
            "gtype": st.sampled_from(_GTYPES),
            "gkey": st.sampled_from(_GKEYS),
            "gset": st.one_of(
                st.none(),
                st.dictionaries(
                    st.sampled_from(_PKEYS), st.integers(0, 9), min_size=1, max_size=2
                ),
            ),
        }
    ),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_group_op, min_size=1, max_size=10))
def test_group_fold_property_matches_sequential_lww(spark, ops):
    """Arbitrary groupidentify/capture interleavings over a small key
    space: hydration results and the final groups table equal the
    sequential LWW reference."""
    requests = []
    for o in ops:
        if o["op"] == "gi":
            requests.append(_gi(o["gtype"], o["gkey"], o["props"]))
        else:
            gset = {o["gtype"]: o["gset"]} if o["gset"] is not None else None
            requests.append(_cap("u", groups={o["gtype"]: o["gkey"]}, gset=gset))
    assert _spark_fold(spark, requests) == _sequential_lww(requests), f"ops={ops}"
