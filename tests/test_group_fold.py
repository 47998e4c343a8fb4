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


# ---------------------------------------------------------------------------
# derive_group_ops: the Catalyst derivation against the Python one it
# replaced (kept here as the reference)
# ---------------------------------------------------------------------------


def _reference_group_ops(commands):
    """The former `derive_group_ops`: one mapInPandas projection over the
    commands that carry `$groups`, `$group_set` or a groupidentify."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from hogflare_spark.functions.fastjson import loads as fj_loads

    schema = StructType(
        [
            StructField("request_seq", LongType(), False),
            StructField("item_index", LongType(), False),
            StructField("sub", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("group_type", StringType(), False),
            StructField("group_key", StringType(), False),
            StructField("props", StringType(), True),
            StructField("timestamp", StringType(), True),
        ]
    )

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                seq, item = int(r.request_seq), int(r.item_index)
                ts = r.timestamp
                if r.group_identify:
                    gi = fj_loads(r.group_identify)
                    rows.append(
                        {
                            "request_seq": seq,
                            "item_index": item,
                            "sub": 0,
                            "kind": "gi_update" if gi["properties"] is not None else "gi_lookup",
                            "group_type": gi["group_type"],
                            "group_key": gi["group_key"],
                            "props": json.dumps(gi["properties"], separators=(",", ":"))
                            if gi["properties"] is not None
                            else None,
                            "timestamp": ts,
                        }
                    )
                    continue
                sub = 0
                if r.group_updates:
                    for upd in fj_loads(r.group_updates):
                        rows.append(
                            {
                                "request_seq": seq,
                                "item_index": item,
                                "sub": sub,
                                "kind": "update",
                                "group_type": upd["group_type"],
                                "group_key": upd["group_key"],
                                "props": json.dumps(upd["properties"], separators=(",", ":")),
                                "timestamp": ts,
                            }
                        )
                        sub += 1
                if r.groups:
                    groups = fj_loads(r.groups)
                    for j, (gtype, gkey) in enumerate(groups.items()):
                        if not isinstance(gkey, str):
                            continue
                        rows.append(
                            {
                                "request_seq": seq,
                                "item_index": item,
                                "sub": 1000 + j,
                                "kind": "lookup",
                                "group_type": gtype,
                                "group_key": gkey,
                                "props": None,
                                "timestamp": ts,
                            }
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return (
        commands.where(
            F.col("groups").isNotNull()
            | F.col("group_updates").isNotNull()
            | F.col("group_identify").isNotNull()
        )
        .select("request_seq", "item_index", "timestamp", "groups", "group_updates", "group_identify")
        .mapInPandas(_run, schema)
    )


_ODD_PROPS = {
    "name": "Zoë ☃ \U0001f600",
    "quoted": 'a"b\\c\n\t\u0001',
    "rate": 1.5,
    "tiny": -2.5e-10,
    "huge": 1e300,
    "exp": 12345678.5,
    "big": 123456789012345678901234567890,
    "neg_big": -98765432109876543210,
    "nested": {"a": [1, {"b": None}], "é": True},
}


def _command_rows():
    """(request_seq, item_index, timestamp, groups, group_updates,
    group_identify) rows as the decoder writes them (json.dumps text)."""

    def upd(gtype, gkey, props):
        return {"group_type": gtype, "group_key": gkey, "properties": props}

    groups3 = {"company": "c1", "team": "t ☃", "org": "o\"1"}
    return [
        # multi-entry $groups: sub = 1000 + position
        (0, 0, "2024-01-01T00:00:00Z", _dumps(groups3), None, None),
        # multi-entry $group_set updates, then the lookups
        (1, 0, None, _dumps(groups3),
         _dumps([upd("company", "c1", {"a": 1}), upd("team", "t ☃", _ODD_PROPS),
                 upd("org", 'o"1', {"n": {"m": [1, 2]}})]), None),
        (1, 1, None, None, _dumps([upd("company", "c2", {"x": "y"})]), None),
        # groupidentify: JSON-null, empty and nested properties
        (2, 0, None, None, None, _dumps(upd("org", "acme", None))),
        (3, 0, None, None, None, _dumps(upd("org", "acme", {}))),
        (4, 0, "2024-02-02", None, None, _dumps(upd("org", "acme", _ODD_PROPS))),
        # a groupidentify wins over the same row's groups and updates
        (5, 0, None, _dumps({"company": "c9"}),
         _dumps([upd("company", "c9", {"z": 1})]), _dumps(upd("team", "t1", {"k": 2}))),
        # group-free rows and an empty groups object derive nothing
        (6, 0, None, None, None, None),
        (7, 0, None, "{}", None, None),
    ]


def _canonical_props(df):
    from pyspark.sql import functions as F

    canon = F.udf(lambda s: None if s is None else json.dumps(json.loads(s)), "string")
    return df.withColumn("props", canon("props"))


def test_derive_group_ops_matches_python_reference(spark):
    """Row for row equal to the Python derivation: the same (seq, sub,
    kind, type, key, timestamp) rows, and props JSON-equal (the Catalyst
    text keeps non-ASCII as UTF-8 and prints doubles Java-style)."""
    from hogflare_spark.operators.group_state import derive_group_ops

    commands = spark.createDataFrame(
        _command_rows(),
        "request_seq long, item_index long, timestamp string, groups string, "
        "group_updates string, group_identify string",
    )
    got = derive_group_ops(commands)
    want = _reference_group_ops(commands)
    assert got.columns == want.columns
    got_c, want_c = _canonical_props(got), _canonical_props(want)
    assert got_c.exceptAll(want_c).count() == 0
    assert want_c.exceptAll(got_c).count() == 0
    assert got.count() == 14
    subs = sorted((r["request_seq"], r["sub"], r["kind"]) for r in got.collect())
    assert [s for s in subs if s[0] == 0] == [(0, 1000, "lookup"), (0, 1001, "lookup"),
                                              (0, 1002, "lookup")]
    assert [s for s in subs if s[0] in (2, 3, 5)] == [
        (2, 0, "gi_lookup"), (3, 0, "gi_update"), (5, 0, "gi_update")]


def test_derive_group_ops_matches_python_reference_on_decoded_commands(spark):
    """The same parity over decoder output: capture, batch and
    groupidentify requests."""
    from hogflare_spark.operators.group_state import derive_group_ops

    requests = [
        _cap("u1", groups={"company": "c1", "team": "t1"},
             gset={"company": {"plan": "pro"}, "team": {"seats": 3}}),
        _cap("u2", groups={"org": "o1", "company": "c1"}),
        _gi("org", "o1", _ODD_PROPS),
        _gi("org", "o2", None),
        _gi("org", "o3", {}),
        ("batch", {"batch": [
            {"event": "e", "distinct_id": "u3", "properties": {
                "$groups": {"company": "c2", "org": "o1"},
                "$group_set": {"org": _ODD_PROPS}}},
            {"type": "groupidentify", "group_type": "team", "group_key": "t2",
             "properties": {"k": "ü"}},
        ]}),
    ]
    raw = spark.createDataFrame(
        [Row(request_seq=i, endpoint=e, body=json.dumps(b)) for i, (e, b) in enumerate(requests)]
    )
    commands = decode_normalize_requests(raw).localCheckpoint(eager=True)
    got, want = _canonical_props(derive_group_ops(commands)), _canonical_props(
        _reference_group_ops(commands))
    assert want.count() == 13
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_derive_group_ops_runs_no_python(spark):
    from hogflare_spark.operators.group_state import derive_group_ops

    commands = spark.createDataFrame(
        _command_rows(),
        "request_seq long, item_index long, timestamp string, groups string, "
        "group_updates string, group_identify string",
    )
    plan = derive_group_ops(commands)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
