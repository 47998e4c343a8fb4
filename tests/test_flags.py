"""Feature-flag parity tests.

- kernel semantics mirror /root/reference/src/feature_flags.rs:616-773
- compiled Column path cross-validated against the kernel
- sha1 bucket bit-parity: SQL expression vs hashlib oracle
"""

from __future__ import annotations

import json

import pytest

from hogflare_spark.flags.kernel import (
    FlagContext,
    bucket_for,
    coerce_bool,
    coerce_number,
    evaluate_flags,
    values_equal,
)
from hogflare_spark.flags.model import parse_flag_config


def ctx_with(props: dict, **kw) -> FlagContext:
    return FlagContext(
        distinct_id=kw.get("distinct_id", "user-1"),
        person_properties=props,
        groups=kw.get("groups", {}),
        group_properties=kw.get("group_properties", {}),
    )


OPERATOR_FLAGS = json.dumps(
    {
        "flags": [
            {"key": "is_not", "conditions": [{"properties": [{"key": "plan", "value": "free", "operator": "is_not"}]}]},
            {"key": "in_list", "conditions": [{"properties": [{"key": "plan", "value": ["pro", "enterprise"], "operator": "in"}]}]},
            {"key": "contains", "conditions": [{"properties": [{"key": "email", "value": "example.com", "operator": "contains"}]}]},
            {"key": "regex", "conditions": [{"properties": [{"key": "email", "value": ".*@example\\.com$", "operator": "regex"}]}]},
            {"key": "is_set", "conditions": [{"properties": [{"key": "plan", "value": True, "operator": "is_set"}]}]},
            {"key": "gte_number", "conditions": [{"properties": [{"key": "age", "value": 18, "operator": "gte"}]}]},
        ]
    }
)

PROPS = {"plan": "pro", "email": "test@example.com", "age": "21"}


def test_filter_operators_and_coercion():
    flags = parse_flag_config(OPERATOR_FLAGS)
    results = {r.key: r.value for r in evaluate_flags(flags, ctx_with(PROPS))}
    assert results == {
        "is_not": True,
        "in_list": True,
        "contains": True,
        "regex": True,
        "is_set": True,
        "gte_number": True,
    }


def test_missing_property_is_false_for_every_operator():
    flags = parse_flag_config(OPERATOR_FLAGS)
    results = {r.key: r.value for r in evaluate_flags(flags, ctx_with({}))}
    assert all(v is False for v in results.values())


def test_not_in_with_missing_property_is_false():
    flags = parse_flag_config(
        json.dumps(
            [{"key": "ni", "conditions": [{"properties": [{"key": "plan", "value": ["free"], "operator": "not_in"}]}]}]
        )
    )
    assert evaluate_flags(flags, ctx_with({}))[0].value is False
    assert evaluate_flags(flags, ctx_with({"plan": "pro"}))[0].value is True
    assert evaluate_flags(flags, ctx_with({"plan": "free"}))[0].value is False


def test_key_and_environment_filters():
    flags = parse_flag_config(
        json.dumps({"flags": [{"key": "alpha"}, {"key": "beta", "evaluation_environments": ["prod"]}]})
    )
    keys = {r.key for r in evaluate_flags(flags, ctx_with({}), flag_keys={"alpha"})}
    assert keys == {"alpha"}
    keys = {r.key for r in evaluate_flags(flags, ctx_with({}), evaluation_environments={"dev"})}
    assert keys == {"alpha"}
    keys = {r.key for r in evaluate_flags(flags, ctx_with({}), evaluation_environments={"prod"})}
    assert keys == {"alpha", "beta"}


def test_reason_codes():
    flags = parse_flag_config(
        json.dumps(
            {
                "flags": [
                    {"key": "disabled", "active": False},
                    {"key": "no_match", "conditions": [{"properties": [{"key": "plan", "value": "pro"}]}]},
                    {"key": "out_of_rollout", "conditions": [{"rollout_percentage": 0, "properties": [{"key": "plan", "value": "free"}]}]},
                    {"key": "match", "conditions": [{"properties": [{"key": "plan", "value": "free"}]}]},
                ]
            }
        )
    )
    reasons = {r.key: r.reason for r in evaluate_flags(flags, ctx_with({"plan": "free"}))}
    assert reasons == {
        "disabled": "disabled",
        "no_match": "no_match",
        "out_of_rollout": "out_of_rollout",
        "match": "match",
    }


def test_canonical_pro_flag_payload():
    # FIXTURES.md §6 / tests/posthog_node.rs:55-74
    flags = parse_flag_config(
        json.dumps(
            {
                "flags": [
                    {
                        "key": "pro-flag",
                        "active": True,
                        "rollout_percentage": 100,
                        "salt": "pro-flag-salt",
                        "id": 12,
                        "version": 3,
                        "conditions": [
                            {
                                "properties": [
                                    {"key": "plan", "value": ["pro", "enterprise"], "operator": "in"},
                                    {"key": "age", "value": 18, "operator": "gte"},
                                ]
                            }
                        ],
                        "payload": {"tier": "pro"},
                    }
                ]
            }
        )
    )
    r = evaluate_flags(flags, ctx_with({"plan": "pro", "age": "21"}))[0]
    assert r.value is True and r.payload == {"tier": "pro"} and r.reason == "match"
    r = evaluate_flags(flags, ctx_with({"plan": "basic", "age": "21"}))[0]
    assert r.value is False and r.reason == "no_match"


def test_group_flag_hash_id():
    flags = parse_flag_config(
        json.dumps([{"key": "gf", "group_type": "company", "rollout_percentage": 100}])
    )
    # missing group ⇒ no_match
    r = evaluate_flags(flags, ctx_with({}))[0]
    assert r.value is False and r.reason == "no_match"
    r = evaluate_flags(flags, ctx_with({}, groups={"company": "acme"}))[0]
    assert r.value is True


def test_coercions():
    assert coerce_number(" 21 ") == 21.0
    assert coerce_number(True) == 1.0
    assert coerce_number("x") is None
    assert coerce_bool("Yes") is True
    assert coerce_bool(0) is False
    assert coerce_bool(1.5) is None  # serde as_i64 on f64 → None
    assert values_equal("21", 21)
    assert values_equal("true", 1) is True  # number path: no; bool path: yes
    assert values_equal(True, 1)
    assert not values_equal("pro", "basic")


def test_bucket_vectors():
    import hashlib

    for salt, hid in [("pro-flag-salt", "user-1"), ("k", ""), ("", "x"), ("é", "ü")]:
        expected = int.from_bytes(
            hashlib.sha1(f"{salt}:{hid}".encode()).digest()[:8], "big"
        ) % 100
        assert bucket_for(salt, hid) == float(expected)


# ---------------------------------------------------------------------------
# compiled path: cross-validation vs kernel on Spark
# ---------------------------------------------------------------------------

MATRIX_FLAGS = json.dumps(
    {
        "flags": [
            {"key": "plain"},
            {"key": "off", "active": False},
            {"key": "roll37", "rollout_percentage": 37, "salt": "s37"},
            {
                "key": "ops",
                "conditions": [
                    {
                        "properties": [
                            {"key": "plan", "value": ["pro", "enterprise"], "operator": "in"},
                            {"key": "age", "value": 18, "operator": "gte"},
                            {"key": "email", "value": "example", "operator": "contains"},
                        ]
                    }
                ],
                "payload": {"tier": "pro"},
            },
            {
                "key": "mv",
                "type": "multivariate",
                "salt": "mv-salt",
                "variants": [
                    {"key": "control", "rollout_percentage": 40},
                    {"key": "test", "rollout_percentage": 60, "payload": {"v": 2}},
                ],
            },
            {
                "key": "cond-variant",
                "conditions": [
                    {"properties": [{"key": "plan", "value": "pro"}], "variant": "forced"}
                ],
                "variant_payloads": {"forced": {"f": 1}},
            },
            {"key": "grp", "group_type": "company", "rollout_percentage": 100},
            {
                "key": "grp-prop",
                "conditions": [
                    {
                        "properties": [
                            {
                                "key": "size",
                                "value": 50,
                                "operator": "gt",
                                "type": "group",
                                "group_type": "company",
                            }
                        ]
                    }
                ],
            },
            {
                "key": "ordered",
                "conditions": [
                    {"properties": [{"key": "plan", "value": "enterprise"}], "variant": "ent"},
                    {"properties": [{"key": "plan", "value": "pro"}]},
                    {"rollout_percentage": 0},
                ],
                "variants": [{"key": "ent", "rollout_percentage": 100}],
            },
            {"key": "isnot", "conditions": [{"properties": [{"key": "plan", "value": "free", "operator": "is_not"}]}]},
            {"key": "notin", "conditions": [{"properties": [{"key": "plan", "value": ["free", "basic"], "operator": "not_in"}]}]},
            {"key": "regexf", "conditions": [{"properties": [{"key": "email", "value": "@ex.*\\.com$", "operator": "regex"}]}]},
            {"key": "boolc", "conditions": [{"properties": [{"key": "beta", "value": "true"}]}]},
            {"key": "arrc", "conditions": [{"properties": [{"key": "tags", "value": "vip", "operator": "contains"}]}]},
        ]
    }
)

CONTEXTS = [
    {"distinct_id": f"user-{i}", "person_properties": pp, "groups": g, "group_properties": gp}
    for i, (pp, g, gp) in enumerate(
        [
            ({}, {}, {}),
            ({"plan": "pro", "age": "21", "email": "a@example.com"}, {}, {}),
            ({"plan": "enterprise", "age": 30, "email": "x@ex-corp.com"}, {}, {}),
            ({"plan": "free", "age": 10}, {}, {}),
            ({"plan": "basic", "beta": 1, "tags": ["vip", "x"]}, {}, {}),
            ({"beta": "yes", "tags": ["a"]}, {"company": "acme"}, {"company": {"size": 100}}),
            ({"plan": "pro"}, {"company": "tiny"}, {"company": {"size": "10"}}),
            ({"age": " 18 ", "email": "e@ex9.com"}, {}, {}),
        ]
    )
]


@pytest.fixture(scope="module")
def compiled_results(spark):
    from hogflare_spark.flags.compiler import evaluate_flags_df

    flags = parse_flag_config(MATRIX_FLAGS)
    rows = [
        (
            c["distinct_id"],
            json.dumps(c["person_properties"]),
            c["groups"],
            json.dumps(c["group_properties"]),
        )
        for c in CONTEXTS
    ]
    df = spark.createDataFrame(
        rows,
        "distinct_id string, person_properties string, groups map<string,string>, group_properties string",
    )
    out = evaluate_flags_df(df, flags)
    return {
        (r["distinct_id"], r["flag_key"]): r
        for r in out.collect()
    }


def test_compiled_matches_kernel(compiled_results):
    flags = parse_flag_config(MATRIX_FLAGS)
    mismatches = []
    for c in CONTEXTS:
        ctx = FlagContext(
            distinct_id=c["distinct_id"],
            person_properties=c["person_properties"],
            groups=c["groups"],
            group_properties=c["group_properties"],
        )
        for r in evaluate_flags(flags, ctx):
            got = compiled_results[(c["distinct_id"], r.key)]
            want_value = json.dumps(r.value, separators=(",", ":"))
            want_payload = (
                json.dumps(r.payload, separators=(",", ":")) if r.payload is not None else None
            )
            if (
                got["value"] != want_value
                or got["payload"] != want_payload
                or got["reason"] != r.reason
                or got["condition_index"] != r.condition_index
            ):
                mismatches.append(
                    (c["distinct_id"], r.key, dict(got.asDict()), (want_value, want_payload, r.reason, r.condition_index))
                )
    assert not mismatches, mismatches[:5]


def test_compiled_bucket_bit_parity(spark):
    import hashlib

    from pyspark.sql import functions as F

    from hogflare_spark.flags.compiler import bucket_expr

    ids = [f"user-{i}" for i in range(200)] + ["", "é", "user:with:colons"]
    df = spark.createDataFrame([(i,) for i in ids], "hash_id string")
    got = {
        r["hash_id"]: r["b"]
        for r in df.select("hash_id", bucket_expr("the-salt", F.col("hash_id")).alias("b")).collect()
    }
    for hid in ids:
        expected = float(
            int.from_bytes(hashlib.sha1(f"the-salt:{hid}".encode()).digest()[:8], "big") % 100
        )
        assert got[hid] == expected, hid


# ---------------------------------------------------------------------------
# response shaping (F8) and context assembly (F9)
# ---------------------------------------------------------------------------


def _mk_flag(**kw):
    from hogflare_spark.flags.model import FlagDefinition

    base = dict(key="f")
    base.update(kw)
    return FlagDefinition.from_dict(base)


def test_to_maps_v2_drops_inactive():
    from hogflare_spark.flags.kernel import FlagResult
    from hogflare_spark.flags.response import to_maps

    results = [
        FlagResult("on", True, {"p": 1}, True, "match", 0),
        FlagResult("off", False, None, False, "disabled", None),
    ]
    v1_flags, v1_payloads = to_maps(results, 1)
    assert v1_flags == {"on": True, "off": False}
    assert v1_payloads == {"on": {"p": 1}}
    v2_flags, _ = to_maps(results, 2)
    assert v2_flags == {"on": True}


def test_flag_detail_shape():
    from hogflare_spark.flags.kernel import FlagResult
    from hogflare_spark.flags.response import flag_detail

    r = FlagResult(
        "exp", "variant-b", {"tier": "pro"}, True, "match", 1,
        flag_id=7, flag_version=3, flag_description="an experiment",
    )
    d = flag_detail(r)
    assert d["key"] == "exp" and d["enabled"] is True and d["variant"] == "variant-b"
    assert d["metadata"] == {
        "id": 7, "version": 3, "description": "an experiment",
        "payload": '{"tier":"pro"}',
    }
    assert d["reason"] == {"code": "match", "condition_index": 1}
    # boolean false flag: enabled False, no variant key
    d2 = flag_detail(FlagResult("b", False, None, True, "no_match", None))
    assert d2["enabled"] is False and "variant" not in d2
    assert d2["reason"] == {"code": "no_match"}


def test_decide_and_flags_response_shapes():
    from hogflare_spark.flags.kernel import FlagResult
    from hogflare_spark.flags.response import decide_response, flags_response

    results = [FlagResult("on", True, None, True, "match", 0)]
    d = decide_response(results, api_token="tok")
    assert d["status"] == 200 and d["config"] == {"apiToken": "tok"}
    assert d["featureFlags"] == {"on": True}
    assert d["supportedCompression"] == ["gzip", "gzip-js"]

    f_plain = flags_response(results, request_id="r1", evaluated_at_ms=5)
    assert f_plain["requestId"] == "r1" and f_plain["evaluatedAt"] == 5
    assert f_plain["errorsWhileComputingFlags"] is False
    assert "sessionRecording" not in f_plain and "supportedCompression" not in f_plain
    f_cfg = flags_response(results, include_config=True)
    assert f_cfg["supportedCompression"] == ["gzip", "gzip-js"]
    assert f_cfg["sessionRecording"]["proxy"] is True


def test_assemble_context_override_semantics():
    from hogflare_spark.flags.response import assemble_context

    ctx = assemble_context(
        "u1",
        {"plan": "free", "age": 30},
        {"plan": "pro"},  # person overrides merge per key
        {"company": "acme"},
        {"company": {"size": 10, "tier": "a"}},
        {"company": {"size": 99}},  # group overrides REPLACE the map
    )
    assert ctx.person_properties == {"plan": "pro", "age": 30}
    assert ctx.group_properties == {"company": {"size": 99}}
    # short-circuits
    assert assemble_context(None, {}, None, None, None, None) is None
    assert assemble_context("u", {}, None, None, None, None, disable_flags=True) is None
    assert assemble_context("u", {}, None, None, None, None, store_empty=True) is None


def test_batch_flag_responses(spark):
    import json

    from pyspark.sql import Row

    from hogflare_spark.flags.kernel import FlagContext, evaluate_flags
    from hogflare_spark.flags.response import flags_response
    from tests.flag_reference import batch_flag_responses

    flags = [
        _mk_flag(key="pro-only", conditions=[
            {"properties": [{"key": "plan", "value": "pro"}]}
        ], payload={"x": 1}),
        _mk_flag(key="everyone", rollout_percentage=100.0),
    ]
    persons = spark.createDataFrame([
        Row(canonical_id="u1", properties={"plan": '"pro"'}, properties_set_once={}),
        Row(canonical_id="u2", properties={}, properties_set_once={"plan": '"free"'}),
    ])
    got = {r["canonical_id"]: json.loads(r["response"])
           for r in batch_flag_responses(persons, flags).collect()}

    for cid, props in (("u1", {"plan": "pro"}), ("u2", {"plan": "free"})):
        want = flags_response(
            evaluate_flags(flags, FlagContext(cid, props, {}, {})),
            request_id=f"req-{cid}", evaluated_at_ms=0,
        )
        assert got[cid] == json.loads(json.dumps(want)), cid
    assert got["u1"]["featureFlags"] == {"pro-only": True, "everyone": True}
    assert got["u2"]["featureFlags"] == {"pro-only": False, "everyone": True}


def test_flag_eval_output_ordering_is_plan_pinned(spark):
    """hf_flag_eval's (c_custkey, flag_key) output ordering rides on
    per-partition order preservation through Project/Generate after the
    pre-explode range sort — an implementation property, not a Spark
    contract (r7 ADVICE). Pin it two ways: the collected rows ARE
    ordered, and the executed plan has no Exchange ABOVE the range sort
    (an exchange added later — AQE change, a join inside
    evaluate_flags_df — would silently break ordered consumers)."""
    from hogflare_spark import plans
    from tests.conftest import SF_SMOKE

    plans.load_all()
    df = plans.QUERIES["hf_flag_eval"](spark, SF_SMOKE)
    rows = df.collect()
    keys = [(r["c_custkey"], r["flag_key"]) for r in rows]
    assert keys == sorted(keys) and len(rows) > 0

    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    sort_lines = [i for i, l in enumerate(lines) if "Sort [c_custkey" in l]
    exchange_lines = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert sort_lines, plan
    # tree prints root-first, so an operator ABOVE the sort line runs
    # AFTER the sort — no Exchange may appear there
    assert all(i > min(sort_lines) for i in exchange_lines), plan
