"""Person fold kernel semantics — mirrors /root/reference/src/persons.rs:863-961
plus store-level behaviors (resolve/alias/redirect, persons.rs:219-358)."""

from __future__ import annotations

from datetime import datetime, timezone

from hogflare_spark.operators.person_store import (
    PersonRecord,
    PersonStoreReplay,
    snapshot_fields,
)

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
T1 = datetime(2024, 6, 1, tzinfo=timezone.utc)


def _record(did="user-1"):
    return PersonRecord(did, None, T0, "uuid-1")


def test_set_overwrites_properties():
    r = _record()
    r.properties["plan"] = "basic"
    r.apply_update({"distinct_id": "user-1", "set": {"plan": "pro"}})
    assert r.properties["plan"] == "pro"


def test_set_once_ignores_existing():
    r = _record()
    r.properties["created_at"] = "2024-01-01"
    r.apply_update({"distinct_id": "user-1", "set_once": {"created_at": "2025-01-01"}})
    assert r.properties["created_at"] == "2024-01-01"
    assert r.properties_set_once == {}


def test_set_once_respects_prior_set_once():
    r = _record()
    r.apply_update({"distinct_id": "user-1", "set_once": {"first": "a"}})
    r.apply_update({"distinct_id": "user-1", "set_once": {"first": "b"}})
    assert r.properties_set_once == {"first": "a"}


def test_unset_removes_properties():
    r = _record()
    r.properties["plan"] = "pro"
    r.properties_set_once["created_at"] = "2024-01-01"
    r.apply_update({"distinct_id": "user-1", "unset": ["plan", "created_at"]})
    assert r.properties == {}
    assert r.properties_set_once == {}


def test_version_increments():
    r = _record()
    assert r.version == 0
    r.apply_update({"distinct_id": "user-1", "set": {"a": 1}})
    r.apply_update({"distinct_id": "user-1", "set": {"a": 2}})
    assert r.version == 2


def test_merge_prefers_primary():
    p = PersonRecord("primary", None, T0, "u-p")
    p.properties["plan"] = "pro"
    p.properties_set_once["created_at"] = "2024-01-01"
    s = PersonRecord("secondary", None, T1, "u-s")
    s.properties["plan"] = "basic"
    s.properties["region"] = "us"
    s.properties_set_once["created_at"] = "2023-01-01"

    m = PersonRecord.merge(p, s)
    assert m.properties["plan"] == "pro"
    assert m.properties["region"] == "us"
    assert m.properties_set_once["created_at"] == "2024-01-01"
    assert "primary" in m.distinct_ids and "secondary" in m.distinct_ids
    assert m.uuid == "u-p"  # primary survives


def test_merge_keeps_min_created_at():
    p = PersonRecord("primary", None, T1, "u-p")
    s = PersonRecord("secondary", None, T0, "u-s")
    assert PersonRecord.merge(p, s).created_at == T0


def test_merged_properties_set_wins():
    r = _record()
    r.properties["plan"] = "pro"
    r.properties_set_once["plan"] = "basic"
    r.properties_set_once["origin"] = "import"
    assert r.merged_properties() == {"plan": "pro", "origin": "import"}


# ---------------------------------------------------------------------------
# store-level replay (resolve / alias / redirect)
# ---------------------------------------------------------------------------


def test_alias_resolves_lookup_through_redirect():
    # mirrors tests/persons_do.rs:81-93: after alias(person-1, anon-1),
    # looking up anon-1 resolves to canonical person-1
    store = PersonStoreReplay("comp", None)
    store.apply_update(
        {"distinct_id": "person-1", "set": {"email": "p@example.com"}}, T0, (0, 0, 0)
    )
    store.ensure_person("anon-1", T0, (1, 0, 0))
    store.apply_alias("person-1", "anon-1", T0, (2, 0, 0))

    canonical, record = store.get_snapshot("anon-1")
    assert canonical == "person-1"
    assert record is not None
    assert "anon-1" in record.distinct_ids
    assert record.properties["email"] == "p@example.com"


def test_alias_noop_when_same_canonical():
    store = PersonStoreReplay("comp", None)
    store.apply_alias("a", "b", T0, (0, 0, 0))
    v1 = store.records["a"].version
    store.apply_alias("a", "b", T0, (1, 0, 0))  # b already resolves to a
    assert store.records["a"].version == v1


def test_updates_after_alias_land_on_primary():
    store = PersonStoreReplay("comp", None)
    store.apply_alias("primary", "anon", T0, (0, 0, 0))
    store.apply_update({"distinct_id": "anon", "set": {"plan": "pro"}}, T0, (1, 0, 0))
    canonical, record = store.get_snapshot("primary")
    assert canonical == "primary"
    assert record.properties["plan"] == "pro"


def test_merge_precedence_depends_on_existing_state():
    # replay order matters: secondary's conflicting property loses
    store = PersonStoreReplay("comp", None)
    store.apply_update({"distinct_id": "A", "set": {"plan": "pro"}}, T0, (0, 0, 0))
    store.apply_update({"distinct_id": "B", "set": {"plan": "basic", "region": "us"}}, T0, (1, 0, 0))
    store.apply_alias("A", "B", T0, (2, 0, 0))
    _, record = store.get_snapshot("B")
    assert record.properties == {"plan": "pro", "region": "us"}


def test_alloc_events_order_and_gaps():
    store = PersonStoreReplay("comp", None)
    store.ensure_person("x", T0, (0, 0, 0))
    store.apply_alias("y", "z", T0, (1, 0, 0))  # allocates y then z
    assert [a[1] for a in store.alloc_events] == [
        (0, 0, 0, 0),
        (1, 0, 0, 0),
        (1, 0, 0, 1),
    ]
    # z's record merged away but its allocation persists (id-gap parity)
    assert len(store.records) == 2


def test_snapshot_fields_none():
    assert snapshot_fields(None) == (None, None, None)


def test_synth_time_piecewise_matches_python_kernel(spark):
    """The compressed synthetic-time tail (sf1+ scale ids) must stay in
    datetime range, stay strictly monotonic across the boundary, and
    match the Spark column twin bit-for-bit."""
    from pyspark.sql import functions as F

    from hogflare_spark.operators.person_store import (
        SYNTH_COMPRESS_AFTER,
        synth_time_expr,
        synthetic_time,
    )

    seqs = [
        0,
        946_684_800_000,
        SYNTH_COMPRESS_AFTER - 1,
        SYNTH_COMPRESS_AFTER,
        SYNTH_COMPRESS_AFTER + 1,
        9 * 10**14,  # the sf1-probe regime that used to overflow
        2 * 10**17,  # event ids ~2e11
    ]
    py = [synthetic_time(s) for s in seqs]
    assert all(a < b for a, b in zip(py, py[1:]))  # strictly monotonic
    rows = (
        spark.createDataFrame([(s,) for s in seqs], "seq long")
        .select(synth_time_expr(F.col("seq")).alias("t"))
        .collect()
    )
    jvm = [r["t"].replace(tzinfo=py[0].tzinfo) for r in rows]
    assert jvm == py
