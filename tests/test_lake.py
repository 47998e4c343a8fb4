"""Lake sink tests: partitioned append layout, MERGE-equivalent upsert
versioning, small-file compaction."""

from __future__ import annotations

import os
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F


def _events(spark, rows):
    """Event rows from (distinct_id, created_at[, timestamp]) tuples: the
    event `timestamp` is `created_at` unless given, and may be None."""
    return spark.createDataFrame(
        [
            (f"u{i}", 1, r[0], "ev", r[1], r[2] if len(r) > 2 else r[1])
            for i, r in enumerate(rows)
        ],
        "uuid string, team_id long, distinct_id string, event string, "
        "created_at string, timestamp string",
    ).withColumns({
        "created_at": F.to_timestamp("created_at"),
        "timestamp": F.to_timestamp("timestamp"),
    })


def test_append_events_partition_layout(spark, tmp_path):
    from hogflare_spark.sinks.lake import append_events, read_entry, read_events

    events_dir = str(tmp_path / "events")
    df = _events(
        spark,
        [("a", "2025-03-01T10:00:00Z"), ("b", "2025-03-01T11:00:00Z"),
         ("a", "2025-03-02T09:00:00Z")],
    )
    assert append_events(df, events_dir) == 1

    # one data dir per commit, `w=<id>`, holding the date leaves the
    # entry names
    (data,) = [d for d in os.listdir(events_dir) if d != "_log"]
    assert data.startswith("w=")
    assert read_entry(events_dir)["leaves"] == [
        f"{data}/event_date=2025-03-01", f"{data}/event_date=2025-03-02"
    ]

    back = read_events(spark, events_dir)
    assert back.count() == 3
    assert "w" not in back.columns and "event_date" in back.columns
    # a plain read of the root reads exactly the committed rows
    assert spark.read.parquet(events_dir).count() == 3
    # partition pruning: a date filter must prune to one partition
    plan = (
        back.where(F.col("event_date") == "2025-03-01")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "2025-03-01" in plan


def test_append_events_partitions_by_event_timestamp_day(spark, tmp_path):
    """The partition is the day of the event's `timestamp`, not of
    `created_at`: rows of one event day written months apart share one
    leaf, and rows without a timestamp share the null leaf, where they
    read back with a NULL `event_date`. A date filter still prunes to
    one leaf."""
    from hogflare_spark.sinks.lake import append_events, read_entry, read_events

    events_dir = str(tmp_path / "events")
    rows = [
        ("a", "2025-01-05T10:00:00Z", "2025-03-01T09:00:00Z"),
        ("b", "2025-03-01T10:00:00Z", "2025-03-01T10:00:00Z"),
        ("c", "2025-06-20T10:00:00Z", "2025-03-01T23:59:59Z"),
        ("d", "2025-02-11T10:00:00Z", None),
        ("e", "2025-09-30T10:00:00Z", None),
    ]
    append_events(_events(spark, rows).repartition(3), events_dir)
    assert [leaf.split("/")[1] for leaf in read_entry(events_dir)["leaves"]] == [
        "event_date=2025-03-01", "event_date=__HIVE_DEFAULT_PARTITION__"
    ]
    back = read_events(spark, events_dir)
    assert sorted(
        (r["distinct_id"], r["event_date"] and str(r["event_date"])) for r in back.collect()
    ) == [("a", "2025-03-01"), ("b", "2025-03-01"), ("c", "2025-03-01"), ("d", None), ("e", None)]
    day = back.where(F.col("event_date") == "2025-03-01")
    assert len(day.collect()) == 3
    leaves = day._jdf.queryExecution().executedPlan().collectLeaves()
    (scan,) = [leaves.apply(i) for i in range(leaves.size())]
    assert scan.getClass().getSimpleName() == "FileSourceScanExec"
    assert scan.metrics().apply("numPartitions").value() == 1


def test_append_events_cluster_sorts_each_date(spark, tmp_path):
    """Every written file is sorted by (team_id, distinct_id, created_at):
    the partitioned writer must not replace the cluster sort with its own
    sort on event_date."""
    import pyarrow.parquet as pq

    from hogflare_spark.sinks.lake import append_events, read_entry

    events_dir = str(tmp_path / "events")
    rows = [(f"d{(7 * i) % 10}", f"2025-03-0{1 + i % 2}T1{i % 10}:00:00Z") for i in range(20)]
    append_events(_events(spark, rows), events_dir)
    for leaf in read_entry(events_dir)["leaves"]:
        path = os.path.join(events_dir, leaf)
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                got = [
                    (r["team_id"], r["distinct_id"], r["created_at"])
                    for r in pq.read_table(os.path.join(path, f)).to_pylist()
                ]
                assert got == sorted(got), f"{leaf}/{f} is not cluster-sorted"


def _race_first_entry(monkeypatch, rival):
    """Run `rival()` (another writer's whole commit) just before the next
    log entry is created, so that entry loses the race."""
    from hogflare_spark.sinks import lake

    create = lake._create_exclusive

    def racing(path, text):
        monkeypatch.setattr(lake, "_create_exclusive", create)
        rival()
        return create(path, text)

    monkeypatch.setattr(lake, "_create_exclusive", racing)


def test_events_append_rebases_on_a_lost_entry_race(spark, tmp_path, monkeypatch):
    """Two appends race for entry 2: the loser re-bases on the winner's
    entry and commits as entry 3 without rewriting its data."""
    from hogflare_spark.sinks.lake import append_events, read_entry, read_events

    events_dir = str(tmp_path / "events")
    append_events(_events(spark, [("a", "2025-03-01T10:00:00Z")]), events_dir)
    _race_first_entry(monkeypatch, lambda: append_events(
        _events(spark, [("b", "2025-03-02T10:00:00Z")]), events_dir))
    assert append_events(_events(spark, [("c", "2025-03-01T11:00:00Z")]), events_dir) == 3
    assert len(read_entry(events_dir)["leaves"]) == 3
    assert len([d for d in os.listdir(events_dir) if d.startswith("w=")]) == 3
    assert sorted(r["distinct_id"] for r in read_events(spark, events_dir).collect()) == [
        "a", "b", "c"
    ]


def test_events_txn_append_overwrites_only_an_uncommitted_dir(spark, tmp_path, monkeypatch):
    """A transaction's append writes into the data dir its txn names: a
    retry after a write whose entry never committed replaces that
    write's rows (a plain read sees one copy), and an append into a dir
    the latest entry names raises CommitConflict, committed rows intact."""
    from hogflare_spark.sinks import lake

    events_dir = str(tmp_path / "events")

    def plain():
        return sorted(r["distinct_id"] for r in spark.read.parquet(events_dir).collect())

    def dies(path, text):
        raise OSError("stopped before the entry")

    monkeypatch.setattr(lake, "_create_exclusive", dies)
    with pytest.raises(OSError, match="stopped before the entry"):
        lake.append_events(_events(spark, [("a", "2025-03-01T10:00:00Z")]), events_dir, ("app", 0))
    monkeypatch.undo()
    assert plain() == ["a"]
    lake.append_events(_events(spark, [("b", "2025-03-01T10:00:00Z")]), events_dir, ("app", 0))
    assert plain() == ["b"]
    with pytest.raises(lake.CommitConflict):
        lake.append_events(_events(spark, [("c", "2025-03-02T10:00:00Z")]), events_dir, ("app", 0))
    assert plain() == ["b"]
    assert lake.read_entry(events_dir)["txns"] == {"app": 0}


def test_events_rewrite_conflicts_when_its_leaf_was_replaced(spark, tmp_path, monkeypatch):
    """A compaction whose leaves a concurrent deletion already replaced
    must not commit: it raises CommitConflict, removes its data dir, and
    the deletion's result stands."""
    from hogflare_spark.sinks.lake import (
        CommitConflict,
        append_events,
        compact_events,
        delete_person_rows,
        read_entry,
        read_events,
    )

    events_dir = str(tmp_path / "events")
    for d in ("a", "b"):
        append_events(_events(spark, [(d, "2025-03-01T10:00:00Z")]), events_dir)
    _race_first_entry(monkeypatch, lambda: delete_person_rows(spark, events_dir, ["a"]))
    with pytest.raises(CommitConflict):
        compact_events(spark, events_dir)
    (leaf,) = read_entry(events_dir)["leaves"]
    assert [d for d in os.listdir(events_dir) if d.startswith("w=")] == [leaf.split("/")[0]]
    assert [r["distinct_id"] for r in read_events(spark, events_dir).collect()] == ["b"]


def test_upsert_table_merge_semantics(spark, tmp_path):
    from hogflare_spark.sinks.lake import read_entry, read_table, upsert_table

    root = str(tmp_path / "persons")
    v1 = spark.createDataFrame(
        [Row(key="a", val=1), Row(key="b", val=2)]
    )
    assert upsert_table(spark, v1, root, ["key"]) == 1

    v2 = spark.createDataFrame(
        [Row(key="b", val=20), Row(key="c", val=3)]
    )
    assert upsert_table(spark, v2, root, ["key"]) == 2

    got = {r["key"]: r["val"] for r in read_table(spark, root).collect()}
    assert got == {"a": 1, "b": 20, "c": 3}
    # the second upsert wrote only its own rows, as a delta over the base
    entry = read_entry(root)
    assert entry["deltas"] == [entry["committed_batch"]]
    assert entry["base"] == read_entry(root, 1)["base"]
    assert spark.read.parquet(os.path.join(root, entry["deltas"][0])).count() == 2


def _ids(df):
    return sorted(r["canonical_id"] for r in df.collect())


def test_upsert_compacts_after_deltas(spark, tmp_path, monkeypatch):
    """The upsert that finds COMPACT_AFTER_DELTAS deltas writes the merged
    view as a new base: tombstones dropped, the view unchanged, its txn
    and max_id recorded."""
    from hogflare_spark.schemas import PERSON_SCHEMA
    from hogflare_spark.sinks import lake

    monkeypatch.setattr(lake, "COMPACT_AFTER_DELTAS", 2)
    root = str(tmp_path / "persons")
    lake.upsert_table(spark, _person_frame(spark, range(4)), root, ["canonical_id"])
    tombstone = _person_frame(spark, [1]).select(
        "canonical_id",
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in PERSON_SCHEMA.fields if f.name != "canonical_id"],
    )
    lake.upsert_table(spark, tombstone, root, ["canonical_id"])
    lake.upsert_table(spark, _person_frame(spark, [2, 7]), root, ["canonical_id"])
    assert len(lake.read_entry(root)["deltas"]) == 2
    lake.upsert_table(
        spark, _person_frame(spark, [8]), root, ["canonical_id"], txn=("app", 5), max_id=8
    )
    entry = lake.read_entry(root)
    assert entry["version"] == 4 and entry["deltas"] == []
    assert entry["base"] == entry["committed_batch"]
    assert entry["txns"] == {"app": 5} and entry["max_id"] == 8
    base = spark.read.parquet(os.path.join(root, entry["base"]))
    assert _ids(base) == _ids(lake.read_table(spark, root)) == ["c0", "c2", "c3", "c7", "c8"]


@pytest.mark.parametrize("deltas", [0, 2], ids=["delta", "compaction"])
def test_upsert_stopped_before_its_entry_changes_nothing(spark, tmp_path, monkeypatch, deltas):
    """An upsert killed between its data write and its log entry leaves
    the table as it was, with no entry added; running it again commits
    it once. `deltas` deltas precede it (2 = the threshold, so the
    stopped upsert is a compaction)."""
    from hogflare_spark.sinks import lake

    monkeypatch.setattr(lake, "COMPACT_AFTER_DELTAS", 2)
    root = str(tmp_path / "persons")
    lake.upsert_table(spark, _person_frame(spark, range(3)), root, ["canonical_id"])
    for i in range(deltas):
        lake.upsert_table(spark, _person_frame(spark, [10 + i]), root, ["canonical_id"])
    before = _ids(lake.read_table(spark, root))
    latest = lake.read_entry(root)

    def dies(path, text):
        raise RuntimeError("stopped before the entry")

    create = lake._create_exclusive
    monkeypatch.setattr(lake, "_create_exclusive", dies)
    update = _person_frame(spark, [1, 20])
    with pytest.raises(RuntimeError, match="stopped before the entry"):
        lake.upsert_table(spark, update, root, ["canonical_id"])
    monkeypatch.setattr(lake, "_create_exclusive", create)
    assert lake.read_entry(root) == latest
    assert _ids(lake.read_table(spark, root)) == before

    lake.upsert_table(spark, update, root, ["canonical_id"])
    entry = lake.read_entry(root)
    assert entry["version"] == latest["version"] + 1
    assert len(entry["deltas"]) == (0 if deltas == 2 else deltas + 1)
    assert _ids(lake.read_table(spark, root)) == sorted({*before, "c20"})


def test_upsert_conflict_detected_and_retried(spark, tmp_path):
    """Lost-update protection: a commit whose merge base moved must raise
    CommitConflict (and an unpinned upsert_table's retry must then merge
    correctly)."""
    from hogflare_spark.sinks.lake import (
        CommitConflict,
        _commit_version,
        _latest_version,
        read_table,
        upsert_table,
    )

    root = str(tmp_path / "dim")
    upsert_table(spark, spark.createDataFrame([Row(key="a", val=1)]), root, ["key"])

    # writer A computes its merge against base version 1 ...
    base_a = _latest_version(root)
    merged_a = (
        read_table(spark, root)
        .join(spark.createDataFrame([Row(key="b")]), ["key"], "left_anti")
        .unionByName(spark.createDataFrame([Row(key="b", val=2)]))
        .localCheckpoint(eager=True)
    )
    # ... writer B lands first ...
    upsert_table(spark, spark.createDataFrame([Row(key="c", val=3)]), root, ["key"])
    # ... so A's stale-base commit must be refused, not silently drop c
    with pytest.raises(CommitConflict):
        _commit_version(merged_a, root, base_a)
    # the table is intact and the refused commit left no log entry
    got = {r["key"]: r["val"] for r in read_table(spark, root).collect()}
    assert got == {"a": 1, "c": 3}

    # the public API retries from the new base: every writer's rows survive
    upsert_table(spark, spark.createDataFrame([Row(key="b", val=2)]), root, ["key"])
    got = {r["key"]: r["val"] for r in read_table(spark, root).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}


def test_concurrent_upserts_interleaved_threads(spark, tmp_path):
    """Two writer threads upserting disjoint keys: both key sets survive
    and a reader polling between commits only ever sees fully-committed
    versions (complete key sets, never partial files)."""
    import threading

    from hogflare_spark.sinks.lake import read_table, upsert_table

    root = str(tmp_path / "dim")
    upsert_table(spark, spark.createDataFrame([Row(key="seed", val=0)]), root, ["key"])

    errs = []
    start = threading.Barrier(2)

    def _writer(tag):
        try:
            start.wait(timeout=30)
            for i in range(3):
                upsert_table(
                    spark,
                    spark.createDataFrame([Row(key=f"{tag}{i}", val=i)]),
                    root,
                    ["key"],
                )
        except Exception as e:  # pragma: no cover - surfaced via errs
            errs.append(e)

    threads = [threading.Thread(target=_writer, args=(t,)) for t in ("x", "y")]
    for t in threads:
        t.start()
    # reader in the writer gap: every observed state is a committed version
    seen = []
    while any(t.is_alive() for t in threads):
        tbl = read_table(spark, root)
        if tbl is not None:
            seen.append({r["key"] for r in tbl.collect()})
    for t in threads:
        t.join()
    assert not errs
    got = {r["key"]: r["val"] for r in read_table(spark, root).collect()}
    assert set(got) == {"seed", "x0", "x1", "x2", "y0", "y1", "y2"}
    # monotone growth: later reads never lose previously committed keys
    for prev, cur in zip(seen, seen[1:]):
        assert prev <= cur


def test_reader_ignores_claimed_uncommitted_version(spark, tmp_path):
    import os

    from hogflare_spark.sinks.lake import read_table, upsert_table

    root = str(tmp_path / "dim")
    upsert_table(spark, spark.createDataFrame([Row(key="a", val=1)]), root, ["key"])
    # simulate an in-flight writer: claimed directory, pointer untouched
    os.mkdir(os.path.join(root, "v=2"))
    got = {r["key"]: r["val"] for r in read_table(spark, root).collect()}
    assert got == {"a": 1}


def test_compaction_rewrites_small_files(spark, tmp_path):
    from hogflare_spark.sinks.lake import (
        append_events,
        compact_events,
        compaction_candidates,
        read_entry,
        read_events,
    )

    events_dir = str(tmp_path / "events")
    # five appends → five leaves of the same date partition
    for i in range(5):
        append_events(
            _events(spark, [(f"d{i}", "2025-03-01T10:00:00Z")]), events_dir
        )
    leaves = read_entry(events_dir)["leaves"]
    assert len(leaves) == 5
    assert compaction_candidates(events_dir) == {"event_date=2025-03-01": sorted(leaves)}

    rewritten = compact_events(spark, events_dir)
    assert rewritten == [os.path.join(events_dir, leaf) for leaf in sorted(leaves)]
    assert not any(os.path.exists(p) for p in rewritten)
    (leaf,) = read_entry(events_dir)["leaves"]
    after = [f for f in os.listdir(os.path.join(events_dir, leaf)) if f.endswith(".parquet")]
    assert len(after) == 1
    assert read_events(spark, events_dir).count() == 5
    assert spark.read.parquet(events_dir).count() == 5
    # stable after compaction: no more candidates
    assert compaction_candidates(events_dir, min_small_files=2) == {}
    assert compact_events(spark, events_dir) == []
    assert read_events(spark, events_dir).where(F.col("distinct_id") == "d3").count() == 1


def test_bucketed_join_plans_with_zero_exchanges(spark, tmp_path):
    """The write-once/join-many layout: events and persons bucketed by
    the join key produce a join plan with NO Exchange on either side —
    the shuffle was paid at write time."""
    from pyspark.sql import functions as F

    from hogflare_spark.sinks.bucketed import cokeyed_join, write_bucketed

    ev = spark.range(0, 20000).select(
        (F.col("id") % 500).alias("user_id"), F.col("id").alias("x")
    )
    pe = spark.range(0, 500).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("y")
    )
    write_bucketed(ev, "ev_bucketed_t", ["user_id"], 8, str(tmp_path / "evb"))
    write_bucketed(pe, "pe_bucketed_t", ["user_id"], 8, str(tmp_path / "peb"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cokeyed_join(spark, "ev_bucketed_t", "pe_bucketed_t", ["user_id"])
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and it computes the right thing
        assert j.count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_t")
        spark.sql("DROP TABLE IF EXISTS pe_bucketed_t")


def test_mismatched_upsert_raises_and_commits_nothing(spark, tmp_path):
    """An upsert whose columns or types differ from the schema its base
    entry records raises before it writes anything: no entry, no data
    directory, the table unchanged."""
    from hogflare_spark.sinks.lake import read_entry, read_table, upsert_table

    root = str(tmp_path / "dim")
    upsert_table(spark, spark.range(0, 4).select("id", F.lit("a").alias("val")), root, ["id"])
    entry, listing = read_entry(root), sorted(os.listdir(root))
    mismatched = [
        spark.range(2, 6).select("id", F.lit("b").alias("val"), F.lit(9).alias("extra")),
        spark.range(2, 6).select("id"),
        spark.range(2, 6).select("id", F.lit(1).alias("val")),
    ]
    for updates in mismatched:
        with pytest.raises(ValueError, match="do not match"):
            upsert_table(spark, updates, root, ["id"])
    assert read_entry(root) == entry and sorted(os.listdir(root)) == listing
    assert read_table(spark, root).columns == ["id", "val"]
    # the same columns in another order are the same schema
    upsert_table(spark, spark.range(5, 6).select(F.lit("c").alias("val"), "id"), root, ["id"])
    assert read_table(spark, root).columns == ["id", "val"]
    assert read_table(spark, root).count() == 5


def test_compaction_groups_small_files_by_date_across_appends(spark, tmp_path):
    """Compaction bin-packs each date's small files across appends into
    one leaf, the null date of timestamp-less events included; a date
    with a single small file is left alone, and the leaves it does not
    rewrite keep their bytes and mtimes."""
    from hogflare_spark.sinks.lake import (
        append_events,
        compact_events,
        compaction_candidates,
        read_entry,
        read_events,
    )

    events_dir = str(tmp_path / "events")
    for i in range(3):
        append_events(
            _events(
                spark,
                [(f"d{i}_{j}", f"2025-03-0{1 + j % 2}T10:00:00Z") for j in range(10)]
                + [(f"n{i}", "2025-03-01T10:00:00Z", None)],
            ),
            events_dir,
        )
    append_events(_events(spark, [("solo", "2025-03-05T10:00:00Z")]), events_dir)
    (solo,) = [leaf for leaf in read_entry(events_dir)["leaves"] if leaf.endswith("03-05")]
    solo_files = sorted(
        (f.name, f.stat().st_size, f.stat().st_mtime_ns)
        for f in os.scandir(os.path.join(events_dir, solo))
    )

    cands = compaction_candidates(events_dir, small_file_bytes=10 * 1024 * 1024)
    assert sorted(cands) == [
        "event_date=2025-03-01", "event_date=2025-03-02", "event_date=__HIVE_DEFAULT_PARTITION__"
    ]
    assert all(len(leaves) == 3 for leaves in cands.values())
    compact_events(spark, events_dir, small_file_bytes=10 * 1024 * 1024)

    leaves = read_entry(events_dir)["leaves"]
    assert len(leaves) == 4 and solo in leaves
    for leaf in leaves:
        files = [f for f in os.listdir(os.path.join(events_dir, leaf)) if f.endswith(".parquet")]
        assert len(files) == 1, f"{leaf} not bin-packed to one file"
    assert sorted(
        (f.name, f.stat().st_size, f.stat().st_mtime_ns)
        for f in os.scandir(os.path.join(events_dir, solo))
    ) == solo_files
    # every data dir on disk is a committed one: the replaced leaves are gone
    on_disk = {
        f"{d}/{leaf}"
        for d in os.listdir(events_dir) if d != "_log"
        for leaf in os.listdir(os.path.join(events_dir, d)) if leaf.startswith("event_date=")
    }
    assert on_disk == set(leaves)
    back = read_events(spark, events_dir)
    assert back.count() == 34
    assert sorted(r["distinct_id"] for r in back.where(F.col("event_date").isNull()).collect()) == [
        "n0", "n1", "n2"
    ]
    assert spark.read.parquet(events_dir).count() == 34


# ------------------------------------------------ the schema in the log entry


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"test-lake-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _person_frame(spark, ids):
    from datetime import datetime, timezone

    from hogflare_spark.schemas import PERSON_SCHEMA

    created = datetime(2024, 1, 1, tzinfo=timezone.utc)
    return spark.createDataFrame(
        [
            (f"c{i}", i, 1, f"u{i}", created, 1, [f"d{i}", f"e{i}"],
             {"plan": '"pro"'}, {"region": '"eu"'})
            for i in ids
        ],
        PERSON_SCHEMA,
    )


def test_read_table_schema_equals_parquet_inference(spark, tmp_path):
    """The schema a log entry records reads back exactly as parquet
    inference of the data directory would: persons (maps, arrays,
    timestamps, non-nullable fields) and groups."""
    from datetime import datetime, timezone

    from hogflare_spark.schemas import GROUP_SCHEMA
    from hogflare_spark.sinks.lake import entry_dirs, read_entry, read_table, upsert_table

    def assert_round_trip(root):
        entry = read_entry(root)
        inferred = spark.read.parquet(entry_dirs(root, entry)[0]).schema
        assert read_table(spark, root).schema == inferred

    persons = str(tmp_path / "persons")
    upsert_table(spark, _person_frame(spark, range(3)), persons, ["canonical_id"])
    assert_round_trip(persons)

    groups = str(tmp_path / "groups")
    created = datetime(2024, 1, 1, tzinfo=timezone.utc)
    upsert_table(
        spark,
        spark.createDataFrame([("org", "k1", created, 1, {"n": "1"})], GROUP_SCHEMA),
        groups,
        ["group_type", "group_key"],
    )
    assert_round_trip(groups)


def test_read_table_runs_no_spark_job(spark, tmp_path):
    """Building the view of a base-only table and of a base + 2 deltas
    table runs no Spark job: the reader takes the recorded schema instead
    of inferring one per data directory."""
    from hogflare_spark.sinks.lake import _commit_version, read_table, upsert_table

    root = str(tmp_path / "persons")
    upsert_table(spark, _person_frame(spark, range(4)), root, ["canonical_id"])
    view, jobs = _jobs_run(spark, lambda: read_table(spark, root))
    assert jobs == 0
    assert view.count() == 4

    for version, ids in ((1, [1, 5]), (2, [2, 6])):
        _commit_version(
            _person_frame(spark, ids), root, version, keys=["canonical_id"], delta=True
        )
    view, jobs = _jobs_run(spark, lambda: read_table(spark, root))
    assert jobs == 0
    assert sorted(r["canonical_id"] for r in view.collect()) == [
        "c0", "c1", "c2", "c3", "c5", "c6"
    ]


def test_first_upsert_writes_no_tombstone_into_the_base(spark, tmp_path):
    """An upsert into an empty table drops its tombstones: a base never
    holds one, because a single-directory view does not filter them (a
    seeded person fold's delta, committed into a fresh table)."""
    from hogflare_spark.schemas import PERSON_SCHEMA
    from hogflare_spark.sinks.lake import read_entry, read_table, upsert_table

    root = str(tmp_path / "persons")
    tombstone = _person_frame(spark, [1]).select(
        "canonical_id",
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in PERSON_SCHEMA.fields if f.name != "canonical_id"],
    )
    upsert_table(spark, _person_frame(spark, [0, 2]).unionByName(tombstone), root,
                 ["canonical_id"])
    entry = read_entry(root)
    base = spark.read.parquet(os.path.join(root, entry["base"]))
    assert base.where(F.col("uuid").isNull()).count() == 0
    assert _ids(base) == _ids(read_table(spark, root)) == ["c0", "c2"]


def test_delta_tombstone_retires_key_through_recorded_schema(spark, tmp_path):
    """A delta row with a NULL `uuid` retires its key when the view is read
    with the schema the log records. The base is written from a frame
    whose `uuid` is non-nullable; the entry records it nullable, so the
    view's `uuid IS NOT NULL` filter is never folded away."""
    from hogflare_spark.schemas import PERSON_SCHEMA
    from hogflare_spark.sinks.lake import _commit_version, read_entry, read_table, upsert_table

    root = str(tmp_path / "persons")
    upsert_table(spark, _person_frame(spark, range(3)), root, ["canonical_id"])
    assert all(f["nullable"] for f in read_entry(root)["schema"]["fields"])

    tombstone = _person_frame(spark, [1]).select(
        "canonical_id",
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in PERSON_SCHEMA.fields if f.name != "canonical_id"],
    )
    _commit_version(tombstone, root, 1, keys=["canonical_id"], delta=True)
    got = sorted(r["canonical_id"] for r in read_table(spark, root).collect())
    assert got == ["c0", "c2"]


# ------------------------------------------------ read_table's snapshot


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pinned(df) -> bool:
    """Whether `df` is planned over pinned rows, with no parquet scan."""
    plan = _plan(df)
    return "ExistingRDD" in plan and "parquet" not in plan.lower()


def test_third_read_of_an_unchanged_version_scans_no_parquet(spark, tmp_path):
    """The first read of a version is a lazy parquet plan; the second pins
    it, and the third returns that pin: no parquet scan, same rows."""
    from hogflare_spark.sinks.lake import read_table, upsert_table

    root = str(tmp_path / "persons")
    upsert_table(spark, _person_frame(spark, range(4)), root, ["canonical_id"])
    first = read_table(spark, root)
    assert "FileScan parquet" in _plan(first)
    second, jobs = _jobs_run(spark, lambda: read_table(spark, root))
    assert jobs >= 1  # the pin
    third, jobs = _jobs_run(spark, lambda: read_table(spark, root))
    assert jobs == 0
    assert third is second and _pinned(third)
    assert _ids(third) == _ids(first) == ["c0", "c1", "c2", "c3"]


def test_read_table_sees_a_commit_after_its_pin(spark, tmp_path):
    """An upsert after a version was pinned is read at once: the latest
    version is resolved from the log on every read."""
    from hogflare_spark.sinks.lake import read_table, upsert_table

    root = str(tmp_path / "persons")
    upsert_table(spark, _person_frame(spark, range(3)), root, ["canonical_id"])
    read_table(spark, root)
    assert _pinned(read_table(spark, root))
    upsert_table(spark, _person_frame(spark, [1, 7]).withColumn("version", F.lit(9).cast("long")),
                 root, ["canonical_id"])
    got = {r["canonical_id"]: r["version"] for r in read_table(spark, root).collect()}
    assert got == {"c0": 1, "c1": 9, "c2": 1, "c7": 9}


def test_expired_version_raises_even_when_pinned(spark, tmp_path, monkeypatch):
    """Every read re-checks the version's data directories, so a pinned
    version that `expire_versions` removed raises like any expired one."""
    from hogflare_spark.sinks import lake
    from hogflare_spark.sinks.lake import expire_versions, read_table, upsert_table

    root = str(tmp_path / "persons")
    upsert_table(spark, _person_frame(spark, range(3)), root, ["canonical_id"])
    read_table(spark, root, version=1)
    assert _pinned(read_table(spark, root, version=1))
    # a compacting commit: version 2 names none of version 1's dirs
    monkeypatch.setattr(lake, "COMPACT_AFTER_DELTAS", 0)
    upsert_table(spark, _person_frame(spark, [5]), root, ["canonical_id"])
    assert expire_versions(root, keep_last=1) == [1]
    with pytest.raises(FileNotFoundError, match="expired"):
        read_table(spark, root, version=1)
    assert _ids(read_table(spark, root)) == ["c0", "c1", "c2", "c5"]


def test_interleaved_reads_of_two_versions_return_their_rows(spark, tmp_path):
    """Reads alternating between version 1 and the latest each return
    their own version's rows; a version read twice in a row is pinned."""
    from hogflare_spark.sinks.lake import read_table, upsert_table

    root = str(tmp_path / "persons")
    upsert_table(spark, _person_frame(spark, range(2)), root, ["canonical_id"])
    upsert_table(spark, _person_frame(spark, [5]), root, ["canonical_id"])
    v1, latest = ["c0", "c1"], ["c0", "c1", "c5"]
    for version, want in ((1, v1), (None, latest), (1, v1), (None, latest), (None, latest),
                          (1, v1), (1, v1), (None, latest), (1, v1)):
        assert _ids(read_table(spark, root, version=version)) == want
    read_table(spark, root, version=1)
    assert _pinned(read_table(spark, root, version=1))


def test_new_session_does_not_reuse_the_old_sessions_pin(spark, tmp_path, monkeypatch):
    """Snapshots are kept per Spark application: under another
    applicationId (a new session) the first read plans the files again,
    and the old application's snapshots are dropped."""
    from pyspark import SparkContext

    from hogflare_spark.sinks import lake

    root = str(tmp_path / "persons")
    lake.upsert_table(spark, _person_frame(spark, range(3)), root, ["canonical_id"])
    lake.read_table(spark, root)
    pinned = lake.read_table(spark, root)
    assert _pinned(pinned)
    app = spark.sparkContext.applicationId
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "another-app"))
    fresh = lake.read_table(spark, root)
    assert fresh is not pinned and "FileScan parquet" in _plan(fresh)
    assert _ids(fresh) == ["c0", "c1", "c2"]
    assert not any(key[0] == app for key in lake._SNAPSHOTS)


def test_concurrent_readers_share_one_snapshot(spark, tmp_path):
    """Reader threads racing on one table's snapshot (more threads than
    cores, a short switch interval) all finish without error, every
    frame they got holds the table's rows, and the snapshot ends pinned."""
    import sys
    import threading

    from hogflare_spark.sinks import lake

    root = str(tmp_path / "persons")
    lake.upsert_table(spark, _person_frame(spark, range(3)), root, ["canonical_id"])
    errs, last = [], {}

    def _reader(n):
        try:
            for _ in range(25):
                last[n] = lake.read_table(spark, root)
        except Exception as e:  # pragma: no cover - surfaced via errs
            errs.append(e)

    threads = [threading.Thread(target=_reader, args=(n,)) for n in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errs
    assert all(_ids(df) == ["c0", "c1", "c2"] for df in last.values()) and len(last) == 8
    (snapshot,) = [v for k, v in lake._SNAPSHOTS.items() if k[1] == os.path.abspath(root)]
    assert snapshot[2] and _pinned(lake.read_table(spark, root))
