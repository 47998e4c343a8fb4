"""Lake sinks: the events table and the state tables, one commit log.

The reference lands events as Iceberg/Parquet on R2 via Cloudflare
Pipelines (reference `src/pipeline.rs:57-143`, `README.md:8-10`) and
delegates maintenance to the platform. Here the engine owns the sink:

- The table log: every table (events, persons, groups; batch writers and
  the stream alike) is a numbered log `_log/<n>.json` whose entries name
  the table's data directories, the `{app_id: batch_id}` transactions
  recorded so far and the schema the directories were written with. A
  commit writes a fresh, uniquely named data directory, then creates its
  entry exclusively, which is both the atomic commit and the conflict
  check (Delta Lake's protocol; the object-store form is one
  `PUT If-None-Match: *`, CATALOG.md). Readers only follow entries, so
  they never observe partial writes.
- `append_events`: date-partitioned append of the 21-column event frame,
  clustered within partitions by (team_id, distinct_id) so per-person
  scans and downstream joins hit few row groups. The partition column
  is the day of the event's own `timestamp`, exactly like an Iceberg
  `days(timestamp)` transform: events without a timestamp land in the
  null partition (`event_date=__HIVE_DEFAULT_PARTITION__`). An events
  entry lists the table's leaf partition directories
  (`w=<id>/event_date=<day>`); an append adds its own.
- `compact_events` / `delete_person_rows`: rewrite the leaves they touch
  into a fresh data directory and commit an entry that swaps the old
  leaves for the new ones (Iceberg's rewrite_data_files and a
  copy-on-write DELETE), then delete the replaced leaves.
- `upsert_table`: the one writer of the persons/groups tables, batch
  and stream alike. Every commit writes its rows as a keyed delta over
  its base entry (merge-on-read, last writer wins per key); once an
  entry holds COMPACT_AFTER_DELTAS deltas, the next commit writes the
  merged view as a new base instead; a base never holds a tombstone.
  With an Iceberg catalog this is `MERGE INTO t USING s ON ... WHEN
  MATCHED UPDATE *`; the log is the filesystem stand-in for Iceberg's
  atomic snapshot commit, kept because no Iceberg runtime jars are
  available to the engine.
- `read_table`: the readers' path to a state table. A session keeps one
  snapshot per table and pins a version the second time it is read, so
  a repeated reader (a /decide server) lists and scans no parquet, while
  a one-off read stays a lazy plan. Writers build on `table_view`, which
  is always a fresh lazy plan.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import threading
import uuid
from collections.abc import Sequence
from typing import Literal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

TARGET_FILE_BYTES = 128 * 1024 * 1024
# a state table's entry holds at most this many deltas over its base; the
# upsert that finds that many writes the merged view as a new base
COMPACT_AFTER_DELTAS = 16
# how many lost commit races an unpinned upsert redoes before it gives up
UPSERT_RETRIES = 10


# ---------------------------------------------------------------------------
# the table log (the no-Iceberg atomic-snapshot stand-in)
# ---------------------------------------------------------------------------
#
# A table is a numbered log, `<root>/_log/<n>.json` for versions
# n = 1, 2, ..., plus the data directories its entries name. A state
# table's entry n is one JSON object (the events table's is described
# with its functions below):
#
#   base             the base data directory (`v=<id>`)
#   deltas           delta data directories (`d=<id>`) over the base,
#                    oldest first; the view is last-writer-wins per key
#   keys             the key columns of that view
#   max_id           the person id counter (merged-away ids count), if known
#   txns             {app_id: batch_id}: the last batch of every writer
#                    application recorded so far (carried forward)
#   committed_batch  the data directory this commit wrote (a delta
#                    commit's is its last delta)
#   schema           the written frame's schema (StructType JSON, every
#                    field nullable, as parquet inference would return
#                    it); readers read every directory of the entry with
#                    it, so a read infers nothing (Delta's
#                    metaData.schemaString)
#
# A commit writes a fresh, uniquely named data directory, then creates
# entry base+1 exclusively. The exclusive create is both the atomic
# commit and the conflict check: if the entry exists, another writer
# committed on the same base and the commit raises CommitConflict. No
# writer ever writes into a directory another writer or a committed
# entry names, so there is no lock and no pointer to swing.


class CommitConflict(RuntimeError):
    """Another writer committed since this writer's merge base was read.

    The Iceberg-style optimistic-concurrency signal: the caller must
    re-read the table and redo its merge (an unpinned upsert_table does
    this itself)."""


def _log_path(root: str, version: int) -> str:
    return os.path.join(root, "_log", f"{version}.json")


def _latest_version(root: str) -> int | None:
    try:
        names = os.listdir(os.path.join(root, "_log"))
    except FileNotFoundError:
        return None
    return max(
        (int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()),
        default=None,
    )


def read_entry(root: str, version: int | None = None) -> dict | None:
    """Log entry `version` (default: the latest) with its `version` added;
    None for a table with no commits."""
    if version is None:
        version = _latest_version(root)
        if version is None:
            return None
    try:
        with open(_log_path(root, version)) as fh:
            return {**json.load(fh), "version": version}
    except FileNotFoundError:
        raise FileNotFoundError(f"version {version} of {root} does not exist") from None


def entry_dirs(root: str, entry: dict) -> list[str]:
    """The entry's data directories in last-writer-wins order."""
    return [os.path.join(root, d) for d in (entry["base"], *entry["deltas"])]


def seed_entry(root: str, app_id: str, batch_id: int) -> tuple[dict | None, bool]:
    """The entry batch `batch_id` of writer `app_id` builds on, and
    whether the log already holds that transaction. Not held: the latest
    entry. Held (a replay of a batch that committed here): the entry just
    before the one that recorded it, so the replay recomputes exactly
    what was committed."""
    entry = read_entry(root)
    if entry is None or entry["txns"].get(app_id) != batch_id:
        return entry, False
    while entry is not None and entry["txns"].get(app_id) == batch_id:
        entry = read_entry(root, entry["version"] - 1) if entry["version"] > 1 else None
    return entry, True


def _live_dirs(root: str, entry: dict) -> list[str]:
    """The entry's data directories; FileNotFoundError once any of them
    has been expired."""
    paths = entry_dirs(root, entry)
    if not all(os.path.isdir(p) for p in paths):
        raise FileNotFoundError(f"version {entry['version']} of {root} has expired")
    return paths


def table_view(
    spark: SparkSession, root: str, entry: dict | None, schema=None
) -> DataFrame | None:
    """The table as of `entry`: base ∪ deltas, last writer wins per key.
    A winning tombstone (a delta row with a NULL `uuid`, written when a
    seeded person fold's merge absorbs a canonical_id) retires its key.
    Read with `schema`, or else with the schema the entry records, so
    building the view runs no Spark job. Always a fresh lazy plan over
    the files: writers build their merges on it."""
    if entry is None:
        return None
    reader = spark.read.schema(
        StructType.fromJson(entry["schema"]) if schema is None else schema
    )
    paths = _live_dirs(root, entry)
    if len(paths) == 1:
        return reader.parquet(paths[0])
    merged = reader.parquet(paths[0]).withColumn("_rank", F.lit(0))
    for rank, path in enumerate(paths[1:], start=1):
        merged = merged.unionByName(reader.parquet(path).withColumn("_rank", F.lit(rank)))
    w = Window.partitionBy(*entry["keys"]).orderBy(F.desc("_rank"))
    out = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_rank")
    )
    if "uuid" in out.columns:
        out = out.where(F.col("uuid").isNotNull())
    return out


# (applicationId, abspath(root), schema JSON or None) → (the data
# directories of the version read last, its frame, whether the frame is
# pinned). Directory names are unique per commit, so they identify a
# version even across a table root that was removed and written again.
_SNAPSHOTS: dict = {}
_SNAPSHOTS_LOCK = threading.Lock()


def read_table(
    spark: SparkSession, root: str, schema=None, version: int | None = None
) -> DataFrame | None:
    """Read the latest committed version, or time-travel to `version`
    (every committed version stays readable until expired — the Iceberg
    snapshot-read equivalent). None for a table with no commits.

    A session keeps one snapshot per table (and `schema`). The first
    read of a version returns its lazy `table_view`, so a one-off reader
    keeps parquet pushdown and materializes nothing. The second read of
    the same version pins it (`localCheckpoint(eager=True)`, one Spark
    job) and every later read returns that pin: a repeated reader, like
    a /decide server, lists and scans no parquet. A read that resolves to
    another version replaces the snapshot. The version is resolved from
    the log on every call, so a commit is seen at once, and a read of an
    expired version raises FileNotFoundError even if it was pinned. Like
    `batch_flag_responses_native`'s table, a pin lives as long as its
    handle; `functions.caching.unpersist_all()` does not drop it."""
    entry = read_entry(root, version)
    if entry is None:
        return None
    app = spark.sparkContext.applicationId
    key = (app, os.path.abspath(root), None if schema is None else schema.json())
    dirs = entry_dirs(root, entry)
    with _SNAPSHOTS_LOCK:
        hit = _SNAPSHOTS.get(key)
    if hit is None or hit[0] != dirs:
        frame, pinned = table_view(spark, root, entry, schema), False
    else:
        _live_dirs(root, entry)
        if hit[2]:
            return hit[1]
        frame, pinned = hit[1].localCheckpoint(eager=True), True
    with _SNAPSHOTS_LOCK:
        for stale in [k for k in _SNAPSHOTS if k[0] != app]:
            del _SNAPSHOTS[stale]
        _SNAPSHOTS[key] = (dirs, frame, pinned)
    return frame


def expire_versions(root: str, keep_last: int = 2) -> list[int]:
    """Snapshot expiration: delete the data directories that only versions
    older than the newest `keep_last` name. Log entries stay, so their
    numbers can never be committed again; reading an expired version
    raises FileNotFoundError. Never touches the current version; returns
    the versions this call made unreadable."""
    latest = _latest_version(root)
    if latest is None:
        return []
    first_kept = latest - max(keep_last, 1) + 1
    names = {v: set(entry_dirs(root, read_entry(root, v))) for v in range(1, latest + 1)}
    kept = set().union(*(names[v] for v in range(first_kept, latest + 1)))
    expired = [
        v for v in range(1, first_kept) if any(os.path.isdir(p) for p in names[v] - kept)
    ]
    for path in set().union(*(names[v] for v in expired)) - kept:
        shutil.rmtree(path, ignore_errors=True)
    return expired


def _nullable(t):
    """A Spark type's JSON form with every struct field, array element and
    map value nullable: the schema Spark writes to parquet and inference
    reads back (Scala's `DataType.asNullable`)."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [
            {**f, "nullable": True, "type": _nullable(f["type"])} for f in t["fields"]
        ]}
    if t["type"] == "array":
        return {**t, "containsNull": True, "elementType": _nullable(t["elementType"])}
    if t["type"] == "map":
        return {**t, "valueContainsNull": True,
                "keyType": _nullable(t["keyType"]), "valueType": _nullable(t["valueType"])}
    return t


def _create_exclusive(path: str, text: str) -> None:
    """Publish `text` at `path` iff nothing is there: the tmp file is
    hard-linked into place, and link(2) fails with EEXIST exactly like
    O_CREAT|O_EXCL while also publishing the complete content at once (a
    reader never sees a created-but-unwritten entry)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def _commit_version(
    df: DataFrame,
    root: str,
    base_version: int | None,
    keys: list[str] | None = None,
    delta: bool = False,
    max_id: int | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Write `df` into a fresh data directory and commit it as version
    `base_version + 1`: as the new base, or (`delta=True`) as one more
    delta over `base_version`'s view. The entry records `df`'s schema,
    which readers of that version use. `txn` = (app_id, batch_id) records
    the writer's batch. If the version already exists, another writer
    won: the data directory is removed and CommitConflict raised, since
    committing would silently drop that writer's rows (lost update)."""
    prior = {} if base_version is None else read_entry(root, base_version)
    name = f"{'d' if delta else 'v'}={uuid.uuid4().hex}"
    path = os.path.join(root, name)
    df.write.parquet(path)
    txns = dict(prior.get("txns", {}))
    if txn is not None:
        txns[txn[0]] = txn[1]
    entry = {
        "base": prior["base"] if delta else name,
        "deltas": [*prior["deltas"], name] if delta else [],
        "keys": keys or prior.get("keys", []),
        "max_id": max_id,
        "txns": txns,
        "committed_batch": name,
        "schema": _nullable(df.schema.jsonValue()),
    }
    version = (base_version or 0) + 1
    try:
        _create_exclusive(_log_path(root, version), json.dumps(entry))
    except FileExistsError:
        shutil.rmtree(path, ignore_errors=True)
        raise CommitConflict(
            f"{root}: table moved past base version {base_version}"
        ) from None
    return version


def _columns(schema: dict) -> dict:
    """A schema JSON's column name → type, nullability normalized."""
    return {f["name"]: f["type"] for f in _nullable(schema)["fields"]}


def upsert_table(
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    key_cols: list[str],
    base: dict | None | Literal["latest"] = "latest",
    txn: tuple[str, int] | None = None,
    max_id: int | None = None,
) -> int:
    """MERGE-equivalent: rows from `updates` replace the table's rows with
    the same key (a row with a NULL `uuid` is a tombstone that retires
    its key); other rows survive. Returns the new version, whose entry
    records `txn` and `max_id`.

    The commit builds on `base` (a log entry, None for the empty table,
    or "latest"): `updates` become the base of an empty table, else one
    more delta over `base`. Once `base` holds COMPACT_AFTER_DELTAS
    deltas, the commit writes the merged view as the new base instead:
    the view minus the updated keys (a left-anti join) plus the updates.
    A base never holds a tombstone (a one-directory view filters none).
    With an Iceberg catalog this is `MERGE INTO t USING s ON ... WHEN
    MATCHED UPDATE *` plus its rewrite_data_files.
    `updates` must have the columns and types `base` records, in any
    order; a mismatch raises ValueError before anything is written.

    Concurrency: optimistic, like an Iceberg commit. A writer pinned to
    an entry (the stream, whose fold was seeded from it) gets
    CommitConflict when another writer committed first; an unpinned
    upsert re-reads the latest entry and commits again, up to
    UPSERT_RETRIES times, so interleaved upserts lose no rows.
    """
    pinned = base != "latest"
    for _ in range(1 if pinned else UPSERT_RETRIES):
        entry = base if pinned else read_entry(root)
        df, delta = updates, False
        if entry is not None:
            columns = _columns(entry["schema"])
            if _columns(updates.schema.jsonValue()) != columns:
                raise ValueError(
                    f"{root}: upsert columns {updates.columns} do not match "
                    f"the table's {list(columns)} (or their types differ)"
                )
            df = updates.select(*columns)
            delta = len(entry["deltas"]) < COMPACT_AFTER_DELTAS
            if not delta:
                df = table_view(spark, root, entry).join(
                    df.select(*key_cols).distinct(), key_cols, "left_anti"
                ).unionByName(df)
        if not delta and "uuid" in df.columns:
            # a base never holds a tombstone
            df = df.where(F.col("uuid").isNotNull())
        try:
            return _commit_version(
                df, root, entry and entry["version"], key_cols, delta, max_id, txn
            )
        except CommitConflict:
            if pinned:
                raise
    raise CommitConflict(f"{root}: upsert lost {UPSERT_RETRIES} commit races")


# ---------------------------------------------------------------------------
# the events table
# ---------------------------------------------------------------------------
#
# The events table is the same log over leaf partition directories. Its
# entry n is one JSON object:
#
#   leaves  the leaf directories that make up the table,
#           `w=<id>/event_date=<day>` relative to the root
#   txns    {app_id: batch_id}, carried forward as for the state tables
#   schema  the written frame's schema, `event_date` included
#
# Every write goes into a fresh data directory `w=<id>` and is committed
# as entry latest+1: an append adds its leaves; a rewrite (compaction,
# deletion) also removes the leaves it replaced, and deletes them once
# its entry is committed. A writer that loses the race for an entry
# re-bases on the newest entry without rewriting its data, so appends
# never conflict, and a rewrite conflicts only when a concurrent entry
# already removed one of its leaves. `w` is not an event column and
# `_log` is hidden from partition discovery, so a plain
# `spark.read.parquet(root)` reads exactly the committed rows as long as
# no failed writer left an uncommitted data directory behind. A
# transaction's append (the stream's) names its data directory after the
# transaction and clears it first, so a replay of a batch whose entry
# never committed overwrites what the stopped write left rather than
# adding a second copy. `read_events` reads only what the latest entry
# names.


def _events_dir_name(txn: tuple[str, int] | None = None) -> str:
    """A fresh data directory name, or the one fixed by `txn`."""
    if txn is None:
        return f"w={uuid.uuid4().hex}"
    return f"w={hashlib.sha1(txn[0].encode()).hexdigest()[:12]}_{txn[1]}"


def _write_leaves(df: DataFrame, events_dir: str, name: str) -> None:
    """Write `df` (with its `event_date`) into data directory `name`,
    cluster-sorted within each date. Sorting on `event_date` first is the
    order the partitioned writer needs, so it adds no sort of its own.
    Every task writes one file per date among its rows."""
    # Leaves are costly: without Hadoop's native library its local
    # filesystem starts a `chmod` child process for every directory and
    # file it creates, so a write's cost grows with the leaves it touches.
    (
        df.sortWithinPartitions("event_date", "team_id", "distinct_id", "created_at")
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(os.path.join(events_dir, name))
    )


def _read_leaves(
    spark: SparkSession, events_dir: str, schema: dict, leaves: list[str]
) -> DataFrame:
    """The rows of `leaves`, read with the recorded `schema`, with
    `event_date` as the partition column."""
    schema = StructType.fromJson(schema)
    if not leaves:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", events_dir)
        .parquet(*(os.path.join(events_dir, leaf) for leaf in leaves))
        .drop("w")
    )


def _commit_events(
    events_dir: str,
    name: str,
    schema: dict,
    removed: Sequence[str] = (),
    txn: tuple[str, int] | None = None,
) -> int:
    """Commit the leaves data directory `name` holds, in place of the
    `removed` leaves, as entry latest+1, recording `txn` = (app_id,
    batch_id) if given; then delete the removed leaves. Returns the
    version. A lost entry race re-bases on the newest entry; if that
    entry no longer names every removed leaf, a concurrent rewrite
    replaced one, so the data directory is removed and CommitConflict
    raised."""
    path = os.path.join(events_dir, name)
    added = sorted(
        f"{name}/{d}" for d in os.listdir(path) if d.startswith("event_date=")
    ) if os.path.isdir(path) else []
    if not added:
        shutil.rmtree(path, ignore_errors=True)
    while True:
        prior = read_entry(events_dir) or {"version": 0, "leaves": [], "txns": {}}
        if not set(removed) <= set(prior["leaves"]):
            shutil.rmtree(path, ignore_errors=True)
            raise CommitConflict(f"{events_dir}: a concurrent commit replaced a leaf")
        txns = dict(prior["txns"])
        if txn is not None:
            txns[txn[0]] = txn[1]
        entry = {
            "leaves": [leaf for leaf in prior["leaves"] if leaf not in removed] + added,
            "txns": txns,
            "schema": schema,
        }
        version = prior["version"] + 1
        try:
            _create_exclusive(_log_path(events_dir, version), json.dumps(entry))
            break
        except FileExistsError:
            continue
    for leaf in removed:
        shutil.rmtree(os.path.join(events_dir, leaf))
    # a concurrent rewrite of other leaves of the same data directory may
    # empty and remove it first; this entry is committed either way
    for data in {leaf.split("/")[0] for leaf in removed}:
        data = os.path.join(events_dir, data)
        with contextlib.suppress(FileNotFoundError):
            if not any(d.startswith("event_date=") for d in os.listdir(data)):
                shutil.rmtree(data)
    return version


def append_events(
    events: DataFrame, events_dir: str, txn: tuple[str, int] | None = None
) -> int:
    """Append of event rows partitioned by the day of their `timestamp`
    (rows without one go to the null partition), cluster-sorted, and
    committed as one entry of the events log that records `txn` =
    (app_id, batch_id) if given. Each task writes its own rows, so an
    append adds one leaf per event day it holds. Returns the committed
    version. A transaction's data directory is cleared first unless the
    latest entry names it (then that transaction committed and
    CommitConflict is raised)."""
    df = events.withColumn("event_date", F.to_date("timestamp"))
    name = _events_dir_name(txn)
    entry = read_entry(events_dir)
    if entry and any(leaf.startswith(f"{name}/") for leaf in entry["leaves"]):
        raise CommitConflict(f"{events_dir}: {name} is already committed")
    shutil.rmtree(os.path.join(events_dir, name), ignore_errors=True)
    _write_leaves(df, events_dir, name)
    return _commit_events(events_dir, name, _nullable(df.schema.jsonValue()), txn=txn)


def read_events(spark: SparkSession, events_dir: str) -> DataFrame | None:
    """The events table as of its latest entry: only the leaves it names,
    read with the schema it records. None for a table with no commits."""
    entry = read_entry(events_dir)
    if entry is None:
        return None
    return _read_leaves(spark, events_dir, entry["schema"], entry["leaves"])


# ---------------------------------------------------------------------------
# compaction and deletion
# ---------------------------------------------------------------------------


def compaction_candidates(
    events_dir: str,
    small_file_bytes: int = 8 * 1024 * 1024,
    min_small_files: int = 2,
) -> dict[str, list[str]]:
    """The `event_date=<day>` partitions with >= min_small_files files
    under small_file_bytes across all their committed leaves, each mapped
    to the leaves (relative to the root) that hold those small files."""
    entry = read_entry(events_dir)
    small: dict[str, dict[str, int]] = {}
    for leaf in entry["leaves"] if entry else []:
        n = sum(
            1
            for f in os.scandir(os.path.join(events_dir, leaf))
            if f.name.endswith(".parquet") and f.stat().st_size < small_file_bytes
        )
        if n:
            small.setdefault(leaf.split("/")[1], {})[leaf] = n
    return {
        part: sorted(counts)
        for part, counts in sorted(small.items())
        if sum(counts.values()) >= min_small_files
    }


def compact_events(
    spark: SparkSession,
    events_dir: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    small_file_bytes: int = 8 * 1024 * 1024,
    min_small_files: int = 2,
) -> list[str]:
    """Bin-pack the small files of every candidate date, across appends,
    into ~target-size files preserving the cluster sort: all dates go into
    one fresh data directory, committed as one entry that swaps the old
    leaves out, so a failure before that entry changes nothing. Returns
    the replaced leaf directories, which are gone when it returns.

    Layout note: the preserved sort is lexicographic (team, id, time) —
    perfect pruning on the leading column, none on the others. For
    tables filtered on MULTIPLE dims, the same rewrite machinery takes a
    Morton key instead: sortWithinPartitions(zorder_key2(dim_a, dim_b))
    (functions/zorder.py — hash string dims to ints first, quantize but
    do NOT hash time dims, or range filters lose locality). The per-dim
    expected-files-read win is measured on real written parquet in
    tests/test_round10.py; the ev_zorder_locality gate pins the key
    arithmetic cross-engine. Not the default because the events read
    path filters almost exclusively by the leading partition/cluster
    columns — z-order is the documented option for dashboard-style
    mixed-dim tables, the Iceberg Z-ORDER rewrite equivalent."""
    candidates = compaction_candidates(events_dir, small_file_bytes, min_small_files)
    if not candidates:
        return []
    schema = read_entry(events_dir)["schema"]
    name = _events_dir_name()
    for leaves in candidates.values():
        total = sum(
            f.stat().st_size
            for leaf in leaves
            for f in os.scandir(os.path.join(events_dir, leaf))
            if f.name.endswith(".parquet")
        )
        n_files = max(1, round(total / target_file_bytes))
        _write_leaves(
            _read_leaves(spark, events_dir, schema, leaves).repartition(n_files),
            events_dir,
            name,
        )
    removed = sorted(leaf for leaves in candidates.values() for leaf in leaves)
    _commit_events(events_dir, name, schema, removed)
    return [os.path.join(events_dir, leaf) for leaf in removed]


def delete_person_rows(
    spark: SparkSession,
    events_dir: str,
    distinct_ids: list[str],
    id_col: str = "distinct_id",
) -> tuple[list[str], int]:
    """Targeted (GDPR-style) deletion: remove every event row of the
    given subjects, rewriting ONLY the leaf partitions that contain
    them — at 100 TB a deletion request must not touch the other
    99.99% of the lake.

    Two phases:
      1. probe — ONE scan of the committed leaves filtered to the subject
         ids, projecting `input_file_name()`: the id predicate pushes
         into the parquet reader, and because partitions are
         cluster-sorted with the id in the sort key, row-group min/max
         stats skip most files without reading data. The distinct file
         list (and the exact delete count) come back as a tiny driver
         result.
      2. rewrite — the affected leaves only, filtered, into one fresh
         data directory preserving the cluster sort, committed as one
         entry that swaps them out; the replaced leaves are deleted
         once it is committed, so no subject row is left on disk when
         this returns. A failure before the entry changes nothing.
         Untouched leaves keep their bytes.

    Callers deleting a PERSON (not a raw id) should first expand to
    all of the person's distinct_ids via the persons table
    (`array_contains(distinct_ids, ...)` — the S13 debug-lookup path).
    Returns (replaced leaf directories, rows deleted).
    """
    from urllib.parse import urlparse

    entry = read_entry(events_dir)
    ids = list(distinct_ids)
    if not ids or entry is None:
        return [], 0
    pred = F.col(id_col).isin(ids)
    hits = (
        _read_leaves(spark, events_dir, entry["schema"], entry["leaves"])
        .where(pred)
        .select(F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not hits:
        return [], 0
    # a file's leaf is its last two directories: w=<id>/event_date=<day>
    leaves = sorted({"/".join(urlparse(r["f"]).path.split("/")[-3:-1]) for r in hits})
    keep = ~F.coalesce(pred, F.lit(False))  # null ids are never subjects
    name = _events_dir_name()
    _write_leaves(
        _read_leaves(spark, events_dir, entry["schema"], leaves).where(keep),
        events_dir,
        name,
    )
    _commit_events(events_dir, name, entry["schema"], leaves)
    return [os.path.join(events_dir, leaf) for leaf in leaves], sum(r["n"] for r in hits)
