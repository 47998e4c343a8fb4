"""Lake sinks: the events table contract and state-table maintenance.

The reference lands events as Iceberg/Parquet on R2 via Cloudflare
Pipelines (/root/reference/src/pipeline.rs:57-143, README.md:8-10) and
delegates maintenance to the platform. Here the engine owns the sink:

- `append_events`: date-partitioned append of the 21-column event frame,
  clustered within partitions by (team_id, distinct_id) so per-person
  scans and downstream joins hit few row groups. At 100 TB this layout is
  the difference between partition-pruned scans of a day and full-table
  scans; the partition column derives from `created_at` exactly like an
  Iceberg `days(created_at)` transform.
- The table log: every state table (persons, groups; batch upserts and
  the stream alike) is a numbered log `_log/<n>.json` whose entries name
  a base data directory, delta directories, `max_id`, the
  `{app_id: batch_id}` transactions recorded so far and the schema the
  directories were written with. A commit creates
  its entry exclusively, which is both the atomic commit and the
  conflict check (Delta Lake's protocol; the object-store form is one
  `PUT If-None-Match: *`, CATALOG.md). Readers only follow entries, so
  they never observe partial writes.
- `upsert_table`: MERGE-equivalent keyed upsert for the persons/groups
  dimension tables — new snapshot wins per key, committed as a new log
  version. With an Iceberg catalog this whole function is
  `MERGE INTO t USING s ON ... WHEN MATCHED UPDATE *`; the log is the
  filesystem stand-in for Iceberg's atomic snapshot commit, kept because
  this container ships no Iceberg runtime jars.
- `compact_events`: bin-packing compaction — rewrites partitions whose
  file population is dominated by small files into ~target-size files
  (the operational job Iceberg calls rewrite_data_files). Streaming
  appends produce a file per micro-batch per partition; compaction keeps
  scan task counts bounded.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

TARGET_FILE_BYTES = 128 * 1024 * 1024


def append_events(events: DataFrame, events_dir: str) -> None:
    """Date-partitioned, cluster-sorted append of event rows."""
    (
        events.withColumn("event_date", F.to_date("created_at"))
        .repartition("event_date")
        .sortWithinPartitions("team_id", "distinct_id", "created_at")
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(events_dir)
    )


def read_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """Read the events table in either on-disk layout — flat
    `event_date=...` from batch appends, `batch=<run>_<n>/event_date=...`
    from the streaming sink's replay-scoped overwrites — or a mix of both
    (a warehouse that predates the streaming layout and was then
    upgraded). Plain `spark.read.parquet(dir)` fails partition discovery
    on the mixed case ("conflicting directory structures"), so each
    scheme is discovered with an explicit basePath and unioned; the
    `batch` bookkeeping partition is dropped so every layout presents
    the same schema."""
    entries = os.listdir(events_dir) if os.path.isdir(events_dir) else []
    batch_dirs = sorted(
        os.path.join(events_dir, d)
        for d in entries
        if d.startswith("batch=") and os.path.isdir(os.path.join(events_dir, d))
    )
    flat_dirs = sorted(
        os.path.join(events_dir, d)
        for d in entries
        if d.startswith("event_date=") and os.path.isdir(os.path.join(events_dir, d))
    )
    if not batch_dirs:
        return spark.read.parquet(events_dir)
    batched = (
        spark.read.option("basePath", events_dir).parquet(*batch_dirs).drop("batch")
    )
    if not flat_dirs:
        return batched
    flat = spark.read.option("basePath", events_dir).parquet(*flat_dirs)
    return flat.unionByName(batched)


# ---------------------------------------------------------------------------
# the table log (the no-Iceberg atomic-snapshot stand-in)
# ---------------------------------------------------------------------------
#
# A state table is a numbered log, `<root>/_log/<n>.json` for versions
# n = 1, 2, ..., plus the data directories its entries name. Entry n is
# one JSON object:
#
#   base             the base data directory (`v=<id>`)
#   deltas           delta data directories (`d=<id>`) over the base,
#                    oldest first; the view is last-writer-wins per key
#   keys             the key columns of that view
#   max_id           the largest person `id` in the view, when known
#   txns             {app_id: batch_id}: the last batch of every writer
#                    application recorded so far (carried forward)
#   committed_batch  the data directory this commit wrote (a delta-lane
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
    re-read the table and redo its merge (upsert_table does this
    automatically)."""


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


def table_view(
    spark: SparkSession, root: str, entry: dict | None, schema=None
) -> DataFrame | None:
    """The table as of `entry`: base ∪ deltas, last writer wins per key.
    A winning tombstone (a delta row with a NULL `uuid`, written by the
    stream's delta lane when a merge absorbs a canonical_id) retires its
    key. Read with `schema`, or else with the schema the entry records,
    so building the view runs no Spark job."""
    if entry is None:
        return None
    reader = spark.read.schema(
        StructType.fromJson(entry["schema"]) if schema is None else schema
    )
    paths = entry_dirs(root, entry)
    if not all(os.path.isdir(p) for p in paths):
        raise FileNotFoundError(f"version {entry['version']} of {root} has expired")
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


def read_table(
    spark: SparkSession, root: str, schema=None, version: int | None = None
) -> DataFrame | None:
    """Read the latest committed version, or time-travel to `version`
    (every committed version stays readable until expired — the Iceberg
    snapshot-read equivalent)."""
    return table_view(spark, root, read_entry(root, version), schema)


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


def upsert_table(
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    key_cols: list[str],
    schema=None,
    max_retries: int = 10,
    allow_schema_evolution: bool = False,
) -> int:
    """MERGE-equivalent: rows from `updates` replace current rows with the
    same key; unmatched current rows survive. Returns the new version.

    Plan shape: one left-anti join (current minus updated keys) + union —
    both sides shuffle on the key, which is exactly Iceberg's merge-on-read
    write amplification; at 100 TB you'd partition the dimension tables by
    a key hash so the anti join co-partitions.

    Concurrency: optimistic, like an Iceberg commit. The commit creates
    the log entry after the merge base exclusively; a conflicting commit
    re-reads the new current table and redoes the merge, so interleaved
    upserts serialize and neither one's rows are lost.

    `allow_schema_evolution=True` permits add-column evolution in either
    direction (Iceberg's by-name ADD COLUMN, CATALOG.md §4): surviving
    current rows take NULL for columns only the updates carry, and vice
    versa. Left off by default so an accidental column mismatch fails
    loudly instead of silently widening the table.
    """
    for _ in range(max_retries):
        base = _latest_version(root)
        current = None if base is None else read_table(spark, root, schema, base)
        if current is None:
            merged = updates
        else:
            merged = current.join(
                updates.select(*key_cols).distinct(), key_cols, "left_anti"
            ).unionByName(updates, allowMissingColumns=allow_schema_evolution)
        try:
            return _commit_version(merged, root, base, keys=key_cols)
        except CommitConflict:
            continue
    raise CommitConflict(f"{root}: upsert lost {max_retries} commit races")


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------


def repair_partitions(events_dir: str) -> list[str]:
    """Restore partitions orphaned by a crash inside _swap_partition_dir's
    two-rename window: if a `.old_<base>` backup exists with NO live
    `<base>` sibling, the crash happened between the two os.replace calls
    and the backup IS the data — rename it back. Runs automatically at
    the top of every partition listing so the documented crash window
    heals on the next compaction/deletion pass instead of requiring a
    manual rename. A backup WITH a live sibling is superseded data and is
    left for _swap_partition_dir's own pre-clear. Returns repaired dirs."""
    repaired: list[str] = []
    if not os.path.isdir(events_dir):
        return repaired

    def _heal(parent: str) -> None:
        for d in sorted(os.listdir(parent)):
            if not d.startswith(".old_"):
                continue
            backup = os.path.join(parent, d)
            live = os.path.join(parent, d[len(".old_"):])
            if os.path.isdir(backup) and not os.path.exists(live):
                os.replace(backup, live)
                repaired.append(live)

    _heal(events_dir)
    for d in sorted(os.listdir(events_dir)):
        p = os.path.join(events_dir, d)
        if d.startswith("batch=") and os.path.isdir(p):
            _heal(p)
    return repaired


def _partition_dirs(events_dir: str) -> list[str]:
    """Leaf `event_date=` partition dirs in both layouts: directly under
    the table (batch appends) and nested under the streaming sink's
    `batch=<run>_<n>/` replay partitions — compaction bin-packs at the leaf in
    either scheme, preserving the layout (a streaming batch partition is
    never merged across batches, so a checkpoint replay's whole-batch
    overwrite stays a correct rewrite even after compaction)."""
    if not os.path.isdir(events_dir):
        return []
    repair_partitions(events_dir)
    out: list[str] = []
    for d in sorted(os.listdir(events_dir)):
        p = os.path.join(events_dir, d)
        if not os.path.isdir(p):
            continue
        if d.startswith("event_date="):
            out.append(p)
        elif d.startswith("batch="):
            out.extend(
                os.path.join(p, leaf)
                for leaf in sorted(os.listdir(p))
                if leaf.startswith("event_date=")
                and os.path.isdir(os.path.join(p, leaf))
            )
    return out


def compaction_candidates(
    events_dir: str,
    small_file_bytes: int = 8 * 1024 * 1024,
    min_small_files: int = 2,
) -> list[str]:
    """Partitions with >= min_small_files files under small_file_bytes."""
    out = []
    for pdir in _partition_dirs(events_dir):
        parquets = [
            os.path.join(pdir, f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        ]
        small = [p for p in parquets if os.path.getsize(p) < small_file_bytes]
        if len(small) >= min_small_files:
            out.append(pdir)
    return out


def _staged_paths(pdir: str) -> tuple[str, str]:
    """(staged, backup) sibling names for an atomic partition-dir swap.
    Both start with '.' so Spark's partition discovery skips them
    mid-swap — a `<pdir>.delete` suffix sibling WOULD still carry the
    `event_date=` prefix and a concurrent reader could double-read it
    or mis-parse the partition value.

    Why '.', not '_': measured on Spark 4.1 (tests/test_round10.py), a
    LEADING-DOT dir is skipped by partition inference even when its
    name contains '=', while a leading-underscore dir that contains '='
    (e.g. '_old_event_date=2025-03-01') FAILS the whole read with
    CONFLICTING_PARTITION_COLUMN_NAMES — the underscore convention only
    protects plain files and '='-free dir names."""
    parent, base = os.path.split(pdir.rstrip("/"))
    return (
        os.path.join(parent, ".staged_" + base),
        os.path.join(parent, ".old_" + base),
    )


def _swap_partition_dir(pdir: str, staged: str, backup: str) -> None:
    """Two-rename swap: live -> backup, staged -> live, drop backup.

    Crash windows: before the first os.replace nothing changed (staged
    is invisible to readers); between the two replaces ONLY the backup
    exists — no live dir — which is recoverable by renaming
    `.old_<base>` back to the partition name (the backup is never
    deleted until the new dir is in place; repair_partitions() performs
    that rename automatically at the top of every partition listing);
    after the second replace the new data is live and the backup drop
    is best-effort cleanup.

    A PRE-EXISTING backup dir is cleared first: os.replace cannot
    rename onto a non-empty directory, so a backup orphaned by a crash
    AFTER its swap completed (live dir present, rmtree never ran) would
    wedge every later rewrite of the same partition. Clearing is safe
    precisely because the live dir exists here — the backup is
    superseded data; the backup-only crash state (no live dir) never
    reaches this function, since repair_partitions() heals it during
    the caller's partition listing before any swap is attempted."""
    if os.path.isdir(backup):
        shutil.rmtree(backup)
    os.replace(pdir, backup)
    os.replace(staged, pdir)
    shutil.rmtree(backup)


def compact_events(
    spark: SparkSession,
    events_dir: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    small_file_bytes: int = 8 * 1024 * 1024,
    min_small_files: int = 2,
) -> list[str]:
    """Rewrite small-file partitions into ~target-size files, preserving the
    cluster sort. Per-partition rewrite keeps the blast radius of a failed
    compaction to one partition. Returns the rewritten partition dirs.

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
    rewritten = []
    for pdir in compaction_candidates(events_dir, small_file_bytes, min_small_files):
        df = spark.read.parquet(pdir)
        total = sum(
            os.path.getsize(os.path.join(pdir, f))
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )
        n_files = max(1, round(total / target_file_bytes))
        staged, backup = _staged_paths(pdir)
        (
            df.repartition(n_files)
            .sortWithinPartitions("team_id", "distinct_id", "created_at")
            .write.mode("overwrite")
            .parquet(staged)
        )
        _swap_partition_dir(pdir, staged, backup)
        rewritten.append(pdir)
    return rewritten


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
      1. probe — ONE scan of the table filtered to the subject ids,
         projecting `input_file_name()`: the id predicate pushes into
         the parquet reader, and because partitions are cluster-sorted
         with the id in the sort key, row-group min/max stats skip
         most files without reading data. The distinct file list (and
         the exact delete count) come back as a tiny driver result.
      2. rewrite — for each affected LEAF dir only: filtered rewrite
         into a staged `.`-prefixed sibling (invisible to concurrent
         readers) preserving the cluster sort, then the same two-rename
         swap as compact_events. A crash never leaves a MIX of old and
         new rows; the one window between the two renames leaves only
         the `.old_<date>` backup (no live dir), healed automatically
         by repair_partitions() on the next listing pass — see
         _swap_partition_dir. Untouched partitions keep their bytes.

    Callers deleting a PERSON (not a raw id) should first expand to
    all of the person's distinct_ids via the persons table
    (`array_contains(distinct_ids, ...)` — the S13 debug-lookup path).
    Returns (rewritten partition dirs, rows deleted).
    """
    from urllib.parse import urlparse

    # heal any crash-orphaned partition FIRST: rows hidden behind a
    # backup-only dir would otherwise be invisible to the probe scan and
    # the deletion would silently miss them
    repair_partitions(events_dir)
    ids = list(distinct_ids)
    if not ids:
        return [], 0
    pred = F.col(id_col).isin(ids)
    hits = (
        read_events(spark, events_dir)
        .where(pred)
        .select(F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not hits:
        return [], 0
    rows_deleted = sum(r["n"] for r in hits)
    pdirs = sorted({os.path.dirname(urlparse(r["f"]).path) for r in hits})
    keep = ~F.coalesce(pred, F.lit(False))  # null ids are never subjects
    for pdir in pdirs:
        staged, backup = _staged_paths(pdir)
        (
            spark.read.parquet(pdir)
            .where(keep)
            .sortWithinPartitions("team_id", "distinct_id", "created_at")
            .write.mode("overwrite")
            .parquet(staged)
        )
        _swap_partition_dir(pdir, staged, backup)
    return pdirs, int(rows_deleted)
