"""Pure-Python person store replay — the per-component kernel.

An exact behavioral mirror of the reference's MemoryPersonStore
(/root/reference/src/persons.rs:219-358) and PersonRecord fold semantics
(persons.rs:55-121):

- apply_update: ensure distinct_id, version+1, $set overwrites, $set_once
  writes only when the key is in neither map, $unset removes from both
- apply_alias: resolve both sides through redirects, no-op when equal,
  get-or-create both records, merge(primary=distinct_id side, secondary=
  alias side) — union distinct_ids, min created_at, primary wins property
  conflicts, set_once first-wins, version+1 — then repoint all secondary
  ids (+ alias + secondary canonical) at the primary
- ensure_person: get-or-create + ensure distinct_id
- resolve: chase redirects (≤10 hops)

This kernel runs inside `applyInPandas` per identity component (see
person_state.py) — each component is one human's identity cluster, so the
state here is tiny; Spark shuffles ops to the component's partition and
the kernel replays them in arrival order, which is exactly the per-key
serialization the reference gets from Durable Objects (persons.rs:488-541).

Determinism (documented divergences, SURVEY.md §7.5): person uuid is
md5-derived from (component, creating distinct_id, creation seq) instead
of uuid4; created_at is the creating op's event time (falling back to a
seq-derived synthetic instant) instead of wall-clock now(); sequential ids
are assigned post-hoc from allocation order (SURVEY.md §7.4.3).
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timedelta, timezone

_SYNTHETIC_EPOCH = datetime(2000, 1, 1, tzinfo=timezone.utc)
# seq values below this map to epoch-relative MILLISECONDS (the
# historical mapping — every fixture/oracle value at sf <= 0.1 is
# unchanged); above it, the tail maps to MICROSECONDS. Still strictly
# monotonic and injective, but 1000x denser past the boundary, so
# large-id traffic (seq up to ~2.4e17, i.e. event ids < ~2.4e11) stays
# inside datetime's year-9999 range instead of overflowing (observed at
# the sf1 scale probe: event ids ~9e8 -> seq_linear ~9e14 ms ≈ year
# 30,000 -> OverflowError in the fold kernel).
SYNTH_COMPRESS_AFTER = 10_000_000_000_000  # 1e13 ms ≈ year 2316


def synthetic_time(seq: int) -> datetime:
    if seq < SYNTH_COMPRESS_AFTER:
        return _SYNTHETIC_EPOCH + timedelta(milliseconds=seq)
    return _SYNTHETIC_EPOCH + timedelta(
        milliseconds=SYNTH_COMPRESS_AFTER,
        microseconds=seq - SYNTH_COMPRESS_AFTER,
    )


def synth_time_expr(seq_linear):
    """Spark column twin of synthetic_time, piecewise boundary included:
    milliseconds below SYNTH_COMPRESS_AFTER, microseconds past it (keeps
    64-bit-scale seq values inside timestamp range and bit-identical with
    the kernel's datetimes). Events take their `created_at` from it, so
    event and person timestamps agree."""
    from pyspark.sql import functions as F

    epoch_ms = int(_SYNTHETIC_EPOCH.timestamp() * 1000)
    boundary_us = (epoch_ms + SYNTH_COMPRESS_AFTER) * 1000
    return F.when(
        seq_linear < F.lit(SYNTH_COMPRESS_AFTER),
        F.timestamp_millis(seq_linear + F.lit(epoch_ms)),
    ).otherwise(
        F.timestamp_micros(seq_linear - F.lit(SYNTH_COMPRESS_AFTER) + F.lit(boundary_us))
    )


def parse_event_time(value: str | None, fallback_seq: int) -> datetime:
    """ISO timestamp (UTC default) else synthetic_time(fallback_seq)."""
    if value:
        try:
            ts = datetime.fromisoformat(value.replace("Z", "+00:00"))
            if ts.tzinfo is None:
                from datetime import timezone

                ts = ts.replace(tzinfo=timezone.utc)
            return ts
        except ValueError:
            pass
    return synthetic_time(fallback_seq)


def _resolve_time(op_time):
    """Replay ops pass (timestamp_str, seq_linear) so the ISO/synthetic
    parse runs ONLY when a record is actually created — per-op eager
    parsing measured ~10% of the whole replay kernel while the value is
    consumed once per person, not once per op."""
    if type(op_time) is tuple:
        return parse_event_time(op_time[0], op_time[1])
    return op_time


def deterministic_uuid(*parts) -> str:
    digest = hashlib.md5("\x1f".join(str(p) for p in parts).encode()).hexdigest()
    return (
        f"{digest[0:8]}-{digest[8:12]}-{digest[12:16]}-{digest[16:20]}-{digest[20:32]}"
    )


class PersonRecord:
    __slots__ = (
        "team_id",
        "uuid",
        "created_at",
        "version",
        "distinct_ids",
        "properties",
        "properties_set_once",
        "alloc_seq",
        "prior_id",  # sequential id carried from seeded (prior-state) records
    )

    def __init__(self, distinct_id: str, team_id, created_at: datetime, uuid: str):
        self.team_id = team_id
        self.uuid = uuid
        self.created_at = created_at
        self.version = 0
        self.distinct_ids: list[str] = []
        self.properties: dict = {}
        self.properties_set_once: dict = {}
        self.alloc_seq: tuple | None = None  # set on first touch (id allocation)
        self.prior_id: int | None = None
        self.ensure_distinct_id(distinct_id)

    def ensure_distinct_id(self, distinct_id: str) -> None:
        if distinct_id not in self.distinct_ids:
            self.distinct_ids.append(distinct_id)

    def apply_update(self, update: dict) -> None:
        # persons.rs:55-74
        self.ensure_distinct_id(update["distinct_id"])
        self.version += 1
        for k, v in update.get("set", {}).items():
            self.properties[k] = v
        for k, v in update.get("set_once", {}).items():
            if k in self.properties or k in self.properties_set_once:
                continue
            self.properties_set_once[k] = v
        for k in update.get("unset", []):
            self.properties.pop(k, None)
            self.properties_set_once.pop(k, None)

    @staticmethod
    def merge(primary: "PersonRecord", secondary: "PersonRecord") -> "PersonRecord":
        # persons.rs:76-110 — asymmetric: primary wins
        merged = primary.clone()
        for did in secondary.distinct_ids:
            if did not in merged.distinct_ids:
                merged.distinct_ids.append(did)
        if secondary.created_at < merged.created_at:
            merged.created_at = secondary.created_at
        if merged.team_id is None:
            merged.team_id = secondary.team_id
        for k, v in secondary.properties.items():
            if k not in merged.properties:
                merged.properties[k] = v
        for k, v in secondary.properties_set_once.items():
            if k in merged.properties or k in merged.properties_set_once:
                continue
            merged.properties_set_once[k] = v
        # merged keeps the primary record's identity (incl. its sequential
        # id — persons.rs:76-110 mutates the primary in place); clone()
        # already carried primary.prior_id, so nothing from secondary.
        merged.version += 1
        return merged

    def merged_properties(self) -> dict:
        # persons.rs:112-121 — set wins over set_once
        out = dict(self.properties)
        for k, v in self.properties_set_once.items():
            if k not in out:
                out[k] = v
        return out

    def clone(self) -> "PersonRecord":
        c = PersonRecord.__new__(PersonRecord)
        c.team_id = self.team_id
        c.uuid = self.uuid
        c.created_at = self.created_at
        c.version = self.version
        c.distinct_ids = list(self.distinct_ids)
        c.properties = dict(self.properties)
        c.properties_set_once = dict(self.properties_set_once)
        c.alloc_seq = self.alloc_seq
        c.prior_id = self.prior_id
        return c


class PersonStoreReplay:
    """MemoryPersonStore replayed deterministically within one component."""

    def __init__(self, component: str, team_id=None):
        self.component = component
        self.team_id = team_id
        self.records: dict[str, PersonRecord] = {}
        self.redirects: dict[str, str] = {}
        # (uuid, alloc_seq) per id allocation, in order — including records
        # later merged away (the reference's counter skips those ids too,
        # persons.rs:251-253)
        self.alloc_events: list[tuple[str, tuple]] = []

    def resolve(self, distinct_id: str) -> str:
        # persons.rs:237-249 — ≤10 hops
        current = distinct_id
        hops = 0
        while current in self.redirects:
            current = self.redirects[current]
            hops += 1
            if hops > 10:
                break
        return current

    def _get_or_create(self, canonical: str, op_time, seq: tuple) -> PersonRecord:
        record = self.records.get(canonical)
        if record is None:
            record = PersonRecord(
                canonical,
                self.team_id,
                _resolve_time(op_time),
                deterministic_uuid(self.component, canonical, *seq),
            )
            self.records[canonical] = record
        if record.alloc_seq is None:
            record.alloc_seq = seq
            self.alloc_events.append((record.uuid, seq))
        return record

    def apply_update(self, update: dict, op_time: datetime, seq: tuple):
        # persons.rs:259-279
        canonical = self.resolve(update["distinct_id"])
        record = self._get_or_create(canonical, op_time, (*seq, 0))
        record.apply_update(update)
        if canonical != update["distinct_id"]:
            self.redirects[update["distinct_id"]] = canonical
        return canonical, record

    def ensure_person(self, distinct_id: str, op_time: datetime, seq: tuple):
        # persons.rs:328-348
        canonical = self.resolve(distinct_id)
        record = self._get_or_create(canonical, op_time, (*seq, 0))
        record.ensure_distinct_id(distinct_id)
        if canonical != distinct_id:
            self.redirects[distinct_id] = canonical
        return canonical, record

    def apply_alias(self, distinct_id: str, alias: str, op_time: datetime, seq: tuple):
        # persons.rs:281-326
        primary_id = self.resolve(distinct_id)
        secondary_id = self.resolve(alias)

        if primary_id == secondary_id:
            return primary_id, self.records.get(primary_id)

        primary = self.records.get(primary_id)
        if primary is None or self.records.get(secondary_id) is None:
            op_time = _resolve_time(op_time)
        if primary is None:
            primary = PersonRecord(
                primary_id,
                self.team_id,
                op_time,
                deterministic_uuid(self.component, primary_id, *seq, "p"),
            )
        else:
            primary = primary.clone()
        if primary.alloc_seq is None:
            primary.alloc_seq = (*seq, 0)
            self.alloc_events.append((primary.uuid, (*seq, 0)))
        primary.ensure_distinct_id(distinct_id)

        secondary = self.records.get(secondary_id)
        if secondary is None:
            secondary = PersonRecord(
                secondary_id,
                self.team_id,
                op_time,
                deterministic_uuid(self.component, secondary_id, *seq, "s"),
            )
        else:
            secondary = secondary.clone()
        if secondary.alloc_seq is None:
            secondary.alloc_seq = (*seq, 1)
            self.alloc_events.append((secondary.uuid, (*seq, 1)))

        merged = PersonRecord.merge(primary, secondary)
        self.records[primary_id] = merged
        self.records.pop(secondary_id, None)

        self.redirects[secondary_id] = primary_id
        self.redirects[alias] = primary_id
        for did in merged.distinct_ids:
            if did != primary_id:
                self.redirects[did] = primary_id
        return primary_id, merged

    def get_snapshot(self, distinct_id: str):
        canonical = self.resolve(distinct_id)
        return canonical, self.records.get(canonical)

    def load_record(self, canonical: str, payload: dict) -> None:
        """Seed prior state (streaming incremental folds): reconstruct a
        record exactly as the previous micro-batch persisted it. The
        sentinel alloc_seq marks the id as already allocated, so no new
        allocation event is emitted and the stored sequential id survives
        via prior_id."""
        record = PersonRecord.__new__(PersonRecord)
        record.team_id = payload.get("team_id", self.team_id)
        record.uuid = payload["uuid"]
        record.created_at = datetime.fromisoformat(payload["created_at"])
        record.version = int(payload["version"])
        record.distinct_ids = list(payload["distinct_ids"])
        record.properties = {k: json.loads(v) for k, v in payload["properties"].items()}
        record.properties_set_once = {
            k: json.loads(v) for k, v in payload["properties_set_once"].items()
        }
        record.alloc_seq = (-1, -1, -1, -1)
        record.prior_id = payload.get("id")
        self.records[canonical] = record
        for did in record.distinct_ids:
            if did != canonical:
                self.redirects[did] = canonical


def snapshot_fields(record: PersonRecord | None):
    """person_fields (lib.rs:1347-1358)."""
    if record is None:
        return None, None, None
    return (
        record.uuid,
        record.created_at,
        json.dumps(record.merged_properties(), separators=(",", ":")),
    )
