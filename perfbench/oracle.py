"""Pure-Python references the benchmark checks the engine's outputs against.

Nothing here touches Spark. Expected commands come from the engine's
Python decode/normalize kernel (the same functions its Python tier runs,
row by row, behind a stdlib HMAC check); person state from one sequential
`operators.person_store.PersonStoreReplay` over every op in arrival order;
group state from the same last-writer-wins replay the group fold performs;
flag results from `flags.kernel`; query results from the `plans.ORACLES`
DuckDB SQL.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import hmac
import json

from hogflare_spark.operators.normalize import command_row
from hogflare_spark.operators.person_store import PersonStoreReplay
from hogflare_spark.sources.payload import decode_request_row


def signature_ok(secret: str, body: bytes, header: str | None) -> bool:
    if header is None:
        return False
    algo, _, hexd = header.partition("=")
    if algo != "sha256":
        return False
    want = hmac.new(secret.encode(), body, hashlib.sha256).hexdigest()
    return hmac.compare_digest(want, hexd.strip())


def expected_commands(rows, secret: str | None) -> list[dict]:
    """Raw rows → the command dicts the engine must commit, in arrival
    order. Rows failing the signature check, undecodable rows and items
    that fail normalization are refused (they produce nothing)."""
    out = []
    for r in rows:
        if secret is not None and not signature_ok(secret, r.body, r.sig_posthog):
            continue
        try:
            items, env_api, env_sent = decode_request_row(
                r.endpoint, r.body, r.content_type, r.content_encoding
            )
        except Exception:  # noqa: BLE001 — the engine drops undecodable rows
            continue
        for idx, item in enumerate(items):
            try:
                out.append(
                    command_row(
                        r.endpoint,
                        item,
                        r.request_seq,
                        idx,
                        envelope_api_key=env_api,
                        envelope_sent_at=env_sent,
                        header_api_key=r.header_api_key,
                    )
                )
            except Exception:  # noqa: BLE001 — the engine's error rows are dropped
                continue
    return out


def _person_ops(commands):
    """Python twin of person_state.derive_person_ops, sorted by
    (request_seq, item_index, sub)."""
    ops = []
    for c in commands:
        rseq, item, ts = c["request_seq"], c["item_index"], c["timestamp"]
        eligible = c["alias"] is None and c["skip_person"] == "0"
        if c["alias"] is not None:
            a = json.loads(c["alias"])
            ops.append((rseq, item, 1, "alias", a["distinct_id"], a["alias"], None, ts))
        elif eligible and c["anon_distinct_id"] is not None:
            ops.append((rseq, item, 0, "alias", c["distinct_id"], c["anon_distinct_id"], None, ts))
        if eligible:
            kind = "update" if c["person_update"] is not None else "ensure"
            ops.append((rseq, item, 1, kind, c["distinct_id"], None, c["person_update"], ts))
    ops.sort(key=lambda o: o[:3])
    return ops


def replay_persons(commands) -> dict[str, dict]:
    """canonical_id → comparable person record after replaying every
    command in arrival order through one PersonStoreReplay."""
    store = PersonStoreReplay("perfbench", None)
    for rseq, item, sub, kind, did, alias_id, update, ts in _person_ops(commands):
        op_time = (ts, rseq * 1_000_000 + item * 100 + sub)
        seq = (rseq, item, sub)
        if kind == "alias":
            store.apply_alias(did, alias_id, op_time, seq)
        elif kind == "update":
            store.apply_update(json.loads(update), op_time, seq)
        else:
            store.ensure_person(did, op_time, seq)
    return {
        canonical: person_view(rec.distinct_ids, rec.properties, rec.properties_set_once, rec.version)
        for canonical, rec in store.records.items()
    }


def person_view(distinct_ids, properties, set_once, version) -> dict:
    return {
        "distinct_ids": sorted(distinct_ids),
        "properties": properties,
        "properties_set_once": set_once,
        "version": int(version),
    }


def spark_person_view(row) -> tuple[str, dict]:
    """A persons-table Row (PERSON_SCHEMA, JSON-encoded map values) → the
    same comparable shape as replay_persons."""
    return row["canonical_id"], person_view(
        row["distinct_ids"],
        {k: json.loads(v) for k, v in row["properties"].items()},
        {k: json.loads(v) for k, v in row["properties_set_once"].items()},
        row["version"],
    )


def replay_groups(commands) -> dict[tuple[str, str], dict]:
    """(group_type, group_key) → {"properties", "version"}: the group
    fold's last-writer-wins replay in (request_seq, item_index, sub) order."""
    updates = []
    for c in commands:
        rseq, item = c["request_seq"], c["item_index"]
        if c["group_identify"] is not None:
            gi = json.loads(c["group_identify"])
            if gi["properties"] is not None:
                updates.append((rseq, item, 0, gi["group_type"], gi["group_key"], gi["properties"]))
            continue
        for sub, upd in enumerate(json.loads(c["group_updates"]) if c["group_updates"] else []):
            updates.append((rseq, item, sub, upd["group_type"], upd["group_key"], upd["properties"]))
    updates.sort(key=lambda u: u[:3])
    groups: dict = {}
    for *_, gtype, gkey, props in updates:
        rec = groups.setdefault((gtype, gkey), {"properties": {}, "version": 0})
        rec["version"] += 1
        rec["properties"].update(props)
    return groups


def spark_group_view(row) -> tuple[tuple[str, str], dict]:
    return (row["group_type"], row["group_key"]), {
        "properties": {k: json.loads(v) for k, v in row["properties"].items()},
        "version": int(row["version"]),
    }


def merged_properties(properties: dict, set_once: dict) -> dict:
    """The person store's set/set_once merge (set wins)."""
    merged = dict(properties)
    for k, v in set_once.items():
        merged.setdefault(k, v)
    return merged


def kernel_flag_rows(flags, canonical_id: str, merged: dict) -> dict[str, tuple]:
    """flag_key → (value JSON, payload JSON, reason, condition_index) from
    the per-context kernel, in evaluate_flags_df's text encoding."""
    from hogflare_spark.flags.kernel import FlagContext, evaluate_flags

    ctx = FlagContext(distinct_id=canonical_id, person_properties=merged, groups={}, group_properties={})
    out = {}
    for r in evaluate_flags(flags, ctx):
        payload = None if r.payload is None else json.dumps(r.payload, separators=(",", ":"))
        out[r.key] = (json.dumps(r.value, separators=(",", ":")), payload, r.reason, r.condition_index)
    return out


def kernel_decide_body(flags, canonical_id: str, merged: dict) -> str:
    """The /flags v2 body batch_flag_responses_native must reproduce."""
    from hogflare_spark.flags.kernel import FlagContext, evaluate_flags
    from hogflare_spark.flags.response import flags_response

    ctx = FlagContext(distinct_id=canonical_id, person_properties=merged, groups={}, group_properties={})
    body = flags_response(
        evaluate_flags(flags, ctx), version=2, request_id=f"req-{canonical_id}", evaluated_at_ms=0
    )
    return json.dumps(body, sort_keys=True, separators=(",", ":"))


def _norm_value(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def normalize_rows(rows) -> list[tuple]:
    """Order-insensitive comparable form of a query result."""
    return sorted((tuple(_norm_value(v) for v in r) for r in rows), key=repr)


def duckdb_rows(sql: str, events_parquet: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_parquet}'")
        return con.execute(sql).fetchall()
    finally:
        con.close()
