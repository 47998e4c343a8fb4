"""Normalization: decoded item rows → ingest-command rows.

One row in = one event out, carrying (a) the event projection (the
state-independent columns of the 21-column PipelineEvent) and (b) the state
commands the stateful stages consume (person update / alias / group update
/ hydration requests), exactly as the reference's per-endpoint handlers
compute them:

- event constructors: /root/reference/src/pipeline.rs:186-365
- fluent enrichers (sent_at stash, geo no-overwrite merge):
  /root/reference/src/pipeline.rs:405-433
- browser `/e` normalizer: /root/reference/src/lib.rs:477-678
- batch kind dispatch: /root/reference/src/lib.rs:1447-1592
- update extraction: /root/reference/src/persons.rs:360-456
- group extraction: /root/reference/src/lib.rs:1360-1376

Runs as one Arrow-batched `mapInArrow` pass at the ingest edge (the
reference does this work row-at-a-time in its HTTP layer); it is an
embarrassingly parallel map — no shuffle, no state — so it scales linearly
with input splits. Everything downstream operates on typed columns.
"""

from __future__ import annotations

import json

from hogflare_spark.functions.fastjson import loads as fj_loads
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# pure-Python core (mirrors handler semantics 1:1; unit-testable)
# ---------------------------------------------------------------------------


def _obj(value) -> dict:
    """extract_object (persons.rs:446-450): JSON object or empty."""
    return dict(value) if isinstance(value, dict) else {}


def extract_unset(value) -> list[str]:
    """$unset accepts array-of-strings / object-keys / single string
    (persons.rs:446-456)."""
    if isinstance(value, list):
        return [v for v in value if isinstance(v, str)]
    if isinstance(value, dict):
        return list(value.keys())
    if isinstance(value, str):
        return [value]
    return []


def update_from_capture(distinct_id: str, properties) -> dict | None:
    """properties.$set / .$set_once / .$unset (persons.rs:360-379)."""
    if not isinstance(properties, dict):
        return None
    set_ = _obj(properties.get("$set"))
    set_once = _obj(properties.get("$set_once"))
    unset = extract_unset(properties.get("$unset"))
    if not (set_ or set_once or unset):
        return None
    return {"distinct_id": distinct_id, "set": set_, "set_once": set_once, "unset": unset}


def update_from_identify(distinct_id: str, properties, extra: dict) -> dict | None:
    """$set/$set_once keys if present, else whole properties object is $set;
    extra.$set_once merged in (persons.rs:381-411)."""
    if not isinstance(properties, dict):
        return None
    if "$set" in properties or "$set_once" in properties:
        set_ = _obj(properties.get("$set"))
        set_once = _obj(properties.get("$set_once"))
    else:
        set_ = dict(properties)
        set_once = {}
    extra_set_once = _obj(extra.get("$set_once"))
    if extra_set_once:
        set_once.update(extra_set_once)
    if not (set_ or set_once):
        return None
    return {"distinct_id": distinct_id, "set": set_, "set_once": set_once, "unset": []}


def update_from_engage(distinct_id: str, set_, set_once, unset) -> dict | None:
    """top-level $set/$set_once/$unset (persons.rs:413-430)."""
    s, so, u = _obj(set_), _obj(set_once), extract_unset(unset)
    if not (s or so or u):
        return None
    return {"distinct_id": distinct_id, "set": s, "set_once": so, "unset": u}


def extract_groups(properties) -> dict | None:
    """properties.$groups object (lib.rs:1360-1364).

    Non-string group keys are dropped here: every consumer in the reference
    (slot pivot lib.rs:1378-1391, hydration lib.rs:1393-1411, $group_set
    gating lib.rs:430-450) guards with `value.as_str() else skip`, so
    filtering at extraction is behavior-preserving and lets the downstream
    Spark stages use a plain map<string,string>.
    """
    if isinstance(properties, dict):
        groups = properties.get("$groups")
        if isinstance(groups, dict):
            return {k: v for k, v in groups.items() if isinstance(v, str)}
    return None


def extract_group_set(value) -> dict:
    """$group_set: per-group-type property objects (lib.rs:1366-1376)."""
    out = {}
    if isinstance(value, dict):
        for group_type, props in value.items():
            if isinstance(props, dict):
                out[group_type] = dict(props)
    return out


def group_set_updates(groups: dict | None, group_set: dict) -> list[dict]:
    """The $group_set → GroupUpdate application loop, shared by every
    handler (lib.rs:430-450 et al.): only types present in $groups with a
    string key and non-empty props."""
    updates = []
    if groups:
        for group_type, props in group_set.items():
            group_key = groups.get(group_type)
            if not isinstance(group_key, str):
                continue
            if not isinstance(props, dict) or not props:
                continue
            updates.append(
                {"group_type": group_type, "group_key": group_key, "properties": props}
            )
    return updates


def merge_enrichment(properties, enrichment: dict):
    """with_enrichment (pipeline.rs:414-433): merge request-geo props only
    where the key is absent; non-object properties are left untouched."""
    if not enrichment:
        return properties
    if isinstance(properties, dict):
        out = dict(properties)
        for k, v in enrichment.items():
            out.setdefault(k, v)
        return out
    if properties is None:
        return dict(enrichment)
    return properties


_KNOWN = {
    "capture": {"api_key", "event", "distinct_id", "properties", "timestamp", "context"},
    "identify": {
        "api_key",
        "distinct_id",
        "$anon_distinct_id",
        "properties",
        "timestamp",
        "context",
    },
    "alias": {"api_key", "distinct_id", "alias", "timestamp"},
    "engage": {
        "api_key",
        "distinct_id",
        "$set",
        "$set_once",
        "$unset",
        "$group_set",
        "timestamp",
    },
    "groupidentify": {"api_key", "group_type", "group_key", "properties", "timestamp"},
}


def _split_extra(item: dict, kind: str) -> dict:
    """serde(flatten) capture of unrecognized top-level fields
    (models.rs:19-21 and siblings)."""
    return {k: v for k, v in item.items() if k not in _KNOWN[kind]}


def _command(
    event: str,
    distinct_id: str,
    *,
    timestamp=None,
    properties=None,
    context=None,
    person_properties=None,
    api_key=None,
    extra=None,
    person_update=None,
    alias=None,
    anon_distinct_id=None,
    groups=None,
    group_updates=None,
    group_identify=None,
    skip_person=False,
) -> dict:
    return {
        "event": event,
        "distinct_id": distinct_id,
        "timestamp": timestamp,
        "properties": properties,
        "context": context,
        "person_properties_request": person_properties,
        "api_key": api_key,
        "extra": extra or {},
        "person_update": person_update,
        "alias": alias,
        "anon_distinct_id": anon_distinct_id,
        "groups": groups,
        "group_updates": group_updates or [],
        "group_identify": group_identify,
        "skip_person": skip_person,
    }


def normalize_item(
    endpoint: str,
    item: dict,
    *,
    envelope_api_key: str | None = None,
    header_api_key: str | None = None,
) -> dict:
    """One decoded item → one ingest command (event projection + state ops).

    `endpoint` ∈ capture | e | identify | batch | groups | alias | engage | s.
    Batch items are kind-dispatched by `type`/`event`/shape exactly like
    convert_batch_item (lib.rs:1447-1592).
    """
    if endpoint == "batch":
        return _normalize_batch_item(item, envelope_api_key)
    if endpoint == "e":
        return _normalize_browser(item, header_api_key)
    if endpoint == "s":
        return _normalize_session(item, header_api_key)
    if endpoint in ("capture",):
        return _capture_command(item)
    if endpoint == "identify":
        return _identify_command(item)
    if endpoint == "alias":
        return _alias_command(item)
    if endpoint == "engage":
        return _engage_command(item)
    if endpoint in ("groups", "groupidentify"):
        return _group_identify_command(item)
    raise ValueError(f"unknown endpoint {endpoint!r}")


def _require_str(item: dict, key: str) -> str:
    v = item.get(key)
    if not isinstance(v, str):
        raise ValueError(f"missing {key}")
    return v


def _capture_command(item: dict) -> dict:
    distinct_id = _require_str(item, "distinct_id")
    event = _require_str(item, "event")
    props = item.get("properties")
    return _command(
        event,
        distinct_id,
        timestamp=item.get("timestamp"),
        properties=props,
        context=item.get("context"),
        api_key=item.get("api_key"),
        extra=_split_extra(item, "capture"),
        person_update=update_from_capture(distinct_id, props),
        groups=extract_groups(props),
        group_updates=group_set_updates(
            extract_groups(props),
            extract_group_set(props.get("$group_set")) if isinstance(props, dict) else {},
        ),
    )


def _identify_command(item: dict) -> dict:
    distinct_id = _require_str(item, "distinct_id")
    props = item.get("properties")
    extra = _split_extra(item, "identify")
    anon = item.get("$anon_distinct_id")
    if not isinstance(anon, str):
        anon = None
        if isinstance(props, dict) and isinstance(props.get("$anon_distinct_id"), str):
            anon = props["$anon_distinct_id"]
        elif isinstance(extra.get("$anon_distinct_id"), str):
            anon = extra["$anon_distinct_id"]
    # event properties stay NULL; request properties land in person_properties
    # (pipeline.rs:211-234)
    return _command(
        "$identify",
        distinct_id,
        timestamp=item.get("timestamp"),
        context=item.get("context"),
        person_properties=props,
        api_key=item.get("api_key"),
        extra=extra,
        person_update=update_from_identify(distinct_id, props, extra),
        anon_distinct_id=anon if anon != distinct_id else None,
        groups=extract_groups(props),
    )


def _alias_command(item: dict) -> dict:
    distinct_id = _require_str(item, "distinct_id")
    alias = _require_str(item, "alias")
    extra = _split_extra(item, "alias")
    extra["alias"] = alias  # stash (pipeline.rs:271-297)
    return _command(
        "$create_alias",
        distinct_id,
        timestamp=item.get("timestamp"),
        api_key=item.get("api_key"),
        extra=extra,
        alias={"distinct_id": distinct_id, "alias": alias},
    )


def _engage_command(item: dict) -> dict:
    distinct_id = _require_str(item, "distinct_id")
    extra = _split_extra(item, "engage")
    # $set/$set_once/$unset/$group_set stash into extra (pipeline.rs:299-336)
    for key in ("$set", "$set_once", "$unset", "$group_set"):
        if item.get(key) is not None:
            extra[key] = item[key]
    groups = None
    raw_groups = extra.get("$groups")
    if isinstance(raw_groups, dict):
        groups = {k: v for k, v in raw_groups.items() if isinstance(v, str)}
    group_set = extract_group_set(item.get("$group_set"))
    return _command(
        "$engage",
        distinct_id,
        timestamp=item.get("timestamp"),
        api_key=item.get("api_key"),
        extra=extra,
        person_update=update_from_engage(
            distinct_id, item.get("$set"), item.get("$set_once"), item.get("$unset")
        ),
        groups=groups,
        group_updates=group_set_updates(groups, group_set),
    )


def _group_identify_command(item: dict) -> dict:
    group_type = _require_str(item, "group_type")
    group_key = _require_str(item, "group_key")
    props = item.get("properties")
    extra = _split_extra(item, "groupidentify")
    extra["group_type"] = group_type
    extra["group_key"] = group_key
    return _command(
        "$groupidentify",
        group_key,  # distinct_id := group_key (pipeline.rs:236-269)
        timestamp=item.get("timestamp"),
        properties=props,
        api_key=item.get("api_key"),
        extra=extra,
        group_identify={
            "group_type": group_type,
            "group_key": group_key,
            "properties": dict(props) if isinstance(props, dict) else None,
        },
        skip_person=True,
    )


def _normalize_browser(item: dict, header_api_key: str | None) -> dict:
    """Browser `/e` format (lib.rs:477-678)."""
    api_key = item.get("token") or item.get("api_key") or header_api_key
    props = item.get("properties")
    distinct_id = item.get("distinct_id")
    if not isinstance(distinct_id, str):
        distinct_id = None
        if isinstance(props, dict):
            for k in ("$distinct_id", "distinct_id"):
                if isinstance(props.get(k), str):
                    distinct_id = props[k]
                    break
    event = _require_str(item, "event")

    # the reference rejects a missing distinct_id BEFORE branching on the
    # event kind (lib.rs:528-529) — even $groupidentify, whose emitted
    # event uses group_key as distinct_id, 400s without one
    if distinct_id is None:
        raise ValueError("missing distinct_id")

    if event == "$identify":
        extra = {}
        if item.get("$set_once") is not None:
            extra["$set_once"] = item["$set_once"]
        set_ = item.get("$set")
        return _command(
            "$identify",
            distinct_id,
            timestamp=item.get("timestamp"),
            person_properties=set_,
            api_key=api_key,
            extra=extra,
            person_update=update_from_identify(distinct_id, set_, extra),
            groups=extract_groups(set_),
        )
    if event == "$groupidentify":
        p = props if isinstance(props, dict) else {}
        group_type = p.get("$group_type") if isinstance(p.get("$group_type"), str) else "unknown"
        group_key = p.get("$group_key") if isinstance(p.get("$group_key"), str) else "unknown"
        group_props = p.get("$group_set")
        return _command(
            "$groupidentify",
            group_key,
            timestamp=item.get("timestamp"),
            properties=group_props,
            api_key=api_key,
            extra={"group_type": group_type, "group_key": group_key},
            group_identify={
                "group_type": group_type,
                "group_key": group_key,
                "properties": dict(group_props) if isinstance(group_props, dict) else None,
            },
            skip_person=True,
        )
    return _command(
        event,
        distinct_id,
        timestamp=item.get("timestamp"),
        properties=props,
        api_key=api_key,
        extra={},
        person_update=update_from_capture(distinct_id, props),
        groups=extract_groups(props),
        group_updates=group_set_updates(
            extract_groups(props),
            extract_group_set(props.get("$group_set")) if isinstance(props, dict) else {},
        ),
    )


def _normalize_session(item: dict, header_api_key: str | None) -> dict:
    """`/s` session-recording chunks (lib.rs:1149-1189)."""
    api_key = header_api_key
    if api_key is None and isinstance(item.get("token"), str):
        api_key = item["token"]
    distinct_id = "session-recording"
    data = item.get("data")
    meta_id = None
    if isinstance(data, dict):
        metadata = data.get("metadata")
        if isinstance(metadata, dict) and isinstance(metadata.get("distinct_id"), str):
            meta_id = metadata["distinct_id"]
    if meta_id is not None:
        distinct_id = meta_id
    elif isinstance(item.get("distinct_id"), str):
        distinct_id = item["distinct_id"]
    return _command(
        "$snapshot",
        distinct_id,
        properties=item,  # whole raw payload (pipeline.rs:338-365)
        api_key=api_key,
    )


def _normalize_batch_item(item: dict, envelope_api_key: str | None) -> dict:
    """convert_batch_item (lib.rs:1447-1592)."""
    value = dict(item)
    if value.get("api_key") is None and envelope_api_key is not None:
        value["api_key"] = envelope_api_key

    event_field = value.get("event") if isinstance(value.get("event"), str) else None
    type_field = (
        value.get("type").lower() if isinstance(value.get("type"), str) else None
    )
    has_alias_fields = "alias" in value and "distinct_id" in value

    # NOTE: the `type`/`event` discriminators deliberately stay in the item —
    # the reference's request structs capture unrecognized fields in `extra`
    # via serde(flatten) (models.rs:19-21), so e.g. {"type":"alias"} events
    # carry extra.type = "alias". _split_extra reproduces that per kind.
    if type_field == "identify" or event_field == "$identify":
        return _identify_command(value)
    if type_field in ("groupidentify", "group_identify") or event_field == "$groupidentify":
        return _group_identify_command(value)
    if type_field == "alias" or event_field == "$create_alias" or has_alias_fields:
        return _alias_command(value)
    if type_field == "engage":
        return _engage_command(value)
    return _capture_command(value)


def finalize_extra(extra: dict, sent_at: str | None) -> dict:
    """with_sent_at (pipeline.rs:405-412): $sent_at into extra, no overwrite."""
    if sent_at is not None and "$sent_at" not in extra:
        out = dict(extra)
        out["$sent_at"] = sent_at
        return out
    return extra


# ---------------------------------------------------------------------------
# Spark wrapper
# ---------------------------------------------------------------------------

COMMAND_SCHEMA = StructType(
    [
        StructField("request_seq", LongType(), False),
        StructField("item_index", LongType(), False),
        StructField("event", StringType(), True),
        StructField("distinct_id", StringType(), True),
        StructField("timestamp", StringType(), True),
        StructField("properties", StringType(), True),  # JSON
        StructField("context", StringType(), True),  # JSON
        StructField("person_properties_request", StringType(), True),  # JSON
        StructField("api_key", StringType(), True),
        StructField("extra", StringType(), True),  # JSON (with $sent_at folded in)
        StructField("person_update", StringType(), True),  # JSON PersonUpdate
        StructField("alias", StringType(), True),  # JSON PersonAlias
        StructField("anon_distinct_id", StringType(), True),
        StructField("groups", StringType(), True),  # JSON map type→key
        StructField("group_updates", StringType(), True),  # JSON list of GroupUpdate
        StructField("group_identify", StringType(), True),  # JSON GroupUpdate-ish
        StructField("skip_person", StringType(), True),  # "1"/"0"
        StructField("error", StringType(), True),
    ]
)


def _dumps(v) -> str | None:
    return None if v is None else json.dumps(v, separators=(",", ":"))


def command_row(
    endpoint: str,
    item: dict,
    request_seq: int,
    item_index: int,
    *,
    envelope_api_key: str | None = None,
    envelope_sent_at: str | None = None,
    header_api_key: str | None = None,
    header_sent_at: object | None = None,
    geo_json: str | None = None,
    ip: str | None = None,
) -> dict:
    """One decoded item → one COMMAND_SCHEMA row dict (error=None).

    Raises on malformed items (callers record an error row / drop)."""
    cmd = normalize_item(
        endpoint,
        item,
        envelope_api_key=envelope_api_key,
        header_api_key=header_api_key,
    )
    # api-key defaulting from header (extractors.rs:70-80)
    if cmd["api_key"] is None and header_api_key is not None:
        cmd["api_key"] = header_api_key

    # enrichment: $ip + geo bag merged into properties where
    # absent (extractors.rs:82-178, pipeline.rs:414-433)
    enrichment: dict = {}
    if isinstance(geo_json, str):
        enrichment.update(fj_loads(geo_json))
    if isinstance(ip, str):
        enrichment.setdefault("$ip", ip)
    props = merge_enrichment(cmd["properties"], enrichment)

    # sent_at: envelope wins over header (extractors.rs:248-250)
    sent_at = None
    if envelope_sent_at:
        sent_at = envelope_sent_at
    elif header_sent_at is not None:
        sent_at = (
            header_sent_at.isoformat()
            if hasattr(header_sent_at, "isoformat")
            else str(header_sent_at)
        )
    extra = finalize_extra(cmd["extra"], sent_at)

    return {
        "request_seq": request_seq,
        "item_index": item_index,
        "event": cmd["event"],
        "distinct_id": cmd["distinct_id"],
        "timestamp": item.get("timestamp")
        if isinstance(item.get("timestamp"), str)
        else None,
        "properties": _dumps(props),
        "context": _dumps(cmd["context"]),
        "person_properties_request": _dumps(cmd["person_properties_request"]),
        "api_key": cmd["api_key"],
        "extra": _dumps(extra) if extra else None,
        "person_update": _dumps(cmd["person_update"]),
        "alias": _dumps(cmd["alias"]),
        "anon_distinct_id": cmd["anon_distinct_id"],
        "groups": _dumps(cmd["groups"]),
        "group_updates": _dumps(cmd["group_updates"]) if cmd["group_updates"] else None,
        "group_identify": _dumps(cmd["group_identify"]),
        "skip_person": "1" if cmd["skip_person"] else "0",
        "error": None,
    }


def command_error_row(request_seq, item_index, ex: Exception) -> dict:
    row = {f.name: None for f in COMMAND_SCHEMA.fields}
    row["request_seq"] = request_seq
    row["item_index"] = item_index
    row["error"] = f"{type(ex).__name__}: {ex}"
    return row


def fast_capture_path(raw: DataFrame, *_):
    """Eligibility for a JVM decode tier that no longer exists: no row takes
    it, so perfbench's traced `normalize.jvm_tier_ratio` reads 0.0. Kept
    only because perfbench's tracer calls it; drop both together."""
    return (F.lit(False),)


def decode_normalize_requests(raw: DataFrame) -> DataFrame:
    """Fused decode + normalize: raw request rows → COMMAND_SCHEMA rows
    (without `error`).

    One path for every request: `fan_out` (batch input only), then one
    `mapInArrow` of the kernel below — `payload.decode_request_row`, then
    `command_row` per item — then a filter on `error IS NULL`. A request
    the reference 4xxes gives no row; an item that fails to normalize
    gives an error row, which the filter drops.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from hogflare_spark.operators.partitioning import fan_out
    from hogflare_spark.sources.payload import decode_request_row

    opt_cols = ("content_type", "content_encoding", "header_api_key",
                "header_sent_at", "geo_json", "ip")
    present = [c for c in opt_cols if c in raw.columns]
    out_schema = to_arrow_schema(COMMAND_SCHEMA)

    def _run(batches: Iterator[Any]) -> Iterator[Any]:
        for batch in batches:
            out_rows = []
            for r in batch.to_pylist():
                b = r["body"]
                try:
                    raw_bytes = (
                        b if isinstance(b, (bytes, bytearray)) else str(b).encode()
                    )
                    items, env_api, env_sent = decode_request_row(
                        r["endpoint"],
                        raw_bytes,
                        r.get("content_type"),
                        r.get("content_encoding"),
                    )
                except Exception:  # noqa: BLE001 — reference 4xxes malformed rows
                    continue
                for idx, item in enumerate(items):
                    try:
                        out_rows.append(
                            command_row(
                                r["endpoint"],
                                item,
                                r["request_seq"],
                                idx,
                                envelope_api_key=env_api,
                                envelope_sent_at=env_sent,
                                header_api_key=r.get("header_api_key"),
                                header_sent_at=r.get("header_sent_at"),
                                geo_json=r.get("geo_json"),
                                ip=r.get("ip"),
                            )
                        )
                    except Exception as ex:  # noqa: BLE001
                        out_rows.append(command_error_row(r["request_seq"], idx, ex))
            yield pa.RecordBatch.from_pylist(out_rows, schema=out_schema)

    req = raw.select("request_seq", "endpoint", "body", *present)
    if not req.isStreaming:
        req = fan_out(req)
    mapped = req.mapInArrow(_run, COMMAND_SCHEMA)
    return mapped.where(F.col("error").isNull()).drop("error")
