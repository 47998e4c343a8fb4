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

Runs as one Arrow-batched `mapInPandas` pass at the ingest edge (the
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


# ---------------------------------------------------------------------------
# JVM fast path: plain single-object capture JSON, no Python boundary
# ---------------------------------------------------------------------------

# printable ASCII minus backslash (\x5C): no escape sequences, no unicode —
# Jackson's compact re-serialization is then byte-identical to Python's
# json.dumps(..., separators=(",",":"), ensure_ascii=True)
_FAST_SAFE_BODY_RE = r"^[\x20-\x5B\x5D-\x7E]*$"
# any digit followed by '.', 'e' or 'E': floats / exponents re-serialize
# differently in Java (1.23456785E7) than Python (12345678.5) — fall back.
# Over-matches inside string values (e.g. ISO timestamps); that only costs
# the fast path, never correctness.
_FAST_FLOATY_RE = r"[0-9][.eE]"
# $unset as a strict all-string JSON array (Jackson-compact form)
_FAST_UNSET_RE = r'^\[\]$|^\["[^"]*"(,"[^"]*")*\]$'
# $groups as a strict string→string JSON object (Jackson-compact form)
_FAST_GROUPS_RE = r'^\{\}$|^\{"[^"]*":"[^"]*"(,"[^"]*":"[^"]*")*\}$'
# group-type keys must survive a get_json_object bracket path + inline JSON
_FAST_KEY_RE = r"^[0-9A-Za-z_.:@ -]*$"

_FAST_KNOWN_CAPTURE = ("api_key", "event", "distinct_id", "properties", "timestamp", "context")

# group_set_updates (lib.rs:430-450) as a SQL lambda over the $group_set
# keys: type present in $groups + non-empty object props → one update entry
_FAST_GROUP_UPDATES_EXPR = """
CASE WHEN __gset IS NULL THEN NULL ELSE (
  SELECT CASE WHEN size(e) > 0
              THEN concat('[', array_join(e, ','), ']') END
  FROM (SELECT filter(
    transform(json_object_keys(__gset), k ->
      CASE WHEN get_json_object(__groups, concat('$[''', k, ''']')) IS NOT NULL
            AND get_json_object(__gset, concat('$[''', k, ''']')) LIKE '{%'
            AND get_json_object(__gset, concat('$[''', k, ''']')) != '{}'
      THEN concat('{"group_type":"', k,
                  '","group_key":"',
                  get_json_object(__groups, concat('$[''', k, ''']')),
                  '","properties":',
                  get_json_object(__gset, concat('$[''', k, ''']')), '}')
      END),
    x -> x IS NOT NULL) AS e)
) END
"""


# fast_capture_path output memo: building the ~200-node eligibility /
# command Column trees costs ~0.2 s of pure py4j round trips per call
# (measured r9), paid once per decode. The trees are UNRESOLVED
# expressions — they depend only on body_col and on WHICH optional
# columns exist (through opt()), never on the specific frame — so they
# are reusable across frames. Keyed additionally on applicationId so a
# restarted session (new JVM state) never sees stale py4j handles.
_FCP_MEMO: dict = {}


def fast_capture_path(raw: DataFrame, body_col: str = "body"):
    opt_cols = (
        "content_type",
        "content_encoding",
        "header_api_key",
        "header_sent_at",
        "geo_json",
        "ip",
    )
    key = (
        raw.sparkSession.sparkContext.applicationId,
        body_col,
        tuple(c for c in opt_cols if c in raw.columns),
    )
    hit = _FCP_MEMO.get(key)
    if hit is None:
        hit = _FCP_MEMO[key] = _fast_capture_path(raw, body_col)
    return hit


def _fast_capture_path(raw: DataFrame, body_col: str = "body"):
    """(eligibility Column over `raw`, fast COMMAND-frame builder).

    The JVM expression twin of `command_row` for the dominant wire shape:
    an uncompressed single-object JSON `/capture` body (the overwhelming
    majority of real SDK traffic — reference extractors.rs:508-540 object
    branch + pipeline.rs:186-209). Rows that pass eligibility produce
    byte-identical COMMAND_SCHEMA rows to the Python kernel without
    crossing the Python boundary; everything else falls back.

    Eligibility is deliberately conservative — each guard exists because
    the fallback differs:
    - ASCII-printable, backslash-free body: Python escapes non-ASCII
      (ensure_ascii) where Jackson doesn't;
    - no digit followed by [.eE]: Java doubles re-serialize in E-notation;
    - `try_parse_json` non-null: rejects invalid JSON AND duplicate keys
      at any depth (Python keeps the last duplicate, Jackson the first);
    - top-level keys ⊆ the capture struct: serde(flatten) `extra` capture
      stays empty, so no unknown-field stash is needed;
    - distinct_id/event JSON strings (variant check — get_json_object
      can't distinguish `"5"` from `5`), timestamp/api_key string-or-
      absent, properties/context object-or-absent (context also array);
    - $unset a strict string array; $groups a strict string map.
    """
    cols = raw.columns

    def opt(name):
        return F.col(name) if name in cols else F.lit(None).cast("string")

    body = F.col(body_col).cast("string")
    vb = F.try_parse_json(body)

    def vjson(path):
        # raw JSON text of a subtree INCLUDING string quotes — type probe
        # only (variant re-serialization reorders object keys)
        return F.to_json(F.try_variant_get(vb, path, "variant"))

    did_v = vjson("$.distinct_id")
    event_v = vjson("$.event")
    ts_v = vjson("$.timestamp")
    api_v = vjson("$.api_key")
    ctx_v = vjson("$.context")
    props_v = vjson("$.properties")
    groups_v = vjson("$['properties']['$groups']")

    # Single-parse nested-path extracts: GetJsonObject re-parses its
    # input per evaluation and interpreted Filter does no subexpression
    # elimination, so chaining get_json_object(get_json_object(body,…))
    # doubles the parse count per probe. One bracket path = one parse.
    unset_raw = F.get_json_object(body, "$['properties']['$unset']")
    groups_raw = F.get_json_object(body, "$['properties']['$groups']")
    gset_raw = F.get_json_object(body, "$['properties']['$group_set']")
    keys = F.json_object_keys(body)
    # keys flattened to ONE parse + string compares (the array equality
    # form re-evaluated json_object_keys per comparison). A key name
    # containing a comma could only produce a false join-collision in
    # combination with a body the canonical regex already rejects.
    keys_join = F.array_join(keys, ",")

    ctype = F.lower(F.coalesce(opt("content_type"), F.lit("")))
    # guards shared by both eligibility lanes (cheap: column null checks,
    # substring scans, three regex passes, ONE variant parse)
    common = (
        (F.col("endpoint") == "capture")
        & opt("content_encoding").isNull()
        & ~ctype.contains("form")
        & opt("header_sent_at").isNull()
        & opt("geo_json").isNull()
        & opt("ip").isNull()
        & body.isNotNull()
        & body.rlike(_FAST_SAFE_BODY_RE)
        & ~body.rlike(_FAST_FLOATY_RE)
        & ~body.startswith("data=")
        & vb.isNotNull()
        # no keys-non-null guard needed: a non-object body nulls the
        # keys probes of BOTH lanes, and null & / | propagation already
        # lands the row on the slow path via the final coalesce(False)
    )
    # strict shapes for the three special properties keys, checked only
    # when the key's text appears anywhere in the body (SAFE bodies have
    # no escapes, so the substring can only be a real key — possibly
    # nested, in which case the top-level extract is null and the lane
    # conservatively fails over to the deep probes)
    special_ok = (
        F.when(
            body.contains('"$unset"'), unset_raw.rlike(_FAST_UNSET_RE)
        ).otherwise(F.lit(True))
        & F.when(
            body.contains('"$groups"'),
            groups_raw.rlike(_FAST_GROUPS_RE)
            & F.coalesce(
                F.forall(F.json_object_keys(groups_raw), lambda k: k.rlike(_FAST_KEY_RE)),
                F.lit(True),
            ),
        ).otherwise(F.lit(True))
        & F.when(
            body.contains('"$group_set"'),
            F.coalesce(
                F.forall(F.json_object_keys(gset_raw), lambda k: k.rlike(_FAST_KEY_RE)),
                F.lit(True),  # non-object $group_set → no updates either way
            ),
        ).otherwise(F.lit(True))
    )
    # CANONICAL LANE — the machine-generated SDK shape, which dominates
    # real capture traffic: exactly {"event":"…","distinct_id":"…"
    # [,"properties":{…}]} in that key order. One anchored regex proves
    # the key order and that event/distinct_id are strings (SAFE bodies
    # cannot hide quotes in values); exact-key-set equality on
    # json_object_keys (doc order preserved) closes the regex's one hole
    # (a trailing top-level key whose value ends in "}}"). Rows in this
    # lane skip the SEVEN variant-serialization probes of the deep lane —
    # at 10^11 rows the per-row probe count IS the ingest cost.
    lane = (
        body.rlike(
            r'^\{"event":"[^"]*","distinct_id":"[^"]*"(,"properties":\{.*\})?\}$'
        )
        & keys_join.isin("event,distinct_id,properties", "event,distinct_id")
        & special_ok
    )
    # DEEP LANE — any other key order/optional-field combination, via the
    # full variant type probes.
    deep = (
        F.forall(keys, lambda k: k.isin(*_FAST_KNOWN_CAPTURE))
        & did_v.isNotNull()
        & did_v.startswith('"')
        & event_v.isNotNull()
        & event_v.startswith('"')
        & (ts_v.isNull() | ts_v.startswith('"'))
        & (api_v.isNull() | api_v.startswith('"'))
        & (ctx_v.isNull() | ctx_v.startswith("{") | ctx_v.startswith("["))
        & (props_v.isNull() | props_v.startswith("{"))
        & (unset_raw.isNull() | unset_raw.rlike(_FAST_UNSET_RE))
        & (groups_v.isNull() | (groups_v.startswith("{") & groups_raw.rlike(_FAST_GROUPS_RE)))
        & (
            gset_raw.isNull()
            | F.coalesce(
                F.forall(F.json_object_keys(gset_raw), lambda k: k.rlike(_FAST_KEY_RE)),
                F.lit(True),
            )
        )
        & F.coalesce(
            F.forall(F.json_object_keys(groups_raw), lambda k: k.rlike(_FAST_KEY_RE)),
            F.lit(True),
        )
    )
    eligible = common & (lane | deep)

    def _staged(fast_raw: DataFrame, keep: list[str]) -> DataFrame:
        # TWO Jackson parses per row via json_tuple (one per nesting
        # level) instead of ~15 independent get_json_object probes —
        # JsonTuple streams the document once and emits every requested
        # field, with the same extraction semantics as get_json_object
        # (strings unquoted, objects/arrays as raw compact text, missing
        # → null). The remaining json_object_keys calls parse only the
        # small $set/$set_once fragments. `keep` columns pass through
        # untouched (the under-parallel lane carries the raw row + flag
        # alongside the command projection so ONE checkpoint pass serves
        # both branches); they must not collide with COMMAND_SCHEMA
        # names.
        jt1 = fast_raw.select(
            "*",
            F.json_tuple(
                body, "event", "distinct_id", "timestamp", "api_key",
                "context", "properties",
            ).alias("__ev", "__did", "__ts", "__api", "__ctx", "__props"),
        )
        jt2 = jt1.select(
            "*",
            F.json_tuple(
                F.col("__props"), "$set", "$set_once", "$unset", "$groups",
                "$group_set",
            ).alias("__set", "__so", "__unset", "__fgroups", "__fgset"),
        )
        set_raw = F.col("__set")
        so_raw = F.col("__so")
        # _obj() twin: object passthrough, anything else (incl. absent) → {}
        s_out = F.when(F.json_object_keys(set_raw).isNotNull(), set_raw).otherwise(F.lit("{}"))
        so_out = F.when(F.json_object_keys(so_raw).isNotNull(), so_raw).otherwise(F.lit("{}"))
        unset_out = F.coalesce(F.col("__unset"), F.lit("[]"))
        did = F.col("__did")
        person_update = F.when(
            (s_out != "{}") | (so_out != "{}") | (unset_out != "[]"),
            F.concat(
                F.lit('{"distinct_id":"'), did,
                F.lit('","set":'), s_out,
                F.lit(',"set_once":'), so_out,
                F.lit(',"unset":'), unset_out,
                F.lit("}"),
            ),
        )

        staged = jt2.select(
            *keep,
            F.col("request_seq").cast("long").alias("request_seq"),
            F.lit(0).cast("long").alias("item_index"),
            F.col("__ev").alias("event"),
            did.alias("distinct_id"),
            F.col("__ts").alias("timestamp"),
            F.col("__props").alias("properties"),
            F.col("__ctx").alias("context"),
            F.lit(None).cast("string").alias("person_properties_request"),
            F.coalesce(F.col("__api"), opt("header_api_key")).alias("api_key"),
            F.lit(None).cast("string").alias("extra"),
            person_update.alias("person_update"),
            F.lit(None).cast("string").alias("alias"),
            F.lit(None).cast("string").alias("anon_distinct_id"),
            F.col("__fgroups").alias("groups"),
            F.col("__fgroups").alias("__groups"),
            F.col("__fgset").alias("__gset"),
            F.lit(None).cast("string").alias("group_identify"),
            F.lit("0").alias("skip_person"),
        )
        return staged.withColumn(
            "group_updates", F.expr(_FAST_GROUP_UPDATES_EXPR)
        ).select(
            *keep, *[f.name for f in COMMAND_SCHEMA.fields if f.name != "error"]
        )

    def build(fast_raw: DataFrame) -> DataFrame:
        return _staged(fast_raw, [])

    return eligible, build, _staged


def decode_normalize_requests(
    raw: DataFrame, body_col: str = "body", fast_path: bool = True
) -> DataFrame:
    """Fused decode + normalize: raw request rows → COMMAND_SCHEMA rows.

    Two-tier execution:

    1. **JVM tier** (`fast_capture_path`): plain single-object capture
       JSON — the hot shape — handled entirely by Catalyst expressions
       (`get_json_object` projections). No Python boundary, whole-stage
       codegen applies, and the Python-worker cost that multiplies by
       10^11 rows at 100 TB disappears for the majority of traffic.
    2. **Python tier**: everything else (form/base64/gzip/batch/browser/
       session/exotic JSON) through the Arrow-batched kernel below —
       `payload.decode_request_row` then `command_row` per item, in ONE
       Arrow pass.

    The split is two filters over the same scan (columnar parquet read of
    the body column twice in the worst case — still far cheaper than one
    Python pass over everything). For under-parallel batch inputs (one
    small parquet file = one scan partition) the split instead runs over
    an eagerly checkpointed fan-out with eligibility evaluated ONCE as a
    projected flag — see the inline comment. `fast_path=False` forces
    everything through the Python kernel; tests/test_payload_decode.py
    asserts the two tiers produce identical rows on eligible bodies.
    """
    from hogflare_spark.sources.payload import decode_request_row

    opt_cols = ("content_type", "content_encoding", "header_api_key",
                "header_sent_at", "geo_json", "ip")
    present = {c for c in raw.columns if c in opt_cols}

    def _opt(r: dict, name: str):
        return r.get(name) if name in present else None

    def _run(batches: Iterator[Any]) -> Iterator[Any]:
        import pandas as pd

        cols = [f.name for f in COMMAND_SCHEMA.fields]
        for pdf in batches:
            out_rows = []
            for row in pdf.itertuples(index=False):
                r = row._asdict()
                b = r[body_col]
                try:
                    raw_bytes = (
                        b if isinstance(b, (bytes, bytearray)) else str(b).encode()
                    )
                    items, env_api, env_sent = decode_request_row(
                        r["endpoint"],
                        raw_bytes,
                        _opt(r, "content_type"),
                        _opt(r, "content_encoding"),
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
                                header_api_key=_opt(r, "header_api_key"),
                                header_sent_at=_opt(r, "header_sent_at"),
                                geo_json=_opt(r, "geo_json"),
                                ip=_opt(r, "ip"),
                            )
                        )
                    except Exception as ex:  # noqa: BLE001
                        out_rows.append(
                            command_error_row(r.get("request_seq"), idx, ex)
                        )
            yield pd.DataFrame(out_rows, columns=cols)

    from pyspark.sql import functions as F

    if not raw.isStreaming and fast_path:
        # Small-input lane: fan out BEFORE the fast/slow split (a single
        # small parquet file arrives as ONE scan partition, serializing
        # the whole decode on one core), evaluate eligibility ONCE as a
        # projected flag, and pin the result with an eager
        # localCheckpoint. The checkpoint is load-bearing twice over:
        # (1) PushDownPredicate otherwise moves each branch's eligibility
        # filter back through the exchange into the one-partition scan
        # (observed plan: Filter(eligible)/Filter(NOT eligible) both
        # under the RoundRobinPartitioning, the ~60-node interpreted
        # predicate running single-threaded twice); (2) filtering on the
        # materialized flag makes the branch filters trivial boolean
        # scans instead of two more predicate evaluations. Engages only
        # for under-parallel inputs — at real scale the scan has
        # thousands of splits, fan_out is a no-op, and the filters
        # SHOULD push into the scans. Engagement is decided by FILE
        # count (is_small_file_input), not by whether fan_out actually
        # shuffled: a caller that pre-fanned its SCAN (so its heavy body
        # projection evaluates above its own exchange — the r9 decode
        # fix) arrives already wide, and the lane's other wins (one
        # eligibility evaluation, empty-slow-branch skip, one
        # materialization shared by every consumer) still apply.
        from hogflare_spark.operators.partitioning import (
            fan_out,
            is_small_file_input,
        )

        if is_small_file_input(raw):
            fanned = fan_out(raw)
            eligible, build, staged_wide = fast_capture_path(fanned, body_col)
            # r8: the command projection rides in the SAME pass as the
            # flag — one checkpoint materializes flag + decoded command
            # columns + the raw row, so the former separate fast-build
            # pass over the checkpointed rows disappears. The command
            # expressions are null-safe on ineligible bodies; those
            # columns are only read through the __fast filter. The raw
            # request_seq is carried under a reserved name (the command
            # projection owns the `request_seq` slot).
            raw_cols = list(fanned.columns)
            flagged = fanned.withColumn(
                "__fast", F.coalesce(eligible, F.lit(False))
            ).withColumn("__raw_request_seq", F.col("request_seq"))
            keep = ["__fast", "__raw_request_seq"] + [
                c for c in raw_cols if c != "request_seq"
            ]
            # the empty-slow-branch probe rides the checkpoint's own
            # materialization job via observe()
            from pyspark.sql import Observation

            obs = Observation()
            combined = (
                staged_wide(flagged, keep)
                .observe(obs, F.count(F.when(~F.col("__fast"), 1)).alias("n_slow"))
                .localCheckpoint(eager=True)
            )
            cmd_cols = [f.name for f in COMMAND_SCHEMA.fields if f.name != "error"]
            fast_df = combined.where(F.col("__fast")).select(*cmd_cols)
            # canonical traffic commonly leaves the slow branch EMPTY;
            # skipping it avoids spinning up a pool of Python workers
            # for zero rows
            if not obs.get["n_slow"]:
                return fast_df
            slow_raw = combined.where(~F.col("__fast")).select(
                F.col("__raw_request_seq").alias("request_seq"),
                *[c for c in raw_cols if c != "request_seq"],
            )
            mapped = slow_raw.mapInPandas(_run, COMMAND_SCHEMA)
            slow_df = mapped.where(F.col("error").isNull()).drop("error")
            return fast_df.unionByName(slow_df)

    if fast_path:
        eligible, build, _ = fast_capture_path(raw, body_col)
        is_fast = F.coalesce(eligible, F.lit(False))
        fast_df = build(raw.where(is_fast))
        slow_raw = raw.where(~is_fast)
    else:
        fast_df = None
        slow_raw = raw

    if not slow_raw.isStreaming:
        from hogflare_spark.operators.partitioning import fan_out

        slow_raw = fan_out(slow_raw)
    mapped = slow_raw.mapInPandas(_run, COMMAND_SCHEMA)
    slow_df = mapped.where(F.col("error").isNull()).drop("error")
    return slow_df if fast_df is None else fast_df.unionByName(slow_df)


