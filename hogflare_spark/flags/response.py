"""Flag response shaping (F8) and evaluation-context assembly (F9).

Mirrors the reference's /decide and /flags response construction
(/root/reference/src/lib.rs:1053-1147, src/feature_flags.rs:156-201,
404-451) and evaluate_feature_flags context assembly (lib.rs:1284-1345),
re-expressed over tables: `batch_flag_responses_native` evaluates every
person in the persons table at once — the thing the per-request
reference cannot do — while `decide_response`/`flags_response` keep
request-shape parity for a thin serving layer. Its parity reference, the
per-row kernel over the same table, lives with the tests
(`tests/flag_reference.py`).

`batch_flag_responses_native` is what a /decide server holds: the same
bodies, evaluated once per persons snapshot and pinned, so a request is a
filter over the pinned table. The reference evaluates per request over
per-key state; here a body changes only when the persons table or the
flag config does, so a server rebuilds the table after each persons
commit and each config change.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hogflare_spark.flags.kernel import FlagContext, FlagResult
from hogflare_spark.flags.model import FlagDefinition


def to_maps(
    results: list[FlagResult], version: int
) -> tuple[dict[str, Any], dict[str, Any]]:
    """feature_flags.rs:170-185 — v2 drops inactive flags from the map."""
    flags: dict[str, Any] = {}
    payloads: dict[str, Any] = {}
    for r in results:
        if version == 2 and not r.active:
            continue
        flags[r.key] = r.value
        if r.payload is not None:
            payloads[r.key] = r.payload
    return flags, payloads


def flag_detail(r: FlagResult) -> dict[str, Any]:
    """feature_flags.rs:408-451 — enabled, variant, metadata, reason."""
    enabled = r.value if isinstance(r.value, bool) else True
    detail: dict[str, Any] = {"key": r.key, "enabled": enabled}
    if isinstance(r.value, str):
        detail["variant"] = r.value
    metadata: dict[str, Any] = {}
    if r.flag_id is not None:
        metadata["id"] = r.flag_id
    if r.flag_version is not None:
        metadata["version"] = r.flag_version
    if r.flag_description is not None:
        metadata["description"] = r.flag_description
    if r.payload is not None:
        metadata["payload"] = json.dumps(r.payload, separators=(",", ":"))
    if metadata:
        detail["metadata"] = metadata
    if r.reason is not None:
        reason: dict[str, Any] = {"code": r.reason}
        if r.condition_index is not None:
            reason["condition_index"] = r.condition_index
        detail["reason"] = reason
    return detail


def to_flag_details(results: list[FlagResult]) -> dict[str, Any]:
    return {r.key: flag_detail(r) for r in results}


def decide_response(
    results: list[FlagResult],
    version: int = 2,
    api_token: str | None = None,
    session_recording_endpoint: str | None = None,
) -> dict[str, Any]:
    """Legacy /decide shape (lib.rs:1053-1087, models.rs:119-146)."""
    flags, payloads = to_maps(results, version)
    session_recording: dict[str, Any] = {
        "consoleLogRecordingEnabled": False,
        "proxy": session_recording_endpoint is not None,
    }
    if session_recording_endpoint is not None:
        session_recording["endpoint"] = session_recording_endpoint
    return {
        "status": 200,
        "featureFlags": flags,
        "featureFlagPayloads": payloads,
        "config": {"apiToken": api_token},
        "errorsWhileComputingFlags": [],
        "sessionRecording": session_recording,
        "supportedCompression": ["gzip", "gzip-js"],
    }


def flags_response(
    results: list[FlagResult],
    version: int = 2,
    include_config: bool = False,
    request_id: str = "",
    evaluated_at_ms: int = 0,
    session_recording_endpoint: str | None = None,
) -> dict[str, Any]:
    """/flags v2 shape with per-flag details (lib.rs:1089-1147)."""
    flags, payloads = to_maps(results, version)
    out: dict[str, Any] = {
        "featureFlags": flags,
        "featureFlagPayloads": payloads,
        "flags": to_flag_details(results),
        "errorsWhileComputingFlags": False,
        "requestId": request_id,
        "evaluatedAt": evaluated_at_ms,
    }
    if include_config:
        recording: dict[str, Any] = {
            "consoleLogRecordingEnabled": False,
            "proxy": True,
        }
        if session_recording_endpoint is not None:
            recording["endpoint"] = session_recording_endpoint
        out["sessionRecording"] = recording
        out["supportedCompression"] = ["gzip", "gzip-js"]
    return out


def assemble_context(
    distinct_id: str | None,
    person_merged_properties: dict | None,
    request_person_overrides: dict | None,
    request_groups: dict[str, str] | None,
    group_records: dict[str, dict] | None,
    request_group_overrides: dict[str, dict] | None,
    disable_flags: bool = False,
    store_empty: bool = False,
) -> FlagContext | None:
    """evaluate_feature_flags context assembly (lib.rs:1284-1345).

    Returns None for the empty-evaluation short-circuits. Person overrides
    merge PER KEY (override wins); group overrides REPLACE the whole
    group's property map — an asymmetry worth preserving exactly.
    """
    if disable_flags or store_empty or distinct_id is None:
        return None
    person_properties = dict(person_merged_properties or {})
    for k, v in (request_person_overrides or {}).items():
        person_properties[k] = v
    groups = dict(request_groups or {})
    group_properties: dict[str, dict] = {}
    for group_type in groups:
        record = (group_records or {}).get(group_type)
        if record is not None:
            group_properties[group_type] = dict(record)
    for group_type, props in (request_group_overrides or {}).items():
        group_properties[group_type] = dict(props)
    return FlagContext(
        distinct_id=distinct_id,
        person_properties=person_properties,
        groups=groups,
        group_properties=group_properties,
    )


# ---------------------------------------------------------------------------
# native batch serving: the same /flags body as pure Column expressions
# ---------------------------------------------------------------------------


def merged_person_json(
    properties: str = "properties", set_once: str = "properties_set_once"
):
    """The person store's set/set_once merge as ONE Column producing the
    person-properties JSON text: `properties` wins, `set_once` fills only
    keys `properties` lacks (operators/person_store.py merged-view rule;
    reference src/person.rs fold semantics). Map values are JSON-encoded
    value strings, so assembly is string concat, not to_json.

    Each map is coalesced to {} first (ADVICE r11): map_keys/map_filter/
    map_concat propagate NULL, so a NULL `properties` (normal for
    parquet-read persons) would otherwise collapse the whole merged map,
    while the kernel twin treats a None map as {} and still honors the
    other."""
    empty_map = F.create_map().cast("map<string,string>")
    props = F.coalesce(F.col(properties), empty_map)
    props_once = F.coalesce(F.col(set_once), empty_map)
    merged = F.map_concat(
        props,
        F.map_filter(
            props_once,
            lambda k, v: ~F.array_contains(F.map_keys(props), k),
        ),
    )
    return F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                F.map_entries(merged),
                lambda e: F.concat(F.lit('"'), e["key"], F.lit('":'), e["value"]),
            ),
            ",",
        ),
        F.lit("}"),
    )


def _escape_json_str(c):
    """Escape a string column for embedding inside a JSON string literal.
    Backslash first, then quote. Control characters and non-ASCII (which
    the kernel's ensure_ascii json.dumps would \\uXXXX-escape) are outside
    this path's envelope — ids and flag values in this engine are ASCII
    identifiers — and per ADVICE r11 the envelope is now ENFORCED: an
    out-of-envelope value raises instead of silently emitting
    near-identical-but-wrong JSON (the kernel twin remains the oracle
    for exotic input)."""
    escaped = F.replace(
        F.replace(c, F.lit("\\"), F.lit("\\\\")), F.lit('"'), F.lit('\\"')
    )
    return F.when(
        c.isNull() | c.rlike("^[\\x20-\\x7e]*$"), escaped
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "flags/response _escape_json_str: non-ASCII or control "
                    "character outside the native path's envelope in: "
                ),
                c,
            )
        )
    )


def _payload_text_map(flag, sort_keys: bool):
    """Driver-side mapping config-order payload text -> final body text.

    The kernel serializes the SAME payload object two ways: key-sorted as
    a JSON value in featureFlagPayloads (the body dump is sort_keys=True,
    which recurses into it) and config-order compact INSIDE a JSON string
    in flags.*.metadata.payload (pre-serialized before the body dump, so
    sort_keys cannot reach it). The compiled Column carries the
    config-order text; both final forms are literal rewrites of a finite,
    driver-known payload set (flag.payload + variant payloads)."""
    out = {}
    candidates = [flag.payload] + list(flag.variant_payload_map().values())
    for p in candidates:
        if p is None:
            continue
        cfg = json.dumps(p, ensure_ascii=False, separators=(",", ":"))
        if sort_keys:
            out[cfg] = json.dumps(p, sort_keys=True, separators=(",", ":"))
        else:
            # the escaped JSON-string form the kernel produces: an inner
            # ensure_ascii dump of the payload, wrapped as a JSON string
            out[cfg] = json.dumps(json.dumps(p, separators=(",", ":")))
    return out


def _rewrite_payload(col, text_map: dict[str, str], as_string: bool):
    """When-chain over the finite payload-text set; identity fallback."""
    expr = None
    for cfg, final in text_map.items():
        cond = col == F.lit(cfg)
        expr = F.when(cond, F.lit(final)) if expr is None else expr.when(cond, F.lit(final))
    fallback = (
        F.concat(F.lit('"'), _escape_json_str(col), F.lit('"')) if as_string else col
    )
    return expr.otherwise(fallback) if expr is not None else fallback


def batch_flag_responses_native(
    persons: DataFrame,
    flags: list[FlagDefinition],
    version: int = 2,
) -> DataFrame:
    """persons table → the /flags-shaped JSON body `flags_response` gives
    for each person, as a `(canonical_id, response)` table pinned
    with an eager local checkpoint: every person's flags are evaluated
    once, here, and a /decide request filters the pinned rows
    (`where(canonical_id isin ...)`) without re-planning or re-running the
    flag projection.

    The table is a snapshot of `persons` at the time of the call. A
    server rebuilds it after every persons commit; until then it serves
    the flags of the version it was built from. The pin is not tracked by
    functions.caching, so `unpersist_all()` does not drop it; it lives as
    long as the returned frame."""
    return _response_plan(persons, flags, version).localCheckpoint(eager=True)


def _response_plan(
    persons: DataFrame,
    flags: list[FlagDefinition],
    version: int = 2,
) -> DataFrame:
    """The lazy plan batch_flag_responses_native pins: built entirely
    from compiled Column expressions (flags/compiler.py) + string
    assembly — zero Python in the hot path, one whole-stage-codegen'd
    projection per row. The per-row kernel twin
    (`tests/flag_reference.py`) stays as the differential oracle
    (tests/test_round11.py pins the two bit-identical).

    The body is assembled by string concatenation rather than to_json()
    because json.dumps(sort_keys=True) semantics — key-sorted maps whose
    VALUES are heterogeneous pre-serialized JSON (bool flag values,
    string variants, object payloads) — have no struct schema; the flag
    key set is driver-side config, so the sorted skeleton is all literals
    and only the values are per-row columns."""
    from hogflare_spark.flags.compiler import _Ctx, compile_flag

    ordered = sorted(flags, key=lambda f: f.key)

    person_json = merged_person_json()
    ctxed = persons.select(
        F.col("canonical_id"),
        person_json.alias("person_properties"),
    ).withColumn("_pv", F.parse_json(F.coalesce("person_properties", F.lit("{}"))))

    ctx = _Ctx(
        F.col("canonical_id"),
        F.col("person_properties"),
        F.create_map().cast("map<string,string>"),
        F.lit("{}"),
    )
    ctx.person_variant = F.col("_pv")  # parse once per row, shared by all flags

    res_cols = {f"_res_{i}": compile_flag(f, ctx) for i, f in enumerate(ordered)}
    ctxed = ctxed.withColumns(res_cols)

    def res(i: int, field: str):
        return F.col(f"_res_{i}")[field]

    # featureFlags / featureFlagPayloads: v2 drops INACTIVE flags (a
    # driver-side config constant) from both maps
    visible = [
        (i, f) for i, f in enumerate(ordered) if version != 2 or f.active
    ]
    ff_entries = [
        F.concat(F.lit(json.dumps(f.key) + ":"), res(i, "value"))
        for i, f in visible
    ]
    ffp_entries = [
        F.when(
            res(i, "payload").isNotNull(),
            F.concat(
                F.lit(json.dumps(f.key) + ":"),
                _rewrite_payload(
                    res(i, "payload"), _payload_text_map(f, sort_keys=True), False
                ),
            ),
        )
        for i, f in visible
    ]

    # flags.<key> detail objects: ALL flags, fields in sort_keys order
    # (enabled, key, metadata, reason, variant)
    detail_entries = []
    for i, f in enumerate(ordered):
        enabled = F.when(res(i, "value") == F.lit("false"), F.lit('"enabled":false')).otherwise(
            F.lit('"enabled":true')
        )
        key_piece = F.lit(f'"key":{json.dumps(f.key)}')

        meta_parts = []
        if f.description is not None:
            meta_parts.append(F.lit(f'"description":{json.dumps(f.description)}'))
        if f.id is not None:
            meta_parts.append(F.lit(f'"id":{json.dumps(f.id)}'))
        meta_parts.append(
            F.when(
                res(i, "payload").isNotNull(),
                F.concat(
                    F.lit('"payload":'),
                    _rewrite_payload(
                        res(i, "payload"), _payload_text_map(f, sort_keys=False), True
                    ),
                ),
            )
        )
        if f.version is not None:
            meta_parts.append(F.lit(f'"version":{json.dumps(f.version)}'))
        meta_join = F.array_join(F.array(*meta_parts), ",")  # nulls skipped
        metadata = F.when(
            meta_join != F.lit(""),
            F.concat(F.lit('"metadata":{'), meta_join, F.lit("}")),
        )

        reason = F.concat(
            F.lit('"reason":{"code":"'),
            res(i, "reason"),
            F.lit('"'),
            F.when(
                res(i, "condition_index").isNotNull(),
                F.concat(
                    F.lit(',"condition_index":'),
                    res(i, "condition_index").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.lit("}"),
        )
        variant = F.when(
            F.startswith(res(i, "value"), F.lit('"')),
            F.concat(F.lit('"variant":'), res(i, "value")),
        )
        detail = F.concat(
            F.lit(json.dumps(f.key) + ':{'),
            F.array_join(F.array(enabled, key_piece, metadata, reason, variant), ","),
            F.lit("}"),
        )
        detail_entries.append(detail)

    body = F.concat(
        F.lit('{"errorsWhileComputingFlags":false,"evaluatedAt":0,'),
        F.lit('"featureFlagPayloads":{'),
        F.array_join(F.array(*ffp_entries), ",") if ffp_entries else F.lit(""),
        F.lit('},"featureFlags":{'),
        F.concat_ws(",", *ff_entries) if ff_entries else F.lit(""),
        F.lit('},"flags":{'),
        F.concat_ws(",", *detail_entries) if detail_entries else F.lit(""),
        F.lit('},"requestId":"req-'),
        _escape_json_str(F.col("canonical_id")),
        F.lit('"}'),
    )
    return ctxed.select(F.col("canonical_id"), body.alias("response"))
