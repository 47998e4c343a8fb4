"""Batch ingest pipeline: raw request rows → events / persons / groups.

The Spark realization of the reference's end-to-end request path
(SURVEY.md §3.1): decode (sources/payload.py) → normalize
(operators/normalize.py) → person fold (operators/person_state.py) →
group fold (operators/group_state.py) → hydration joins → the 21-column
events frame (schemas.EVENT_SCHEMA).

Data movement at scale: decode+normalize are shuffle-free maps; the person
and group folds each shuffle only their op projections (narrow slices of
the command rows) keyed by identity component / group key; the event frame
itself is joined to the tiny snapshot/hydration outputs on the seq pair —
with AQE these resolve to broadcast or shuffled-hash joins sized by the
state side, never a sort of the event stream.

Determinism (documented divergences from the reference's wall-clock/uuid4
behavior, SURVEY.md §7.5): event uuid is md5-derived from the seq pair;
created_at is a synthetic instant derived from the seq pair; person uuids
and created_at come from person_store.py's deterministic scheme.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_GROUP_TYPES: tuple[str | None, ...] = (None, None, None, None, None)


def _json_string_literal(col):
    """Arbitrary string column → its JSON string literal (quoted, escaped),
    as a pure JVM expression: serialize a one-entry map and slice the
    value back out. `to_json(map("x", s))` = `{"x":<literal>}`, so the
    literal is chars 6 .. len-1. Jackson handles quotes/backslashes/control
    chars; divergence from Python's json.dumps: non-ASCII stays UTF-8
    rather than \\uXXXX-escaped (byte-different, JSON-equivalent)."""
    j = F.to_json(F.create_map(F.lit("x"), col))
    return F.substring(j, 6, F.length(j) - F.lit(6))


def _assemble_json_object(entries):
    """array<struct<k,v-json>> → one JSON object string, splicing the
    already-serialized v fragments raw. Whole-stage-codegen expressions
    only — r2's Arrow pandas UDF removed so event assembly for
    group-touching events never leaves the JVM."""
    body = F.concat_ws(
        ",",
        F.transform(
            entries,
            lambda e: F.concat(_json_string_literal(e["k"]), F.lit(":"), e["v"]),
        ),
    )
    return F.when(
        entries.isNotNull() & (F.size(entries) > 0),
        F.concat(F.lit("{"), body, F.lit("}")),
    )


def pin_commands(commands: DataFrame) -> DataFrame:
    """Materialize the decoded commands once: one eager
    `localCheckpoint`, read back at `defaultParallelism` partitions.

    Every consumer of a pass (the CC edge collect, the person and group
    folds, the events projection) reads the commands, so the pin is the
    one job that runs decode's kernel, in one wave. The decode keeps its
    input's partitioning, one partition per file or split: `fan_out`
    widens a small file input, but a stream micro-batch reports no input
    files and arrives with one partition per landed file, which can be
    more than the session's width. Coalescing the pinned blocks brings
    every downstream stage to that width. A stage reading in-memory
    blocks is cheap, so the coalesce happens after the checkpoint, not
    before it: coalescing the decode would run several kernel partitions
    in some tasks and none in others."""
    n = commands.sparkSession.sparkContext.defaultParallelism
    pinned = commands.localCheckpoint(eager=True).coalesce(n)
    pinned._hogflare_pinned = True
    return pinned


def ingest_commands(
    commands: DataFrame,
    team_id: int | None = None,
    group_types: tuple[str | None, ...] = DEFAULT_GROUP_TYPES,
    prior_persons: DataFrame | None = None,
    prior_groups: DataFrame | None = None,
    person_id_floor: int | None = None,
) -> dict[str, DataFrame]:
    """Ingest-command rows (normalize.COMMAND_SCHEMA) → governed tables.

    Returns {"events": ..., "persons": ..., "groups": ...}. The prior_*
    frames seed the state folds (streaming incremental processing).
    `person_id_floor` lets a caller seeding a slice of the prior persons
    table pin the allocation base to the global max id.

    The commands are pinned once (`pin_commands`) unless the caller
    passes a frame `pin_commands` returned.
    """
    from hogflare_spark.operators.group_state import fold_group_state
    from hogflare_spark.operators.person_state import fold_person_state

    if not getattr(commands, "_hogflare_pinned", False):
        commands = pin_commands(commands)

    snapshots, persons = fold_person_state(
        commands,
        team_id,
        prior_persons,
        person_id_floor=person_id_floor,
    )
    group_results, groups_table = fold_group_state(commands, prior_groups)

    seq = ["request_seq", "item_index"]

    # ---- group hydration: one aggregation of the present groups per event:
    # the group_properties JSON object, and the groupidentify echo slots
    # (collect_list skips the NULL structs of non-echo rows)
    hydrated = (
        group_results.where(F.col("present"))
        .groupBy(*seq)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("group_type").alias("k"), F.col("props").alias("v")))
            ).alias("entries"),
            F.map_from_entries(
                F.collect_list(F.when(F.col("echo"), F.struct("group_type", "group_key")))
            ).alias("echo_map"),
        )
        .select(*seq, _assemble_json_object(F.col("entries")).alias("group_properties"), "echo_map")
    )

    # ---- group slots ------------------------------------------------------
    # capture-ish events: pivot $groups through the configured slot types
    # (lib.rs:1378-1391); groupidentify: its own type's slot, only when the
    # record exists (lib.rs:869-920)
    groups_map = F.from_json("groups", "map<string,string>")
    slot_cols = []
    for i, gtype in enumerate(group_types):
        slot_cols.append(
            (F.element_at(groups_map, F.lit(gtype)) if gtype is not None else F.lit(None))
            .cast("string")
            .alias(f"slot{i}")
        )
    base = commands.select(
        *seq,
        "event",
        "distinct_id",
        "timestamp",
        "properties",
        "context",
        "person_properties_request",
        "api_key",
        "extra",
        "skip_person",
        *slot_cols,
    )

    ev = base.join(hydrated, seq, "left").join(snapshots, seq, "left")

    for i, gtype in enumerate(group_types):
        echo_slot = (
            F.element_at(F.col("echo_map"), F.lit(gtype)) if gtype is not None else F.lit(None)
        )
        ev = ev.withColumn(f"group{i}", F.coalesce(echo_slot, F.col(f"slot{i}")))

    from hogflare_spark.operators.person_store import synth_time_expr

    seq_linear = F.col("request_seq") * F.lit(1_000_000) + F.col("item_index") * F.lit(100)
    events = ev.select(
        # deterministic uuid from the seq pair (divergence: uuid4 in the
        # reference, pipeline.rs:188)
        F.concat(
            F.substring(F.md5(seq_linear.cast("string")), 1, 8), F.lit("-"),
            F.substring(F.md5(seq_linear.cast("string")), 9, 4), F.lit("-"),
            F.substring(F.md5(seq_linear.cast("string")), 13, 4), F.lit("-"),
            F.substring(F.md5(seq_linear.cast("string")), 17, 4), F.lit("-"),
            F.substring(F.md5(seq_linear.cast("string")), 21, 12),
        ).alias("uuid"),
        F.lit(team_id).cast("long").alias("team_id"),
        F.lit("posthog").alias("source"),
        "event",
        "distinct_id",
        F.to_timestamp("timestamp").alias("timestamp"),
        # deterministic created_at (divergence: Utc::now(), pipeline.rs:193);
        # same piecewise seq mapping as person_store.synthetic_time, so
        # event and person timestamps agree and 64-bit-scale seq values
        # stay inside timestamp range
        synth_time_expr(seq_linear).alias("created_at"),
        "properties",
        "context",
        F.when(F.col("skip_person") == "1", F.lit(None).cast("string"))
        .otherwise(F.col("person_id"))
        .alias("person_id"),
        F.when(F.col("skip_person") == "1", F.lit(None).cast("timestamp"))
        .otherwise(F.col("person_created_at"))
        .alias("person_created_at"),
        # with_person overwrites person_properties only when Some
        # (pipeline.rs:373-387) and from_identify seeds them with the
        # request props (pipeline.rs:211-234), so coalesce(snapshot, request)
        F.when(F.col("skip_person") == "1", F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col("person_properties"), F.col("person_properties_request")))
        .alias("person_properties"),
        *[F.col(f"group{i}").alias(f"group{i}") for i in range(5)],
        "group_properties",
        "api_key",
        "extra",
        "request_seq",
        "item_index",
    )

    return {
        "events": events,
        "persons": persons,
        "groups": groups_table,
    }


def ingest_raw_requests(
    raw: DataFrame,
    team_id: int | None = None,
    group_types: tuple[str | None, ...] = DEFAULT_GROUP_TYPES,
    prior_persons: DataFrame | None = None,
    prior_groups: DataFrame | None = None,
    signing_secret: str | None = None,
) -> dict[str, DataFrame]:
    """Full path: raw HTTP-shaped rows → {events, persons, groups}.

    With ``signing_secret`` set, the HMAC gate (S9, reference
    extractors.rs:320-399) runs first: unsigned/mis-signed rows are the
    reference's 401s and never reach the pipeline.
    """
    from hogflare_spark.operators.normalize import decode_normalize_requests

    if signing_secret is not None:
        from hogflare_spark.sources.signature import verify_signature_gate

        raw, _ = verify_signature_gate(raw, signing_secret)
    commands = decode_normalize_requests(raw)
    return ingest_commands(
        commands,
        team_id=team_id,
        group_types=group_types,
        prior_persons=prior_persons,
        prior_groups=prior_groups,
    )
