"""The per-row flag kernel over a persons table: the parity reference
for `flags.response.batch_flag_responses_native`, which evaluates the
same /flags bodies as compiled Column expressions."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from hogflare_spark.flags.kernel import FlagContext, evaluate_flags
from hogflare_spark.flags.model import FlagDefinition
from hogflare_spark.flags.response import flags_response


def batch_flag_responses(
    persons: DataFrame,
    flags: list[FlagDefinition],
    version: int = 2,
) -> DataFrame:
    """persons table → one /flags-shaped JSON response per canonical_id.

    Arrow-batched mapInPandas over the persons table (narrow, no shuffle);
    each row replays the exact kernel the serving path uses. requestId /
    evaluatedAt are deterministic (derived from canonical_id / 0) so the
    output is oracle-comparable.
    """
    from collections.abc import Iterator

    import pandas as pd

    flag_dicts = [f.__dict__ for f in flags]  # plain data for pickling

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hogflare_spark.flags.model import FlagDefinition as FD

        defs = []
        for d in flag_dicts:
            fd = FD.__new__(FD)
            fd.__dict__.update(d)
            defs.append(fd)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                merged = {k: json.loads(v) for k, v in (r.properties or {}).items()}
                for k, v in (r.properties_set_once or {}).items():
                    if k not in merged:
                        merged[k] = json.loads(v)
                ctx = FlagContext(
                    distinct_id=r.canonical_id,
                    person_properties=merged,
                    groups={},
                    group_properties={},
                )
                results = evaluate_flags(defs, ctx)
                body = flags_response(
                    results,
                    version=version,
                    request_id=f"req-{r.canonical_id}",
                    evaluated_at_ms=0,
                )
                rows.append(
                    {
                        "canonical_id": r.canonical_id,
                        "response": json.dumps(body, sort_keys=True, separators=(",", ":")),
                    }
                )
            yield pd.DataFrame(rows, columns=["canonical_id", "response"])

    return persons.mapInPandas(run, "canonical_id string, response string")
