"""Stage-level timing for the hf_person_fold_state pipeline at sf0.1:
decode/normalize, CC + op labeling, the replay fold, and the final
persons assembly are forced separately so the dominant cost is visible.
Each stage is timed WARM (second run after a full materialization)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def t(label, fn, reps=2):
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label:40s} {best:7.3f}s")
    return best


def main() -> None:
    from pyspark.sql import functions as F

    from hogflare_spark.operators.normalize import decode_normalize_requests
    from hogflare_spark.operators.person_state import (
        derive_person_ops,
        fold_person_state,
    )
    from hogflare_spark.plans.hogflare_semantics import _capture_requests_from_events
    from hogflare_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="fold-profile", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    raw = _capture_requests_from_events(spark, SF_DIR)
    t("raw request assembly (count)", lambda: raw.count())

    commands = decode_normalize_requests(raw)
    t("decode+normalize (count)", lambda: commands.count())

    cmat = commands.localCheckpoint(eager=True)
    ops = derive_person_ops(cmat)
    t("derive ops (count, cmds pinned)", lambda: ops.count())

    from hogflare_spark.operators.identity import connected_components

    edges = ops.where(F.col("kind") == "alias").select(
        F.col("distinct_id").alias("src"), F.col("alias_id").alias("dst")
    )
    t("connected components", lambda: connected_components(edges).count())

    n = spark.sparkContext.defaultParallelism
    comp_ops = ops.withColumn("comp", F.col("distinct_id")).repartition(n, "comp")
    opsmat = comp_ops.localCheckpoint(eager=True)
    t("ops shuffle+pin (from pinned cmds)", lambda: opsmat.count())

    # the full fold from pinned commands: isolates fold+assembly cost
    def run_fold():
        snaps, persons, _ = fold_person_state(cmat)
        persons.count()

    t("fold_person_state replay (persons.count)", run_fold)

    def run_fold_snap():
        snaps, persons, _ = fold_person_state(cmat)
        snaps.count()
        persons.count()

    t("fold replay + snapshots", run_fold_snap)

    def run_gate():
        from hogflare_spark.plans.hogflare_semantics import hf_person_fold_state

        hf_person_fold_state(spark, SF_DIR).collect()

    t("FULL hf_person_fold_state gate", run_gate)
    spark.stop()


if __name__ == "__main__":
    main()
