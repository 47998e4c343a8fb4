"""Identity resolution: connected components over alias edges.

The reference's redirect map (/root/reference/src/persons.rs:220-249) is a
union-find whose pointers are written serially per alias op. In batch Spark
the equivalent co-partitioning structure is the connected component of the
alias graph: every distinct_id in a component shares one person timeline,
so shuffling all of a component's ops to one partition group reproduces the
reference's per-key serialization (SURVEY.md §7.4.2 — CC is used only to
co-partition; merge precedence is replayed in op order inside the fold).

Algorithm: min-label propagation with pointer jumping (path halving) —
O(log diameter) rounds, each round two shuffles. This is the standard
large-scale CC shape (cf. the GraphFrames/Pregel formulation) and survives
100 TB inputs: the edge set is ~#alias-ops, tiny next to the event stream.

Each round ends in `localCheckpoint(eager=True)`: iterative self-joins
double the logical plan per round, and without truncating lineage the
driver OOMs composing the plan long before the data is big — checkpointing
keeps every round's plan O(1). (On a real cluster with executor loss
concerns, swap for reliable `checkpoint()` against the cluster FS.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Edges (undirected) → (id, component); component = min id (lexicographic).

    Singleton nodes should be passed as self-loops (src == dst) if they must
    appear in the output. An empty edge set yields an empty result.

    Partially eager: the edges are collected at CALL time (one
    limit().collect() job); up to CC_DRIVER_MAX_EDGES of them run a
    driver union-find, and a larger set runs the distributed fixpoint
    loop. Both return the converged labels.
    """
    # Spark 4.1's LogicalRDD.fromDataset can crash rewriting constraint
    # attributes when a checkpointed frame is referenced twice in the next
    # plan (NoSuchElementException: key not found: id#N). Constraint
    # propagation buys nothing for this tiny iterative subplan, so scope it
    # off for the duration of the loop.
    spark = edges.sparkSession
    _cp_key = "spark.sql.constraintPropagation.enabled"
    _cp_old = spark.conf.get(_cp_key, "true")
    spark.conf.set(_cp_key, "false")
    try:
        return _cc_loop(edges, src, dst)
    finally:
        spark.conf.set(_cp_key, _cp_old)


# Edge-count ceiling for the driver-side union-find fast path. Alias
# edges (~#identity merges) and verified near-dup pairs are MODEL-sized
# relative to the corpora they summarize — a million-edge graph is a few
# tens of MB of narrow pairs, while the distributed fixpoint pays
# ~4 checkpointed-join jobs per round for O(log diameter) rounds. Below
# the ceiling, collecting the edges and running union-find on the driver
# is the right plan at ANY corpus scale (it is the edge count, not the
# corpus size, that gates it); above it, the iterative loop takes over.
CC_DRIVER_MAX_EDGES = 100_000
# Round bound of the distributed loop: pointer jumping halves label
# chains each round, so 25 rounds cover any component diameter below
# ~2^25; the loop stops earlier once no label changes.
_CC_MAX_ROUNDS = 25


def _cc_driver(rows, spark, schema) -> DataFrame:
    """Union-find with min-label output — exactly the fixpoint loop's
    result: every node labeled with its component's MINIMUM id (numeric
    or lexicographic per the id type, same as F.min)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in rows:
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rd] = rs
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    out = [(node, comp_min[find(node)]) for node in parent]
    from hogflare_spark.operators.partitioning import one_slice_df

    # driver-sized by this branch's contract (the small-edge-set lane);
    # a JVM local relation, so the consumer's broadcast/left-join build
    # of the labels runs no Python task
    return one_slice_df(spark, out, schema)


def _cc_loop(edges: DataFrame, src: str, dst: str) -> DataFrame:
    from pyspark.sql.types import StructField, StructType

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    head = e.limit(CC_DRIVER_MAX_EDGES + 1).collect()
    if len(head) <= CC_DRIVER_MAX_EDGES:
        id_type = e.schema["src"].dataType
        schema = StructType(
            [StructField("id", id_type), StructField("comp", id_type)]
        )
        return _cc_driver(
            [(r["src"], r["dst"]) for r in head], e.sparkSession, schema
        )
    # undirected: both directions, deduped
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    sym = sym.repartition("src").localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(_CC_MAX_ROUNDS):
        # neighbor min: for each node, min of its own label and neighbors'
        msgs = (
            sym.join(labels, sym.dst == labels.id)
            .select(sym.src.alias("id"), F.col("comp"))
        )
        new_labels = (
            labels.select("id", "comp")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        # pointer jump: comp := comp(comp) — halves pointer chains each round
        jumped = (
            new_labels.alias("a")
            .join(
                new_labels.select(
                    F.col("id").alias("jid"), F.col("comp").alias("jcomp")
                ).alias("b"),
                F.col("a.comp") == F.col("b.jid"),
                "left",
            )
            .select(
                F.col("a.id").alias("id"),
                F.least(
                    F.col("a.comp"), F.coalesce(F.col("b.jcomp"), F.col("a.comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break

    return labels.select("id", "comp")
