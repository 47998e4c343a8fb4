"""Round-10 gates: BM25 batch plan-shape invariance vs |queries|
(r9 verdict #8), the approx n-gram census (r9 verdict #6 — the Expand
must disappear), and the events table's commit boundaries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _load_docs(spark):
    from hogflare_spark.sources.readers import load_table

    return load_table(spark, SF_SMOKE, "documents")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _vocab(spark, n=600):
    """A few hundred real corpus words, so generated queries hit docs."""
    rows = (
        _load_docs(spark)
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.length("w") > 2)
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .limit(n)
        .collect()
    )
    return [r["w"] for r in rows]


# ------------------------------------------------------------- BM25 batch


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _numbered_nodes(fmt: str, node: str) -> int:
    """Count DISTINCT plan nodes of a kind in `explain("formatted")`
    output — the numbered `(n) <Node>` detail lines, one per node. Raw
    substring counts over plan strings overcount badly: the tree section
    and every InMemoryRelation reference reprint whole subtrees."""
    import re

    return len(re.findall(rf"^\(\d+\) {node}", fmt, flags=re.M))


def test_bm25_batch_plan_shape_independent_of_query_count(spark):
    """r9 verdict #8: the two-corpus-scan contract must hold at real
    query scale. Execute with 4 and with 300 generated queries: exactly
    TWO parquet scans of the documents table (the 1-row stats aggregate
    + the cache-build of the term-filtered tf frame), both downstream
    consumers reading the cache (InMemoryTableScan), and identical
    shuffle-Exchange counts — query count may only change broadcast-side
    literals, never the corpus-side plan shape. (This test caught a real
    third scan in round 10: the doc-freq branch silently recomputed the
    explode lineage before the tf frame was cached.)"""
    from hogflare_spark.functions.caching import unpersist_all
    from hogflare_spark.operators.retrieval import bm25_batch_topk

    docs = _load_docs(spark)
    words = _vocab(spark)

    def gen(n_q: int):
        # deterministic 3-term queries drawn round-robin from the vocab
        return [
            (qid, [words[(3 * qid + j) % len(words)] for j in range(3)])
            for qid in range(n_q)
        ]

    plans = {}
    try:
        for n_q in (4, 300):
            df = bm25_batch_topk(docs, gen(n_q), k_top=5)
            df.collect()  # materialize so the final AQE plan is real
            fmt = _formatted(df)
            plans[n_q] = {
                "scans": _numbered_nodes(fmt, "Scan parquet"),
                "inmem": _numbered_nodes(fmt, "InMemoryTableScan"),
                "exchanges": _numbered_nodes(fmt, "Exchange"),
            }
    finally:
        unpersist_all()
    assert plans[4]["scans"] == plans[300]["scans"] == 2, plans
    assert plans[4]["inmem"] >= 2 and plans[300]["inmem"] >= 2, plans
    assert plans[4]["exchanges"] == plans[300]["exchanges"], plans


def test_bm25_batch_runs_at_300_queries(spark):
    """Execution (not just planning) at a few hundred queries: every
    returned group obeys the per-query contract (rank dense from 1,
    scores positive and non-increasing)."""
    from hogflare_spark.operators.retrieval import bm25_batch_topk

    docs = _load_docs(spark)
    words = _vocab(spark)
    queries = [
        (qid, [words[(7 * qid + j) % len(words)] for j in range(3)])
        for qid in range(300)
    ]
    out = bm25_batch_topk(docs, queries, k_top=3).collect()
    assert out, "300 vocab-drawn queries must match at least one doc"
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) > 100  # most queries hit something
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert all(s > 0 for s in scores)
        assert scores == sorted(scores, reverse=True)


# ------------------------------------------------- approx n-gram census


def test_topk_ngrams_approx_drops_the_second_shuffle(spark):
    """The exact census pays a SECOND shuffle (Catalyst rewrites one
    count-distinct as pre-aggregate by (ngram, id) then by ngram); the
    approx_rsd path must plan exactly ONE — that's the entire point of
    the 100 TB swap documented in the operator. Neither path may pay a
    global sort (TakeOrdered only) and neither uses Expand (that node
    only appears for multiple distinct columns)."""
    from hogflare_spark.operators.text_analysis import topk_ngrams

    docs = _load_docs(spark)
    exact_fmt = _formatted(topk_ngrams(docs, "text", "doc_id", n=3, k=10))
    approx_fmt = _formatted(
        topk_ngrams(docs, "text", "doc_id", n=3, k=10, approx_rsd=0.02)
    )
    # r12: the operator fans a single-file scan out before the explode
    # (one round-robin Exchange of the RAW text, below the gram stream —
    # a no-op on multi-file corpora), so both counts carry +1 here; the
    # invariant under test is unchanged: approx plans exactly one fewer
    # exchange (the dedup-then-count rewrite's second shuffle).
    assert _numbered_nodes(exact_fmt, "Exchange") == 3
    assert _numbered_nodes(approx_fmt, "Exchange") == 2
    assert (
        _numbered_nodes(exact_fmt, "Exchange")
        - _numbered_nodes(approx_fmt, "Exchange")
        == 1
    )
    # both stay TakeOrdered (no global sort), no Expand anywhere
    for fmt in (exact_fmt, approx_fmt):
        assert _numbered_nodes(fmt, "TakeOrderedAndProject") == 1
        assert _numbered_nodes(fmt, "Expand") == 0


def test_topk_ngrams_approx_check_green_and_topk_exact(spark):
    """The gate frame: every accuracy boolean true at this SF, and the
    (ngram, occurrences) top-k matches the exact census bit-for-bit —
    occurrences is exact in both paths, so the SET cannot drift."""
    from hogflare_spark.operators.text_analysis import (
        topk_ngrams,
        topk_ngrams_approx_check,
    )

    docs = _load_docs(spark)
    got = topk_ngrams_approx_check(docs, "text", "doc_id", n=3, k=25).collect()
    assert got and all(r["df_within_tol"] for r in got)
    exact = topk_ngrams(docs, "text", "doc_id", n=3, k=25).collect()
    assert [(r["ngram"], r["occurrences"]) for r in got] == [
        (r["ngram"], r["occurrences"]) for r in exact
    ]


# ------------------------------------------------- events commit boundaries


def _lake_events(spark, pairs):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(uuid=f"u{i}", team_id=1, distinct_id=d, event="ev", created_at=ts, timestamp=ts)
         for i, (d, ts) in enumerate(pairs)]
    ).withColumns({
        "created_at": F.to_timestamp("created_at"),
        "timestamp": F.to_timestamp("timestamp"),
    })


def _lake_rows(spark, events_dir):
    from hogflare_spark.sinks.lake import read_events

    return sorted(
        (r["uuid"], r["distinct_id"], str(r["event_date"]))
        for r in read_events(spark, events_dir).collect()
    )


def _stop_before_entry(monkeypatch):
    """Make the next log entry fail, as if the writer died between its
    data write and its entry."""
    from hogflare_spark.sinks import lake

    def dies(path, text):
        raise OSError("stopped before the entry")

    monkeypatch.setattr(lake, "_create_exclusive", dies)


def test_uncommitted_events_dir_is_never_read(spark, tmp_path, monkeypatch):
    """An append that wrote its data dir but died before its entry leaves
    rows on disk that no entry names: read_events never reads them, and
    the next append commits on top of them."""
    from hogflare_spark.sinks.lake import append_events, read_entry

    events_dir = str(tmp_path / "lake")
    append_events(_lake_events(spark, [("alice", "2025-03-01T10:00:00Z")]), events_dir)
    want = _lake_rows(spark, events_dir)

    _stop_before_entry(monkeypatch)
    with pytest.raises(OSError, match="stopped before the entry"):
        append_events(_lake_events(spark, [("bob", "2025-03-01T11:00:00Z")]), events_dir)
    monkeypatch.undo()
    assert len([d for d in os.listdir(events_dir) if d.startswith("w=")]) == 2
    assert _lake_rows(spark, events_dir) == want

    append_events(_lake_events(spark, [("carol", "2025-03-02T10:00:00Z")]), events_dir)
    assert read_entry(events_dir)["version"] == 2
    assert [r[1] for r in _lake_rows(spark, events_dir)] == ["alice", "carol"]


def test_delete_person_rows_leaves_no_staging_debris(spark, tmp_path):
    """End-to-end: delete a subject, then assert the lake holds ONLY the
    leaves the latest entry names (the replaced leaves are gone) and the
    rows are gone while other subjects' rows survive."""
    from pyspark.sql import Row

    from hogflare_spark.sinks.lake import (
        append_events,
        delete_person_rows,
        read_entry,
        read_events,
    )

    events_dir = str(tmp_path / "lake")
    rows = [
        Row(uuid=f"u{i}", team_id=1, distinct_id=d, event="ev", created_at=ts, timestamp=ts)
        for i, (d, ts) in enumerate(
            [
                ("alice", "2025-03-01T10:00:00Z"),
                ("bob", "2025-03-01T11:00:00Z"),
                ("alice", "2025-03-02T09:00:00Z"),
                ("carol", "2025-03-02T10:00:00Z"),
            ]
        )
    ]
    df = spark.createDataFrame(rows).withColumns({
        "created_at": F.to_timestamp("created_at"),
        "timestamp": F.to_timestamp("timestamp"),
    })
    append_events(df, events_dir)
    pdirs, n_deleted = delete_person_rows(spark, events_dir, ["alice"])
    assert len(pdirs) == 2 and n_deleted == 2
    # on disk: the log and the leaves the latest entry names, nothing else
    on_disk = {
        f"{d}/{leaf}"
        for d in os.listdir(events_dir) if d != "_log"
        for leaf in os.listdir(os.path.join(events_dir, d)) if leaf.startswith("event_date=")
    }
    assert on_disk == set(read_entry(events_dir)["leaves"])
    remaining = read_events(spark, events_dir)
    assert remaining.where(F.col("distinct_id") == "alice").count() == 0
    assert remaining.count() == 2


# ------------------------------------------------------------- z-order


def test_zorder_layout_narrows_file_spans(spark, tmp_path):
    """Write the same rows twice — lexicographic (user, day) sort vs
    Morton-key sort — and measure, from each file's min/max envelope,
    the EXPECTED NUMBER OF FILES a uniform point filter on each
    dimension must read (sum over files of (span+1)/domain — exactly
    the skipping parquet min/max stats realize). The lexicographic
    layout is perfect on its leading dim and prunes NOTHING on the
    trailing dim (every file spans all days); z-order must (a) read
    far fewer files for the trailing-dim filter and (b) have a better
    worst dimension — bounded pruning on EVERY dim is the entire point
    of the curve."""
    from hogflare_spark.functions.zorder import zorder_key2
    from hogflare_spark.sources.readers import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "day_idx"
        ),
        "value",
    )
    n_files = 8

    lex_dir = str(tmp_path / "lex")
    (
        ev.repartitionByRange(n_files, "user_id", "day_idx")
        .sortWithinPartitions("user_id", "day_idx")
        .write.mode("overwrite")
        .parquet(lex_dir)
    )
    z_dir = str(tmp_path / "zord")
    (
        ev.withColumn("z", zorder_key2(F.col("user_id"), F.col("day_idx")))
        .repartitionByRange(n_files, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(z_dir)
    )

    n_users = ev.agg(F.countDistinct("user_id")).first()[0]
    n_days = ev.agg(F.countDistinct("day_idx")).first()[0]

    def expected_files(path: str) -> tuple[float, float]:
        rows = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("su"),
                (F.max("day_idx") - F.min("day_idx")).alias("sd"),
            )
            .collect()
        )
        by_user = sum((r["su"] + 1) / n_users for r in rows)
        by_day = sum((r["sd"] + 1) / n_days for r in rows)
        return by_user, by_day

    lex_u, lex_d = expected_files(lex_dir)
    z_u, z_d = expected_files(z_dir)
    # lex reads every file for a day filter (no pruning on the trailing
    # dim); z-order must cut that dramatically...
    assert z_d < 0.75 * lex_d, (lex_d, z_d)
    # ...and its worst dimension must beat lex's worst dimension.
    assert max(z_u, z_d) < max(lex_u, lex_d), ((lex_u, lex_d), (z_u, z_d))


def test_zorder_key_matches_reference_interleave(spark):
    """Pin the bit layout against a python reference interleave."""
    from hogflare_spark.functions.zorder import zorder_key2

    def ref(a: int, b: int, bits: int = 16) -> int:
        z = 0
        for i in range(bits):
            z += ((a >> i) & 1) << (2 * i + 1)
            z += ((b >> i) & 1) << (2 * i)
        return z

    rows = [(a, b) for a in (0, 1, 2, 3, 777, 65535) for b in (0, 1, 30, 1023)]
    df = spark.createDataFrame(rows, "a long, b long").select(
        "a", "b", zorder_key2(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == ref(r["a"], r["b"]), (r["a"], r["b"], r["z"])


# ---------------------------------------------- histogram quantile rollup


def test_hist_quantile_rollup_merge_equals_direct(spark):
    """Mergeability law: summing per-day histograms to weeks must give
    the SAME counts as histogramming the week directly — and the
    estimator bound |est - x_ceil(qn)| <= bin width must hold on every
    group (it is a theorem, not a tolerance)."""
    from hogflare_spark.operators.rollup import (
        hist_quantile_rollup,
        hist_quantile_rollup_check,
    )
    from hogflare_spark.sources.readers import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    # merged-from-daily vs direct-weekly histograms: identical rows
    _, weekly_from_daily = hist_quantile_rollup(ev, "ts", ["event_type"], "value")
    _, weekly_direct = hist_quantile_rollup(
        ev, "ts", ["event_type"], "value", fine="week"
    )
    a = {tuple(r) for r in weekly_from_daily.collect()}
    b = {tuple(r) for r in weekly_direct.collect()}
    assert a == b
    out = hist_quantile_rollup_check(ev, "ts", ["event_type"], "value").collect()
    assert out
    for r in out:
        assert r["p90_within_bin"] and r["p99_within_bin"], r


# --------------------------------------------------------- recursion


def test_ancestor_closure_matches_python_reference(spark):
    """Semi-naive closure vs a driver-side reference walk on a small
    deterministic forest (parent = node >> 3)."""
    from hogflare_spark.operators.recursion import ancestor_closure

    nodes = list(range(1, 300))
    edges = spark.createDataFrame(
        [(n, n >> 3) for n in nodes], "node long, parent long"
    )
    got = {
        (r["node"], r["anc"], r["depth"])
        for r in ancestor_closure(edges, max_depth=10).collect()
    }
    want = set()
    for n in nodes:
        a, d = n, 0
        while a > 0:
            a, d = a >> 3, d + 1
            want.add((n, a, d))
    assert got == want


def test_ancestor_closure_max_depth_bounds_cycles(spark):
    """A cycle in user data must terminate at max_depth, not hang —
    the same bounded-chase discipline as the identity redirects."""
    from hogflare_spark.operators.recursion import ancestor_closure

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "node long, parent long"
    )
    rows = ancestor_closure(edges, max_depth=7).collect()
    assert max(r["depth"] for r in rows) == 7
    assert len(rows) == 3 * 7


# ------------------------------------------------ next-event examples


def test_next_event_examples_bounded_context(spark):
    """Hand-checkable sequence: contexts are the previous <=H events in
    order, first events drop, label filter keeps other types in
    contexts."""
    from hogflare_spark.operators.sampling import next_event_examples

    rows = [
        (1, i, f"2024-01-01T00:0{i}:00", t)
        for i, t in enumerate(["view", "click", "view", "purchase", "click",
                               "view", "view", "purchase"])
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string, event_type string"
    ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"),
             "event_type")
    out = {
        r["ts"].minute: (r["context"], r["label"])
        for r in next_event_examples(df, history=3).collect()
    }
    assert 0 not in out  # first event has no context
    assert out[1] == ("view", "click")
    assert out[3] == ("view click view", "purchase")
    assert out[4] == ("click view purchase", "click")  # window slid
    only_purchase = next_event_examples(
        df, history=3, label_filter="purchase"
    ).collect()
    assert sorted(r["ts"].minute for r in only_purchase) == [3, 7]
    # non-purchase events still populate purchase contexts
    assert all("view" in r["context"] for r in only_purchase)


def test_compaction_crash_before_entry_leaves_events_unchanged(
    spark, tmp_path, monkeypatch
):
    """A compaction that dies after writing its data dir but before its
    entry changes nothing a reader sees; the retry compacts to the same
    rows and removes what it replaced."""
    from hogflare_spark.sinks.lake import append_events, compact_events, read_entry

    events_dir = str(tmp_path / "lake")
    for i, d in enumerate(["alice", "bob", "carol"]):
        append_events(_lake_events(spark, [(d, f"2025-03-01T1{i}:00:00Z")]), events_dir)
    want, leaves = _lake_rows(spark, events_dir), read_entry(events_dir)["leaves"]

    _stop_before_entry(monkeypatch)
    with pytest.raises(OSError, match="stopped before the entry"):
        compact_events(spark, events_dir)
    monkeypatch.undo()
    assert read_entry(events_dir)["leaves"] == leaves
    assert _lake_rows(spark, events_dir) == want

    replaced = compact_events(spark, events_dir)
    assert sorted(replaced) == sorted(os.path.join(events_dir, p) for p in leaves)
    assert not any(os.path.exists(p) for p in replaced)
    assert len(read_entry(events_dir)["leaves"]) == 1
    assert _lake_rows(spark, events_dir) == want


# ------------------------------------------------- exact k-selection


def test_kth_smallest_forced_narrowing_matches_python(spark):
    """Force multiple histogram-narrowing levels (tiny direct_threshold,
    small bucket count) and check every rank class against a python
    sort: first, last, median, duplicates, and a duplicate-mass column
    where a bucket stops shrinking (min==max early-exit)."""
    from hogflare_spark.operators.selection import kth_smallest
    from hogflare_spark.sources.readers import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("value")
    vals = sorted(r["value"] for r in ev.collect() if r["value"] is not None)
    n = len(vals)
    for k in (1, 2, n // 2, n - 1, n):
        got = kth_smallest(
            ev, "value", k, buckets=16, max_levels=6, direct_threshold=25
        )
        assert got == vals[k - 1], (k, got, vals[k - 1])

    # duplicate mass: every row the same value -> min==max early exit
    const = ev.select((F.col("value") * 0 + 7.25).alias("value"))
    assert kth_smallest(const, "value", n // 2, direct_threshold=25) == 7.25

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kth_smallest(ev, "value", n + 1, direct_threshold=25)
    with _pytest.raises(ValueError):
        kth_smallest(ev, "value", 0)


def test_exact_quantile_values_rank_convention(spark):
    """(q, k, value): k = ceil(q*n) over non-null rows, value = the k-th
    smallest — pinned against a python sort."""
    import math

    from hogflare_spark.operators.selection import exact_quantile_values
    from hogflare_spark.sources.readers import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    vals = sorted(r["value"] for r in ev.select("value").collect()
                  if r["value"] is not None)
    for q, k, v in exact_quantile_values(ev, "value", qs=(0.1, 0.5, 0.99)):
        assert k == max(1, math.ceil(q * len(vals)))
        assert v == vals[k - 1]


def test_delete_crash_before_entry_leaves_events_unchanged(
    spark, tmp_path, monkeypatch
):
    """A GDPR deletion that dies after writing its rewrite but before its
    entry leaves the table as it was (the subject's rows still readable,
    nothing lost); the retry deletes the same rows and count as a
    deletion that never failed."""
    from hogflare_spark.sinks.lake import append_events, delete_person_rows, read_entry

    pairs = [
        ("alice", "2025-03-01T10:00:00Z"),
        ("bob", "2025-03-01T11:00:00Z"),
        ("alice", "2025-03-02T09:00:00Z"),
        ("carol", "2025-03-03T10:00:00Z"),
    ]
    clean, events_dir = str(tmp_path / "clean"), str(tmp_path / "lake")
    for root in (clean, events_dir):
        append_events(_lake_events(spark, pairs), root)
    want = delete_person_rows(spark, clean, ["alice"])[1], _lake_rows(spark, clean)
    before, leaves = _lake_rows(spark, events_dir), read_entry(events_dir)["leaves"]

    _stop_before_entry(monkeypatch)
    with pytest.raises(OSError, match="stopped before the entry"):
        delete_person_rows(spark, events_dir, ["alice"])
    monkeypatch.undo()
    assert read_entry(events_dir)["leaves"] == leaves
    assert _lake_rows(spark, events_dir) == before

    pdirs, n = delete_person_rows(spark, events_dir, ["alice"])
    assert (n, _lake_rows(spark, events_dir)) == want == (2, [
        ("u1", "bob", "2025-03-01"), ("u3", "carol", "2025-03-03")
    ])
    assert not any(os.path.exists(p) for p in pdirs)
