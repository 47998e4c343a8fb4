"""Round-9 regressions: BPE train-on-sample, parameter validation,
ADVICE hardening (classifier cache release, fan_out malformed bodies,
id-type handling in the Arrow similarity kernels)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_bpe_checkpoint_every_validated(spark):
    from hogflare_spark.operators.bpe import bpe_segment, bpe_train_merges

    df = spark.createDataFrame([Row(doc_id=0, text="a a a")])
    for bad in (0, -3):
        with pytest.raises(ValueError, match="checkpoint_every"):
            bpe_train_merges(df, "text", "doc_id", n_merges=1, checkpoint_every=bad)
        with pytest.raises(ValueError, match="checkpoint_every"):
            bpe_segment(df, "text", "doc_id", [("a", "a")], checkpoint_every=bad)
    with pytest.raises(ValueError, match="sample_docs"):
        bpe_train_merges(df, "text", "doc_id", n_merges=1, sample_docs=0)


def test_bpe_train_on_sample_matches_manual_subset(spark):
    """sample_docs trains on exactly the n lowest-(h60, id) docs: the
    merge table equals training on that manually-selected subset, and a
    sample covering the whole corpus equals full-corpus training."""
    from hogflare_spark.functions.hashing import _py_h60
    from hogflare_spark.operators.bpe import TRAIN_SAMPLE_SALT, bpe_train_merges

    rows = [
        Row(doc_id=i, text=f"alpha beta gamma delta tok{i} alpha beta")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows)

    keep = sorted(
        range(12), key=lambda i: (_py_h60(f"{TRAIN_SAMPLE_SALT}{i}"), i)
    )[:5]
    manual = spark.createDataFrame([r for r in rows if r.doc_id in keep])

    sampled = [
        tuple(r)
        for r in bpe_train_merges(df, "text", "doc_id", 3, sample_docs=5).collect()
    ]
    expected = [tuple(r) for r in bpe_train_merges(manual, "text", "doc_id", 3).collect()]
    assert sampled == expected
    # the dominant pair survives sampling on this uniform corpus
    assert (sampled[0][1], sampled[0][2]) == ("alpha", "beta")

    full = [tuple(r) for r in bpe_train_merges(df, "text", "doc_id", 3).collect()]
    covering = [
        tuple(r)
        for r in bpe_train_merges(df, "text", "doc_id", 3, sample_docs=12).collect()
    ]
    assert covering == full


def test_fan_out_lane_survives_malformed_and_compressed_bodies(spark, tmp_path):
    """r8 ADVICE: the fused flag+command checkpoint in the under-parallel
    fan_out lane evaluates every fast-path expression on INELIGIBLE rows
    too — malformed JSON, compressed envelopes, non-JSON garbage. Pin
    that the combined checkpoint materializes without error and the lane
    stays row-identical to the all-Python path."""
    import base64
    import json
    import zlib

    from hogflare_spark.operators.normalize import decode_normalize_requests
    from hogflare_spark.operators.partitioning import fan_out

    payload = {"event": "gz", "distinct_id": "z1", "properties": {"k": 1}}
    gz_env = json.dumps(
        {
            "data": base64.b64encode(zlib.compress(json.dumps(payload).encode())).decode(),
            "compression": "gzip-js",
        }
    )
    bodies = [
        '{"event":"ok","distinct_id":"u1","properties":{"k":5}}',  # eligible
        "{not json at all",  # malformed
        "\x00\x1f\x8b garbage bytes",  # binary-ish garbage
        gz_env,  # compressed data envelope
        "",  # empty body
    ]
    p = str(tmp_path / "raw.parquet")
    spark.createDataFrame(
        [(i, "capture", b) for i, b in enumerate(bodies)],
        "request_seq long, endpoint string, body string",
    ).coalesce(1).write.parquet(p)
    raw = spark.read.parquet(p)
    assert fan_out(raw) is not raw, "test precondition: fan_out lane must engage"

    fast = decode_normalize_requests(raw, fast_path=True)
    slow = decode_normalize_requests(raw, fast_path=False)
    cols = sorted(fast.columns)
    key = lambda df: sorted(tuple(str(r[c]) for c in cols) for r in df.collect())
    got = key(fast)
    assert got == key(slow)
    # the decodable bodies both came through: the eligible row via the
    # fast branch, the compressed envelope via the Python branch
    events = {r["event"] for r in fast.collect()}
    assert events == {"ok", "gz"}


def test_arrow_kernel_ops_reject_non_integer_ids(spark):
    """r8 ADVICE (medium): the Arrow rewrites move ids as int64 — the
    operators must fail fast at plan-build with a clear TypeError on a
    string id column, not with a numpy cast error inside a task."""
    from hogflare_spark.operators.similarity import (
        brute_force_topk,
        distributed_kmeans,
        lsh_ann_topk,
        lsh_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [Row(vec_id="a", embedding=[1.0, 0.0]), Row(vec_id="b", embedding=[0.0, 1.0])]
    )
    for op in (
        lambda: brute_force_topk(df, df, 1),
        lambda: lsh_near_dup_pairs(df, threshold=0.9, dim=2),
        lambda: lsh_ann_topk(df, df, 1, dim=2),
        lambda: distributed_kmeans(df, k=1, iters=1),
    ):
        with pytest.raises(TypeError, match="integral id column"):
            op()


def test_linear_probe_releases_cache_on_empty_input(spark):
    """The empty-input early return must release the per-fit cached
    frame like every other exit path (inline release() contract)."""
    from hogflare_spark.functions.caching import _LIVE, unpersist_all
    from hogflare_spark.operators.classifier import linear_probe

    unpersist_all()
    before = len(_LIVE)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label int"
    )
    out = linear_probe(empty, target_label=1, iters=1)
    assert out.count() == 0
    assert len(_LIVE) == before


def test_global_shuffle_contiguous_positions_and_determinism(spark):
    from hogflare_spark.functions.hashing import _py_h60
    from hogflare_spark.operators.sampling import SHUFFLE_SALT, global_shuffle

    df = spark.createDataFrame([Row(doc_id=i) for i in range(200)])
    out = global_shuffle(df, "doc_id", n_shards=8).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        assert _py_h60(f"{SHUFFLE_SALT}{r['doc_id']}") % 8 == r["shard"]
        by_shard.setdefault(r["shard"], []).append((r["pos"], r["doc_id"]))
    for shard, rows in by_shard.items():
        poss = sorted(p for p, _ in rows)
        assert poss == list(range(1, len(rows) + 1))
        # within-shard order follows the independent position hash
        expect = sorted(
            (d for _, d in rows),
            key=lambda d: (_py_h60(f"{SHUFFLE_SALT}pos:{d}"), d),
        )
        got = [d for _, d in sorted(rows)]
        assert got == expect
    again = global_shuffle(df.repartition(7), "doc_id", n_shards=8).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_mixture_interleave_weight_proportional_prefix(spark):
    from hogflare_spark.operators.sampling import mixture_interleave

    rows = [Row(doc_id=i, lang="a" if i % 2 == 0 else "b") for i in range(120)]
    df = spark.createDataFrame(rows)
    out = mixture_interleave(df, "doc_id", "lang", {"a": 2, "b": 1}).collect()
    assert len(out) == 120
    # okey = rank/weight: docs of domain d with okey <= K are exactly
    # min(n_d, floor(K * w_d)) — weight proportionality at every prefix
    for K in (1.0, 5.0, 12.5, 30.0):
        na = sum(1 for r in out if r["domain"] == "a" and r["okey"] <= K)
        nb = sum(1 for r in out if r["domain"] == "b" and r["okey"] <= K)
        assert na == min(60, int(K * 2))
        assert nb == min(60, int(K * 1))
    # domains not in the weight table are excluded
    df2 = spark.createDataFrame(rows + [Row(doc_id=999, lang="zz")])
    out2 = mixture_interleave(df2, "doc_id", "lang", {"a": 2, "b": 1}).collect()
    assert all(r["domain"] != "zz" for r in out2)


def test_cluster_balanced_sample_quota_and_determinism(spark):
    """Every cluster contributes exactly min(n, |cell|) rows, the kept
    set is a subset of the corpus with the cluster assignment it would
    get from plain distributed_kmeans, and the draw is
    partitioning-independent."""
    import numpy as np

    from hogflare_spark.operators.similarity import (
        cluster_balanced_sample,
        distributed_kmeans,
    )

    rng = np.random.RandomState(7)
    # 3 planted directions with lopsided membership: 40 / 12 / 3
    dirs = rng.randn(3, 16)
    rows = []
    sizes = [40, 12, 3]
    vid = 0
    for c, n in enumerate(sizes):
        for _ in range(n):
            v = dirs[c] + 0.05 * rng.randn(16)
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows)

    out = cluster_balanced_sample(df, 5, k=3, iters=2).collect()
    cells = {
        r["id"]: r["cell"]
        for r in distributed_kmeans(df, k=3, iters=2).collect()
    }
    # assignment provenance matches the plain trainer
    assert all(cells[r["id"]] == r["cell"] for r in out)
    # per-cell quota: min(5, |cell|)
    from collections import Counter

    cell_sizes = Counter(cells.values())
    kept_sizes = Counter(r["cell"] for r in out)
    assert kept_sizes == {c: min(5, n) for c, n in cell_sizes.items()}
    # partitioning-independent draw
    again = cluster_balanced_sample(df.repartition(13), 5, k=3, iters=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_scd2_history_semantics_and_single_exchange(spark):
    """Epoch semantics: consecutive duplicate values collapse, null-safe
    transitions (null->v, v->null open epochs; null->null does not),
    multi-column change detection, contiguous [valid_from, valid_to)
    bounds; and the whole construction plans ONE Exchange + ONE Sort
    with both Windows on the same sorted run."""
    from hogflare_spark.operators.temporal import scd2_history

    rows = [
        # u1: v 1,1,2,2,None,None,2 -> epochs at o=1(v1), 3(v2), 5(None), 7(v2)
        Row(u=1, v=1, o=1), Row(u=1, v=1, o=2), Row(u=1, v=2, o=3),
        Row(u=1, v=2, o=4), Row(u=1, v=None, o=5), Row(u=1, v=None, o=6),
        Row(u=1, v=2, o=7),
        # u2: single row -> one current epoch
        Row(u=2, v=9, o=1),
    ]
    out = scd2_history(spark.createDataFrame(rows), "u", ["v"], "o").collect()
    got = sorted((r["u"], r["valid_from"], r["valid_to"], r["v"],
                  r["version"], r["is_current"]) for r in out)
    assert got == [
        (1, 1, 3, 1, 1, False),
        (1, 3, 5, 2, 2, False),
        (1, 5, 7, None, 3, False),
        (1, 7, None, 2, 4, True),
        (2, 1, None, 9, 1, True),
    ]

    # multi-column: a change in EITHER column opens an epoch
    rows2 = [Row(u=1, a=1, b="x", o=1), Row(u=1, a=1, b="y", o=2),
             Row(u=1, a=2, b="y", o=3), Row(u=1, a=2, b="y", o=4)]
    out2 = scd2_history(spark.createDataFrame(rows2), "u", ["a", "b"], "o")
    # read the plan BEFORE any action: the post-collect AQE string
    # repeats the plan (Final + Initial sections) and double-counts
    plan = out2._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and plan.count("Sort") == 1
    assert [r["valid_from"] for r in sorted(out2.collect(),
                                            key=lambda r: r["version"])] == [1, 2, 3]


def test_multi_touch_attribution_models_hand_computed(spark):
    """All four models on a hand-worked stream: n=1, n=2 and n=3
    conversions, a multi-conversion user (touches scope to the NEXT
    conversion only), and an unattributed tail touch after the last
    conversion."""
    from datetime import datetime

    from hogflare_spark.operators.attribution import multi_touch_attribution

    def ev(i, u, t, typ):
        return Row(event_id=i, user_id=u,
                   ts=datetime(2025, 1, 1, 0, 0, t), event_type=typ)

    rows = [
        # u1: click, view -> purchase ; click -> purchase ; error (tail)
        ev(1, 1, 1, "click"), ev(2, 1, 2, "view"), ev(3, 1, 3, "purchase"),
        ev(4, 1, 4, "click"), ev(5, 1, 5, "purchase"), ev(6, 1, 6, "error"),
        # u2: a, b, c -> purchase  (n=3 position split 40/20/40)
        ev(7, 2, 1, "a"), ev(8, 2, 2, "b"), ev(9, 2, 3, "c"),
        ev(10, 2, 4, "purchase"),
    ]
    out = {
        r["channel"]: r
        for r in multi_touch_attribution(
            spark.createDataFrame(rows), "purchase"
        ).collect()
    }
    assert set(out) == {"click", "view", "a", "b", "c"}  # error: unattributed
    c = out["click"]
    assert (c["n_touches"], c["linear_bp"], c["first_bp"], c["last_bp"],
            c["position_bp"]) == (2, 1_500_000, 2_000_000, 1_000_000, 1_500_000)
    v = out["view"]
    assert (v["n_touches"], v["linear_bp"], v["first_bp"], v["last_bp"],
            v["position_bp"]) == (1, 500_000, 0, 1_000_000, 500_000)
    a, b, cc = out["a"], out["b"], out["c"]
    assert (a["linear_bp"], a["first_bp"], a["last_bp"], a["position_bp"]) == (
        333_333, 1_000_000, 0, 400_000)
    assert (b["linear_bp"], b["first_bp"], b["last_bp"], b["position_bp"]) == (
        333_333, 0, 0, 200_000)
    assert (cc["linear_bp"], cc["first_bp"], cc["last_bp"], cc["position_bp"]) == (
        333_333, 0, 1_000_000, 400_000)


def test_streaming_ivf_index_append_replay_and_pruning(spark, tmp_path):
    """Incremental IVF index: batches accumulate (queries see every
    batch's vectors), re-delivery of a batch id is idempotent, the
    bootstrap centroids persist unchanged across appends, and an
    approximate probe prunes at the cell-partition level."""
    import json

    import numpy as np

    from hogflare_spark.streaming.ann_index import StreamingIvfIndex

    rng = np.random.RandomState(3)
    dirs = rng.randn(4, 8)
    def mk(ids, cdx):
        return spark.createDataFrame([
            Row(vec_id=i, embedding=[float(x) for x in dirs[cdx[j]] + 0.05 * rng.randn(8)])
            for j, i in enumerate(ids)
        ])

    idx = StreamingIvfIndex(str(tmp_path / "idx"), n_centroids=4)
    b0 = mk(range(0, 12), [j % 4 for j in range(12)])
    idx.process_batch(b0, 0)
    ptr0 = json.load(open(str(tmp_path / "idx" / "_CENTROIDS.json")))

    q = b0.where(F.col("vec_id") < 2)
    hits0 = {r["neighbor_id"] for r in idx.query_topk(spark, q, 5, n_probe=4).collect()}
    assert hits0 <= set(range(12))

    b1 = mk(range(12, 20), [j % 4 for j in range(8)])
    idx.process_batch(b1, 1)
    # centroids persisted, not retrained
    ptr1 = json.load(open(str(tmp_path / "idx" / "_CENTROIDS.json")))
    assert ptr1 == ptr0
    # accumulated: probe-all now reaches batch-1 vectors
    all_hits = {
        r["neighbor_id"]
        for r in idx.query_topk(spark, mk(range(0, 12), [j % 4 for j in range(12)]),
                                19, n_probe=4).collect()
    }
    assert all_hits == set(range(20)) - set()  # every other vector reachable

    # replay idempotence: reprocessing batch 1 changes nothing
    idx.process_batch(b1, 1)
    again = {
        r["neighbor_id"]
        for r in idx.query_topk(spark, mk(range(0, 12), [j % 4 for j in range(12)]),
                                19, n_probe=4).collect()
    }
    assert again == all_hits
    n_rows = spark.read.parquet(str(tmp_path / "idx" / ptr1["data"])).count()
    assert n_rows == 20

    # approximate probe prunes: the scan's partition filter keeps only
    # probed cells (cell is a partition column at the second dir level)
    out = idx.query_topk(spark, q, 3, n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("cell" in ln for ln in pf), plan
    # and the result is a subset of the exact probe-all answer's pool
    approx = {r["neighbor_id"] for r in out.collect()}
    assert approx <= all_hits | set(range(20))


def test_topk_ngrams_counts_and_tiebreak(spark):
    from hogflare_spark.operators.text_analysis import topk_ngrams

    docs = spark.createDataFrame([
        Row(doc_id=0, text="the quick fox the quick fox"),
        Row(doc_id=1, text="the quick fox jumps"),
        Row(doc_id=2, text="so short"),  # < n tokens: contributes nothing
    ])
    out = [(r["ngram"], r["occurrences"], r["doc_freq"])
           for r in topk_ngrams(docs, "text", "doc_id", n=3, k=3).collect()]
    # doc0 trigrams: [the quick fox, quick fox the, fox the quick, the quick fox]
    # doc1 trigrams: [the quick fox, quick fox jumps]
    assert out[0] == ("the quick fox", 3, 2)
    # ties on occurrences=1 resolve alphabetically
    assert out[1] == ("fox the quick", 1, 1)
    assert out[2] == ("quick fox jumps", 1, 1)


def test_point_in_time_join_no_leakage(spark):
    """Each fact matches exactly the epoch containing its order key —
    never the key's CURRENT value (leakage) — and facts before the
    first epoch or with unknown keys drop out."""
    from hogflare_spark.operators.temporal import (
        point_in_time_join,
        scd2_history,
    )

    stream = spark.createDataFrame([
        Row(u=1, v=10, o=5), Row(u=1, v=20, o=10), Row(u=1, v=30, o=20),
    ])
    hist = scd2_history(stream, "u", ["v"], "o")
    facts = spark.createDataFrame([
        Row(u=1, o=5),   # exactly at epoch 1 open
        Row(u=1, o=9),   # inside epoch 1 (NOT the later v=20/30)
        Row(u=1, o=10),  # at epoch 2 boundary: [10, 20)
        Row(u=1, o=19),
        Row(u=1, o=99),  # open current epoch
        Row(u=1, o=2),   # before first epoch: dropped
        Row(u=2, o=5),   # unknown key: dropped
    ])
    out = {(r["u"], r["o"]): r["v"]
           for r in point_in_time_join(facts, hist, "u", "o").collect()}
    assert out == {(1, 5): 10, (1, 9): 10, (1, 10): 20, (1, 19): 20, (1, 99): 30}


def test_sketch_rollup_mergeable_and_exact_at_small_cardinality(spark):
    """The continuous-aggregate property: weekly estimates computed by
    UNION-MERGING daily sketches equal (within the gate's tolerance)
    both the exact distinct and the direct weekly sketch — including
    users spanning multiple days of the same week (the case a naive
    sum-of-daily-distincts double-counts)."""
    from datetime import datetime

    from hogflare_spark.operators.rollup import sketch_rollup, sketch_rollup_check

    rows = []
    eid = 0
    # week of 2025-01-06..12: users 0..49 on Monday, 25..74 on Friday
    # -> weekly distinct = 75, sum of daily distincts = 100
    for day, users in ((6, range(0, 50)), (10, range(25, 75))):
        for u in users:
            rows.append(Row(event_id=eid, ts=datetime(2025, 1, day, 12),
                            user_id=u, event_type="view"))
            eid += 1
    ev = spark.createDataFrame(rows)

    fine, rollup = sketch_rollup(ev, "ts", ["event_type"], "user_id")
    assert fine.count() == 2  # two daily sketch rows
    weekly = rollup.collect()
    assert len(weekly) == 1
    # small cardinality: datasketches HLL is exact in sparse mode
    assert weekly[0]["est_users"] == 75

    chk = sketch_rollup_check(ev, "ts", ["event_type"], "user_id").collect()
    assert len(chk) == 1
    r = chk[0]
    assert r["exact_users"] == 75
    assert r["est_within_tol"] and r["rollup_matches_direct"]


def test_streaming_ivf_compact_preserves_queries_and_fences_replays(spark, tmp_path):
    """compact() rolls batch dirs into a batch=-1 snapshot: query
    results are unchanged, a re-delivery of an ABSORBED batch id is a
    no-op (covered_max fence), and a genuinely new batch still appends
    and is queryable alongside the snapshot."""
    import json
    import os

    import numpy as np

    from hogflare_spark.streaming.ann_index import StreamingIvfIndex

    rng = np.random.RandomState(11)
    dirs = rng.randn(3, 8)
    def mk(ids):
        return spark.createDataFrame([
            Row(vec_id=i, embedding=[float(x) for x in dirs[i % 3] + 0.05 * rng.randn(8)])
            for i in ids
        ])

    idx = StreamingIvfIndex(str(tmp_path / "idx"), n_centroids=3)
    idx.process_batch(mk(range(0, 10)), 0)
    idx.process_batch(mk(range(10, 16)), 1)
    q = mk(range(0, 3))
    before = sorted(map(tuple, idx.query_topk(spark, q, 4, n_probe=3).collect()))

    assert idx.compact(spark)
    ptr = json.load(open(str(tmp_path / "idx" / "_CENTROIDS.json")))
    assert ptr["covered_max"] == 1
    data = str(tmp_path / "idx" / ptr["data"])
    assert sorted(os.listdir(data))[0] == "batch=-1"
    assert sorted(map(tuple, idx.query_topk(spark, q, 4, n_probe=3).collect())) == before

    # absorbed replay: no-op (no batch=1 dir reappears, rows unchanged)
    idx.process_batch(mk(range(10, 16)), 1)
    assert not any(d == "batch=1" for d in os.listdir(data))
    assert spark.read.parquet(data).count() == 16

    # new batch appends next to the snapshot and is queryable
    idx.process_batch(mk(range(16, 19)), 2)
    assert spark.read.parquet(data).count() == 19
    hits = {r["neighbor_id"]
            for r in idx.query_topk(spark, mk(range(0, 16)), 18, n_probe=3).collect()}
    assert hits == set(range(19))
    # idempotent compact of a snapshot-plus-one-batch still works
    assert idx.compact(spark)
    assert spark.read.parquet(
        str(tmp_path / "idx" / json.load(open(str(tmp_path / "idx" / "_CENTROIDS.json")))["data"])
    ).count() == 19


def test_delete_person_rows_rewrites_only_affected_partitions(spark, tmp_path):
    """The subject's rows vanish; partitions without subject rows are
    not rewritten (bytes and mtimes untouched); the delete count and
    rewritten-dir list are exact; a no-match delete is a no-op. Events
    without a timestamp sit in the null partition, which a subject
    found only there is deleted from alone."""
    import os
    from datetime import datetime

    from hogflare_spark.sinks.lake import (
        append_events,
        delete_person_rows,
        read_entry,
        read_events,
    )

    rows = []
    for day, uids in ((1, [1, 2, 3]), (2, [4, 5]), (3, [1, 6])):
        for i, u in enumerate(uids):
            rows.append(Row(
                uuid=f"e{day}-{i}", event="ev", distinct_id=str(u),
                team_id="t", created_at=datetime(2025, 3, day, 10, i),
                properties="{}", timestamp=datetime(2025, 3, day, 10, i)))
    for i, u in enumerate([7, 8]):
        rows.append(Row(
            uuid=f"n-{i}", event="ev", distinct_id=str(u), team_id="t",
            created_at=datetime(2025, 3, 1, 12, i), properties="{}",
            timestamp=None))
    lake = str(tmp_path / "lake")
    append_events(spark.createDataFrame(rows), lake)

    def leaf(day):
        suffix = "__HIVE_DEFAULT_PARTITION__" if day is None else f"2025-03-0{day}"
        (path,) = [os.path.join(lake, p) for p in read_entry(lake)["leaves"]
                   if p.endswith(f"event_date={suffix}")]
        return path

    def snap(d):
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet"))

    d2 = leaf(2)
    before_d2 = snap(d2)
    replaced = [leaf(1), leaf(3)]
    dirs, n = delete_person_rows(spark, lake, ["1"])
    assert n == 2  # day 1 and day 3
    assert sorted(dirs) == sorted(replaced)
    assert not any(os.path.exists(d) for d in dirs)  # no subject row on disk
    # day 2 untouched: same leaf, identical files, sizes, mtimes
    assert leaf(2) == d2 and snap(d2) == before_d2
    # a subject with only timestamp-less events: only the null leaf is
    # rewritten, and its other subject survives there
    kept = {day: (leaf(day), snap(leaf(day))) for day in (1, 2, 3)}
    null_leaf = leaf(None)
    assert delete_person_rows(spark, lake, ["7"]) == ([null_leaf], 1)
    assert not os.path.exists(null_leaf) and leaf(None) != null_leaf
    assert {day: (leaf(day), snap(leaf(day))) for day in (1, 2, 3)} == kept
    back = read_events(spark, lake)
    assert sorted(r["distinct_id"] for r in back.collect()) == [
        "2", "3", "4", "5", "6", "8"]
    assert [r["distinct_id"] for r in back.where(F.col("event_date").isNull()).collect()] == ["8"]
    # no-match: no rewrites at all
    assert delete_person_rows(spark, lake, ["99"]) == ([], 0)


def test_volume_anomalies_flags_planted_spike(spark, monkeypatch, tmp_path):
    """A planted 10x spike after a flat week is flagged; the warm-up
    days (under 4 trailing observations) and flat days are not."""
    import os
    from datetime import datetime

    from hogflare_spark.plans import QUERIES, load_all

    load_all()
    rows, eid = [], 0
    for day in range(1, 11):
        count = 100 if day != 9 else 1000  # spike on day 9
        for i in range(count):
            rows.append(Row(event_id=eid, ts=datetime(2025, 2, day, 8),
                            user_id=i, event_type="click",
                            value=1.0, props="{}"))
            eid += 1
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(rows).write.parquet(os.path.join(sf, "events.parquet"))

    out = {str(r["day"]): r for r in QUERIES["ev_volume_anomalies"](spark, sf).collect()}
    assert len(out) == 10
    # warm-up: days 1-4 have < 4 trailing observations -> null z, no flag
    for d in ("2025-02-01", "2025-02-04"):
        assert out[d]["z_micros"] is None and not out[d]["is_anomaly"]
    # flat stretch: zero variance -> no flag
    assert not out["2025-02-08"]["is_anomaly"]
    # the spike is flagged...
    assert out["2025-02-09"]["is_anomaly"]
    # ...and day 10 is compared against a window CONTAINING the spike:
    # huge variance, so a return to normal is not flagged
    assert not out["2025-02-10"]["is_anomaly"]


def test_weighted_sample_proportional_deterministic_and_capped(spark):
    from hogflare_spark.operators.sampling import WEIGHT_CAP, weighted_sample

    rows = [Row(doc_id=i, w=(4 if i < 1000 else 1)) for i in range(2000)]
    rows.append(Row(doc_id=9000, w=0))  # excluded outright
    df = spark.createDataFrame(rows)
    out = weighted_sample(df, "doc_id", "w", 500).collect()
    assert len(out) == 500
    assert all(r["doc_id"] != 9000 for r in out)
    # inclusion odds ~ weight: the w=4 half should dominate ~4:1
    # (deterministic draw; generous band around the ~400 expectation)
    heavy = sum(1 for r in out if r["doc_id"] < 1000)
    assert 340 <= heavy <= 460, heavy
    # partitioning-independent
    again = weighted_sample(df.repartition(17), "doc_id", "w", 500).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # a huge weight behaves exactly like the cap
    one = spark.createDataFrame([Row(doc_id=1, w=10**9)])
    capped = spark.createDataFrame([Row(doc_id=1, w=WEIGHT_CAP)])
    assert (weighted_sample(one, "doc_id", "w", 1).collect()[0]["priority"]
            == weighted_sample(capped, "doc_id", "w", 1).collect()[0]["priority"])


def test_incremental_bm25_stats_additive_replay_and_compaction(spark, tmp_path):
    """The accumulated model equals the direct batch statistics after
    arbitrary batching, a replayed batch id does not double-count
    (including one already absorbed into a snapshot), and compaction
    preserves the model exactly."""
    from hogflare_spark.streaming.incremental_model import IncrementalBm25Stats

    docs = spark.createDataFrame([
        Row(doc_id=0, text="apple banana apple"),
        Row(doc_id=1, text="banana cherry"),
        Row(doc_id=2, text="apple"),
        Row(doc_id=3, text="date banana date"),
    ])

    def direct(df):
        job = IncrementalBm25Stats(str(tmp_path / "one"), compact_every=99)
        return sorted(
            map(tuple, job._batch_stats(df).collect()),
            key=lambda t: (t[0] is None, t[0]),
        )

    want = direct(docs)
    job = IncrementalBm25Stats(str(tmp_path / "inc"), compact_every=2)
    job.process_batch(docs.where(F.col("doc_id") < 2), 0)
    job.process_batch(docs.where(F.col("doc_id") == 2), 1)  # compacts
    job.process_batch(docs.where(F.col("doc_id") == 3), 2)

    def model():
        return sorted(
            map(tuple, job.model(spark).collect()),
            key=lambda t: (t[0] is None, t[0]),
        )

    assert model() == want
    # replay an ABSORBED batch id: fenced by the snapshot pointer
    job.process_batch(docs.where(F.col("doc_id") < 2), 0)
    assert model() == want
    # replay a live batch id: deterministic overwrite, not double-count
    job.process_batch(docs.where(F.col("doc_id") == 3), 2)
    assert model() == want


def test_scd2_history_matches_python_fold_property(spark):
    """Differential property test: scd2_history over random ordered
    streams equals a pure-Python epoch fold (change-on-any-column,
    null-safe, lead bounds)."""
    import random

    from hogflare_spark.operators.temporal import scd2_history

    rng = random.Random(42)
    for trial in range(4):
        rows = []
        o = 0
        for u in range(1, 5):
            for _ in range(rng.randint(0, 12)):
                o += rng.randint(1, 3)
                rows.append(Row(
                    u=u,
                    a=rng.choice([None, 1, 2]),
                    b=rng.choice([None, "x", "y"]),
                    o=o,
                ))
        if not rows:
            continue
        got = sorted(
            (r["u"], r["valid_from"], r["valid_to"], r["a"], r["b"],
             r["version"], r["is_current"])
            for r in scd2_history(
                spark.createDataFrame(rows, "u long, a long, b string, o long"),
                "u", ["a", "b"], "o",
            ).collect()
        )
        want = []
        by_u = {}
        for r in sorted(rows, key=lambda r: (r.u, r.o)):
            by_u.setdefault(r.u, []).append(r)
        for u, rs in by_u.items():
            starts = []
            prev = None
            for r in rs:
                if prev is None or (r.a, r.b) != (prev.a, prev.b):
                    starts.append(r)
                prev = r
            for i, s in enumerate(starts):
                nxt = starts[i + 1].o if i + 1 < len(starts) else None
                want.append((u, s.o, nxt, s.a, s.b, i + 1, nxt is None))
        assert got == sorted(want), f"trial {trial}"


def test_attribution_per_conversion_credit_invariants(spark):
    """Invariants over a randomized stream: per conversion, first and
    last credits each sum to exactly MICRO, linear sums to
    MICRO - MICRO % n, and position sums to MICRO minus only the
    middle-split integer-division remainder."""
    import random
    from datetime import datetime, timedelta

    from hogflare_spark.operators.attribution import MICRO, multi_touch_attribution

    rng = random.Random(7)
    rows, eid = [], 0
    base = datetime(2025, 1, 1)
    for u in range(1, 9):
        for _ in range(rng.randint(2, 25)):
            eid += 1
            rows.append(Row(
                event_id=eid, user_id=u, ts=base + timedelta(minutes=eid),
                event_type=rng.choice(["a", "b", "c", "purchase"]),
            ))
    df = spark.createDataFrame(rows)
    out = multi_touch_attribution(df, "purchase").collect()

    # python reference fold for the aggregate totals
    convs = []
    by_u = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        by_u.setdefault(r.user_id, []).append(r)
    tot = {"lin": 0, "first": 0, "last": 0, "pos": 0, "touch": 0}
    for rs in by_u.values():
        cur = []
        for r in rs:
            if r.event_type == "purchase":
                if cur:
                    n = len(cur)
                    tot["touch"] += n
                    tot["lin"] += n * (MICRO // n)
                    tot["first"] += MICRO
                    tot["last"] += MICRO
                    if n == 1:
                        tot["pos"] += MICRO
                    elif n == 2:
                        tot["pos"] += MICRO
                    else:
                        tot["pos"] += 2 * (MICRO * 2 // 5) + (n - 2) * (MICRO // 5 // (n - 2))
                cur = []
            else:
                cur.append(r)
    assert sum(r["n_touches"] for r in out) == tot["touch"]
    assert sum(r["linear_bp"] for r in out) == tot["lin"]
    assert sum(r["first_bp"] for r in out) == tot["first"]
    assert sum(r["last_bp"] for r in out) == tot["last"]
    assert sum(r["position_bp"] for r in out) == tot["pos"]
