"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import gen, oracle
from perfbench.stats import Outcomes, percentile
from perfbench.trace import Span, Tracer, self_times
from perfbench.workloads import _batch_files, event_failures


# ---- generator determinism -----------------------------------------------


def test_capture_log_is_byte_identical_per_seed():
    a = gen.capture_log(7, 400)
    b = gen.capture_log(7, 400)
    assert a == b
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(gen.capture_log(8, 400)) != gen.digest(a)


def test_identity_and_serve_inputs_are_deterministic():
    assert gen.identity_logs(3) == gen.identity_logs(3)
    assert gen.identity_logs(3) != gen.identity_logs(4)
    assert gen.flag_config(3, 12) == gen.flag_config(3, 12)
    assert gen.analytics_events(3, 200, 20) == gen.analytics_events(3, 200, 20)


def test_stream_files_are_byte_identical_per_seed():
    a = gen.stream_file_lines(gen.stream_log(5, 1000, seq0=100))
    assert a == gen.stream_file_lines(gen.stream_log(5, 1000, seq0=100))
    assert a != gen.stream_file_lines(gen.stream_log(6, 1000, seq0=100))
    lines = [json.loads(line) for line in a.decode().splitlines()]
    assert [r["request_seq"] for r in lines] == list(range(100, 1100))
    assert {r["endpoint"] for r in lines} >= {"capture", "batch", "alias"}


def test_batch_files_reads_plain_and_compacted_source_log(tmp_path):
    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)

    def entry(name, batch):
        return json.dumps({"path": f"file:///x/landing/{name}", "timestamp": 1, "batchId": batch})

    (log_dir / "3").write_text("v1\n" + entry("a.json", 3) + "\n" + entry("b.json", 3) + "\n")
    (log_dir / "9.compact").write_text("v1\n" + entry("c.json", 8) + "\n" + entry("d.json", 9) + "\n")
    assert _batch_files(str(tmp_path), 3) == ["a.json", "b.json"]
    assert _batch_files(str(tmp_path), 9) == ["d.json"]
    assert _batch_files(str(tmp_path), 4) == []


def test_capture_log_covers_every_wire_shape_and_planted_kind():
    rows = gen.capture_log(1, 4000)
    mix = gen.load_mix()["capture_batch"]
    assert len(rows) == 4000
    assert [r.request_seq for r in rows] == list(range(4000))
    planted = [r.planted for r in rows if r.planted]
    assert sorted(set(planted)) == sorted(mix["planted"])
    assert len(planted) == sum(mix["planted"].values())
    assert {r.endpoint for r in rows} >= {"capture", "batch", "e", "identify", "alias", "groups"}
    assert {r.content_encoding for r in rows} >= {None, "gzip", "deflate"}
    assert "application/x-www-form-urlencoded" in {r.content_type for r in rows}
    assert sum(r.endpoint in ("identify", "alias") for r in rows) < 0.01 * len(rows)
    assert any(b"$groups" in r.body for r in rows if r.endpoint == "capture" and not r.content_encoding)


def test_planted_rows_produce_no_commands():
    rows = gen.capture_log(2, 600)
    commands = oracle.expected_commands(rows, gen.load_mix()["signing_secret"])
    accepted = {c["request_seq"] for c in commands}
    assert not accepted & {r.request_seq for r in rows if r.planted}
    assert accepted == {r.request_seq for r in rows if not r.planted}


# ---- self time -----------------------------------------------------------


def _span(sid, parent, start, end):
    s = Span(sid, "x", "x", parent, None, start)
    s.end = end
    return s


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),   # overlaps span 2: covered once
        _span(4, 1, 8.0, 12.0),  # runs past its parent: clipped at 10
        _span(5, 3, 2.5, 4.5),   # grandchild: only its parent loses it
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(3.0 - 2.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(2.0)


def test_ingest_split_counts_only_the_batch_passes():
    tracer = Tracer.__new__(Tracer)
    spans = [
        Span(1, "normalize", "n", None, 0, 0.0),
        Span(2, "lake", "write", None, 0, 0.0),
        Span(3, "person_fold", "p", None, 1, 0.0),
        Span(4, "identity", "cc", 3, 1, 0.0),
        Span(5, "group_fold", "g", None, None, 0.0),  # outside any pass
        Span(6, "flags", "f", None, 0, 0.0),          # on neither side
    ]
    for s, end in zip(spans, (2.0, 1.0, 4.0, 1.5, 9.0, 5.0)):
        s.end = end
    tracer.spans = spans
    assert tracer.ingest_split() == pytest.approx((3.0, 4.0))


# ---- error-rate accounting -----------------------------------------------


def test_refused_planted_rows_count_as_successes():
    rows = [gen.RawRow(i, "capture", b"{}", None, None, None, None,
                       "malformed" if i == 2 else None) for i in range(4)]
    expected = {(0, 0), (1, 0), (3, 0)}
    out = Outcomes()
    out.ok(len(rows))
    for note in event_failures(rows, [(0, 0), (1, 0), (3, 0)], expected):
        out.check(False, note)
    assert (out.attempted, out.failed, out.error_rate) == (4, 0, 0.0)


def test_valid_row_missing_from_the_kernel_and_the_engine_is_a_failure():
    # the kernel's expected items and the engine both lack row 1: only the
    # generator's record says it was valid
    rows = [gen.RawRow(i, "capture", b"{}", None, None, None, None, None) for i in range(3)]
    notes = event_failures(rows, [(0, 0), (2, 0)], {(0, 0), (2, 0)})
    assert notes == ["valid row 1 committed no event"]


def test_committed_planted_dropped_valid_and_duplicates_are_failures():
    rows = [gen.RawRow(i, "capture", b"{}", None, None, None, None,
                       "bad_signature" if i == 2 else None) for i in range(4)]
    expected = {(0, 0), (1, 0), (3, 0)}
    committed = [(0, 0), (0, 0), (2, 0), (3, 0)]
    notes = event_failures(rows, committed, expected)
    assert len(notes) == 4  # duplicate, unexpected 2/0, missing 1/0, planted committed
    out = Outcomes()
    out.ok(len(rows))
    for note in notes:
        out.check(False, note)
    assert out.error_rate == pytest.approx(1.0)


# ---- percentile sample-count rule ----------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == 9
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(100)), 0.9) == 89
    assert percentile([], 0.5) is None
