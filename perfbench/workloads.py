"""The benchmark workloads.

Each workload builds its inputs from the seed in `setup` (which also
builds prior state and warms the session up), runs its timed section in
`measure`, and checks the outputs of the last measured section in `check`
(untimed). Calls into the engine go through module attributes
(`ingest.ingest_raw_requests`, `lake.upsert_table`, ...) so the traced
run's wrappers see them.

- capture_batch: batch ingest of a capture-dominated log over every SDK
  wire shape behind the signature gate; decode/normalize, hydration and
  lake writes carry the work.
- identity_serve: the identity_merge ingest (identify/alias/engage/
  groupidentify ops folded into a prior persons and groups state, so
  connected components and the person/group folds carry the work)
  followed by the serve_reads section (whole-table flag evaluation,
  closed-loop /decide request batches and the events-analytics plans over
  state written at set-up). The two share one session so one run pays
  the session start and warm-up once.
- stream_ingest: the open-loop stream section of identity_serve's traced
  run (a landing directory drained by the hybrid streaming job).
"""

from __future__ import annotations

import gc
import json
import os
import random
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from perfbench import gen, oracle
from perfbench.stats import Outcomes, median, percentile, steal_share, tree_cpu_s
from perfbench.trace import NullTracer


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result lines)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    mix: dict
    outcomes: Outcomes = field(default_factory=Outcomes)
    tracer: object = field(default_factory=NullTracer)
    traced: bool = False  # the run is the traced one (--trace 1)


@dataclass
class Result:
    """Throughput and latency samples (seconds) of the workload's unit of
    work, plus extra named figures for the report line."""

    throughput_per_s: float
    latency_s: list
    report: dict


def _write_raw(rows, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("request_seq", pa.int64()), ("endpoint", pa.string()), ("body", pa.binary()),
        ("content_type", pa.string()), ("content_encoding", pa.string()),
        ("header_api_key", pa.string()), ("sig_posthog", pa.string()),
    ])
    columns = {c: [getattr(r, c) for r in rows] for c in schema.names}
    pq.write_table(pa.table(columns, schema=schema), path)
    return path


def _release() -> None:
    """Drop the engine's operator caches and the driver references that
    keep local checkpoints alive, between passes."""
    from hogflare_spark.functions.caching import unpersist_all

    unpersist_all()
    gc.collect()


_CREATED = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _enc(d: dict) -> dict:
    return {k: json.dumps(v, separators=(",", ":")) for k, v in d.items()}


def persons_frame(spark, records: dict):
    """Replayed person records → a PERSON_SCHEMA frame."""
    from hogflare_spark.schemas import PERSON_SCHEMA

    rows = [
        (cid, i, None, f"00000000-0000-4000-8000-{i:012d}", _CREATED, rec["version"],
         rec["distinct_ids"], _enc(rec["properties"]), _enc(rec["properties_set_once"]))
        for i, (cid, rec) in enumerate(sorted(records.items()), start=1)
    ]
    return spark.createDataFrame(rows, PERSON_SCHEMA)


def groups_frame(spark, groups: dict):
    """Replayed group records → a GROUP_SCHEMA frame."""
    from hogflare_spark.schemas import GROUP_SCHEMA

    rows = [(gtype, gkey, _CREATED, rec["version"], _enc(rec["properties"]))
            for (gtype, gkey), rec in sorted(groups.items())]
    return spark.createDataFrame(rows, GROUP_SCHEMA)


def event_failures(rows, committed, expected) -> list[str]:
    """Committed (request_seq, item_index) pairs must be exactly the valid
    items: no duplicates, every planted bad row refused, nothing valid
    dropped. `expected` comes from the Python decode kernel; the
    generator's own record (`planted`) decides independently which rows
    are valid, so a valid row that kernel and engine both drop is caught
    too. One note per failed outcome; a refused planted row is a success
    and yields none."""
    got = set(committed)
    notes = ["duplicate events committed"] if len(got) != len(committed) else []
    notes += [f"unexpected event {s}/{i}" for s, i in sorted(got - expected)]
    missing = expected - got
    notes += [f"valid event {s}/{i} not committed" for s, i in sorted(missing)]
    seqs = {s for s, _ in got}
    reported = seqs | {s for s, _ in missing}
    notes += [f"valid row {r.request_seq} committed no event"
              for r in rows if not r.planted and r.request_seq not in reported]
    notes += [f"planted {r.planted} row {r.request_seq} was committed"
              for r in rows if r.planted and r.request_seq in seqs]
    return notes


class _IngestWorkload:
    """Batch ingest passes over one generated request log: raw rows →
    events appended, persons and groups upserted, each pass into its own
    directory. Subclasses generate the log and the prior state."""

    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.wl = ctx.mix[self.name]
        self.prior = (None, None)
        self.passes = 0

    def _ingest(self, raw_path: str, out_dir: str, prior=(None, None)) -> None:
        from hogflare_spark.operators import ingest
        from hogflare_spark.sinks import lake

        spark = self.ctx.spark
        out = ingest.ingest_raw_requests(
            spark.read.parquet(raw_path),
            group_types=tuple(self.ctx.mix["group_types"]),
            signing_secret=self.ctx.mix["signing_secret"],
            prior_persons=prior[0],
            prior_groups=prior[1],
        )
        lake.append_events(out["events"], os.path.join(out_dir, "events"))
        lake.upsert_table(spark, out["persons"], os.path.join(out_dir, "persons"), ["canonical_id"])
        lake.upsert_table(
            spark, out["groups"], os.path.join(out_dir, "groups"), ["group_type", "group_key"]
        )
        _release()

    def _pass_dir(self, i: int) -> str:
        return os.path.join(self.ctx.work, f"pass{i}")

    def measure(self) -> Result:
        """Passes until `seconds` have been measured (at least one)."""
        ctx = self.ctx
        times, cpus, steals = [], [], []
        while not times or sum(times) < ctx.seconds:
            ctx.tracer.pass_id = self.passes
            c0, (s0, j0) = tree_cpu_s(), steal_share()
            t0 = time.perf_counter()
            self._ingest(self.raw_path, self._pass_dir(self.passes), self.prior)
            times.append(time.perf_counter() - t0)
            (s1, j1) = steal_share()
            cpus.append(tree_cpu_s() - c0)
            steals.append((s1 - s0) / max(1, j1 - j0))
            self.passes += 1
        ctx.tracer.pass_id = None
        ctx.outcomes.ok(len(self.rows) * len(times))
        committed = ctx.spark.read.parquet(
            os.path.join(self._pass_dir(self.passes - 1), "events")
        ).count()
        events_per_s = committed * len(times) / sum(times)
        return Result(
            throughput_per_s=events_per_s,
            latency_s=times,
            report={"requests_per_pass": len(self.rows), "events_per_pass": committed,
                    "ingest_events_per_s": events_per_s,
                    "ingest_pass_ms": [t * 1e3 for t in times],
                    "ingest_pass_cpu_s": cpus, "ingest_pass_steal": steals},
        )

    def _check_tables(self, commands, state_commands, person_sample) -> None:
        last = self._pass_dir(self.passes - 1)
        self._check_events(os.path.join(last, "events"), commands)
        self._check_persons(os.path.join(last, "persons"),
                            oracle.replay_persons(state_commands), person_sample)
        self._check_groups(os.path.join(last, "groups"), oracle.replay_groups(state_commands))

    def _check_events(self, events_dir: str, commands) -> None:
        got = [
            (r["request_seq"], r["item_index"])
            for r in self.ctx.spark.read.parquet(events_dir)
            .select("request_seq", "item_index").collect()
        ]
        want = {(c["request_seq"], c["item_index"]) for c in commands}
        for note in event_failures(self.rows, got, want):
            self.ctx.outcomes.check(False, note)

    def _check_persons(self, root: str, want: dict, sample: int | None) -> None:
        from pyspark.sql import functions as F

        from hogflare_spark.sinks import lake

        out = self.ctx.outcomes
        persons = lake.read_table(self.ctx.spark, root)
        ids = sorted(want)
        if sample is not None and sample < len(ids):
            out.check(persons.count() == len(want), "persons count differs from the replay")
            ids = random.Random(self.ctx.seed ^ 0xC0FFEE).sample(ids, sample)
            persons = persons.where(F.col("canonical_id").isin(ids))
        got = dict(oracle.spark_person_view(r) for r in persons.collect())
        for cid in ids:
            out.check(got.get(cid) == want[cid], f"person {cid} differs from the replay")
        for cid in set(got) - set(ids):
            out.check(False, f"unexpected person {cid}")

    def _check_groups(self, root: str, want: dict) -> None:
        from hogflare_spark.sinks import lake

        table = lake.read_table(self.ctx.spark, root)
        got = dict(oracle.spark_group_view(r) for r in table.collect()) if table is not None else {}
        for key in sorted(set(got) | set(want)):
            self.ctx.outcomes.check(got.get(key) == want.get(key),
                                    f"group {key} differs from the replay")


class CaptureBatch(_IngestWorkload):
    name = "capture_batch"

    def setup(self) -> None:
        ctx, wl = self.ctx, self.wl
        self.rows = gen.capture_log(ctx.seed, wl["requests"], ctx.mix)
        self.raw_path = _write_raw(self.rows, os.path.join(ctx.work, "capture.parquet"))
        warm = gen.capture_log(ctx.seed + 1, wl["warmup_requests"], ctx.mix, seq0=10_000_000)
        # warm-up pass: Python workers, codegen and JIT for every wire shape
        self._ingest(_write_raw(warm, os.path.join(ctx.work, "warmup.parquet")),
                     os.path.join(ctx.work, "warm"))

    def check(self) -> None:
        commands = oracle.expected_commands(self.rows, self.ctx.mix["signing_secret"])
        self._check_tables(commands, commands, self.wl["check_sample_persons"])


class IdentityMerge(_IngestWorkload):
    name = "identity_merge"

    def setup(self) -> None:
        from hogflare_spark.schemas import GROUP_SCHEMA, PERSON_SCHEMA
        from hogflare_spark.sinks import lake

        ctx, spark = self.ctx, self.ctx.spark
        self.prior_rows, self.rows = gen.identity_logs(ctx.seed, ctx.mix)
        self.raw_path = _write_raw(self.rows, os.path.join(ctx.work, "identity.parquet"))
        # prior state: the sequential replay of the prior log, written
        # through the lake and read back as the folds' seed state. The
        # fold output is the whole new table (every prior record is
        # seeded), so each measured pass commits it as a fresh table.
        prior = oracle.expected_commands(self.prior_rows, ctx.mix["signing_secret"])
        self.records = oracle.replay_persons(prior)
        self.persons_root = os.path.join(ctx.work, "prior", "persons")
        groups_root = os.path.join(ctx.work, "prior", "groups")
        lake.upsert_table(spark, persons_frame(spark, self.records), self.persons_root,
                          ["canonical_id"])
        lake.upsert_table(spark, groups_frame(spark, oracle.replay_groups(prior)), groups_root,
                          ["group_type", "group_key"])
        self.prior = (
            lake.read_table(spark, self.persons_root, PERSON_SCHEMA, version=1),
            lake.read_table(spark, groups_root, GROUP_SCHEMA, version=1),
        )
        log("prior state written")
        # warm-up pass: the session's first ingest (Python workers,
        # codegen) over the head of the measured log, folded into the prior
        warm = self.rows[:self.wl["warmup_requests"]]
        self._ingest(_write_raw(warm, os.path.join(ctx.work, "warmup.parquet")),
                     os.path.join(ctx.work, "warm"), self.prior)

    def measure(self) -> Result:
        result = super().measure()
        result.report["prior_requests"] = len(self.prior_rows)
        return result

    def check(self) -> None:
        secret = self.ctx.mix["signing_secret"]
        commands = oracle.expected_commands(self.rows, secret)
        prior = oracle.expected_commands(self.prior_rows, secret)
        self._check_tables(commands, prior + commands, None)


class StreamIngest:
    """Open-loop stream (part of identity_serve's traced run): the
    benchmark's one generator thread lands request files on a fixed
    schedule while `StreamingIngestJob(hybrid=True)`, started with the
    default trigger, drains the landing directory. A file's lag runs from
    its due time to the moment the micro-batch that holds it has committed
    its persons pointer."""

    name = "stream_ingest"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.wl = ctx.mix[self.name]
        root = os.path.join(ctx.work, "stream")
        self.landing = os.path.join(root, "landing")
        self.staging = os.path.join(root, "staging")
        self.ckpt = os.path.join(root, "checkpoint")
        self.warehouse = os.path.join(root, "warehouse")
        self.rows: list = []  # every landed request, in landing order
        self.commits: dict[str, tuple] = {}  # file → (batch start, commit, delta lane)
        self.cond = threading.Condition()
        self.job = self._make_job()

    def _make_job(self):
        from hogflare_spark.streaming import ingest_stream

        section = self

        class TimedJob(ingest_stream.StreamingIngestJob):
            def process_batch(self, batch_df, batch_id):
                start = time.perf_counter()
                with section.ctx.tracer.span("stream", "process_batch"):
                    super().process_batch(batch_df, batch_id)
                section._committed(batch_id, start, time.perf_counter())

        return TimedJob(self.warehouse, group_types=tuple(self.ctx.mix["group_types"]),
                        hybrid=True)

    def _committed(self, batch_id: int, start: float, end: float) -> None:
        pointer = self.job._read_pointer("persons")
        delta = bool(pointer["deltas"]) and pointer["deltas"][-1] == pointer["committed_batch"]
        files = _batch_files(self.ckpt, batch_id)
        with self.cond:
            for f in files:
                self.commits[f] = (start, end, delta)
            self.cond.notify_all()

    def _land(self, name: str, rows) -> None:
        tmp = os.path.join(self.staging, name)
        with open(tmp, "wb") as fh:
            fh.write(gen.stream_file_lines(rows))
        os.replace(tmp, os.path.join(self.landing, name))
        self.rows.extend(rows)

    def _wait(self, names, deadline: float) -> list[str]:
        """Wait until every file in `names` is committed or `deadline`
        passes; returns the files still uncommitted."""
        with self.cond:
            while True:
                left = [n for n in names if n not in self.commits]
                remaining = deadline - time.perf_counter()
                if not left or remaining <= 0:
                    return left
                self.cond.wait(min(remaining, 1.0))

    def run(self) -> dict:
        """Bootstrap the persons/groups base with one micro-batch, then land
        one file every `file_interval_s` and wait for the stream to drain.
        Returns the stream's figures."""
        from hogflare_spark.streaming import ingest_stream

        ctx, wl = self.ctx, self.wl
        interval, per_file, n_files = wl["file_interval_s"], wl["requests_per_file"], wl["files"]
        for d in (self.landing, self.staging):
            os.makedirs(d, exist_ok=True)
        rows = gen.stream_log(ctx.seed, wl["bootstrap_requests"] + n_files * per_file,
                              ctx.mix, seq0=20_000_000)
        boot, rows = rows[:wl["bootstrap_requests"]], rows[wl["bootstrap_requests"]:]
        query = self.job.start(ingest_stream.read_request_stream(ctx.spark, self.landing),
                               self.ckpt, available_now=False)
        try:
            self._land("bootstrap.json", boot)
            if self._wait(["bootstrap.json"], time.perf_counter() + 120):
                raise RuntimeError("the stream's bootstrap file was not committed")
            names, due, late = [], {}, []
            t0 = time.perf_counter() + 0.2
            for k in range(n_files):
                due_t = t0 + k * interval
                delay = due_t - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                # the file name carries its due time (ms after the first)
                name = f"f{k:05d}-due{round(k * interval * 1e3):07d}ms.json"
                self._land(name, rows[k * per_file:(k + 1) * per_file])
                late.append(time.perf_counter() - due_t)
                names.append(name)
                due[name] = due_t
            backlog = self._wait(names, due[names[-1]] + wl["drain_s"])
            missing = self._wait(backlog, time.perf_counter() + 120)
            # let Spark record the last batch in its commit log, so the
            # stop below never leaves a batch to replay
            query.processAllAvailable()
        finally:
            query.stop()
        for name in missing:
            ctx.outcomes.check(False, f"stream file {name} was never committed")
        ctx.outcomes.ok(len(names))
        done = [n for n in names if n in self.commits]
        lags = [self.commits[n][1] - due[n] for n in done]
        waits = [self.commits[n][0] - due[n] for n in done]
        batches = {self.commits[n][:2]: self.commits[n][2] for n in done}
        batch_s = [end - start for start, end in batches]
        figures = {
            "stream.lag_ms_median": median(lags) * 1e3,
            "stream.backlog_files": len(backlog),
            "stream.batches": len(batches),
            "stream.batch_s_p50": median(batch_s),
            "stream.delta_lane_ratio": sum(batches.values()) / len(batches),
            "stream.queue_wait_ms_p50": median(waits) * 1e3,
            "stream.generator_late_ms_max": max(late) * 1e3,
        }
        for k, v in figures.items():
            ctx.tracer.add(k, v)
        return {
            "stream_files": len(names),
            "stream_events_per_s": len(oracle.expected_commands(rows, None)) / (n_files * interval),
            "stream_lag_samples": len(lags),
            "stream_lag_ms_p50": _ms(percentile(lags, 0.5)),
            "stream_lag_ms_p90": _ms(percentile(lags, 0.9)),
            "stream_batch_s": batch_s,
        }

    def check(self) -> None:
        """Final streamed state equals the batch fold of the same rows."""
        spark, out = self.ctx.spark, self.ctx.outcomes
        commands = oracle.expected_commands(self.rows, None)
        got = [(r["request_seq"], r["item_index"]) for r in
               spark.read.parquet(os.path.join(self.warehouse, "events"))
               .select("request_seq", "item_index").collect()]
        want = {(c["request_seq"], c["item_index"]) for c in commands}
        for note in event_failures(self.rows, got, want):
            out.check(False, f"stream: {note}")
        persons = dict(oracle.spark_person_view(r) for r in self.job.read_persons(spark).collect())
        replay = oracle.replay_persons(commands)
        for cid in sorted(set(persons) | set(replay)):
            out.check(persons.get(cid) == replay.get(cid),
                      f"streamed person {cid} differs from the batch fold")
        groups = dict(oracle.spark_group_view(r) for r in self.job.read_groups(spark).collect())
        for key, rec in sorted(oracle.replay_groups(commands).items()):
            out.check(groups.pop(key, None) == rec, f"streamed group {key} differs from the batch fold")
        for key in groups:
            out.check(False, f"unexpected streamed group {key}")


def _batch_files(checkpoint: str, batch_id: int) -> list[str]:
    """Names of the landing files a micro-batch read, from the file
    source's log in the stream checkpoint (plain or compacted entry)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            with open(path) as fh:
                entries = [json.loads(line) for line in fh.read().splitlines()[1:] if line]
            return [os.path.basename(e["path"]) for e in entries if e["batchId"] == batch_id]
    return []


def local1_events_per_s(ctx: Context) -> float:
    """Single-threaded baseline: one warm capture_batch pass on the
    current (local[1]) session; committed events per second."""
    os.makedirs(ctx.work, exist_ok=True)
    w = CaptureBatch(ctx)
    w.setup()
    return w.measure().throughput_per_s


# ---------------------------------------------------------------------------
# serve_reads
# ---------------------------------------------------------------------------


class ServeReads:
    name = "serve_reads"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.wl = ctx.mix[self.name]

    def setup(self, records: dict, persons_root: str) -> None:
        """Reads over the persons table at `persons_root`, whose records
        (the replay that wrote it) are `records`."""
        from hogflare_spark import plans
        from hogflare_spark.flags import response
        from hogflare_spark.flags.model import parse_flag_config
        from hogflare_spark.sinks import lake

        ctx, wl = self.ctx, self.wl
        self.records, self.persons_root = records, persons_root
        self.flags = parse_flag_config(gen.flag_config(ctx.seed, wl["flags"]))
        # the /decide server's response plan, built once like a server
        # would; each request runs it over the persons it looked up
        self.responses = response.batch_flag_responses_native(
            lake.read_table(ctx.spark, self.persons_root), self.flags
        )
        # the replay's distinct_id → canonical_id map: where /decide
        # batches draw their ids from, and what the check expects back
        self.index = {d: cid for cid, rec in records.items() for d in rec["distinct_ids"]}
        self.rng = random.Random(ctx.seed ^ 0xDEC1DE)
        self.ids = sorted(self.index)
        self.zipf = gen.Zipf(len(self.ids), 1.0)
        # warm-up: one of each read kind the run measures
        self._decide(self._next_batch())
        if ctx.traced:
            self.sf_dir = self._write_analytics_lake()
            plans.load_all()
            self._flag_pass()
            for q in wl["queries"]:
                self._query(q)

    def _write_analytics_lake(self) -> str:
        """The test-lake `events` table the events-analytics plans read."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        wl = self.wl
        cols = gen.analytics_events(self.ctx.seed, wl["analytics_events"], wl["analytics_users"])
        table = pa.table(cols, schema=pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
            ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
        ]))
        sf_dir = os.path.join(self.ctx.work, "testlake")
        os.makedirs(sf_dir, exist_ok=True)
        pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
        return sf_dir

    @staticmethod
    def _contexts(persons):
        from pyspark.sql import functions as F

        from hogflare_spark.flags import response

        return persons.select(
            F.col("canonical_id").alias("distinct_id"),
            response.merged_person_json().alias("person_properties"),
            F.create_map().cast("map<string,string>").alias("groups"),
            F.lit("{}").alias("group_properties"),
        )

    def _flag_pass(self):
        from pyspark.sql import functions as F

        from hogflare_spark.flags import compiler
        from hogflare_spark.sinks import lake

        persons = lake.read_table(self.ctx.spark, self.persons_root)
        res = compiler.evaluate_flags_df(self._contexts(persons), self.flags)
        return res.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("distinct_id", "flag_key", "value", "payload", "reason",
                                 "condition_index")).alias("h"),
        ).first()

    def _next_batch(self) -> list[str]:
        return [self.ids[self.zipf.sample(self.rng)] for _ in range(self.wl["decide_batch"])]

    def _decide(self, batch):
        """One /decide request batch: look the batch's distinct_ids up in
        the lake's persons table, then run the response plan for the
        persons found."""
        from pyspark.sql import functions as F

        from hogflare_spark.sinks import lake

        tracer = self.ctx.tracer
        with tracer.span("flags", "decide"):
            with tracer.span("flags", "lookup"):
                ids = F.array(*map(F.lit, sorted(set(batch))))
                cids = [r["canonical_id"] for r in
                        lake.read_table(self.ctx.spark, self.persons_root)
                        .where(F.arrays_overlap("distinct_ids", ids))
                        .select("canonical_id").collect()]
            rows = self.responses.where(F.col("canonical_id").isin(cids)).collect()
        tracer.add("flags.contexts_in", len(rows))
        tracer.add("flags.evals", len(rows) * len(self.flags))
        return rows

    def _query(self, name):
        from hogflare_spark import plans

        with self.ctx.tracer.span("plans", name):
            return plans.QUERIES[name](self.ctx.spark, self.sf_dir).collect()

    def measure(self) -> Result:
        """/decide requests (closed loop, one client) for a share of
        `seconds` and at least their minimum sample count. The traced run
        adds whole-table flag passes before them and the analytics plans in
        a seeded order after them, each phase likewise: only it measures the
        flags and plans layers, and no end-to-end metric reads them."""
        ctx, wl = self.ctx, self.wl
        budget = ctx.seconds
        report: dict = {}
        if ctx.traced:
            flag_times = []
            while len(flag_times) < wl["flag_passes_min"] or sum(flag_times) < 0.2 * budget:
                t0 = time.perf_counter()
                self._flag_pass()
                flag_times.append(time.perf_counter() - t0)
            ctx.outcomes.ok(len(flag_times))
            evals = len(self.records) * len(self.flags)
            report.update({
                "flag_evals_per_s": evals * len(flag_times) / sum(flag_times),
                "flag_evals_per_pass": evals,
                "flag_passes": len(flag_times),
            })
        decide_times, self.decided = [], []
        while len(decide_times) < wl["decide_min_samples"] or sum(decide_times) < 0.4 * budget:
            batch = self._next_batch()
            t0 = time.perf_counter()
            rows = self._decide(batch)
            decide_times.append(time.perf_counter() - t0)
            self.decided.append((batch, rows))
        ctx.outcomes.ok(len(decide_times))
        report.update({
            "decide_requests": len(decide_times),
            "decide_ms_p50": _ms(percentile(decide_times, 0.5)),
            "decide_ms_p90": _ms(percentile(decide_times, 0.9)),
        })
        self.first_rows: dict[str, list] = {}
        if ctx.traced:
            report.update(self._queries())
        return Result(throughput_per_s=0.0, latency_s=decide_times, report=report)

    def _queries(self) -> dict:
        ctx, wl = self.ctx, self.wl
        queries = wl["queries"]
        query_times: dict[str, list] = {q: [] for q in queries}
        spent = 0.0
        while min(map(len, query_times.values())) < wl["query_min_samples"] or spent < 0.4 * ctx.seconds:
            for q in self.rng.sample(queries, len(queries)):
                t0 = time.perf_counter()
                rows = self._query(q)
                dt = time.perf_counter() - t0
                query_times[q].append(dt)
                spent += dt
                self.first_rows.setdefault(q, rows)
        all_queries = [t for v in query_times.values() for t in v]
        ctx.outcomes.ok(len(all_queries))
        for q in queries:
            ctx.tracer.add(f"plans.{q}.s", median(query_times[q]))
            ctx.tracer.add(f"plans.{q}.rows", len(self.first_rows[q]))
        return {
            "query_runs": len(all_queries),
            "query_ms_p50": _ms(percentile(all_queries, 0.5)),
            "query_ms_p90": _ms(percentile(all_queries, 0.9)),
            "query_ms_median_by_plan": {q: median(v) * 1e3 for q, v in query_times.items()},
        }

    def check(self) -> None:
        from hogflare_spark import plans

        out, flags = self.ctx.outcomes, self.flags
        merged = {
            cid: oracle.merged_properties(r["properties"], r["properties_set_once"])
            for cid, r in self.records.items()
        }
        for batch, rows in self.decided:
            bodies = {r["canonical_id"]: r["response"] for r in rows}
            out.check(set(bodies) == {self.index[d] for d in batch},
                      "decide returned the wrong persons")
            for cid, body in bodies.items():
                out.check(body == oracle.kernel_decide_body(flags, cid, merged[cid]),
                          f"decide body for {cid} differs from the kernel")
        if not self.ctx.traced:
            return
        self._check_flag_sample(merged)
        events = os.path.join(self.sf_dir, "events.parquet")
        for q, rows in self.first_rows.items():
            want = oracle.normalize_rows(oracle.duckdb_rows(plans.ORACLES[q], events))
            out.check(oracle.normalize_rows(rows) == want,
                      f"query {q} differs from its DuckDB oracle")

    def _check_flag_sample(self, merged: dict) -> None:
        """Whole-table flag results of a seeded person sample equal the
        per-context kernel."""
        from pyspark.sql import functions as F

        from hogflare_spark.flags import compiler
        from hogflare_spark.sinks import lake

        sample = random.Random(self.ctx.seed ^ 0xF1A6).sample(
            sorted(self.records), self.wl["check_sample_persons"])
        persons = lake.read_table(self.ctx.spark, self.persons_root)
        res = compiler.evaluate_flags_df(
            self._contexts(persons.where(F.col("canonical_id").isin(sample))), self.flags)
        got: dict = {}
        for r in res.collect():
            got.setdefault(r["distinct_id"], {})[r["flag_key"]] = (
                r["value"], r["payload"], r["reason"], r["condition_index"])
        for cid in sample:
            self.ctx.outcomes.check(got.get(cid) == oracle.kernel_flag_rows(self.flags, cid, merged[cid]),
                                    f"flag results for {cid} differ from the kernel")


def _ms(v):
    return None if v is None else v * 1e3


class IdentityServe:
    """identity_merge's ingest, then serve_reads' reads. Throughput is the
    ingest's committed events per second; latency is the /decide request
    batch."""

    name = "identity_serve"

    def __init__(self, ctx: Context):
        self.merge = IdentityMerge(ctx)
        self.serve = ServeReads(ctx)

    def setup(self) -> None:
        self.merge.setup()
        log("prior state built")
        # the reads run over the prior persons table the ingest folds into
        self.serve.setup(self.merge.records, self.merge.persons_root)

    def measure(self) -> Result:
        ingest = self.merge.measure()
        log("ingest measured")
        reads = self.serve.measure()
        return Result(ingest.throughput_per_s, reads.latency_s, {**ingest.report, **reads.report})

    def check(self) -> None:
        self.merge.check()
        self.serve.check()


WORKLOADS = {w.name: w for w in (CaptureBatch, IdentityServe)}
