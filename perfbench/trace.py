"""Span recorder for the traced run.

Spans are recorded around calls into each engine layer by wrapping the
layer's public function (module attribute) from here; no engine file is
edited. Each wrapper pins its layer's output with an eager
`localCheckpoint`, because Spark is lazy: without the pin a span would
time plan construction and the work would land in whichever later span
first consumes the frame.

Spans nest and carry the pass id. Each span runs its Spark jobs under its
own job group, so `SparkContext.statusTracker()` attributes jobs, stages,
tasks and failed tasks to the innermost open span. Counting work the
tracer itself does (row counts for the per-layer metrics) runs in
bookkeeping spans of layer "trace", which are subtracted from their
parent's self time like any child and belong to no layer.

`NullTracer` is the tracing-off stand-in: same interface, no spans, no
wrappers, no pins.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LAYERS = (
    "normalize",
    "identity",
    "person_fold",
    "group_fold",
    "hydrate",
    "lake",
    "flags",
    "plans",
    "stream",
)
_JOB_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("sid", "layer", "name", "parent", "pass_id", "start", "end",
                 "jobs", "stages", "tasks", "failed_tasks")

    def __init__(self, sid, layer, name, parent, pass_id, start):
        self.sid, self.layer, self.name = sid, layer, name
        self.parent, self.pass_id = parent, pass_id
        self.start, self.end = start, start
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans) -> dict[int, float]:
    """span id → duration minus the part of its interval covered by its
    children (overlapping children counted once)."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.duration - covered
    return out


class NullTracer:
    pass_id = None

    def span(self, layer, name=None):
        return contextlib.nullcontext()

    def add(self, metric, value) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.pass_id = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._undo: list = []

    # ---- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), layer, name or layer,
                 parent.sid if parent else None, self.pass_id, time.perf_counter())
        group = f"perfbench-span-{s.sid}"
        self.sc.setLocalProperty(_JOB_GROUP, group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                _JOB_GROUP, f"perfbench-span-{parent.sid}" if parent else None
            )
            self._count_jobs(s, group)
            self.spans.append(s)

    def _count_jobs(self, s: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(jid)
            s.jobs += 1
            for sid in job.stageIds if job else ():
                stage = tracker.getStageInfo(sid)
                if stage is None:
                    continue
                s.stages += 1
                s.tasks += stage.numTasks
                s.failed_tasks += stage.numFailedTasks

    def add(self, metric: str, value: float) -> None:
        self.counts[metric] += value

    def bookkeeping(self):
        return self.span("trace", "count")

    # ---- wrappers ---------------------------------------------------------

    def _patch(self, owner, attr, layer, name=None, pin=True, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer, name or attr):
                out = orig(*args, **kwargs)
                if pin:
                    out = _pin(out)
            if after is not None:
                with self.bookkeeping():
                    after(args, kwargs, out)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from hogflare_spark.flags import compiler
        from hogflare_spark.operators import group_state, identity, ingest, normalize, person_state
        from hogflare_spark.sinks import lake
        from hogflare_spark.sources import signature

        add = self.add

        def after_gate(args, kwargs, out):
            add("normalize.rejected", out[1].count())

        def after_decode(args, kwargs, out):
            raw = args[0]
            eligible = normalize.fast_capture_path(raw, kwargs.get("body_col", "body"))[0]
            row = raw.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.coalesce(eligible, F.lit(False)), 1)).alias("fast"),
            ).first()
            add("normalize.requests_in", row["n"])
            add("normalize.fast_rows", row["fast"])
            add("normalize.commands_out", out.count())
            kept = out.select("request_seq").distinct().count()
            add("normalize.rejected", row["n"] - kept)

        def after_cc(args, kwargs, out):
            add("identity.edges_in", args[0].count())
            add("identity.components", out.select("comp").distinct().count())

        def after_person_fold(args, kwargs, out):
            prior = kwargs.get("prior_persons", args[2] if len(args) > 2 else None)
            n = person_state.derive_person_ops(args[0]).count()
            add("person_fold.ops_in", n + (prior.count() if prior is not None else 0))
            add("person_fold.persons_out", out[1].count())

        def after_group_fold(args, kwargs, out):
            prior = kwargs.get("prior_groups", args[1] if len(args) > 1 else None)
            n = group_state.derive_group_ops(args[0]).count()
            add("group_fold.ops_in", n + (prior.count() if prior is not None else 0))
            add("group_fold.groups_out", out[1].count())

        def after_hydrate(args, kwargs, out):
            add("hydrate.events_out", out["events"].count())

        def after_flags(args, kwargs, out):
            n = args[0].count()
            add("flags.contexts_in", n)
            add("flags.evals", n * len(args[1]))

        self._patch(signature, "verify_signature_gate", "normalize", pin=False, after=after_gate)
        self._patch(normalize, "decode_normalize_requests", "normalize", after=after_decode)
        self._patch(identity, "connected_components", "identity", after=after_cc)
        self._patch(person_state, "fold_person_state", "person_fold", after=after_person_fold)
        self._patch(group_state, "fold_group_state", "group_fold", after=after_group_fold)
        self._patch(ingest, "ingest_commands", "hydrate", after=after_hydrate)
        self._patch(compiler, "evaluate_flags_df", "flags", after=after_flags)
        self._install_lake(lake)

    def _install_lake(self, lake) -> None:
        add = self.add

        def write_wrapper(attr, target):
            orig = getattr(lake, attr)

            @functools.wraps(orig)
            def traced(*args, **kwargs):
                root = target(args, kwargs)
                before = _files(root)
                with self.span("lake", "write"):
                    out = orig(*args, **kwargs)
                with self.bookkeeping():
                    new = {p: n for p, n in _files(root).items() if p not in before}
                    add("lake.files_written", len(new))
                    add("lake.bytes_written", sum(new.values()))
                return out

            setattr(lake, attr, traced)
            self._undo.append((lake, attr, orig))

        write_wrapper("append_events", lambda a, k: k.get("events_dir", a[1] if len(a) > 1 else None))
        write_wrapper("upsert_table", lambda a, k: k.get("root", a[2] if len(a) > 2 else None))

        orig_read = lake.read_table

        @functools.wraps(orig_read)
        def traced_read(*args, **kwargs):
            nested = bool(self._stack) and self._stack[-1].layer == "lake"
            with self.span("lake", "read"):
                out = orig_read(*args, **kwargs)
                if not nested and out is not None:
                    out = _pin(out)
            return out

        lake.read_table = traced_read
        self._undo.append((lake, "read_table", orig_read))

        orig_commit = lake._commit_version

        @functools.wraps(orig_commit)
        def counted_commit(*args, **kwargs):
            try:
                return orig_commit(*args, **kwargs)
            except lake.CommitConflict:
                add("lake.commit_conflicts", 1)
                raise

        lake._commit_version = counted_commit
        self._undo.append((lake, "_commit_version", orig_commit))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---- report -----------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """The per-layer metrics: self time and Spark counters per layer,
        plus every count recorded by the wrappers."""
        selfs = self_times(self.spans)
        out: dict[str, float] = {}
        for layer in LAYERS:
            for key in ("self_s", "jobs", "stages", "tasks", "failed_tasks"):
                out[f"{layer}.{key}"] = 0.0
        out["lake.write_s"] = out["lake.read_s"] = out["flags.lookup_s"] = 0.0
        for s in self.spans:
            if s.layer not in LAYERS:
                continue
            if s.layer == "lake":
                out[f"lake.{s.name}_s"] += selfs[s.sid]
            if s.layer == "flags" and s.name == "lookup":
                # a /decide lookup's whole duration, its nested lake read
                # span included (that read also counts in lake.read_s)
                out["flags.lookup_s"] += s.duration
            else:
                out[f"{s.layer}.self_s"] += selfs[s.sid]
            out[f"{s.layer}.jobs"] += s.jobs
            out[f"{s.layer}.stages"] += s.stages
            out[f"{s.layer}.tasks"] += s.tasks
            out[f"{s.layer}.failed_tasks"] += s.failed_tasks
        out.update(self.counts)
        n = out.pop("normalize.fast_rows", 0.0)
        req = out.get("normalize.requests_in", 0.0)
        out["normalize.jvm_tier_ratio"] = n / req if req else 0.0
        return out

    def ingest_split(self) -> tuple[float, float]:
        """(decode side, state side) self seconds over the batch ingest
        passes' spans: normalize + hydrate + lake against identity +
        person_fold + group_fold."""
        selfs = self_times(self.spans)
        side = {"normalize": 0, "hydrate": 0, "lake": 0,
                "identity": 1, "person_fold": 1, "group_fold": 1}
        out = [0.0, 0.0]
        for s in self.spans:
            if isinstance(s.pass_id, int) and s.layer in side:
                out[side[s.layer]] += selfs[s.sid]
        return out[0], out[1]

    def dump(self, path: str) -> None:
        """Write the recorded spans as JSON lines."""
        import json

        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "pass": s.pass_id,
                    "layer": s.layer, "name": s.name, "start": s.start,
                    "end": s.end, "self_s": selfs[s.sid], "jobs": s.jobs,
                    "stages": s.stages, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks,
                }) + "\n")


def _pin(out):
    """Materialize a layer's output frames (eager localCheckpoint),
    keeping the side-channel attributes the engine stashes on frames."""
    if isinstance(out, DataFrame):
        pinned = out.localCheckpoint(eager=True)
        for attr in ("_hogflare_sizing",):
            if hasattr(out, attr):
                setattr(pinned, attr, getattr(out, attr))
        return pinned
    if isinstance(out, tuple):
        return tuple(_pin(o) for o in out)
    if isinstance(out, dict):
        return {k: _pin(v) for k, v in out.items()}
    return out


def _files(root: str | None) -> dict[str, int]:
    sizes: dict[str, int] = {}
    if not root or not os.path.isdir(root):
        return sizes
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            sizes[p] = os.path.getsize(p)
    return sizes
