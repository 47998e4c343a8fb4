"""Profile one warm ingest pass of a perfbench workload's log.

Sets the workload up as perfbench does (its generated log, its prior
state, its warm-up pass), runs `--passes` more ingest passes and prints,
for the last one:

- every Spark job: wall time, tasks, executor run and CPU time, labelled
  by the innermost engine function that was running when it started
  (this script wraps the functions below and sets the job description;
  the engine sets none);
- every `mapInPandas` / `mapInArrow` kernel: its tasks, the jobs they
  ran in and the worker CPU while it ran (recorded inside the worker);
- Janino compiles (`CodegenMetrics`) during the pass;
- the CPU of this run's own process tree, read from /proc: driver
  Python, JVM executor threads, JVM C2 and C1 compiler threads, other
  JVM threads, the JVM's reaped child processes, and Python workers;
- child processes the machine started meanwhile (/proc/stat
  `processes`: run it on an otherwise idle box).

    python scripts/pass_profile.py [--workload capture_batch|identity_serve]
        [--seed 7] [--passes 3]

Thread CPU is sampled per thread at the pass's start and end, so a JVM
thread that exits during the pass drops out of the split.
"""

import argparse
import functools
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_LABELLED = (
    ("hogflare_spark.sources.signature", "verify_signature_gate"),
    ("hogflare_spark.operators.normalize", "decode_normalize_requests"),
    ("hogflare_spark.operators.ingest", "ingest_raw_requests"),
    ("hogflare_spark.operators.ingest", "pin_commands"),
    ("hogflare_spark.operators.ingest", "ingest_commands"),
    ("hogflare_spark.operators.identity", "connected_components"),
    ("hogflare_spark.operators.person_state", "fold_person_state"),
    ("hogflare_spark.operators.group_state", "fold_group_state"),
    ("hogflare_spark.operators.group_state", "derive_group_ops"),
    ("hogflare_spark.sinks.lake", "append_events"),
    ("hogflare_spark.sinks.lake", "upsert_table"),
)
_TICKS = os.sysconf("SC_CLK_TCK")


def _forks() -> int:
    with open("/proc/stat") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("processes "))


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields from `state` on) of a /proc stat file."""
    with open(path) as fh:
        head, _, tail = fh.read().rpartition(")")
    return head.partition("(")[2], tail.split()


def _thread_class(comm: str) -> str:
    if comm.startswith("Executor task"):
        return "jvm_executor"
    if comm.startswith("C2 Compiler"):
        return "jvm_c2"
    if comm.startswith("C1 Compiler"):
        return "jvm_c1"
    return "jvm_other"


def _cpu_sample() -> dict:
    """Cumulative CPU ticks per key of this process tree: the driver's
    own, each JVM thread's, the JVM's reaped children's, and each Python
    process under the JVM (reaped workers included)."""
    from perfbench.stats import _tree_stats

    me = os.getpid()
    tree = _tree_stats(me)
    out: dict = {}
    f = tree[me]
    out["driver_python"] = int(f[11]) + int(f[12])
    for pid, f in tree.items():
        if pid == me:
            continue
        try:
            comm = _stat(f"/proc/{pid}/stat")[0]
        except OSError:
            continue
        if comm == "java":
            out[f"jvm_children/{pid}"] = int(f[13]) + int(f[14])
            for task in glob.glob(f"/proc/{pid}/task/*/stat"):
                try:
                    tcomm, tf = _stat(task)
                except OSError:
                    continue
                out[f"{_thread_class(tcomm)}/{task}"] = int(tf[11]) + int(tf[12])
        elif comm.startswith("python"):
            out[f"python_workers/{pid}"] = sum(int(x) for x in f[11:15])
    return out


def _cpu_split(before: dict, after: dict) -> dict:
    split: dict = {}
    for key, ticks in after.items():
        cls = key.split("/", 1)[0]
        split[cls] = split.get(cls, 0) + ticks - before.get(key, 0)
    return {k: round(v / _TICKS, 2) for k, v in sorted(split.items())}


class _Labeller:
    """Wraps engine functions so that each Spark job carries, as its
    description, the innermost wrapped function running when it
    started."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[str] = []
        self.undo: list = []

    def install(self) -> None:
        import importlib

        for mod_name, attr in _LABELLED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr, None)
            if orig is None:  # a function this checkout does not have
                continue
            setattr(mod, attr, self._wrap(attr, orig))
            self.undo.append((mod, attr, orig))

    def _wrap(self, name, orig):
        @functools.wraps(orig)
        def labelled(*args, **kwargs):
            self.stack.append(name)
            self.sc.setJobDescription(name)
            try:
                return orig(*args, **kwargs)
            finally:
                self.stack.pop()
                self.sc.setJobDescription(self.stack[-1] if self.stack else None)

        return labelled

    def uninstall(self) -> None:
        while self.undo:
            mod, attr, orig = self.undo.pop()
            setattr(mod, attr, orig)


def _time_kernels(df_class, out_dir: str):
    """Wrap `mapInPandas` and `mapInArrow` so that each kernel task writes
    its worker CPU, stage and partition to `out_dir`."""
    origs = {attr: getattr(df_class, attr) for attr in ("mapInPandas", "mapInArrow")}

    def wrap(orig):
        @functools.wraps(orig)
        def timed(self, func, schema, *args, **kwargs):
            name = func.__qualname__
            module = func.__module__

            def run(batches):
                import json as _json
                import os as _os
                import time as _time

                from pyspark import TaskContext

                t0 = _time.process_time()
                try:
                    yield from func(batches)
                finally:
                    ctx = TaskContext.get()
                    rec = {"kernel": f"{module}.{name}", "stage": ctx.stageId(),
                           "partition": ctx.partitionId(), "attempt": ctx.attemptNumber(),
                           "cpu_s": _time.process_time() - t0}
                    path = _os.path.join(out_dir, f"{rec['stage']}-{rec['partition']}-"
                                         f"{rec['attempt']}-{_os.getpid()}-{_time.time_ns()}.json")
                    with open(path, "w") as fh:
                        _json.dump(rec, fh)

            return orig(self, run, schema, *args, **kwargs)

        return timed

    for attr, orig in origs.items():
        setattr(df_class, attr, wrap(orig))
    return lambda: [setattr(df_class, attr, orig) for attr, orig in origs.items()]


def _some(opt):
    return opt.get() if opt.isDefined() else None


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _jobs(spark, job_ids) -> list[dict]:
    """Wall time, tasks and executor time of each job, from the status
    store the live UI would read."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(job_ids):
        j = store.job(jid)
        sub, done = _some(j.submissionTime()), _some(j.completionTime())
        stages = _seq(j.stageIds())
        run_ms = cpu_ns = 0
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
        jobs.append({
            "job": jid, "label": _some(j.description()) or "(none)",
            "wall_ms": (done.getTime() - sub.getTime()) if sub and done else None,
            "tasks": j.numTasks(), "stages": stages,
            "exec_run_ms": run_ms, "exec_cpu_ms": round(cpu_ns / 1e6),
        })
    return jobs


def _workload(name: str, ctx):
    from perfbench import workloads

    cls = {"capture_batch": workloads.CaptureBatch,
           "identity_serve": workloads.IdentityMerge}[name]
    return cls(ctx)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", default="capture_batch",
                   choices=("capture_batch", "identity_serve"))
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--passes", type=int, default=3)
    args = p.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from hogflare_spark.session import get_spark
    from perfbench import gen, workloads

    spark = get_spark("pass-profile", extra_conf={
        "spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    kernels_dir = tempfile.mkdtemp(prefix="pass-profile-kernels-")
    restore_kernels = _time_kernels(type(spark.range(1)), kernels_dir)
    labeller = _Labeller(sc)
    labeller.install()
    work = tempfile.mkdtemp(prefix="pass-profile-")
    try:
        ctx = workloads.Context(spark, work, args.seed, 0.0, gen.load_mix())
        wl = _workload(args.workload, ctx)
        wl.setup()
        compiles_setup = codegen.METRIC_COMPILATION_TIME().getCount()
        per_pass = []
        for i in range(args.passes):
            last = i == args.passes - 1
            if last:
                for f in os.listdir(kernels_dir):
                    os.remove(os.path.join(kernels_dir, f))
                jobs0 = set(sc.statusTracker().getJobIdsForGroup(None))
                cpu0, forks0 = _cpu_sample(), _forks()
            c0, t0 = codegen.METRIC_COMPILATION_TIME().getCount(), time.perf_counter()
            wl._ingest(wl.raw_path, wl._pass_dir(i), wl.prior)
            per_pass.append((time.perf_counter() - t0,
                             codegen.METRIC_COMPILATION_TIME().getCount() - c0))
        cpu1, forks1 = _cpu_sample(), _forks()
        time.sleep(0.5)  # let the status store see the last job end
        jobs = _jobs(spark, set(sc.statusTracker().getJobIdsForGroup(None)) - jobs0)
        stage_job = {s: j["job"] for j in jobs for s in j["stages"]}
        kernels: dict = {}
        for path in glob.glob(os.path.join(kernels_dir, "*.json")):
            with open(path) as fh:
                rec = json.load(fh)
            k = kernels.setdefault(rec["kernel"], {"tasks": 0, "cpu_s": 0.0, "jobs": set()})
            k["tasks"] += 1
            k["cpu_s"] += rec["cpu_s"]
            k["jobs"].add(stage_job.get(rec["stage"], f"stage {rec['stage']}"))
        by_label: dict = {}
        for j in jobs:
            agg = by_label.setdefault(j["label"], [0, 0, 0, 0, 0])
            for i, v in enumerate((1, j["wall_ms"] or 0, j["tasks"], j["exec_run_ms"],
                                   j["exec_cpu_ms"])):
                agg[i] += v

        print(f"{args.workload} seed {args.seed}: janino compiles before the passes "
              f"{compiles_setup}")
        for i, (wall, compiles) in enumerate(per_pass):
            print(f"  pass {i}: {wall:.2f} s, janino compiles {compiles}")
        print(f"last pass: {len(jobs)} jobs, job wall "
              f"{sum(j['wall_ms'] or 0 for j in jobs) / 1e3:.2f} s, "
              f"{sum(j['tasks'] for j in jobs)} tasks, "
              f"{sum(k['tasks'] for k in kernels.values())} Python (Arrow) tasks, "
              f"{forks1 - forks0} child processes")
        print("  jobs by engine function (jobs, wall ms, tasks, exec run ms, exec cpu ms):")
        for label, a in sorted(by_label.items(), key=lambda kv: -kv[1][1]):
            print(f"    {label:28s} " + " ".join(f"{v:7d}" for v in a))
        print("  each job (id, function, wall ms, tasks, exec run ms, exec cpu ms):")
        for j in jobs:
            print(f"    {j['job']:5d} {j['label']:28s} {j['wall_ms']!s:>7} {j['tasks']:7d} "
                  f"{j['exec_run_ms']:7d} {j['exec_cpu_ms']:7d}")
        print("  Python kernels (tasks, worker cpu s, jobs):")
        for name, k in sorted(kernels.items()):
            print(f"    {name}: {k['tasks']} tasks, {k['cpu_s']:.3f} s, "
                  f"jobs {sorted(k['jobs'], key=str)}")
        print("  cpu s: " + ", ".join(f"{k} {v}" for k, v in _cpu_split(cpu0, cpu1).items()))
    finally:
        labeller.uninstall()
        restore_kernels()
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(kernels_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
