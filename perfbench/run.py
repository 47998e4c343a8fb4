"""Benchmark entry point.

    python3 perfbench/run.py --workload capture_batch --seed 1 --seconds 10 --trace 0

Runs one workload on a fresh local[N] Spark session (N = CPU count) from
the root of a checkout of this repository, then prints two JSON lines on
stdout: a report with every figure the workload measured (names as in
perfbench/README.md, sample counts beside percentiles), and last the
result object {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json; with
`--trace 1` they are the per-layer metrics of the traced run (`_traced`).

All files the run creates live under .perfbench_work/ in the checkout and
are removed when it ends. Exits non-zero, without a result, when the
engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    cpus = len(os.sched_getaffinity(0))  # what `nproc` prints
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(work: str, master: str | None = None):
    from hogflare_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
                proc.kill()
                proc.wait()


def _e2e(setup_s: float, result, peak_mb: float) -> dict:
    from perfbench.stats import median

    values = {
        "setup_s": setup_s,
        "ingest_events_per_s": result.throughput_per_s,
        "latency_ms": median(result.latency_s) * 1e3,
        "peak_rss_mb": peak_mb,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def _per_layer(measured: dict) -> dict:
    """Every per-layer metric BENCHMARK.json declares; 0 for a layer the
    workload does not run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    return {name: {"value": float(measured.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()}


def _traced(workload, ctx, work: str, seed: int):
    """The traced run: measure with the span recorder installed and return
    the traced result and the per-layer figures.

    On capture_batch an untraced measurement on the same set-up comes
    first (the gap between the two is the tracing overhead; the untraced
    runs check that pass's outputs, so here only the traced pass is
    checked), and a `local[1]` session gives the single-threaded baseline
    afterwards. On identity_serve the open-loop stream section runs after
    the traced measurement instead."""
    from perfbench import workloads
    from perfbench.stats import median
    from perfbench.trace import Tracer

    capture = workload.name == "capture_batch"
    if capture:
        plain = workload.measure()
    tracer = ctx.tracer = Tracer(ctx.spark)
    tracer.install()
    try:
        result = workload.measure()
    finally:
        tracer.uninstall()
    workload.check()
    layers = {}
    if not capture:
        # the stream runs with the layer wrappers off: only its
        # process_batch span is recorded, so bookkeeping counts do not
        # lengthen the micro-batches whose lag it measures
        stream = workloads.StreamIngest(ctx)
        layers.update(stream.run())
        stream.check()
    spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    tracer.dump(os.path.join(spans_dir, f"{workload.name}-seed{seed}.jsonl"))
    layers.update(tracer.layer_metrics())
    # each ingest workload must stress its own side of the ingest pass:
    # decode (normalize + hydrate + lake) on capture_batch, state
    # (identity + person_fold + group_fold) on identity_serve
    decode, state = layers["decode_side_self_s"], layers["state_side_self_s"] = tracer.ingest_split()
    lead, other = (decode, state) if capture else (state, decode)
    ctx.outcomes.check(lead > other, f"{workload.name}: the {'decode' if capture else 'state'} "
                       f"side ({lead:.2f} s) does not lead the other side ({other:.2f} s)")
    if capture:
        layers["trace.overhead_ratio"] = median(result.latency_s) / median(plain.latency_s) - 1.0
        stop_spark(ctx.spark)
        ctx.spark = start_spark(work, master="local[1]")
        l1 = workloads.local1_events_per_s(workloads.Context(
            ctx.spark, os.path.join(work, "local1"), seed, 0, ctx.mix))
        layers["baseline.local1_events_per_s"] = l1
        layers["baseline.speedup"] = plain.throughput_per_s / l1
    return result, layers


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "hogflare_spark")):
        print(f"perfbench: no hogflare_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen, workloads
    from perfbench.stats import Outcomes, PeakRss, median
    from perfbench.workloads import log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _environment(work)
    ctx = None
    try:
        with PeakRss() as rss:
            outcomes = Outcomes()
            ctx = workloads.Context(
                start_spark(work), work, args.seed, args.seconds, gen.load_mix(), outcomes,
                traced=bool(args.trace))
            workload = workloads.WORKLOADS[args.workload](ctx)
            log("session started")
            workload.setup()
            setup_s = time.perf_counter() - T_START
            log(f"set up in {setup_s:.1f}s")
            report: dict = {"workload": args.workload, "seed": args.seed}
            if args.trace:
                result, layers = _traced(workload, ctx, work, args.seed)
                metrics = _per_layer(layers)
                report.update({k: v for k, v in layers.items() if k not in metrics})
            else:
                result = workload.measure()
                log("measured")
                workload.check()
                log("checked")
            stop_spark(ctx.spark)
            ctx.spark = None
        if not args.trace:
            metrics = _e2e(setup_s, result, rss.peak)
        report.update(
            {
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak,
                "latency_ms": median(result.latency_s) * 1e3,
                "latency_samples": len(result.latency_s),
                "error_rate": outcomes.error_rate,
                "failure_notes": outcomes.notes,
                **result.report,
            }
        )
        print(json.dumps(report), flush=True)
        print(json.dumps({
            "correct": outcomes.failed == 0,
            "attempted": outcomes.attempted,
            "failed": outcomes.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        try:
            if ctx is not None and ctx.spark is not None:
                stop_spark(ctx.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
