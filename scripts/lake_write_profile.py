"""Profile one events-lake append of a seeded capture log.

Decodes a perfbench capture log with `ingest_raw_requests`, pins the
events, then times `append_events` alone (after a warm-up append) and
prints one JSON line: leaves, files and bytes written, wall time and the
child processes the machine started meanwhile (/proc/stat `processes`:
run it on an otherwise idle box).

    python scripts/lake_write_profile.py [--seed 7] [--requests 16000]
"""

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _forks() -> int:
    with open("/proc/stat") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("processes "))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--requests", type=int, default=16000)
    args = p.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from hogflare_spark.operators.ingest import ingest_raw_requests
    from hogflare_spark.session import get_spark
    from hogflare_spark.sinks.lake import append_events, read_entry
    from perfbench import gen, workloads

    spark = get_spark("lake-write-profile", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    mix = gen.load_mix()
    with tempfile.TemporaryDirectory() as work:
        raw = workloads._write_raw(
            gen.capture_log(args.seed, args.requests, mix), os.path.join(work, "raw.parquet"))
        events = ingest_raw_requests(
            spark.read.parquet(raw), group_types=tuple(mix["group_types"]),
            signing_secret=mix["signing_secret"])["events"].localCheckpoint(eager=True)
        append_events(events, os.path.join(work, "warm"))
        events_dir = os.path.join(work, "events")
        f0, t0 = _forks(), time.perf_counter()
        append_events(events, events_dir)
        wall, forks = time.perf_counter() - t0, _forks() - f0
        files = [os.path.join(d, f) for d, _, fs in os.walk(events_dir) for f in fs]
        print(json.dumps({"events": events.count(), "leaves": len(read_entry(events_dir)["leaves"]),
                          "files": len(files), "bytes": sum(map(os.path.getsize, files)),
                          "wall_s": round(wall, 3), "child_processes": forks}))
    spark.stop()


if __name__ == "__main__":
    main()
