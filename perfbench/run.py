"""Repository benchmark for emailindexer_spark.

    python3 perfbench/run.py --workload search-local --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates its corpus from ``--seed``
(``sources.fixtures.make_transcripts``), drives the engine through its
public API on ``local[nproc]`` from one client, checks every output,
and prints one JSON result as the last line of stdout.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` records spans around each
call into the engine's modules and reports the per-layer metrics.  See
perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _canary_ms() -> float:
    """Single-process host-speed canary: median of 5 fixed pure-Python
    loops, so a slow or contended host shows beside the figures."""
    ts = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        ts.append((time.perf_counter() - t) * 1e3)
    return sorted(ts)[2]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # imports the program: fails fast, printing no result, without it
    from harness import Bench
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything the run writes stays under the checkout: Spark scratch,
    # temp files of this process, the JVM and the Python workers.  The
    # workers import the package through PYTHONPATH, so the run does not
    # depend on the working directory they start in.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the engine would otherwise put its shuffle and spill on
    # /dev/shm/spark-local, outside the checkout
    os.environ["SPARK_GRAFT_SHM"] = "0"
    # the engine's own heap override, at its floor.  Its host-derived
    # default (70% of RAM, 2g-28g) lets G1 grow the heap by timing, which
    # spread peak_rss_mb by a quarter over seeds, and would tie every
    # figure to the host's memory
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # the launcher JVM that spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "canary_ms": round(_canary_ms(), 3),
    }
    cpu0 = _cpu_times()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    bench = Bench(work, args.seed, args.seconds, bool(args.trace))
    try:
        values = WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        bench.tracer.write(os.path.join(ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json"))
    cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
    host["steal_frac"] = round(cpu[7] / max(1, sum(cpu)), 4)  # /proc/stat: 8th field is steal
    print(json.dumps({"host": host, "samples": bench.samples, "latency_ms": bench.latency_ms}))
    if set(values) != set(units):
        raise SystemExit(f"measured {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    for f in bench.failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
