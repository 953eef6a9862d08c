"""Run state shared by the workloads: the Spark session, timed and traced
calls into the engine, Spark job accounting, failure counting and the
process-memory reading."""

from __future__ import annotations

import os
import subprocess
import sys
import time
import traceback

import numpy as np

from tracer import Tracer

NPROC = len(os.sched_getaffinity(0))


def percentile(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(p))
    return out


class Bench:
    """One benchmark run: seed, measuring window, tracer and Spark session."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.rng = np.random.default_rng(seed)
        # checks draw from their own stream so that sampling which
        # responses to check never changes the request sequence
        self.check_rng = np.random.default_rng([seed, 1])
        self.attempted = 0
        self.current_op = 0
        self._failed_ops: dict[int, list[str]] = {}
        # measured samples behind the reported percentiles, by kind
        self.samples: dict[str, int] = {}
        # untraced runs: the search figures in ms, and the reference round
        # trip they are divided by
        self.latency_ms: dict[str, float] = {}
        self.spark = None
        self._rid = 0
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since the run began."""
        print(f"[{time.perf_counter() - self._t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    # ------------------------------------------------------------ session

    def start_spark(self):
        """The engine's own session defaults at ``local[nproc]``, with the
        heap that run.py sets through ``SPARK_DRIVER_MEMORY``; the only
        other settings keep Spark's scratch and temp files inside the
        run's work directory and its progress bars off stdout."""
        from emailindexer_spark import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{NPROC}]",
            shuffle_partitions=NPROC,
            extra_conf={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self._store = self.spark.sparkContext._jsc.sc().statusStore()
        self._bus = self.spark.sparkContext._jsc.sc().listenerBus()
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers end."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        proc = sc._gateway.proc
        kids = _children(proc.pid)
        self.spark.stop()
        sc._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)
        deadline = time.monotonic() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)
        self.spark = None
        self.log("spark stopped")

    def peak_rss_mb(self) -> float:
        """High-water resident set of this process plus the JVM, in MiB."""
        py, jvm = _vm_hwm_kb(os.getpid()), _vm_hwm_kb(self._jvm_pid)
        self.log(f"VmHWM python {py / 1024:.0f} MB, jvm {jvm / 1024:.0f} MB")
        return (py + jvm) / 1024

    # ------------------------------------------------------------ requests

    def new_rid(self) -> int:
        self._rid += 1
        return self._rid

    def op(self, what: str, fn):
        """Run one op and count it: an op that raises or fails any check
        counts as failed.  Returns fn's result, or None if it raised."""
        self.attempted += 1
        self.current_op = self.attempted
        try:
            return fn()
        except Exception as e:  # the run goes on and reports the failure
            traceback.print_exc()
            self.check(what, f"{type(e).__name__}: {e}")
            return None

    def check(self, what: str, reason: str | None, op: int | None = None) -> None:
        """Record a failed output check of op ``op`` (default: the current
        one); checks may run after the op, e.g. against the oracle."""
        if reason is not None:
            self._failed_ops.setdefault(op or self.current_op, []).append(f"{what}: {reason}")

    @property
    def failed(self) -> int:
        return len(self._failed_ops)

    @property
    def failures(self) -> list[str]:
        return ["; ".join(v) for v in self._failed_ops.values()]

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.length() else -1

    def jobs_since(self, last: int) -> tuple[int, int, int]:
        """(jobs, tasks run, failed tasks) of the jobs started after job id
        ``last``; the client is single-threaded, so these are the jobs of
        the call in between.  Waits for the listener bus to drain first."""
        self._bus.waitUntilEmpty()
        seq = self._store.jobsList(None)  # newest first
        jobs = tasks = failed = 0
        for i in range(seq.length()):
            j = seq.apply(i)
            if j.jobId() <= last:
                break
            jobs += 1
            tasks += j.numTasks() - j.numSkippedTasks()
            failed += j.numFailedTasks()
        return jobs, tasks, failed

    def call(self, name: str, rid: int, fn, **attrs):
        """Run ``fn()`` as one call into the engine.

        Returns (result, seconds, span).  In a traced run the call gets a
        span and its Spark jobs are counted into the span as ``jobs``,
        ``tasks`` and ``failed_tasks``; the counting happens after the
        call's own timing, inside the enclosing span."""
        last = self.last_job_id() if self.trace else None
        with self.tracer.span(name, rid, **attrs) as span:
            t = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t
        if self.trace:
            span["jobs"], span["tasks"], span["failed_tasks"] = self.jobs_since(last)
        return out, dt, span
