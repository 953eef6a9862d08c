"""SparkSession construction with scale-oriented defaults.

Local mode here, but every knob is chosen for the 1000-executor case:
AQE on (runtime re-plan + skew-join handling), explicit shuffle
partition count, Arrow enabled for every pandas UDF boundary.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Defaults sized for the sandbox (local[32], 128 GiB). On a real cluster
# these are overridden by spark-submit conf; nothing in the engine
# assumes local mode.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

#: Session overrides for interactive SERVING (SearchEngine point/batch
#: queries), as opposed to analytics/build sessions:
#: * AQE off — the query planner sizes every candidate exchange itself
#:   from exact driver-known df statistics, so AQE's per-exchange query-
#:   stage materialization only adds a scheduling round-trip (measured
#:   +11% latency on the 8-query batch suite).  Build/dedup/relational
#:   sessions keep AQE on (runtime stats genuinely help there).
#: * larger Arrow batches — the decode→kernel streams are skinny
#:   (doc_id, term, score) rows; 64k-row batches quarter the Arrow
#:   round-trips at ~3 MB per batch.
SERVING_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
}


#: the driver JVM's initial heap in MiB (capped at spark.driver.memory),
#: committed and touched when the JVM starts.  Left to itself G1 starts
#: at 1/64 of RAM and grows the heap in steps timed by GC overhead and
#: by where humongous allocations (Tungsten sort pages, Parquet write
#: buffers) find contiguous room, so the same build + appends + searches
#: on a 2g heap ended with 0.6-1 GB committed and a driver RSS anywhere
#: from 1.0 to 1.5 GB, run to run (4 vCPUs).  Starting at a heap that
#: covers that working set (~0.9 GB committed at most) makes the
#: footprint a fixed 1.5 GB; touching it costs ~0.3 s at JVM start.
DRIVER_INITIAL_HEAP_MB = 1024
_MEM_UNIT_MB = {"k": 1 / 1024, "": 1, "m": 1, "g": 1024, "t": 1024 * 1024}


def _initial_heap_opts(driver_mem: str) -> str:
    """JVM options that start the driver heap at DRIVER_INITIAL_HEAP_MB
    (at most ``driver_mem``, a Spark memory string; unitless means MiB)
    and touch it; empty for a string this cannot read."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_mem.strip().lower())
    if not m:
        return ""
    mb = int(int(m[1]) * _MEM_UNIT_MB[m[2]])
    return f"-Xms{min(mb, DRIVER_INITIAL_HEAP_MB)}m -XX:+AlwaysPreTouch"


def _default_driver_mem() -> str:
    """min(70% of system RAM, 28g), floor 2g — SPARK_DRIVER_MEMORY
    overrides.  os.sysconf is POSIX-only; fall back to a conservative
    8g where it is unavailable."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(28, int(total * 0.7 / (1 << 30))))
        return f"{gb}g"
    except (ValueError, OSError, AttributeError):
        return "8g"


def get_spark(
    app_name: str = "emailindexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    driver_mem = (extra_conf or {}).get("spark.driver.memory") or os.environ.get(
        "SPARK_DRIVER_MEMORY", _default_driver_mem()
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing merges post-shuffle partitions to an ADVISORY BYTE
        # SIZE — right for IO-bound query shuffles, wrong for this
        # engine's CPU-dense build stages (tokenize/regex/encode over
        # compressed text): merging 32 partitions into ~10 quantizes the
        # stage into ragged waves and caps usable cores.  Skew-join
        # splitting (the part of AQE we actually want) stays on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver IS the executor — size the heap for
        # task-count × task-working-set, not for a thin coordinator
        # (8g with 32 concurrent decode/encode tasks GC-thrashes).
        # Derived from the machine, capped at 28g: a fixed 28g on a
        # smaller host fails JVM startup under strict overcommit.
        .config("spark.driver.memory", driver_mem)
        # a heap that starts at its working size (DRIVER_INITIAL_HEAP_MB);
        # ahead of any spark.driver.extraJavaOptions a caller sets
        .config("spark.driver.defaultJavaOptions", _initial_heap_opts(driver_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # dense text compresses ~5-10x in parquet: the default 128 MB split
        # makes a 100+ MB file scan (and everything map-side of it, e.g.
        # tokenization) run on 1-2 tasks regardless of cores.  8 MB is
        # also at/below the typical text row-group size, so splits carry
        # ONE row group each — at 16 MB a split straddles 1-2 row groups
        # and the scan's waves go ragged (measured: doc_index scaled only
        # 2.9x from 1->4 cores on a 12-row-group corpus; postings 3.87x)
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    )
    # shuffle/spill to tmpfs when available: on this single node the disk
    # is the one resource threads can't multiply; a real cluster gets its
    # shuffle bandwidth from many nodes' disks instead
    if os.path.isdir("/dev/shm") and os.environ.get("SPARK_GRAFT_SHM", "1") == "1":
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
