"""Extra (non-frozen) benchmarks — isolation runs cited in
OPTIMIZATION_r06.md.  The frozen measurement protocol lives in
bench.py and is untouched; this file exists so optimization evidence
can be measured without editing it (guide §1.4).

Modes (first CLI arg):

* ``dist-queries`` — the nine bench queries FORCED through the
  distributed tier (``LOCAL_MAX_POSTINGS = 0``: the query evaluator per
  doc-range shard) against the bench's cached sf index, timed warm,
  with the Spark jobs each runs.  Every answer is checked against the
  driver-local tier's; the run exits non-zero when one differs.
* ``scale-trend N_TURNS`` — SCALE.md §3b trend leg: build (or reuse)
  the synthetic corpus + index at ``N_TURNS`` and time the same nine
  queries + batched suite with the same warm-then-time methodology as
  bench.py.  Reuses bench.py's corpus/build helpers so a trend row is
  directly comparable to the frozen artifact's query block.
* ``local-decode [SEED]`` — the driver-local tier on perfbench's
  ingest-search index (``perfbench/workloads.py::_corpus_and_batches``:
  ~10k base turns built on the driver, then two appends of ~500), built
  under ``.cache/`` on first use.  Prints, per postings part, the
  first-touch read and decode ms (``_load_sorted_postings`` per file,
  then ``_decode_table`` over them) and the bytes the decoded part keeps
  resident against the Arrow bytes it was read from; then the local ms
  of each perfbench query shape on the warm engine (median over passes
  of ten draws per shape), with no perfbench run.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def dist_queries() -> None:
    sys.path.insert(0, REPO)
    import bench as B

    from emailindexer_spark import get_spark
    from emailindexer_spark.config import SERVING_CONF
    from emailindexer_spark.plans.planner import SearchEngine

    sf = B.sf_of(SF_DIR)
    n_turns = max(1000, int(6_000_000 * sf))
    ix_dir = os.path.join(REPO, ".cache", f"bench_ix_{n_turns}")
    if not os.path.isdir(ix_dir):
        raise SystemExit(f"no cached bench index at {ix_dir} — run bench.py first")
    subs = B.pick_terms(B.corpus_path(n_turns))

    spark = get_spark(
        app_name="bench-extra-dist",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf=SERVING_CONF,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    local = SearchEngine(spark, ix_dir)
    eng = SearchEngine(spark, ix_dir)
    eng.LOCAL_MAX_POSTINGS = 0  # force every query onto the distributed tier

    def rows(df):
        return [(r.rank, r.doc_id, r.conv_id, r.turn_idx, round(r.score, 9)) for r in df.collect()]

    qsec: dict[str, float] = {}
    qjobs: dict[str, int] = {}
    differ: list[str] = []
    for name, q, k, mode, wand in B.BENCH_QUERIES:
        for pat, sub in subs.items():
            q = q.replace(pat, sub)
        got = rows(eng.search(q, k=k, mode=mode, use_wand=wand))  # warm
        if got != rows(local.search(q, k=k, mode=mode, use_wand=wand)):
            differ.append(name)
        sc.setJobGroup(name, name)
        t0 = time.time()
        eng.search(q, k=k, mode=mode, use_wand=wand).collect()
        qsec[name] = round(time.time() - t0, 3)
        qjobs[name] = len(sc.statusTracker().getJobIdsForGroup(name))
    sc.setJobGroup(None, None)
    print(
        json.dumps(
            {"mode": "dist-queries", "sf": sf, "queries": qsec, "query_jobs": qjobs, "differ": differ}
        )
    )
    spark.stop()
    if differ:
        raise SystemExit(f"distributed answers differ from the local tier's: {differ}")


def scale_trend(n_turns: int) -> None:
    sys.path.insert(0, REPO)
    import bench as B

    from emailindexer_spark import get_spark
    from emailindexer_spark.config import SERVING_CONF
    from emailindexer_spark.plans.planner import SearchEngine

    pq = B.corpus_path(n_turns)
    subs = B.pick_terms(pq)
    ix_dir = os.path.join(REPO, ".cache", f"bench_ix_{n_turns}")
    build_sec = None
    if not os.path.isdir(ix_dir):
        build_sec = B.build_once(f"local[{CPUS}]", pq, ix_dir, shuffle=max(CPUS, 32))

    spark = get_spark(
        app_name=f"bench-extra-trend-{n_turns}",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf=SERVING_CONF,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    eng = SearchEngine(spark, ix_dir)
    qsec: dict[str, float] = {}
    qjobs: dict[str, int] = {}
    for name, q, k, mode, wand in B.BENCH_QUERIES:
        for pat, sub in subs.items():
            q = q.replace(pat, sub)
        eng.search(q, k=k, mode=mode, use_wand=wand).collect()  # warm
        sc.setJobGroup(name, name)
        t0 = time.time()
        eng.search(q, k=k, mode=mode, use_wand=wand).collect()
        qsec[name] = round(time.time() - t0, 3)
        qjobs[name] = len(sc.statusTracker().getJobIdsForGroup(name))
    batch = {
        name: (B._sub_all(q, subs), k, mode)
        for name, q, k, mode, _w in B.BENCH_QUERIES
        if name != "or3_wand"
    }
    eng.search_many(batch, use_wand=False).count()  # warm
    t0 = time.time()
    n_hits = eng.search_many(batch, use_wand=False).count()
    bsec = time.time() - t0
    qsec["_suite_batched"] = round(bsec, 3)
    qsec["_suite_batched_qps"] = round(len(batch) / bsec, 2)
    print(
        json.dumps(
            {
                "mode": "scale-trend",
                "n_turns": n_turns,
                "build_sec": build_sec,
                "queries": qsec,
                "query_jobs": qjobs,
                "hits": n_hits,
                "host_probe": B.host_probe(),
            }
        )
    )
    spark.stop()


def local_decode(seed: int) -> None:
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import numpy as np
    import pyarrow as pa
    from queries import SHAPES, QueryGen
    from workloads import NUM_PARTS, _corpus_and_batches

    import emailindexer_spark.plans.planner as P
    from emailindexer_spark import get_spark
    from emailindexer_spark.plans.builder import IndexBuilder
    from emailindexer_spark.streaming.ingest import incremental_append

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="bench-extra-local-decode", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    ix = os.path.join(REPO, ".cache", f"local_decode_ix_{seed}")
    if not os.path.isdir(ix):
        corpus, batches = _corpus_and_batches(seed)
        os.makedirs(ix + "_input", exist_ok=True)
        for i, pdf in enumerate([corpus, *batches]):
            pq = os.path.join(ix + "_input", f"{i}.parquet")
            pdf.to_parquet(pq, index=False, row_group_size=max(1000, len(pdf) // (2 * nproc)))
            if i == 0:
                IndexBuilder(spark, ix, num_parts=NUM_PARTS).build(spark.read.parquet(pq))
            else:
                incremental_append(spark, ix, spark.read.parquet(pq))

    eng = P.SearchEngine(spark, ix)
    level = 2 if eng.positions else 1
    parts = []
    for part in range(eng.num_parts):
        t0 = time.perf_counter()
        tables = [P._load_sorted_postings(f, P._LEVEL_COLS[level]) for f in eng._part_files(part)]
        t1 = time.perf_counter()
        dec = P._decode_table(pa.concat_tables(tables), level, 0, eng.n_rows)
        t2 = time.perf_counter()
        arrays = [*dec[1:-1], *(dec.pos or ())]  # every field but level, pos unpacked
        strs = sum(sys.getsizeof(x) for x in dec.term)  # the term objects
        parts.append(
            {
                "part": part,
                "files": len(tables),
                "rows": int(dec.term.size),
                "postings": int(dec.docs.size),
                "read_ms": round(1e3 * (t1 - t0), 2),
                "decode_ms": round(1e3 * (t2 - t1), 2),
                "arrow_bytes": sum(t.nbytes for t in tables),
                "resident_bytes": sum(a.nbytes for a in arrays) + strs,
            }
        )
        eng._resident_part(part)  # the engine's own first touch
    qgen = QueryGen(ix, np.random.default_rng([seed, 1]))
    draws = {shape: [qgen.make(shape) for _ in range(10)] for shape in SHAPES}
    for reqs in draws.values():  # warm
        for _s, q, k, mode in reqs:
            eng.search(q, k=k, mode=mode).collect()
    times: dict[str, list[float]] = {shape: [] for shape in SHAPES}
    for _ in range(15):
        for shape, reqs in draws.items():
            for _s, q, k, mode in reqs:
                t0 = time.perf_counter()
                eng.search(q, k=k, mode=mode).collect()
                times[shape].append(time.perf_counter() - t0)
    postings = sum(p["postings"] for p in parts)
    resident = sum(p["resident_bytes"] for p in parts)
    print(
        json.dumps(
            {
                "mode": "local-decode",
                "seed": seed,
                "n_rows": eng.n_rows,
                "parts": parts,
                "first_touch_ms": round(sum(p["read_ms"] + p["decode_ms"] for p in parts), 1),
                "resident_bytes": resident,
                "arrow_bytes": sum(p["arrow_bytes"] for p in parts),
                "resident_bytes_per_posting": round(resident / max(postings, 1), 2),
                "search_ms_p50": {s: round(1e3 * float(np.median(v)), 3) for s, v in times.items()},
                "search_ms_p50_all": round(1e3 * float(np.median(sum(times.values(), []))), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "dist-queries"
    if mode == "dist-queries":
        dist_queries()
    elif mode == "scale-trend":
        scale_trend(int(sys.argv[2]))
    elif mode == "local-decode":
        local_decode(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    else:
        raise SystemExit(f"unknown mode {mode!r}")
