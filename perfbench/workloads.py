"""The two workloads.  Every end-to-end metric is measured on both.

* ``search-local`` -- ranked searches of ten shapes on a freshly built
  index, which the planner serves from its driver-local tier; then one
  append into that index, for freshness.
* ``ingest-search`` -- rounds of an append of new conversations, each
  with a probe for its sentinel term, then passes of a fixed set of
  searches over the appended index.  Appends drop the local tier's
  ``conv_offsets``, so these reads take the distributed plans.

A traced run (``--trace 1``) adds the request kinds that run Spark jobs
(results pages, filter pages, batches) and a compaction, and records the
spans the per-layer figures come from.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as papq
from pyspark.sql import functions as F

import checks
from harness import NPROC, percentile
from queries import SHAPES, QueryGen

from emailindexer_spark.operators.relational import find_all
from emailindexer_spark.oracle import build_oracle_index
from emailindexer_spark.oracle import search as oracle_search
from emailindexer_spark.plans.builder import IndexBuilder
from emailindexer_spark.plans.parser import parse, query_terms
from emailindexer_spark.plans.planner import SearchEngine
from emailindexer_spark.sources.fixtures import make_transcripts
from emailindexer_spark.streaming.compact import compact_index
from emailindexer_spark.streaming.ingest import incremental_append

N_TURNS = 10_000  # base corpus, turns
BATCH_TURNS = 500  # one append, turns of new conversations
ROUNDS = 2  # append rounds on ingest-search
NUM_PARTS = 8  # index term partitions
# search-local's measured requests, and the passes over them at least:
# each request's latency is the median of its passes
N_REQUESTS = 100
MIN_PASSES = 3
# results pages and filter pages (each), and batches, of a traced run
TRACED_PAGES = 4
TRACED_BATCHES = 4
BATCH_SIZE = 32  # queries per search_many on search-local
ORACLE_SHARE = 0.25  # share of search-local searches checked against the oracle
SENTINEL_EVERY = 5  # every 5th appended turn carries the sentinel term
PAGE_SIZE = 20  # find_all page size
# the host's reference round trip: a top-10-sized pandas frame through
# createDataFrame and collect, the Spark path a driver-local search ends
# in.  search-local times it before every ROUNDTRIP_EVERY-th measured
# request, ingest-search ROUNDTRIPS_PER_REQUEST times before each one.
ROUNDTRIP = pd.DataFrame({"doc_id": np.arange(10), "score": np.linspace(10.0, 1.0, 10)})
ROUNDTRIP_EVERY = 4
ROUNDTRIPS_PER_REQUEST = 3


class Run:
    """The index, engine and measurements of one workload run."""

    def __init__(self, b):
        self.b = b
        # latency of each timing of each measured request, by request key
        self.search_s: dict[object, list[float]] = {}
        # (phase, seconds) of searches run with and without spans in a
        # traced run: the tracing overhead
        self.traced_s: list[tuple[str, float]] = []
        self.plain_s: list[tuple[str, float]] = []
        self.roundtrip_s: list[float] = []  # reference round trips
        self.stats: dict[str, float] = {}
        self.appends: list[dict[str, float]] = []  # figures of each append
        # (op, what, query, k, mode, rows) awaiting the oracle, which is
        # built after the measured phase so it does not weigh on peak_rss_mb
        self.oracle_checks: list[tuple] = []
        self.peak_rss_mb: float | None = None

    # ---------------------------------------------------------------- setup

    def setup(self, corpus: pd.DataFrame) -> None:
        """Write the corpus as parquet, build the index, open the engine and
        warm it up.  Spark start and corpus generation are timed by the
        caller into setup_s."""
        b = self.b
        spark = b.spark
        self.corpus = self.base_corpus = corpus
        self.text_of = dict(zip(zip(corpus["conv_id"], corpus["turn_idx"]), corpus["text"]))
        self.pq = os.path.join(b.work, "corpus.parquet")
        corpus.to_parquet(self.pq, index=False, row_group_size=max(1000, len(corpus) // (2 * NPROC)))
        self.input_bytes = os.path.getsize(self.pq)
        self.ix = os.path.join(b.work, "index")
        man, self.build_s, self.build_span = b.call(
            "IndexBuilder.build", b.new_rid(),
            lambda: IndexBuilder(spark, self.ix, num_parts=NUM_PARTS).build(spark.read.parquet(self.pq)),
        )
        self.manifest = man
        b.log(f"built index over {len(corpus)} turns in {self.build_s:.2f}s")
        b.op("build", lambda: b.check("build", checks.manifest(man.stats, len(corpus))))
        self.open()
        self.qgen = QueryGen(self.ix, b.rng)
        # warm-up: one search per shape, drawn from a stream of its own so
        # the measured request sequence depends on the seed alone
        warm = QueryGen(self.ix, np.random.default_rng([b.seed, 2]))
        reqs = warm.one_per_shape()
        for _shape, q, k, mode in reqs:
            self.eng.search(q, k=k, mode=mode).collect()
        if not b.trace:
            return
        # the JVM needs a few rounds of the Spark-job request kinds before
        # their latency settles (code generation, JIT)
        for _shape, q, k, mode in reqs[:2]:
            self.eng.search(q, k=k, mode=mode, with_text=True).collect()
            find_all(self.eng.doc_index, page=2, size=PAGE_SIZE, predicate=F.col("role") == "user").rows.collect()
        self.eng.search_many({f"w{i}": r[1:] for i, r in enumerate(reqs)}).collect()

    def open(self) -> float:
        self.eng, dt, _ = self.b.call("SearchEngine", self.b.new_rid(), lambda: SearchEngine(self.b.spark, self.ix))
        return dt

    def check_with_oracle(self) -> None:
        """Compare the responses set aside for the oracle with its answers
        over the base corpus."""
        c = self.base_corpus
        oracle = build_oracle_index(list(zip(c["conv_id"], c["turn_idx"], c["text"])))
        for op, what, q, k, mode, rows in self.oracle_checks:
            self.b.check(what, checks.matches_oracle(rows, oracle_search(oracle, q, k=k, mode=mode)), op=op)
        self.b.log(f"checked {len(self.oracle_checks)} responses against the oracle")

    # ------------------------------------------------------------ requests

    def roundtrip(self) -> None:
        """Time one reference round trip; no engine code runs in it."""
        t = time.perf_counter()
        self.b.spark.createDataFrame(ROUNDTRIP, "doc_id long, score double").collect()
        self.roundtrip_s.append(time.perf_counter() - t)

    def search(
        self, req, phase: str, traced: bool = True, with_text: bool = False,
        check_oracle: bool = False, key=None,
    ):
        """One ranked search (or a results page with ``with_text``); a
        search with a ``key`` adds its latency to that request's measured
        timings."""
        b, eng = self.b, self.eng
        shape, q, k, mode = req
        kind = "page" if with_text else "search"
        rid = b.new_rid()
        run = lambda: eng.search(q, k=k, mode=mode, with_text=with_text).collect()  # noqa: E731
        if b.trace and traced:
            with b.tracer.span("request", rid, kind=kind, shape=shape, phase=phase):
                t = time.perf_counter()
                rows, dt, span = b.call(kind, rid, run, shape=shape, phase=phase)
                # the traced call with its span and Spark job accounting:
                # what tracing adds to the request
                wrapped_s = time.perf_counter() - t
                # calls the untraced path does not make come after the
                # timed one, so they neither weigh on it nor warm it
                ast, _, _ = b.call("parse", rid, lambda: parse(q))
                dfs, _, _ = b.call("term_dfs", rid, lambda: eng.term_dfs(query_terms(ast)))
                span["df_sum"] = sum(dfs.values())
                span["hits"] = len(rows)
                if shape == "or" and not with_text:
                    for name, wand in (("wand", True), ("exhaustive", False)):
                        alt, _, _ = b.call(name, rid, lambda: eng.search(q, k=k, mode=mode, use_wand=wand).collect(), phase=phase)
                        b.check(f"{name} {q!r}", checks.same_rows(alt, rows))
            if key is not None and kind == "search":
                self.traced_s.append((phase, wrapped_s))
        else:
            t = time.perf_counter()
            rows = run()
            dt = time.perf_counter() - t
            if b.trace and key is not None and kind == "search":
                self.plain_s.append((phase, dt))
        if key is not None and kind == "search":
            self.search_s.setdefault(key, []).append(dt)
        what = f"{kind} {q!r} {mode}"
        b.check(what, checks.response(rows, k, mode))
        if with_text:
            b.check(what, checks.page_text(rows, self.text_of))
        if check_oracle:
            self.oracle_checks.append((b.current_op, what, q, k, mode, rows))
        return rows

    def browse(self, phase: str) -> None:
        """One filtered, ordered find_all page over doc_index."""
        b = self.b
        rng = b.rng
        role = str(rng.choice(["user", "assistant", "tool"]))
        ts = self.corpus["ts"]
        lo, hi = sorted(rng.choice(ts.to_numpy(), size=2, replace=False))
        lo, hi = pd.Timestamp(lo).isoformat(sep=" "), pd.Timestamp(hi).isoformat(sep=" ")
        page_no = int(rng.integers(1, 6))
        pred = (F.col("role") == role) & (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
        rid = b.new_rid()

        def run():
            page = find_all(self.eng.doc_index, page=page_no, size=PAGE_SIZE, predicate=pred)
            return page, page.rows.collect()

        (page, rows), _, _ = b.call("find_all", rid, run, phase=phase)
        c = self.corpus
        mask = (c["role"] == role) & (c["ts"] >= pd.Timestamp(lo)) & (c["ts"] < pd.Timestamp(hi))
        b.check(f"browse {role} {lo}..{hi}", checks.browse(page, rows, c, mask, page_no, PAGE_SIZE))

    def batch(self, reqs, phase: str, oracle_sample: int = 0) -> dict:
        """One search_many; returns rows per query id.  ``oracle_sample``
        members, drawn by the seed, are checked against the oracle."""
        b = self.b
        qs = {f"q{i}": (q, k, mode) for i, (_s, q, k, mode) in enumerate(reqs)}
        rows, _, _ = b.call("search_many", b.new_rid(), lambda: self.eng.search_many(qs).collect(), n=len(qs), phase=phase)
        by_q: dict[str, list] = {qid: [] for qid in qs}
        for r in rows:
            by_q[r["query_id"]].append(r)
        for qid, (q, k, mode) in qs.items():
            by_q[qid].sort(key=lambda r: r["rank"])
            b.check(f"batch {q!r}", checks.response(by_q[qid], k, mode))
        for j in b.check_rng.choice(len(reqs), size=oracle_sample, replace=False):
            _s, q, k, mode = reqs[j]
            self.oracle_checks.append((b.current_op, f"batch {q!r}", q, k, mode, by_q[f"q{j}"]))
        return by_q

    # -------------------------------------------------------------- writes

    def append(self, batch: pd.DataFrame, sentinel: str, phase: str) -> None:
        """incremental_append of one batch, reopen, then search the
        sentinel: the appended docs must be visible (freshness)."""
        b, spark = self.b, self.b.spark
        batch = batch.copy()
        idx = batch.index[::SENTINEL_EVERY]
        batch.loc[idx, "text"] = batch.loc[idx, "text"] + " " + sentinel
        path = os.path.join(b.work, f"batch-{sentinel}.parquet")
        batch.to_parquet(path, index=False)
        self.input_bytes += os.path.getsize(path)
        rows_before = _postings_rows(self.ix)
        _, append_s, span = b.call("incremental_append", b.new_rid(), lambda: incremental_append(spark, self.ix, spark.read.parquet(path)), phase=phase)
        open_s = self.open()
        t = time.perf_counter()
        rows = self.search(("sentinel", sentinel, None, "turns"), phase)
        probe_s = time.perf_counter() - t
        expected = {(c, t) for c, t, x in zip(batch["conv_id"], batch["turn_idx"], batch["text"]) if sentinel in x}
        got = {(r["conv_id"], r["turn_idx"]) for r in rows}
        b.check(f"sentinel {sentinel}", None if got == expected else f"{len(got)} docs, expected {len(expected)}")
        self.corpus = pd.concat([self.corpus, batch], ignore_index=True)
        self.text_of.update(zip(zip(batch["conv_id"], batch["turn_idx"]), batch["text"]))
        fig = {
            "append_s": append_s,
            "freshness_s": append_s + open_s + probe_s,
            "turns_per_s": len(batch) / append_s,
            "postings_rows_added": _postings_rows(self.ix) - rows_before,
        }
        if span is not None:
            fig["spark_jobs_per_append"] = span["jobs"]
        self.appends.append(fig)

    def append_median(self, key: str) -> float:
        return percentile([a[key] for a in self.appends], 50)

    def compact(self, fixed, before: dict) -> None:
        """compact_index, reopen, and check that the fixed query set returns
        exactly what it returned before compaction."""
        b = self.b
        files_before, rows_before = _postings_files(self.ix), _postings_rows(self.ix)
        _, compact_s, _ = b.call("compact_index", b.new_rid(), lambda: compact_index(b.spark, self.ix), phase="compacted")
        self.open()
        after = self.batch(fixed, "compacted")
        for qid, rows in after.items():
            b.check(f"compacted {qid}", checks.same_rows(rows, before[qid]))
        self.stats.update({
            "compact.s": compact_s,
            "compact.postings_rows_before": rows_before,
            "compact.postings_rows_after": _postings_rows(self.ix),
            "compact.postings_files_before": files_before,
            "compact.postings_files_after": _postings_files(self.ix),
            "compact.bytes_rewritten": _dir_bytes(os.path.join(self.ix, "postings")),
        })
        for req in fixed:
            self.search(req, "compacted")

    # ------------------------------------------------------------- metrics

    def end_to_end(self, setup_s: float) -> dict:
        # a request's latency is the median of its timings; the
        # percentiles are over requests, in units of the run's median
        # reference round trip, which moves with the host's speed
        s = [percentile(ts, 50) for ts in self.search_s.values()]
        rt = percentile(self.roundtrip_s, 50)
        n = sum(len(ts) for ts in self.search_s.values())
        self.b.samples = {
            "search": n, "request": len(s), "roundtrip": len(self.roundtrip_s), "append": len(self.appends),
        }
        self.b.latency_ms = {
            "search_p50": percentile(s, 50) * 1e3,
            "search_p90": percentile(s, 90) * 1e3,
            "roundtrip_p50": rt * 1e3,
        }
        self.b.log(f"{n} searches of {len(s)} requests, {len(self.appends)} appends")
        return {
            "setup_s": setup_s,
            "freshness_s": self.append_median("freshness_s"),
            "search_p50_roundtrips": percentile(s, 50) / rt,
            "search_p90_roundtrips": percentile(s, 90) / rt,
            "index_bytes_per_input_byte": _dir_bytes(self.ix) / self.input_bytes,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self, planner_phases: set[str], overhead_phase: str) -> dict:
        b = self.b
        tr = b.tracer
        spans = [s for s in tr.self_times() if s.get("phase", "setup") in planner_phases]
        searches = [s for s in spans if s["name"] == "search"]
        pages = [s for s in spans if s["name"] == "page"]
        b.samples = {"search": len(searches), "append": len(self.appends)}

        def p50_ms(xs):
            return percentile(xs, 50) * 1e3

        man = self.manifest
        out = {
            "parser.parse_us_p50": percentile(tr.durations("parse"), 50) * 1e6,
            "planner.term_dfs_ms_p50": p50_ms(tr.durations("term_dfs")),
            "planner.postings_per_hit": sum(s["df_sum"] for s in searches) / max(1, sum(s["hits"] for s in searches)),
            "planner.spark_jobs_per_search": np.mean([s["jobs"] for s in searches]),
            "planner.spark_tasks_per_search": np.mean([s["tasks"] for s in searches]),
            "planner.local_tier_frac": np.mean([s["jobs"] == 0 for s in searches]),
            "planner.open_ms": p50_ms(tr.durations("SearchEngine")),
            "planner.page_ms_p50": p50_ms([s["self_s"] for s in pages]),
            "planner.page_spark_tasks": percentile([s["tasks"] for s in pages], 50),
            "planner.search_many_ms_per_query": percentile(
                [s["self_s"] / s["n"] for s in spans if s["name"] == "search_many"], 50
            ) * 1e3,
            "wand.or_ms_p50": p50_ms([s["self_s"] for s in spans if s["name"] == "wand"]),
            "wand.or_exhaustive_ms_p50": p50_ms([s["self_s"] for s in spans if s["name"] == "exhaustive"]),
            "relational.find_all_ms_p50": p50_ms([s["self_s"] for s in spans if s["name"] == "find_all"]),
            "compact.search_ms_p50_after": p50_ms(tr.durations("search", phase="compacted")),
            "trace.overhead_frac": percentile([t for ph, t in self.traced_s if ph == overhead_phase], 50)
            / percentile([t for ph, t in self.plain_s if ph == overhead_phase], 50) - 1,
            "ops_failed_frac": b.failed / max(1, b.attempted),
        }
        for shape in SHAPES:
            out[f"planner.search_ms_p50.{shape}"] = p50_ms([s["self_s"] for s in searches if s["shape"] == shape])
        for stage in ("doc_index", "postings", "doc_stats", "term_dict"):
            out[f"builder.{stage}_s"] = man.stages[stage]["seconds"]
        for stat in ("postings_written", "bytes_compressed", "skew_splits", "total_tokens"):
            out[f"builder.{stat}"] = man.stats[stat]
        out["builder.build_s"] = self.build_s
        out["builder.spark_tasks"] = self.build_span["tasks"]
        out.update(self.stats)
        out.update({f"ingest.{key}": self.append_median(key) for key in self.appends[0]})
        every = tr.self_times()
        out["spark.jobs"] = sum(s.get("jobs", 0) for s in every)
        out["spark.tasks"] = sum(s.get("tasks", 0) for s in every)
        out["spark.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in every)
        return out


# ------------------------------------------------------------------ helpers

def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _postings_files(ix: str) -> int:
    return len(glob.glob(os.path.join(ix, "postings", "part=*", "*.parquet")))


def _postings_rows(ix: str) -> int:
    return sum(
        papq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(ix, "postings", "part=*", "*.parquet"))
    )


def _corpus_and_batches(seed: int) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """~N_TURNS base turns and ROUNDS append batches of ~BATCH_TURNS turns
    of whole new conversations, from one generated corpus cut at
    conversation starts."""
    pdf = make_transcripts(N_TURNS + (ROUNDS + 1) * BATCH_TURNS, seed=seed)
    starts = np.flatnonzero(pdf["turn_idx"].to_numpy() == 0)
    cuts = [int(starts[np.searchsorted(starts, N_TURNS + r * BATCH_TURNS)]) for r in range(ROUNDS + 1)]
    parts = [pdf.iloc[a:z].reset_index(drop=True) for a, z in zip([0, *cuts], cuts)]
    return parts[0], parts[1:]


# ---------------------------------------------------------------- workloads


def search_local(b) -> dict:
    t0 = time.perf_counter()
    b.start_spark()
    corpus, batches = _corpus_and_batches(b.seed)
    run = Run(b)
    run.setup(corpus)
    setup_s = time.perf_counter() - t0
    b.log(f"set up in {setup_s:.2f}s")

    if b.trace:
        # every shape at least once in the traced figures, from a stream
        # of its own so the request sequence stays the untraced one
        for req in QueryGen(run.ix, np.random.default_rng([b.seed, 3])).one_per_shape():
            b.op("search", lambda: run.search(req, "read"))
    # N_REQUESTS ranked searches, drawn once and run in passes: MIN_PASSES
    # at least, and more while the window lasts.  Each request's latency is
    # the median over its passes, so a burst of host contention shorter
    # than a pass slows one timing of a request, not its figure.  Later
    # passes must return what the first did.  A traced run traces each
    # request in every other pass, alternating, so the rest pair up for
    # the overhead.
    reqs = [run.qgen.draw() for _ in range(N_REQUESTS)]
    oracle = b.check_rng.random(N_REQUESTS) < ORACLE_SHARE
    first: dict[int, list] = {}

    def measured(i, passes):
        if i % ROUNDTRIP_EVERY == 0:
            run.roundtrip()
        rows = run.search(
            reqs[i], "read", traced=(i + passes) % 2 == 0,
            check_oracle=passes == 0 and oracle[i], key=i,
        )
        if passes:
            b.check(f"repeat {reqs[i][1]!r}", checks.same_rows(rows, first[i]))
        else:
            first[i] = rows

    passes = 0
    start = time.perf_counter()
    while passes < MIN_PASSES or time.perf_counter() - start < b.seconds:
        for i in range(N_REQUESTS):
            b.op("search", lambda: measured(i, passes))
        passes += 1
    b.log(f"read window done: {passes} passes of {N_REQUESTS} searches")
    if b.trace:
        # the request kinds that run Spark jobs, for their layer figures
        for _ in range(TRACED_PAGES):
            req = run.qgen.draw()
            b.op("page", lambda: run.search(req, "read", with_text=True, check_oracle=True))
            b.op("browse", lambda: run.browse("read"))
        for _ in range(TRACED_BATCHES):
            batch_reqs = [run.qgen.draw() for _ in range(BATCH_SIZE)]
            b.op("batch", lambda: run.batch(batch_reqs, "read", oracle_sample=4))
    # write tail, after every read above: one append into the freshly
    # built index
    b.op("append", lambda: run.append(batches[0], "xsentinel1", "tail"))
    run.peak_rss_mb = b.peak_rss_mb()
    run.check_with_oracle()
    if not b.trace:
        return run.end_to_end(setup_s)
    # traced runs only: a compaction, checked by the fixed query set
    fixed = run.qgen.one_per_shape()
    before = b.op("batch", lambda: run.batch(fixed, "tail"))
    b.op("compact", lambda: run.compact(fixed, before))
    return run.per_layer({"read"}, "read")


def ingest_search(b) -> dict:
    t0 = time.perf_counter()
    b.start_spark()
    corpus, batches = _corpus_and_batches(b.seed)
    run = Run(b)
    run.setup(corpus)
    setup_s = time.perf_counter() - t0
    b.log(f"set up in {setup_s:.2f}s")

    fixed = run.qgen.one_per_shape()
    # ROUNDS rounds of an append with its own sentinel (reopen and probe
    # included); then passes over the fixed query set while the window
    # lasts, at least one.  A traced run makes at least two and traces
    # each query in every other pass, alternating, so each query is
    # measured both ways: the tracing-overhead pairs.
    for r, batch in enumerate(batches):
        b.op("append", lambda: run.append(batch, f"xsentinel{r + 1}", "ingest"))
    singles = {}  # rows of each query
    passes = 0
    start = time.perf_counter()
    while passes < 1 + b.trace or time.perf_counter() - start < b.seconds:
        for i, req in enumerate(fixed):
            for _ in range(ROUNDTRIPS_PER_REQUEST):
                run.roundtrip()
            traced = (i + passes) % 2 == 0
            singles[f"q{i}"] = b.op("search", lambda: run.search(req, "ingest", traced=traced, key=i))
        passes += 1
    run.peak_rss_mb = b.peak_rss_mb()
    b.log(f"{ROUNDS} rounds appended and searched")
    if not b.trace:
        return run.end_to_end(setup_s)

    # traced runs only: the Spark-job request kinds, and a compaction
    # of every round's appended files, with the same queries on the
    # compacted index
    for _ in range(TRACED_PAGES):
        page_req = run.qgen.draw()
        b.op("page", lambda: run.search(page_req, "ingest", with_text=True))
        b.op("browse", lambda: run.browse("ingest"))

    def batch_matches_singles():
        rows = run.batch(fixed, "ingest")
        for qid, single in singles.items():
            b.check(f"batch {qid}", checks.same_rows(rows[qid], single))
        return rows

    before = b.op("batch", batch_matches_singles)
    b.op("compact", lambda: run.compact(fixed, before))
    b.log("compacted and searched")
    return run.per_layer({"ingest", "compacted"}, "ingest")


WORKLOADS = {"search-local": search_local, "ingest-search": ingest_search}
