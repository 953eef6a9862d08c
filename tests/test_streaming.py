"""Incremental / Structured Streaming ingest: appended batches integrate
with the read path and match an oracle built in insertion order."""

import glob
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pyarrow.parquet as papq
import pytest

from emailindexer_spark.functions.codec import decode_block, decode_positions
from emailindexer_spark.oracle import build_oracle_index, search as osearch
from emailindexer_spark.plans.builder import IndexBuilder
from emailindexer_spark.plans.parser import parse
from emailindexer_spark.plans.planner import SearchEngine
from emailindexer_spark.sources.fixtures import make_transcripts
from emailindexer_spark.streaming.ingest import incremental_append, stream_ingest


@pytest.fixture(scope="module")
def corpus3(corpus_pdf):
    """Corpus cut into base + two append batches (whole conversations)."""
    convs = corpus_pdf["conv_id"].unique()
    c1, c2 = convs[: len(convs) // 2], convs[len(convs) // 2 : 3 * len(convs) // 4]
    base = corpus_pdf[corpus_pdf.conv_id.isin(set(c1))]
    b1 = corpus_pdf[corpus_pdf.conv_id.isin(set(c2))]
    b2 = corpus_pdf[~corpus_pdf.conv_id.isin(set(c1) | set(c2))]
    return base, b1, b2


@pytest.fixture(params=["driver", "spark"])
def append_path(request, monkeypatch):
    """Run the test's appends on one path: the driver path takes every
    batch the tests use; a negative cap forces the sharded route
    ("spark")."""
    import emailindexer_spark.plans.builder as B

    if request.param == "spark":
        monkeypatch.setattr(B, "DRIVER_MAX_TURNS", -1)
    return request.param


def _postings_files(d):
    return sorted(glob.glob(os.path.join(d, "postings", "part=*", "*.parquet")))


def _assert_postings_term_sorted(d, when):
    """Every postings file is (term, split_id)-sorted — what row-group
    min/max pruning on ``term`` relies on."""
    unsorted = []
    for f in _postings_files(d):
        t = papq.read_table(f, columns=["term", "split_id"])
        keys = list(zip(t.column("term").to_pylist(), t.column("split_id").to_pylist()))
        if keys != sorted(keys):
            unsorted.append(os.path.relpath(f, d))
    assert _postings_files(d) and not unsorted, (when, unsorted)


def _decoded_postings(d, norm):
    """One (term, split_id, doc_id, tf, norm, positions) per posting,
    decoded block by block with the reference codec functions, each norm
    ``norm(term, docs)`` (the ``doc_norm_lookup`` fixture's)."""
    out = []
    cols = ["term", "split_id", "b_first", "b_docs", "b_tfs", "b_pos"]
    for f in _postings_files(d):
        for r in papq.read_table(f, columns=cols).to_pylist():
            for i in range(len(r["b_docs"])):
                docs, tfs = decode_block(r["b_first"][i], r["b_docs"][i], r["b_tfs"][i])
                norms = norm(r["term"], docs)
                pos = np.split(decode_positions(r["b_pos"][i], tfs), np.cumsum(tfs)[:-1])
                out += [
                    (r["term"], r["split_id"], int(doc), int(tf), int(nm), tuple(p.tolist()))
                    for doc, tf, nm, p in zip(docs, tfs, norms, pos)
                ]
    return out


@pytest.mark.slow
def test_incremental_append_matches_oracle(spark, corpus3):
    base, b1, b2 = corpus3
    d = tempfile.mkdtemp(prefix="ix_stream_")
    try:
        IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        incremental_append(spark, d, spark.createDataFrame(b1))
        incremental_append(spark, d, spark.createDataFrame(b2))
        eng = SearchEngine(spark, d)
        assert eng.n_rows == len(base) + len(b1) + len(b2)
        # oracle in the engine's insertion order: each chunk sorted, chained
        rows = []
        for chunk in (base, b1, b2):
            rows += sorted(
                chunk[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None)
            )
        ix = build_oracle_index(rows, sort=False)
        for q, mode in [
            ("qojema", "turns"),
            ("qojema fuhepi", "turns"),
            ("fuhepi", "conversations"),
            # appended positions: exact and sloppy (reordered) phrases
            ('"noza guka"', "turns"),
            ('"guka noza"~2', "turns"),
        ]:
            exp = osearch(ix, q, k=10, mode=mode)
            assert exp, (q, mode)
            got = [
                (r["doc_id"], r["score"])
                for r in eng.search(q, k=10, mode=mode, use_wand=False).collect()
            ]
            assert [x[0] for x in got] == [x[0] for x in exp], (q, mode)
            for (_, a), (_, b) in zip(got, exp):
                assert abs(a - b) <= 1e-6 * max(1.0, abs(b))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_manifest_first_append_visibility(spark, spark_jobs, corpus3, append_path):
    # MANIFEST-FIRST publish: (1) a reader opening the index after the
    # batch's files were moved into the live tables but BEFORE the
    # manifest commit sees exactly the pre-append corpus (the files are
    # hidden); (2) a crash AFTER the commit but before the rename-
    # visible step is healed at the next engine open, which sees the
    # fully-appended corpus.  The driver-local tier stays engaged in both.
    import glob

    import emailindexer_spark.streaming.ingest as ING
    from emailindexer_spark.sources.checkpoint import Manifest

    base, b1, b2 = corpus3
    d = tempfile.mkdtemp(prefix="ix_vis_")

    def snap(eng):
        out = []
        for q, mode in [("qojema", "turns"), ("fuhepi", "conversations")]:
            out += [
                (q, r["rank"], r["doc_id"], round(r["score"], 9))
                for r in eng.search(q, k=10, mode=mode, use_wand=False).collect()
            ]
        return out

    try:
        IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        pre = snap(SearchEngine(spark, d))

        # ---- window 1: moved-but-uncommitted (crash before commit) ----
        orig_commit = Manifest.commit_stage_with_stats

        def boom(self, *a, **k):
            raise RuntimeError("crash before manifest commit")

        Manifest.commit_stage_with_stats = boom
        try:
            with pytest.raises(RuntimeError, match="crash before"):
                incremental_append(spark, d, spark.createDataFrame(b1), batch_id=3)
        finally:
            Manifest.commit_stage_with_stats = orig_commit
        hidden = [
            f for f in os.listdir(os.path.join(d, "doc_index")) if f.startswith(".ing")
        ]
        assert hidden, "the crashed append must have staged hidden files"
        mid = SearchEngine(spark, d)
        assert mid.n_rows == len(base)
        assert spark_jobs(lambda: snap(mid)) == [], "local tier must serve"
        assert snap(mid) == pre, "mid-append reader must see the pre-append corpus"
        # the writer's retry completes the append
        incremental_append(spark, d, spark.createDataFrame(b1), batch_id=3)
        assert Manifest.load_or_create(d).stages["ingest_000001"]["path"] == append_path
        eng_full = SearchEngine(spark, d)
        assert eng_full.n_rows == len(base) + len(b1)
        full = snap(eng_full)

        # ---- window 2: committed-but-hidden (crash before publish) ----
        orig_unhide = ING._unhide_tagged
        ING._unhide_tagged = lambda live, tag: None
        try:
            incremental_append(spark, d, spark.createDataFrame(b2), batch_id=4)
        finally:
            ING._unhide_tagged = orig_unhide
        assert any(
            f.startswith(".ing") for f in os.listdir(os.path.join(d, "doc_index"))
        ), "batch 4's doc_index files must still be hidden"
        healed = SearchEngine(spark, d)  # open-time repair publishes them
        assert healed.n_rows == len(base) + len(b1) + len(b2)
        assert not any(
            f.startswith(".ing")
            for t in ("doc_index", "doc_stats", "term_dict")
            for f in os.listdir(os.path.join(d, t))
        )
        assert spark_jobs(lambda: snap(healed)) == [], "local tier must serve"
        assert len(snap(healed)) >= len(full)
        # every live parquet is readable and the corpus totals reconcile
        n = sum(
            len(spark.read.parquet(p).columns) >= 0
            for p in glob.glob(os.path.join(d, "doc_index", "*.parquet"))
        )
        assert n > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_appends_that_split_conversations_keep_the_local_tier(spark, spark_jobs, corpus3):
    """doc_index is the one doc → conversation map, so a batch that
    continues an indexed conversation (its new turns land past every
    doc, away from its first ones), skips turns, or reuses an indexed
    conv_id keeps the local tier: each is served at 0 Spark jobs and
    matches the oracle in both modes — ranks, conv_id, turn_idx and
    scores.  The distributed tier matches again on shards whose bound
    falls inside a conversation."""
    import pyarrow.dataset as ds

    base, b1, b2 = corpus3
    c0 = b1.conv_id.iloc[0]
    first = b1[b1.conv_id == c0]
    b2_first = b2[b2.conv_id == b2.conv_id.iloc[0]]
    cases = {
        # turns n.. of an indexed conversation (and new conversations)
        "continues": pd.concat([b2, first.head(3).assign(turn_idx=first.turn_idx.head(3) + len(first))]),
        # a new conversation with gaps in turn_idx
        "sparse": b2_first.iloc[::2].assign(conv_id="zz_sparse"),
        # dense turns under a conv_id the index already holds
        "reused": first.head(3),
    }
    queries = [
        ("qojema fuhepi", "turns"), ("fuhepi", "conversations"), ("qojema", "conversations"),
        ("qojema fuhepi noza", "conversations"),
    ]
    root = tempfile.mkdtemp(prefix="ix_split_")
    try:
        d0 = os.path.join(root, "grown")
        IndexBuilder(spark, d0, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        incremental_append(spark, d0, spark.createDataFrame(b1))
        for name, batch in cases.items():
            d = os.path.join(root, name)
            shutil.copytree(d0, d)
            incremental_append(spark, d, spark.createDataFrame(batch))
            rows = []
            for chunk in (base, b1, batch):
                rows += sorted(
                    chunk[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None)
                )
            ix = build_oracle_index(rows, sort=False)
            local, dist = SearchEngine(spark, d), SearchEngine(spark, d)
            assert local.n_rows == len(rows)
            dist.LOCAL_MAX_POSTINGS = 0
            conv = ds.dataset(os.path.join(d, "doc_index")).to_table(columns=["doc_id", "conv_id"])
            conv = conv.sort_by("doc_id").column("conv_id").to_numpy(zero_copy_only=False)
            inside = [b for b in range(1, len(rows)) if conv[b] == conv[b - 1]]
            n = next(n for n in range(2, 50) if any(i * len(rows) // n in inside for i in range(1, n)))
            dist._shard_count = lambda n=n: n
            hit = 0
            for q, mode in queries:
                exp = [(d, rows[d][0], rows[d][1], sc) for d, sc in osearch(ix, q, k=10, mode=mode)]
                hit += bool(exp)
                got = []
                assert spark_jobs(lambda: got.append(local.search(q, k=10, mode=mode).collect())) == []
                for tier, res in (("local", got[0]), ("distributed", dist.search(q, k=10, mode=mode).collect())):
                    assert [r["rank"] for r in res] == list(range(1, len(exp) + 1)), (name, tier, q, mode)
                    assert [(r["doc_id"], r["conv_id"], r["turn_idx"]) for r in res] == [
                        x[:3] for x in exp
                    ], (name, tier, q, mode)
                    for r, x in zip(res, exp):
                        assert abs(r["score"] - x[3]) <= 1e-6 * max(1.0, abs(x[3])), (name, tier, q)
            assert hit >= 3, name
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_a_null_turn_idx_stays_null_on_both_tiers(spark, spark_jobs, index_dir):
    """An append does not validate turn_idx, so a turn may be null: the
    hits report it as null on the distributed tier, and the local tier,
    whose int32 columns cannot hold it, hands such a search to it."""
    d = tempfile.mkdtemp(prefix="ix_null_turn_")
    try:
        shutil.copytree(index_dir, d, dirs_exist_ok=True)
        batch = pd.DataFrame(
            {
                "conv_id": ["zz_null"] * 3, "turn_idx": pd.array([None, 1, 2], dtype="Int32"),
                "role": ["user"] * 3, "text": ["xnullturn a", "xnullturn xturnone", "other words"],
                "tool": [None] * 3, "ts": pd.to_datetime(["2024-01-01"] * 3),
            }
        )
        schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        incremental_append(spark, d, spark.createDataFrame(batch, schema))
        local, dist = SearchEngine(spark, d), SearchEngine(spark, d)
        dist._local_search = lambda *a, **k: None
        for mode in ("turns", "conversations"):
            want = [r["turn_idx"] for r in dist.search("xnullturn", k=5, mode=mode).collect()]
            assert want == ([None, 1] if mode == "turns" else [None]), mode
            assert [r["turn_idx"] for r in local.search("xnullturn", k=5, mode=mode).collect()] == want
        assert spark_jobs(lambda: local.search("xturnone", k=5).collect()) == []  # no null turn among its hits
        assert local._local_search(local._resolve_node(parse("xnullturn")), 5, "turns") is None
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_replayed_batch_id_is_noop_and_crash_repair(spark, corpus3, append_path):
    # Structured Streaming delivers foreachBatch at-least-once: a replay
    # of a committed batch_id must not duplicate docs or inflate stats,
    # and a crashed half-append (tagged files present, manifest not
    # committed) must be cleaned up by the retry.
    import glob

    from emailindexer_spark.sources.checkpoint import Manifest

    base, b1, _ = corpus3
    d = tempfile.mkdtemp(prefix="ix_idem_")
    try:
        IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        sdf1 = spark.createDataFrame(b1)
        incremental_append(spark, d, sdf1, batch_id=7)
        man = Manifest.load_or_create(d)
        assert man.stages["ingest_000001"]["path"] == append_path
        stats_after = dict(man.stats)
        n_files = len(glob.glob(os.path.join(d, "doc_index", "*")))
        # replay the SAME batch id → complete no-op
        incremental_append(spark, d, sdf1, batch_id=7)
        man2 = Manifest.load_or_create(d)
        assert man2.stats == stats_after
        assert len(glob.glob(os.path.join(d, "doc_index", "*"))) == n_files
        # simulate a crashed half-append of the NEXT batch: stray tagged
        # files in the live table must be removed before the rewrite
        tag = "ingb000000000008"
        stray = os.path.join(d, "doc_index", f"{tag}-part-junk.parquet")
        with open(stray, "wb"):
            pass
        # (an unreadable 0-byte parquet would poison every later scan)
        incremental_append(spark, d, spark.createDataFrame(b1.head(50)), batch_id=8)
        assert not os.path.exists(stray)
        eng = SearchEngine(spark, d)
        assert eng.n_rows == len(base) + len(b1) + 50
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_stream_ingest_available_now(spark, corpus3):
    base, b1, _ = corpus3
    d = tempfile.mkdtemp(prefix="ix_streamq_")
    src = tempfile.mkdtemp(prefix="stream_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        spark.createDataFrame(b1).write.mode("overwrite").parquet(os.path.join(src, "batch1"))
        q = stream_ingest(spark, d, os.path.join(src, "batch1"), ckpt)
        q.awaitTermination(120)
        eng = SearchEngine(spark, d)
        assert eng.n_rows == len(base) + len(b1)
        assert eng.search("qojema", k=5).count() == 5
    finally:
        for p in (d, src, ckpt):
            shutil.rmtree(p, ignore_errors=True)


@pytest.mark.slow
def test_compact_merges_ingested_splits(spark, corpus3, doc_norm_lookup):
    from pyspark.sql import functions as F

    from emailindexer_spark.streaming.compact import compact_index, _repair_partial
    from emailindexer_spark.sources.checkpoint import Manifest

    base, b1, b2 = corpus3
    d = tempfile.mkdtemp(prefix="ix_compact_")
    try:
        IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        _assert_postings_term_sorted(d, "build")
        incremental_append(spark, d, spark.createDataFrame(b1))
        _assert_postings_term_sorted(d, "append")
        incremental_append(spark, d, spark.createDataFrame(b2))
        eng = SearchEngine(spark, d)
        queries = [("qojema", "turns"), ("qojema fuhepi", "turns"), ('"noza guka"', "turns"), ("fuhepi", "conversations")]
        before = {
            (q, m): [
                (r["doc_id"], round(r["score"], 9))
                for r in eng.search(q, k=10, mode=m, use_wand=False).collect()
            ]
            for q, m in queries
        }
        p = spark.read.parquet(os.path.join(d, "postings"))
        rows_before = p.count()
        # ingest created per-batch splits: some term must have >1 row
        multi = p.groupBy("term").count().where("count > 1").count()
        assert multi > 0, "fixture must produce multi-row terms pre-compaction"
        dfs_before = {r["term"]: r["df"] for r in p.groupBy("term").agg(F.sum("df_row").alias("df")).collect()}
        postings_before = _decoded_postings(d, doc_norm_lookup(d))

        man = compact_index(spark, d)
        assert man.stats["compactions"] == 1
        _assert_postings_term_sorted(d, "compact")
        # round trip: the same postings and positions, re-cut into splits
        postings_after = _decoded_postings(d, doc_norm_lookup(d))
        assert any(x[5] for x in postings_after), "index must carry positions"
        assert sorted(x[:1] + x[2:] for x in postings_after) == sorted(
            x[:1] + x[2:] for x in postings_before
        )
        # heavy terms are re-split by doc range from their exact df
        n_rows = int(man.stats["n_rows"])
        heavy = {t: -(-df // 400) for t, df in dfs_before.items() if df > 500}
        assert heavy, "fixture must produce heavy terms"
        bad = [
            x
            for x in postings_after
            if x[0] in heavy and x[1] != x[2] // -(-n_rows // heavy[x[0]])
        ]
        assert not bad, bad[:5]

        eng2 = SearchEngine(spark, d)
        p2 = spark.read.parquet(os.path.join(d, "postings"))
        rows_after = p2.count()
        assert rows_after < rows_before  # splits merged
        # every non-heavy term is now exactly ONE row
        assert p2.groupBy("term").count().where("count > 1").join(
            p2.groupBy("term").agg(F.sum("df_row").alias("df")).where(F.col("df") <= 500),
            "term",
        ).count() == 0
        # df per term invariant (term_dict untouched by design)
        dfs_after = {r["term"]: r["df"] for r in p2.groupBy("term").agg(F.sum("df_row").alias("df")).collect()}
        assert dfs_after == dfs_before
        for (q, m), exp in before.items():
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in eng2.search(q, k=10, mode=m, use_wand=False).collect()
            ]
            assert got == exp, (q, m)
        # ingest AFTER compaction still integrates
        extra = base.head(0)
        incremental_append(spark, d, spark.createDataFrame(b1.assign(conv_id="zz_" + b1["conv_id"])))
        _assert_postings_term_sorted(d, "append after compact")
        eng3 = SearchEngine(spark, d)
        assert eng3.n_rows == eng2.n_rows + len(b1)
        # crash-repair: a leftover .bak with live missing is restored
        live = os.path.join(d, "postings")
        os.rename(live, live + ".bak")
        _repair_partial(Manifest.load_or_create(d))
        assert os.path.isdir(live) and not os.path.isdir(live + ".bak")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
@pytest.mark.parametrize(
    "params,steps",
    [
        # new conversations, then turns that continue indexed ones,
        # then an empty batch
        ({}, ("new", "continues", "empty")),
        ({"positions": False}, ("new",)),
        ({"fields": ("text", "role")}, ("new", "continues")),
    ],
    ids=["positions", "no_positions", "two_fields"],
)
def test_driver_and_spark_appends_write_identical_tables(
    spark, monkeypatch, index_digest, corpus3, params, steps
):
    """The driver path (a collected batch staged by one kernel call) and
    the sharded route (one kernel call per shard, in Spark tasks) stage
    the same index: every term's decoded postings and positions, rows,
    schemas, term_dict and manifest stats (index_digest)
    after every append, onto a sharded base."""
    import emailindexer_spark.plans.builder as B
    from emailindexer_spark.sources.checkpoint import Manifest

    base, b1, _ = corpus3
    first = b1[b1.conv_id == b1.conv_id.iloc[0]]
    batches = {  # rows shuffled: doc ids come from the (conv_id, turn_idx) order
        "new": b1.sample(frac=1, random_state=3),
        "continues": first.head(5).assign(turn_idx=first.turn_idx.head(5) + len(first))[::-1],
        "empty": b1.head(0),
    }
    root = tempfile.mkdtemp(prefix="ix_paths_")
    try:
        d0 = os.path.join(root, "base")
        IndexBuilder(
            spark, d0, num_parts=8, heavy_df_threshold=200, split_target=100, **params
        ).build(spark.createDataFrame(base))
        assert any(
            papq.read_table(f, columns=["split_id"]).column(0).to_numpy().any()
            for f in _postings_files(d0)
        ), "the base must carry terms of several rows"
        dirs = {p: os.path.join(root, p) for p in ("driver", "spark")}
        for d in dirs.values():
            shutil.copytree(d0, d)
        schema = spark.createDataFrame(b1).schema
        for i, step in enumerate(steps, start=1):
            states = {}
            for p, d in dirs.items():
                cap = B.DRIVER_MAX_TURNS if p == "driver" else -1
                with monkeypatch.context() as m:
                    m.setattr(B, "DRIVER_MAX_TURNS", cap)
                    incremental_append(spark, d, spark.createDataFrame(batches[step], schema))
                assert Manifest.load_or_create(d).stages[f"ingest_{i:06d}"]["path"] == p
                states[p] = index_digest(d)
            a, b = states["driver"], states["spark"]
            assert a.keys() == b.keys()
            for k in a:
                assert a[k] == b[k], (step, k)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_small_append_runs_at_most_one_job(spark, spark_jobs, index_dir, corpus_pdf):
    """A small batch is staged on the driver: a bare parquet batch the
    footers show is small is read from its files with no Spark job, any
    other batch with one bounded collect; the manifest records the
    path, the read and the stage's seconds."""
    from emailindexer_spark.sources.checkpoint import Manifest

    root = tempfile.mkdtemp(prefix="ix_small_")
    try:
        d = os.path.join(root, "ix")
        shutil.copytree(index_dir, d)
        head = corpus_pdf.head(300)
        pq = os.path.join(root, "b.parquet")
        head.assign(conv_id=lambda x: "zy_" + x.conv_id).to_parquet(pq, index=False)
        for i, (batch, read, max_jobs) in enumerate(
            [
                (spark.createDataFrame(head.assign(conv_id=lambda x: "zz_" + x.conv_id)), "collect", 1),
                (spark.read.parquet(pq), "files", 0),
            ],
            start=1,
        ):
            jobs = spark_jobs(lambda: incremental_append(spark, d, batch))
            assert len(jobs) <= max_jobs, (read, jobs)
            st = Manifest.load_or_create(d).stages[f"ingest_{i:06d}"]
            assert st["path"] == "driver" and st["read"] == read and st["seconds"] > 0
            assert SearchEngine(spark, d).n_rows == len(corpus_pdf) + 300 * i
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_append_of_long_bodies_takes_the_spark_path(spark, monkeypatch, index_dir, corpus_pdf):
    """An append's driver path is bounded by the collected batch's bytes
    as well as its turns: a few turns whose bodies exceed
    DRIVER_MAX_INPUT_BYTES (read through plans/builder at call time)
    are staged in shards, and stay searchable."""
    import emailindexer_spark.plans.builder as B
    from emailindexer_spark.sources.checkpoint import Manifest

    root = tempfile.mkdtemp(prefix="ix_bytes_")
    try:
        d = os.path.join(root, "ix")
        shutil.copytree(index_dir, d)
        body = " ".join(["xlongbody"] + ["lorem ipsum dolor"] * 200)
        batch = corpus_pdf.head(3).assign(conv_id=lambda x: "zz_" + x.conv_id, text=body)
        assert len(body) * 3 > 2000
        monkeypatch.setattr(B, "DRIVER_MAX_INPUT_BYTES", 2000)
        incremental_append(spark, d, spark.createDataFrame(batch))
        assert Manifest.load_or_create(d).stages["ingest_000001"]["path"] == "spark"
        hits = SearchEngine(spark, d).search("xlongbody", k=10).collect()
        assert sorted(r.conv_id for r in hits) == sorted(batch.conv_id)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_engine_open_runs_no_job_and_reads_inferred_schemas(spark, spark_jobs, monkeypatch, index_dir, corpus_pdf):
    """SearchEngine reads its tables on first use, with schemas derived
    from a parquet footer: an open runs no Spark job, and every table's
    schema is the one spark.read.parquet infers — after the build,
    after each kind of append on each path, and after compaction."""
    import emailindexer_spark.plans.builder as B
    from emailindexer_spark.streaming.compact import compact_index

    def check(d, when):
        engs = []
        assert spark_jobs(lambda: engs.append(SearchEngine(spark, d))) == [], when
        eng = engs[0]
        # the Spark-side tables are read on first use, not at open
        assert not {"postings", "term_dict", "doc_index"} & eng.__dict__.keys()
        for t, df in [
            ("postings", eng.postings),
            ("term_dict", eng.term_dict),
            ("doc_index", eng.doc_index),
        ]:
            assert df.schema == spark.read.parquet(os.path.join(d, t)).schema, (when, t)

    root = tempfile.mkdtemp(prefix="ix_open_")
    try:
        d = os.path.join(root, "ix")
        shutil.copytree(index_dir, d)
        check(d, "build")
        new = corpus_pdf.head(200).assign(conv_id=lambda x: "zz_" + x.conv_id)
        cont = corpus_pdf.head(3).assign(turn_idx=lambda x: x.turn_idx + 10_000)
        incremental_append(spark, d, spark.createDataFrame(new))
        check(d, "driver append")
        incremental_append(spark, d, spark.createDataFrame(cont))
        check(d, "driver continuing append")
        with monkeypatch.context() as m:
            m.setattr(B, "DRIVER_MAX_TURNS", -1)
            incremental_append(spark, d, spark.createDataFrame(new.assign(conv_id=lambda x: "zy_" + x.conv_id)))
        check(d, "spark append")
        compact_index(spark, d)
        check(d, "compaction")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_engine_answers_as_of_its_open(spark, index_dir, corpus_pdf):
    """An engine opened before an append and first searched after it
    answers for the corpus it opened: the appended vocabulary and
    postings files stay out of it, so it finds none of the new docs and
    gives the answers it would have given before the append.  That
    holds on the distributed plans too (``with_text=True``, and ``k``
    above LOCAL_MAX_K), which read the Spark-side tables.  A fresh
    engine finds every appended doc under its own conversation."""
    # the corpus's own terms: the batch re-indexes its first turns' text
    queries = ["juja", "radu OR sopugowi", "qojema AND tenuboho", '"qojema ralocu"', "qal*", "gonopo -kaqi"]
    root = tempfile.mkdtemp(prefix="ix_asof_")
    try:
        d = os.path.join(root, "ix")
        shutil.copytree(index_dir, d)

        def answers(eng):
            return [
                [tuple(r) for r in eng.search(q, k=20, mode=mode).collect()]
                for q in queries
                for mode in ("turns", "conversations")
            ]

        def distributed(eng):
            return [
                [tuple(r) for r in eng.search(q, k=k, mode=mode, with_text=text).collect()]
                for q in queries[:4]
                for mode in ("turns", "conversations")
                for k, text in ((20, True), (SearchEngine.LOCAL_MAX_K + 1, False))
            ]

        before = answers(SearchEngine(spark, d))
        before_dist = distributed(SearchEngine(spark, d))
        assert all(before) and all(before_dist)
        old = SearchEngine(spark, d)  # opened, not yet searched
        batch = corpus_pdf.head(200).assign(
            conv_id=lambda x: "zz_" + x.conv_id, text=lambda x: x.text + " zzsentinel"
        )
        incremental_append(spark, d, spark.createDataFrame(batch))
        assert old.search("zzsentinel", k=300).collect() == []
        assert answers(old) == before
        assert distributed(old) == before_dist
        hits = SearchEngine(spark, d).search("zzsentinel", k=300).collect()
        assert sorted((r.conv_id, r.turn_idx) for r in hits) == sorted(
            zip(batch.conv_id, batch.turn_idx)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_engine_answers_as_of_its_open_across_a_compaction(spark, index_dir, corpus_pdf):
    """Compaction rewrites every postings file under untagged names, so an
    engine opened before an append and first searched after the
    compaction that merged it reads the appended postings: it still
    returns no doc past its open's ``n_rows`` and answers as before,
    from resident decoded parts (its slices clipped at ``n_rows``) and
    over the residency cap (each query's scan clipped alike)."""
    from emailindexer_spark.streaming.compact import compact_index

    root = tempfile.mkdtemp(prefix="ix_asof_compact_")
    try:
        d = os.path.join(root, "ix")
        shutil.copytree(index_dir, d)
        n0 = len(corpus_pdf)
        cases = [(q, m) for q in ("juja", '"juja ralocu"', "juj*", "juja~1") for m in ("turns", "conversations")]

        def answers(eng):
            return [[tuple(r) for r in eng.search(q, k=300, mode=m).collect()] for q, m in cases]

        before = answers(SearchEngine(spark, d))
        old = SearchEngine(spark, d)  # opened, not yet searched
        old_over = SearchEngine(spark, d)
        old_over.LOCAL_MAX_POSTINGS = int(SearchEngine(spark, d)._driver_vocab()[1].sum()) - 1
        batch = corpus_pdf.head(200).assign(conv_id=lambda x: "zz_" + x.conv_id)
        incremental_append(spark, d, spark.createDataFrame(batch))
        compact_index(spark, d)
        fresh = SearchEngine(spark, d).search("juja", k=300).collect()
        assert any(r.doc_id >= n0 for r in fresh)  # the batch does hold the term
        for eng in (old, old_over):
            got = answers(eng)
            assert all(r[1] < n0 for rows in got for r in rows)
            assert got == before
        assert old._resident and not old_over._resident
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _add_old_columns(path, after, cols):
    """Rewrite postings file ``path`` with the list columns ``cols``
    ({name: (Arrow value type, Spark element type, per-row values)})
    inserted after column ``after``, in the Arrow schema and in the
    Spark schema of the footer: the layout of an older index."""
    import json

    import pyarrow as pa
    from pyspark.sql.types import ArrayType, StructField, StructType

    t = papq.read_table(path)
    at = t.schema.get_field_index(after) + 1
    for i, (name, (typ, _, vals)) in enumerate(cols.items()):
        t = t.add_column(at + i, name, pa.array(vals, pa.list_(typ)))
    meta = dict(t.schema.metadata or {})
    key = b"org.apache.spark.sql.parquet.row.metadata"
    if key in meta:
        fields = StructType.fromJson(json.loads(meta[key])).fields
        j = [f.name for f in fields].index(after) + 1
        fields[j:j] = [StructField(n, ArrayType(el)) for n, (_, el, _) in cols.items()]
        meta[key] = StructType(fields).json().encode()
    papq.write_table(t.replace_schema_metadata(meta), path)
    # Hadoop's local filesystem would check the rewrite against the
    # writer's checksum sidecar
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _file_blocks(path, norm):
    """Per postings row of file ``path``, its blocks as (docs, tfs,
    norms), each norm ``norm(term, docs)``."""
    rows = papq.read_table(path, columns=["term", "b_first", "b_docs", "b_tfs"]).to_pylist()
    return [
        [(d, t, norm(r["term"], d)) for d, t in (decode_block(*b) for b in zip(r["b_first"], r["b_docs"], r["b_tfs"]))]
        for r in rows
    ]


def _add_pre_0_5_norms(path, norm):
    """Rewrite one postings file in the layout written before 0.5.0:
    a ``b_norms`` column after ``b_tfs`` holding each block's norm
    bytes, one per posting, taken from doc_index (``norm``)."""
    import pyarrow as pa
    from pyspark.sql.types import BinaryType

    vals = [[nm.astype(np.uint8).tobytes() for _, _, nm in row] for row in _file_blocks(path, norm)]
    _add_old_columns(path, "b_tfs", {"b_norms": (pa.binary(), BinaryType(), vals)})


def _add_pre_wand_removal_columns(path, norm):
    """Rewrite one postings file (already holding ``b_norms``: see
    :func:`_add_pre_0_5_norms`) in the layout of an index built before
    the block-max columns were dropped: ``b_last``, ``b_n``, ``b_maxtf``
    and ``b_minnorm`` after ``b_first``, with their per-block values."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, LongType

    blocks = _file_blocks(path, norm)
    cols = {
        "b_last": (pa.int64(), LongType(), [[int(d[-1]) for d, _, _ in r] for r in blocks]),
        "b_n": (pa.int32(), IntegerType(), [[int(d.size) for d, _, _ in r] for r in blocks]),
        "b_maxtf": (pa.int32(), IntegerType(), [[int(tf.max()) for _, tf, _ in r] for r in blocks]),
        "b_minnorm": (pa.int32(), IntegerType(), [[int(nm.min()) for _, _, nm in r] for r in blocks]),
    }
    _add_old_columns(path, "b_first", cols)


@pytest.mark.slow
def test_index_with_pre_wand_removal_postings_file(spark, index_dir, corpus_pdf, doc_norm_lookup):
    """An index built before the block-max columns were dropped and
    appended to after: one postings file still carries ``b_last``,
    ``b_n``, ``b_maxtf`` and ``b_minnorm`` (and ``b_norms``, which
    postings held before 0.5.0).  Local and distributed
    searches answer as on the untouched index, and an append and a
    compaction succeed on it with the same answers."""
    from emailindexer_spark.streaming.compact import compact_index

    root = tempfile.mkdtemp(prefix="ix_old_layout_")
    try:
        ref, old = os.path.join(root, "ref"), os.path.join(root, "old")
        shutil.copytree(index_dir, ref)
        shutil.copytree(index_dir, old)
        # the file whose footer gives the engine's Spark read schema
        first = min(_postings_files(old))
        _add_pre_0_5_norms(first, doc_norm_lookup(old))
        _add_pre_wand_removal_columns(first, doc_norm_lookup(old))
        terms = papq.read_table(first, columns=["term"]).column("term").to_pylist()
        t1, t2 = terms[0], terms[len(terms) // 2]
        queries = [t1, f"{t1} {t2} juja", f"{t2} -juja", f"{t1[:2]}*", '"qojema ralocu"']

        def answers(d):
            local, dist = SearchEngine(spark, d), SearchEngine(spark, d)
            dist._local_search = lambda *a, **k: None  # force distributed plans
            return [
                [tuple(r) for r in eng.search(q, k=20, mode=m).collect()]
                for eng in (local, dist)
                for q in queries
                for m in ("turns", "conversations")
            ]

        assert "b_maxtf" in SearchEngine(spark, old).postings.columns
        want = answers(ref)
        assert all(want[:2]) and answers(old) == want
        batch = corpus_pdf.head(200).assign(conv_id=lambda x: "zz_" + x.conv_id)
        for d in (ref, old):
            incremental_append(spark, d, spark.createDataFrame(batch))
        want = answers(ref)
        assert answers(old) == want
        for d in (ref, old):
            compact_index(spark, d)
        assert answers(old) == answers(ref) == want
        assert all("b_maxtf" not in papq.read_schema(f).names for f in _postings_files(old))
        assert all("b_norms" not in papq.read_schema(f).names for f in _postings_files(old))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_index_with_pre_0_5_postings(spark, index_dir, corpus_pdf, doc_norm_lookup, index_digest):
    """An index written before 0.5.0, whose every postings file carries
    the per-posting ``b_norms`` copy (each byte its doc's norm in
    doc_index), answers every query shape as the same index in the
    current layout on the resident local tier, the over-cap scan and
    the distributed tier; an append onto it writes postings without
    ``b_norms``, compaction drops the column, and both answer as on
    the current layout throughout."""
    from emailindexer_spark.streaming.compact import compact_index

    root = tempfile.mkdtemp(prefix="ix_pre_0_5_")
    try:
        ref, old = os.path.join(root, "ref"), os.path.join(root, "old")
        shutil.copytree(index_dir, ref)
        shutil.copytree(index_dir, old)
        for f in _postings_files(old):
            _add_pre_0_5_norms(f, doc_norm_lookup(old))
        assert all("b_norms" in papq.read_schema(f).names for f in _postings_files(old))
        eng = SearchEngine(spark, ref)
        vocab, dfs, _ = eng._driver_vocab()
        heavy, mid = vocab[int(np.argmax(dfs))], vocab[int(np.argsort(dfs)[len(dfs) // 2])]
        queries = [
            heavy, f"{heavy} {mid}", f"+{heavy} -{mid}", f"{mid[:2]}*", f"{mid}~1", '"qojema ralocu"',
            '"qojema ralocu"~2', f"({heavy} OR {mid}) AND NOT zzz",
        ]

        def answers(d):
            local, over, dist = (SearchEngine(spark, d) for _ in range(3))
            over.LOCAL_MAX_POSTINGS = 0  # the per-query scan
            dist._local_search = lambda *a, **k: None  # force distributed plans
            return [
                [(r[0], r[1], r[2], r[3], round(r[4], 9)) for r in eng.search(q, k=20, mode=m).collect()]
                for eng in (local, over, dist)
                for q in queries
                for m in ("turns", "conversations")
            ]

        want = answers(ref)
        assert all(want) and answers(old) == want
        batch = corpus_pdf.head(300).assign(conv_id=lambda x: "zz_" + x.conv_id)
        for d in (ref, old):
            incremental_append(spark, d, spark.createDataFrame(batch))
        appended = [f for f in _postings_files(old) if os.path.basename(f).startswith("ing")]
        assert appended and all("b_norms" not in papq.read_schema(f).names for f in appended)
        want = answers(ref)
        assert answers(old) == want
        for d in (ref, old):
            compact_index(spark, d)
        assert all("b_norms" not in papq.read_schema(f).names for f in _postings_files(old))
        assert answers(old) == answers(ref) == want
        assert index_digest(old) == index_digest(ref)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_over_cap_appends_onto_a_sharded_base(spark, spark_jobs, monkeypatch, tmp_path, corpus3):
    """A sharded build runs at most 2 Spark jobs; appends over the cap
    are staged in shards at base n_rows, split ids from their batch's
    (at most 2 jobs for a bare parquet batch), and match the oracle on
    the sharded base — before and after a compaction run as one Spark
    task per part (at most 1 job)."""
    import emailindexer_spark.plans.builder as B
    from emailindexer_spark.sources.checkpoint import Manifest
    from emailindexer_spark.streaming.compact import compact_index

    base, b1, b2 = corpus3
    d = str(tmp_path / "ix")
    sdf = spark.createDataFrame(base)
    jobs = spark_jobs(
        lambda: IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400).build(sdf)
    )
    assert len(jobs) <= 2, jobs
    assert Manifest.load_or_create(d).stages["postings"]["path"] == "spark"
    monkeypatch.setattr(B, "DRIVER_MAX_TURNS", 100)
    for i, b in enumerate((b1, b2), start=1):
        pq = str(tmp_path / f"b{i}.parquet")
        b.to_parquet(pq, index=False)
        batch = spark.read.parquet(pq)
        jobs = spark_jobs(lambda: incremental_append(spark, d, batch))
        assert len(jobs) <= 2, jobs
        assert Manifest.load_or_create(d).stages[f"ingest_{i:06d}"]["path"] == "spark"
        assert len(glob.glob(os.path.join(d, "doc_index", f"ing{i:06d}-part-*.parquet"))) > 1
        sids = np.concatenate(
            [
                papq.read_table(f, columns=["split_id"]).column(0).to_numpy()
                for f in glob.glob(os.path.join(d, "postings", "part=*", f"ing{i:06d}-*.parquet"))
            ]
        )
        assert (sids // 1_000_000 == i).all() and len(set(sids)) > 1
    rows = []
    for chunk in (base, b1, b2):
        rows += sorted(chunk[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    ix = build_oracle_index(rows, sort=False)

    def check():
        eng = SearchEngine(spark, d)
        assert eng.n_rows == len(rows)
        for q, mode in [("qojema fuhepi", "turns"), ("fuhepi", "conversations"), ('"noza guka"', "turns")]:
            exp = osearch(ix, q, k=10, mode=mode)
            got = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10, mode=mode).collect()]
            assert exp and [x[0] for x in got] == [x[0] for x in exp], (q, mode)
            for (_, a), (_, b) in zip(got, exp):
                assert abs(a - b) <= 1e-6 * max(1.0, abs(b))

    check()
    monkeypatch.setattr(SearchEngine, "LOCAL_MAX_POSTINGS", 0)  # compaction's task route
    jobs = spark_jobs(lambda: compact_index(spark, d))
    assert len(jobs) <= 1, jobs
    assert Manifest.load_or_create(d).stages["compact_0001"]["path"] == "spark"
    _assert_postings_term_sorted(d, "compact")
    check()
