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


def _decoded_postings(d):
    """One (term, split_id, doc_id, tf, norm, positions) per posting,
    decoded block by block with the reference codec functions."""
    out = []
    cols = ["term", "split_id", "b_first", "b_docs", "b_tfs", "b_norms", "b_pos"]
    for f in _postings_files(d):
        for r in papq.read_table(f, columns=cols).to_pylist():
            for i in range(len(r["b_docs"])):
                docs, tfs, norms = decode_block(
                    r["b_first"][i], r["b_docs"][i], r["b_tfs"][i], r["b_norms"][i]
                )
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
def test_manifest_first_append_visibility(spark, spark_jobs, corpus3):
    # MANIFEST-FIRST publish: (1) a reader opening the index after the
    # batch's files were moved into the live tables but BEFORE the
    # manifest commit sees exactly the pre-append corpus (the files are
    # hidden); (2) a crash AFTER the commit but before the rename-
    # visible step is healed at the next engine open, which sees the
    # fully-appended corpus.  The batch's conv_offsets piece rides the
    # same windows, so the driver-local tier stays engaged in both.
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
        assert any(
            f.startswith(".ing") for f in os.listdir(os.path.join(d, "conv_offsets"))
        ), "the crashed append must have staged a hidden conv_offsets piece"
        mid = SearchEngine(spark, d)
        assert mid.n_rows == len(base)
        assert mid._off_bc is not None, "pre-append offsets must stay loaded"
        assert spark_jobs(lambda: snap(mid)) == [], "local tier must serve"
        assert snap(mid) == pre, "mid-append reader must see the pre-append corpus"
        # the writer's retry completes the append
        incremental_append(spark, d, spark.createDataFrame(b1), batch_id=3)
        eng_full = SearchEngine(spark, d)
        assert eng_full.n_rows == len(base) + len(b1)
        assert eng_full._off_bc is not None
        full = snap(eng_full)

        # ---- window 2: committed-but-hidden (crash before publish) ----
        orig_unhide = ING._unhide_tagged
        ING._unhide_tagged = lambda live, tag: None
        try:
            incremental_append(spark, d, spark.createDataFrame(b2), batch_id=4)
        finally:
            ING._unhide_tagged = orig_unhide
        for t in ("doc_index", "conv_offsets"):
            assert any(
                f.startswith(".ing") for f in os.listdir(os.path.join(d, t))
            ), f"batch 4's {t} files must still be hidden"
        healed = SearchEngine(spark, d)  # open-time repair publishes them
        assert healed.n_rows == len(base) + len(b1) + len(b2)
        assert healed._off_bc is not None
        assert not any(
            f.startswith(".ing")
            for t in ("doc_index", "doc_stats", "term_dict", "conv_offsets")
            for f in os.listdir(os.path.join(d, t))
        )
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
def test_appends_that_split_conversations_drop_offsets(spark, corpus3):
    """conv_offsets needs one contiguous doc range per conversation.  A
    batch of new conversations extends it; a batch that continues an
    indexed conversation, reuses an indexed conv_id, or is not dense
    drops it in its commit — and the doc_stats-join fallback still
    matches the oracle."""
    from emailindexer_spark.sources.checkpoint import Manifest

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
    root = tempfile.mkdtemp(prefix="ix_drop_")
    try:
        d0 = os.path.join(root, "grown")
        IndexBuilder(spark, d0, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        incremental_append(spark, d0, spark.createDataFrame(b1))
        assert Manifest.load_or_create(d0).is_complete("conv_offsets")
        assert SearchEngine(spark, d0)._off_bc is not None
        for name, batch in cases.items():
            d = os.path.join(root, name)
            shutil.copytree(d0, d)
            incremental_append(spark, d, spark.createDataFrame(batch))
            assert not Manifest.load_or_create(d).is_complete("conv_offsets"), name
            assert not os.path.exists(os.path.join(d, "conv_offsets")), name
            eng = SearchEngine(spark, d)
            assert eng._off_bc is None and eng.n_rows == len(base) + len(b1) + len(batch)
            rows = []
            for chunk in (base, b1, batch):
                rows += sorted(
                    chunk[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None)
                )
            ix = build_oracle_index(rows, sort=False)
            for q, mode in [("qojema fuhepi", "turns"), ("fuhepi", "conversations"), ("qojema", "conversations")]:
                exp = osearch(ix, q, k=10, mode=mode)
                got = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10, mode=mode).collect()]
                assert [x[0] for x in got] == [x[0] for x in exp], (name, q, mode)
                for (_, a), (_, b) in zip(got, exp):
                    assert abs(a - b) <= 1e-6 * max(1.0, abs(b))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.slow
def test_replayed_batch_id_is_noop_and_crash_repair(spark, corpus3):
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
def test_compact_merges_ingested_splits(spark, corpus3):
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
        postings_before = _decoded_postings(d)

        man = compact_index(spark, d)
        assert man.stats["compactions"] == 1
        _assert_postings_term_sorted(d, "compact")
        # round trip: the same postings and positions, re-cut into splits
        postings_after = _decoded_postings(d)
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
