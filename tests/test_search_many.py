"""Batched multi-query execution equals per-query execution."""

from emailindexer_spark.plans.planner import SearchEngine


def test_search_many_matches_single(spark, index_dir):
    eng = SearchEngine(spark, index_dir)
    batch = {
        "a": ("qojema", 5, "turns"),
        "b": ("qojema fuhepi", 5, "turns"),
        "c": ("fuhepi", 3, "conversations"),
        "d": ("zzznothere", 5, "turns"),
    }
    got = eng.search_many(batch, use_wand=False).collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, (q, k, mode) in batch.items():
        single = [
            (r["rank"], r["doc_id"], r["score"])
            for r in eng.search(q, k=k, mode=mode, use_wand=False).collect()
        ]
        assert sorted(by_q.get(qid, [])) == sorted(single), qid


def test_search_many_shared_scan_mixed(spark, index_dir):
    # flat queries (shared scan: AND/NOT/boost/musts) mixed with
    # non-flat fallbacks (phrase/prefix/fuzzy) in one batch
    eng = SearchEngine(spark, index_dir)
    batch = {
        "and": ("qojema AND fuhepi", 5, "turns"),
        "not": ("qojema -fuhepi", 5, "turns"),
        "boost": ("qojema^2 fuhepi", 5, "turns"),
        "must": ("+qojema fuhepi noza", 5, "turns"),
        "conv": ("qojema fuhepi", 4, "conversations"),
        "phrase": ('"noza guka"', 5, "turns"),
        "prefix": ("qo*", 5, "turns"),
        "fuzzy": ("qojema~1", 5, "turns"),
        "negonly": ("-qojema", 5, "turns"),
    }
    got = eng.search_many(batch).collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], round(r["score"], 9)))
    for qid, (q, k, mode) in batch.items():
        single = [
            (r["rank"], r["doc_id"], round(r["score"], 9))
            for r in eng.search(q, k=k, mode=mode, use_wand=False).collect()
        ]
        assert sorted(by_q.get(qid, [])) == sorted(single), qid
    assert by_q.get("negonly") is None  # pure-negative matches nothing


def test_pooled_local_members_match_sequential(spark, index_dir):
    """A batch whose terms hold more than LOCAL_POOL_MIN_POSTINGS
    postings runs its local members on a thread pool; a smaller one on
    the calling thread.  Both give the same rows."""
    import threading

    batch = {
        "or": ("qojema fuhepi noza", 5, "turns"),
        "and": ("qojema AND fuhepi", 5, "turns"),
        "not": ("qojema -fuhepi", 5, "turns"),
        "conv": ("qojema fuhepi", 4, "conversations"),
        "phrase": ('"noza guka"', 5, "turns"),
        "prefix": ("qo*", 5, "turns"),
    }
    rows, threads = {}, {}
    for name, cap in (("sequential", 10**12), ("pool", 0)):
        eng = SearchEngine(spark, index_dir)
        eng.LOCAL_POOL_MIN_POSTINGS = cap
        local_search, seen = eng._local_search, set()

        def spy(*a, _f=local_search, _seen=seen, **k):
            _seen.add(threading.get_ident())
            return _f(*a, **k)

        eng._local_search = spy
        rows[name] = sorted(tuple(r) for r in eng.search_many(batch).collect())
        threads[name] = seen
    assert rows["pool"] == rows["sequential"] and rows["pool"]
    assert threads["sequential"] == {threading.get_ident()}
    assert threading.get_ident() not in threads["pool"]


def test_kernel_chunking_invariant(spark, index_dir, monkeypatch):
    # the batch kernel bounds executor memory by processing doc-aligned
    # chunks; forcing tiny chunks must not change any query's results.
    # BOTH constants must shrink: KERNEL_MIN_ROWS floors max_rows at
    # 4096, so patching KERNEL_MAX_CELLS alone leaves the kernel
    # single-chunk on any fixture-sized partition (r4 ADVICE).
    import emailindexer_spark.plans.planner as P

    eng = SearchEngine(spark, index_dir)
    batch = {
        "a": ("qojema fuhepi", 5, "turns"),
        "b": ("+qojema fuhepi", 5, "turns"),
        "c": ("qojema -fuhepi", 4, "conversations"),
    }
    base = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search_many(batch, use_wand=False).collect()
    )
    monkeypatch.setattr(P, "KERNEL_MAX_CELLS", 16)
    monkeypatch.setattr(P, "KERNEL_MIN_ROWS", 8)  # a few docs per chunk
    tiny = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search_many(batch, use_wand=False).collect()
    )
    assert tiny == base and base


def test_kernel_chunking_runs_multiple_chunks(monkeypatch):
    # direct generator-level A/B: with max_rows forced to ~5 rows a
    # 120-row stream MUST take the multi-chunk path (per-chunk prune +
    # cross-chunk conversation dedup + finalize reprune), and its
    # finalized results must equal the single-chunk run's
    import numpy as np
    import pandas as pd

    import emailindexer_spark.plans.planner as P

    rng = np.random.default_rng(7)
    n_docs, terms = 40, ["alpha", "beta", "gamma"]
    rows = []
    for d in range(n_docs):
        for t in terms:
            if rng.random() < 0.8:
                rows.append(
                    {
                        "doc_id": d,
                        "term": t,
                        "score": float(rng.random()),
                        "conv_id": f"c{d // 4}",
                        "turn_idx": d % 4,
                    }
                )
    pdf = pd.DataFrame(rows)
    clause_rows = [
        ("q1", "alpha", 1.0, False, False),
        ("q1", "beta", 2.0, False, False),
        ("q2", "alpha", 1.0, True, False),
        ("q2", "gamma", 1.0, False, True),  # NOT gamma
        ("q3", "beta", 1.0, False, False),
    ]
    cfg_rows = [
        ("q1", 5, False, 0, 1.0),
        ("q2", 5, False, 1, 1.0),
        ("q3", 3, True, 0, 1.0),  # conversations mode → cross-chunk dedup
    ]

    def run():
        gen = P._shared_batch_kernel(clause_rows, cfg_rows)
        parts = list(gen(iter([pdf])))
        kern = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        fin = list(P._finalize_batch()(iter([kern]))) if len(kern) else []
        out = pd.concat(fin, ignore_index=True)
        return sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in out.itertuples()
        ), len(parts)

    base, n_chunks_base = run()
    monkeypatch.setattr(P, "KERNEL_MAX_CELLS", 16)
    monkeypatch.setattr(P, "KERNEL_MIN_ROWS", 4)
    tiny, n_chunks_tiny = run()
    # max_rows = max(4, 16 // 3) = 5 → the ~96-row stream must cut many
    # chunks (the kernel yields one frame per non-empty chunk)
    assert n_chunks_base == 1 and n_chunks_tiny > 5
    assert tiny == base and base


def test_corrupt_conv_offsets_falls_back(spark, index_dir, tmp_path):
    # a crash mid-write (or disk corruption) of the conv_offsets artifact
    # must not fail SearchEngine open: the load is best-effort and the
    # engine silently takes the doc_stats-join path with identical results
    import os
    import shutil

    d = str(tmp_path / "ix_corrupt")
    shutil.copytree(index_dir, d)
    co = os.path.join(d, "conv_offsets", "part-00000.parquet")
    with open(co, "rb") as f:
        head = f.read(100)  # truncated parquet: valid magic, no footer
    with open(co, "wb") as f:
        f.write(head)
    eng_ok = SearchEngine(spark, index_dir)
    eng_bad = SearchEngine(spark, d)  # must not raise
    assert eng_ok._off_bc is not None and eng_bad._off_bc is None
    key = lambda rows: sorted(
        (r["rank"], r["conv_id"], r["turn_idx"], round(r["score"], 9)) for r in rows
    )
    assert key(eng_bad.search("qojema", k=5).collect()) == key(
        eng_ok.search("qojema", k=5).collect()
    )


def test_prefix_successor_bounds():
    # pruning may over-include but must NEVER under-include: the naive
    # 'prefix + U+10FFFF' inclusive bound drops terms whose suffix starts
    # with U+10FFFF (they sort after it); the true successor cannot
    import numpy as np

    succ = SearchEngine._prefix_successor
    assert succ("abc") == "abd"
    assert succ("a\U0010ffff") == "b"  # carry through trailing maxchar
    assert succ("\U0010ffff\U0010ffff") is None  # no successor → slice to end
    vocab = np.array(
        sorted(["spa", "spark", "spark\U0010ffffz", "spb", "sp\U0010ffffq"]),
        dtype=object,
    )
    lo, hi = "sp", succ("sp")
    i0 = int(np.searchsorted(vocab, lo, side="left"))
    i1 = int(np.searchsorted(vocab, hi, side="left"))
    got = set(vocab[i0:i1])
    assert got == {t for t in vocab if t.startswith("sp")}
    # and the old bound really was lossy — documents why the fix exists
    i1_old = int(np.searchsorted(vocab, "sp" + "\U0010ffff", side="right"))
    assert "sp\U0010ffffq" not in set(vocab[i0:i1_old])


def test_conv_offsets_fast_path_matches_join_fallback(spark, index_dir):
    # dense-docid indexes attach (conv_id, turn_idx) via the broadcast
    # conv_offsets searchsorted; disabling it (the non-dense / appended
    # index fallback: doc_stats join) must give identical results on
    # both the single-query and the batched path
    eng_fast = SearchEngine(spark, index_dir)
    assert eng_fast._off_bc is not None, "fixture index should be dense"
    eng_join = SearchEngine(spark, index_dir)
    eng_join._off_bc = None

    def snap(eng):
        rows = []
        for q, k, mode in [
            ("qojema", 5, "turns"),
            ("qojema fuhepi", 4, "conversations"),
        ]:
            rows += [
                (q, r["rank"], r["doc_id"], r["conv_id"], r["turn_idx"], round(r["score"], 9))
                for r in eng.search(q, k=k, mode=mode, use_wand=False).collect()
            ]
        rows += sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in eng.search_many(
                {"x": ("qojema fuhepi", 5, "turns")}, use_wand=False
            ).collect()
        )
        return rows

    assert snap(eng_fast) == snap(eng_join) and snap(eng_fast)
