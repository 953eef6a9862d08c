"""Driver-local serving fast path (r6): exact parity with the
distributed plans, engagement checks, and budget fallbacks.

The local path must be INVISIBLE semantically: for every supported
query shape its (rank, doc_id, conv_id, turn_idx, score) output equals
the distributed plan's to float precision (same kernels, same combine
order up to float-sum association, which the 9-decimal comparison
absorbs)."""

import numpy as np
import pytest

from emailindexer_spark.plans.planner import SearchEngine


def _rows(df):
    return [
        (r.rank, r.doc_id, r.conv_id, r.turn_idx, round(r.score, 9))
        for r in df.collect()
    ]


@pytest.fixture(scope="module")
def engines(spark, index_dir):
    local = SearchEngine(spark, index_dir)
    dist = SearchEngine(spark, index_dir)
    dist._local_search = lambda *a, **k: None  # force distributed plans
    return local, dist


def _terms(eng):
    vocab, dfs, _parts = eng._driver_vocab()
    heavy = vocab[int(np.argmax(dfs))]
    mid = vocab[int(np.argsort(dfs)[len(dfs) // 2])]
    rare = vocab[int(np.argmin(dfs))]
    return rare, mid, heavy


SHAPES = [
    ("{rare}", "turns", None),
    ("{heavy}", "turns", None),
    ("{rare} {mid} {heavy}", "turns", None),
    ("{rare} {mid} {heavy}", "turns", True),  # explicit WAND
    ("{mid} AND {heavy}", "turns", None),
    ("+{rare} {heavy}", "turns", None),
    ("{heavy} -{mid}", "turns", None),
    ("zzznope {rare}", "turns", None),
    ("zzznope", "turns", None),
    ("{mid}^2 {heavy}", "turns", None),
    ("{pre}*", "turns", None),
    ("[{lo} TO {hi}]", "turns", None),
    ("{mid}~1", "turns", None),
    ('"{heavy} {mid}"', "turns", None),
    ('"{mid} {heavy}"~2', "turns", None),
    ("{rare} {mid} {heavy}", "conversations", None),
    ("{pre}*", "conversations", None),
    ('"{heavy} {mid}"', "conversations", None),
]


def _subs(eng):
    rare, mid, heavy = _terms(eng)
    return {"rare": rare, "mid": mid, "heavy": heavy, "pre": mid[:2], "lo": mid[:2], "hi": mid[:2] + "zz"}


def _assert_tiers_agree(local, dist):
    subs = _subs(local)
    for tmpl, mode, wand in SHAPES:
        q = tmpl.format(**subs)
        a = _rows(local.search(q, k=12, mode=mode, use_wand=wand))
        b = _rows(dist.search(q, k=12, mode=mode, use_wand=wand))
        assert a == b, (q, mode, wand, a[:3], b[:3])


def test_local_matches_distributed_everywhere(engines):
    _assert_tiers_agree(*engines)


def test_local_path_engages_and_runs_zero_jobs(spark_jobs, engines):
    local, _ = engines
    rare, _mid, _heavy = _terms(local)
    assert spark_jobs(lambda: local.search(rare, k=5).collect()) == []


def test_zero_hit_search_runs_zero_jobs(spark_jobs, engines):
    """An empty result is an empty local relation: collecting it runs
    no Spark job (a missing term and a phrase with no hits)."""
    local, _ = engines
    rare, _mid, _heavy = _terms(local)
    for q in ("zzznope", f'"{rare} {rare} {rare}"'):
        df = local.search(q, k=5)
        assert spark_jobs(df.collect) == [], q
        assert df.collect() == [] and df.columns == ["rank", "doc_id", "conv_id", "turn_idx", "score"]


@pytest.mark.slow
def test_local_tier_survives_append_and_compaction(spark, corpus_pdf):
    """Appends of new conversations extend conv_offsets, so the local
    tier stays engaged and equals the distributed tier — whose
    (conv_id, turn_idx) come from the doc_stats join here, not from the
    artifact — on the appended index and again after compaction."""
    import shutil
    import tempfile

    from emailindexer_spark.plans.builder import IndexBuilder
    from emailindexer_spark.streaming.compact import compact_index
    from emailindexer_spark.streaming.ingest import incremental_append

    convs = corpus_pdf["conv_id"].unique()
    cut = set(convs[: 2 * len(convs) // 3])
    base = corpus_pdf[corpus_pdf.conv_id.isin(cut)]
    batch = corpus_pdf[~corpus_pdf.conv_id.isin(cut)]

    def pair():
        local = SearchEngine(spark, d)
        dist = SearchEngine(spark, d)
        dist._local_search = lambda *a, **k: None
        dist._off_bc = None  # conv/turn from doc_stats, not the artifact
        return local, dist

    d = tempfile.mkdtemp(prefix="ix_tier_append_")
    try:
        IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        incremental_append(spark, d, spark.createDataFrame(batch))
        local, dist = pair()
        assert local.n_rows == len(corpus_pdf)
        assert local._off_bc is not None
        _assert_tiers_agree(local, dist)
        compact_index(spark, d)
        local, dist = pair()
        assert local._off_bc is not None
        _assert_tiers_agree(local, dist)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_unbounded_k_is_local_up_to_the_row_cap(spark_jobs, engines):
    """k=None is served locally while the candidates fit LOCAL_MAX_K
    rows, and equals the distributed plan either side of the cap."""
    from emailindexer_spark.plans.parser import parse
    from emailindexer_spark.plans.results import LocalResult

    local, dist = engines
    rare, mid, heavy = _terms(local)
    for q, mode in ((rare, "turns"), (f"{rare} {mid}", "turns"), (f'"{heavy} {mid}"', "conversations")):
        got = []
        assert spark_jobs(lambda: got.extend(_rows(local.search(q, k=None, mode=mode)))) == [], q
        assert got == _rows(dist.search(q, k=None, mode=mode)), (q, mode)
    q = f"{mid} {heavy}"
    res = local.search(q, k=None)
    assert isinstance(res, LocalResult) and 5 < res.count() <= local.LOCAL_MAX_K
    local.LOCAL_MAX_K = 5
    try:
        ast = local._resolve_node(parse(q, simple=local.simple))
        assert local._local_search(ast, ast, 5, "turns") is not None
        assert local._local_search(ast, ast, None, "turns") is None
        over = local.search(q, k=None)
        assert not isinstance(over, LocalResult)
        assert _rows(over) == _rows(dist.search(q, k=None)) == _rows(res)
    finally:
        del local.LOCAL_MAX_K  # restore the class attribute


def test_budget_fallback_is_distributed_and_equal(engines):
    from emailindexer_spark.plans.parser import parse

    local, dist = engines
    _rare, mid, heavy = _terms(local)
    q = f"{mid} {heavy}"
    # shrink the budget so the same query takes the distributed plan
    local.LOCAL_MAX_POSTINGS = 1
    try:
        ast = local._resolve_node(parse(q, simple=local.simple))
        assert local._local_search(ast, ast, 10, "turns") is None
        assert _rows(local.search(q, k=10)) == _rows(dist.search(q, k=10))
    finally:
        del local.LOCAL_MAX_POSTINGS  # restore the class attribute


def test_search_many_mixed_local_and_distributed(engines):
    local, dist = engines
    rare, mid, heavy = _terms(local)
    batch = {
        "a": (rare, 5, "turns"),
        "b": (f"{mid} AND {heavy}", 5, "turns"),
        "c": (f'"{heavy} {mid}"', 5, "turns"),
        "d": (f"{rare} {heavy}", 5, "conversations"),
        "e": (mid[:2] + "*", 8, "turns"),
    }
    a = sorted(
        (r.query_id, r.rank, r.doc_id, r.conv_id, r.turn_idx, round(r.score, 9))
        for r in local.search_many(batch, use_wand=False).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.doc_id, r.conv_id, r.turn_idx, round(r.score, 9))
        for r in dist.search_many(batch, use_wand=False).collect()
    )
    assert a == b


def test_local_decoders_match_block_kernels(engines):
    """_local_decode_postings / _local_decode_docs vs decode_block over
    every posting row of a real index part."""
    local, _ = engines
    from emailindexer_spark.functions.codec import decode_block

    vocab, dfs, _parts = local._driver_vocab()
    heavy = vocab[int(np.argmax(dfs))]
    rows = local._local_posting_rows({heavy}, local.SCORE_COLS)
    docs, tfs, norms = local._local_decode_postings(rows)
    exp_d, exp_t, exp_n = [], [], []
    for r in rows.itertuples(index=False):
        for i in range(len(r.b_docs)):
            d, t, n = decode_block(int(r.b_first[i]), r.b_docs[i], r.b_tfs[i], r.b_norms[i])
            exp_d.append(d)
            exp_t.append(t)
            exp_n.append(n)
    assert (docs == np.concatenate(exp_d)).all()
    assert (tfs == np.concatenate(exp_t)).all()
    assert (norms == np.concatenate(exp_n)).all()
    drows = local._local_posting_rows({heavy}, local.LOCAL_DOCS_COLS)
    assert (local._local_decode_docs(drows) == np.unique(np.concatenate(exp_d))).all()


def test_local_finish_conversations_collapse_fuzz():
    """The grouped-reduceat conversation collapse in _local_finish must
    pick exactly the winners of the reference algorithm (full
    (score desc, doc asc) sort then first-per-conv) — including score
    ties within AND across conversations."""
    from types import SimpleNamespace

    import pandas as pd

    from emailindexer_spark.plans.planner import SearchEngine

    rng = np.random.default_rng(17)
    for trial in range(60):
        n_rows = int(rng.integers(1, 400))
        # conv layout: contiguous doc ranges tiling [0, n_rows)
        n_convs = int(rng.integers(1, min(40, n_rows) + 1))
        cuts = np.sort(rng.choice(np.arange(1, n_rows), size=n_convs - 1, replace=False)) if n_convs > 1 else np.empty(0, np.int64)
        offs = np.concatenate(([0], cuts)).astype(np.int64)
        conv_ids = np.array([f"c{i}" for i in range(n_convs)], dtype=object)
        eng = SimpleNamespace(_off_bc=SimpleNamespace(value=(conv_ids, offs)))
        # candidate subset with heavy score ties (quantized scores)
        m = int(rng.integers(1, n_rows + 1))
        docs = np.sort(rng.choice(n_rows, size=m, replace=False)).astype(np.int64)
        scores = rng.integers(0, 4, size=m).astype(np.float64) / 2.0
        k = int(rng.integers(1, 12))

        got = SearchEngine._local_finish(eng, docs.copy(), scores.copy(), k, "conversations")

        order = np.lexsort((docs, -scores))
        ds, ss = docs[order], scores[order]
        oi_all = np.searchsorted(offs, ds, side="right") - 1
        first = ~pd.Series(oi_all).duplicated().to_numpy()
        ds, ss = ds[first][:k], ss[first][:k]
        oi = np.searchsorted(offs, ds, side="right") - 1
        assert list(got["doc_id"]) == list(ds), trial
        assert list(got["score"]) == list(ss), trial
        assert list(got["conv_id"]) == list(conv_ids[oi]), trial
        assert list(got["turn_idx"]) == list((ds - offs[oi]).astype(np.int32)), trial


# ------------------------------------------------------------------ LocalResult


def _both_modes(eng):
    """Every SHAPES template in turns and in conversations mode (explicit
    WAND only in turns mode, the one it supports)."""
    subs = _subs(eng)
    for tmpl, _mode, wand in SHAPES:
        for mode in ("turns", "conversations"):
            yield tmpl.format(**subs), mode, wand if mode == "turns" else None


def _typed(rows):
    return [(tuple(r), [type(v) for v in r], list(r.__fields__)) for r in rows]


def test_local_result_matches_its_jvm_relation(spark, spark_jobs, engines):
    """collect / toPandas / count / columns / schema served on the
    driver equal the JVM relation the same result builds, in values and
    Python types; an empty result's relation collects with no job."""
    import pandas as pd
    from pyspark.sql.classic.dataframe import DataFrame

    from emailindexer_spark.plans.results import LocalResult

    local, _ = engines
    for q, mode, wand in _both_modes(local):
        res = local.search(q, k=12, mode=mode, use_wand=wand)
        assert isinstance(res, LocalResult), (q, mode)
        got = (res.collect(), res.toPandas(), res.count(), res.columns, res.schema)
        jvm = DataFrame(res._jdf, spark)
        assert type(jvm) is DataFrame
        if not got[2]:
            assert spark_jobs(jvm.collect) == [], (q, mode)
        assert _typed(got[0]) == _typed(jvm.collect()), (q, mode)
        pd.testing.assert_frame_equal(got[1], jvm.toPandas())
        assert got[2:] == (jvm.count(), jvm.columns, jvm.schema), (q, mode)


def test_local_result_driver_calls_build_no_relation(spark_jobs, engines):
    from pyspark.sql import DataFrame as PublicDataFrame

    local, _ = engines
    for q, mode, wand in _both_modes(local):
        res = local.search(q, k=12, mode=mode, use_wand=wand)
        assert isinstance(res, PublicDataFrame)
        out = []
        calls = (res.collect, res.toPandas, res.count, lambda: res.columns, lambda: res.schema)
        assert spark_jobs(lambda: out.extend(f() for f in calls)) == [], (q, mode)
        assert "_jdf" not in res.__dict__, (q, mode)
        # toPandas hands out a copy: mutating it leaves the result intact
        out[1]["score"] = -1.0
        assert all(r.score != -1.0 for r in res.collect())


def test_local_result_chains_like_a_plain_dataframe(spark, engines):
    from pyspark.sql import functions as F

    local, dist = engines
    rare, mid, heavy = _terms(local)
    q, q2 = f"{rare} {mid} {heavy}", f"{mid} AND {heavy}"

    def same(f):
        a = sorted(f(local.search(q, k=12)), key=str)
        b = sorted(f(dist.search(q, k=12)), key=str)
        assert a == b and a

    other = dist.search(q2, k=7)
    same(lambda r: r.withColumn("score", F.round("score", 4)).collect())
    same(lambda r: r.unionByName(other).collect())
    same(lambda r: other.unionByName(r).collect())
    same(lambda r: r.join(local.doc_index.select("doc_id", "role"), "doc_id").collect())
    same(lambda r: r.orderBy(F.col("doc_id").desc()).collect())
    # chaining materializes the relation once, and the driver-side
    # answers stay the same afterwards
    res = local.search(q, k=12)
    before = res.collect()
    res.withColumn("x", F.lit(1)).count()
    assert "_jdf" in res.__dict__ and res.collect() == before


def test_all_local_search_many_is_one_local_result(spark_jobs, engines):
    from emailindexer_spark.plans.planner import RESULT_COLS
    from emailindexer_spark.plans.results import LocalResult

    local, _ = engines
    rare, mid, heavy = _terms(local)
    batch = {
        "a": (rare, 5, "turns"),
        "b": (f"{mid} AND {heavy}", 5, "turns"),
        "c": (f'"{heavy} {mid}"', 5, "turns"),
        "d": (f"{rare} {heavy}", 5, "conversations"),
        "e": (mid[:2] + "*", 8, "turns"),
        "z": ("zzznope", 5, "turns"),
    }
    got = []
    assert spark_jobs(lambda: got.append(local.search_many(batch, use_wand=False))) == []
    res = got[0]
    assert isinstance(res, LocalResult) and res.columns == ["query_id", *RESULT_COLS]
    rows = res.collect()
    assert "_jdf" not in res.__dict__
    for qid, (q, k, mode) in batch.items():
        single = [tuple(r) for r in local.search(q, k=k, mode=mode, use_wand=False).collect()]
        assert [tuple(r)[1:] for r in rows if r.query_id == qid] == single, qid
    # a member past LOCAL_MAX_K takes the distributed plan: the batch
    # unions the local rows (through their JVM relation) with it
    def key(r):
        return (r.rank, r.doc_id, r.conv_id, r.turn_idx, round(r.score, 9))

    mixed = dict(batch, big=(heavy, local.LOCAL_MAX_K + 1, "turns"))
    mixed_res = local.search_many(mixed, use_wand=False)
    assert not isinstance(mixed_res, LocalResult)
    by_q = {}
    for r in mixed_res.collect():
        by_q.setdefault(r.query_id, []).append(key(r))
    for qid, (q, k, mode) in mixed.items():
        single = [key(r) for r in local.search(q, k=k, mode=mode, use_wand=False).collect()]
        assert sorted(by_q.get(qid, [])) == sorted(single), qid
    empty = local.search_many({})
    assert isinstance(empty, LocalResult) and empty.collect() == []
    assert empty.columns == ["query_id", *RESULT_COLS]
    assert empty.unionByName(res).collect() == rows

