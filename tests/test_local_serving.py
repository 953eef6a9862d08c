"""The two tiers of the one query evaluator: the driver-local tier and
the distributed tier (the same evaluator per doc-range shard).

The tier must be INVISIBLE semantically: for every query shape the
(rank, doc_id, conv_id, turn_idx, score) output of the local tier
equals the oracle's and the distributed tier's on any number of
shards; engagement checks, budget fallbacks and the evaluator's row
range checks ride along."""

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
    ("{rare} {mid} {heavy}", "turns", True),  # use_wand is accepted and ignored
    ("{mid} AND {heavy}", "turns", None),
    ("{mid} AND {heavy}", "turns", True),  # ... on a non-flat-OR query too
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
    ('"{heavy} {mid}"~2', "turns", None),
    ("+({mid} OR {heavy}) -({rare} {mid2})", "turns", None),
    ('({mid} AND "{heavy} {mid}"~2) OR {pre}*', "turns", None),
    ("({rare} {mid})^2 -{mid2} {heavy}", "turns", None),
    ("{rare} {mid} {heavy}", "conversations", None),
    ("{pre}*", "conversations", None),
    ('"{heavy} {mid}"', "conversations", None),
]


def _subs(eng):
    rare, mid, heavy = _terms(eng)
    vocab, dfs, _parts = eng._driver_vocab()
    mid2 = vocab[int(np.argsort(dfs)[len(dfs) // 2 + 1])]
    return {
        "rare": rare, "mid": mid, "mid2": mid2, "heavy": heavy,
        "pre": mid[:2], "lo": mid[:2], "hi": mid[:2] + "zz",
    }


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


def test_local_tier_equals_the_oracle_at_zero_jobs(spark_jobs, engines, oracle_ix):
    """Every SHAPES entry, nested Bools and sloppy phrases included, in
    both modes: the local tier serves it with no Spark job, ranks exactly
    as the oracle and scores within 1e-4."""
    from emailindexer_spark.oracle import search as osearch
    from emailindexer_spark.plans.results import LocalResult

    local, _ = engines
    for q, mode, _wand in _both_modes(local):
        got = []
        assert spark_jobs(lambda: got.append(local.search(q, k=12, mode=mode).collect())) == [], q
        assert isinstance(local.search(q, k=12, mode=mode), LocalResult), (q, mode)
        exp = osearch(oracle_ix, q, k=12, mode=mode)
        assert [r.doc_id for r in got[0]] == [d for d, _ in exp], (q, mode)
        for r, (_, b) in zip(got[0], exp):
            assert abs(r.score - b) <= 1e-4 * max(1.0, abs(b)), (q, mode)


def test_distributed_tier_agrees_on_any_shard_count(engines, assert_shards_agree):
    """The shared fixture is a sharded build (8 conversation-range
    shards, one posting row per term per shard) before any compaction:
    1, 3 and the default number of doc-range shards give the local
    tier's rows for every shape, both modes, k=None."""
    local, dist = engines
    subs = _subs(local)
    assert_shards_agree(local, dist, [tmpl.format(**subs) for tmpl, _m, _w in SHAPES])


def test_distributed_search_runs_at_most_two_jobs(spark_jobs, engines):
    """A distributed search(...).collect() runs at most 2 Spark jobs in
    either mode, k set or not, and its scoring stage — one mapInArrow
    task per doc-range shard over spark.range — has no Exchange."""
    from emailindexer_spark.plans.parser import parse

    local, dist = engines
    subs = _subs(local)
    for tmpl in ("{rare} {mid} {heavy}", '"{mid} {heavy}"~2', "{pre}*", "+({mid} OR {heavy}) -({rare} {mid2})"):
        q = tmpl.format(**subs)
        for mode in ("turns", "conversations"):
            for k in (10, None):
                jobs = spark_jobs(lambda: dist.search(q, k=k, mode=mode).collect())
                assert 1 <= len(jobs) <= 2, (q, mode, k, jobs)
        scoring = dist._shard_scores(dist._resolve_node(parse(q, simple=dist.simple)))
        plan = scoring._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "Exchange" not in plan, plan


def test_a_wrong_row_range_fails_loudly(spark, tmp_path, index_dir):
    """Shards choose posting rows by [first_doc, last_doc], so a wrong
    range would drop hits without a sound.  A row whose last_doc is cut
    below its last doc makes both tiers raise, naming the term and the
    row; so does one whose first_doc passes its first doc."""
    import glob
    import os
    import re
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as papq

    for col in ("last_doc", "first_doc"):
        d = str(tmp_path / col)
        shutil.copytree(index_dir, d)
        f = max(glob.glob(os.path.join(d, "postings", "part=*", "*.parquet")), key=os.path.getsize)
        t = papq.read_table(f)
        i = int(np.argmax(t.column("df_row").to_numpy()))
        term, sid = t.column("term")[i].as_py(), t.column("split_id")[i].as_py()
        vals = t.column(col).to_numpy().copy()
        vals[i] += -1 if col == "last_doc" else 1
        t = t.set_column(t.schema.get_field_index(col), col, pa.array(vals, pa.int64()))
        papq.write_table(t, f)
        local, dist = SearchEngine(spark, d), SearchEngine(spark, d)
        dist._local_search = lambda *a, **k: None
        want = re.escape(f"term {term!r} (split_id {sid}) holds docs outside its range")
        with pytest.raises(ValueError, match=want):
            local.search(term, k=5)
        with pytest.raises(Exception, match=want):
            dist.search(term, k=5).collect()


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
def test_local_tier_survives_append_and_compaction(spark, corpus_pdf, assert_shards_agree):
    """Appends of new conversations extend conv_offsets, so the local
    tier stays engaged and equals the distributed tier — whose
    (conv_id, turn_idx) come from the doc_stats join here, not from the
    artifact — on an index with two appends (several files per part)
    and again after compaction.  The local tier is checked twice: from
    resident parts decoded whole, and over the residency cap (LOCAL_MAX_POSTINGS just
    below the index's postings, above every query's), where each query
    scans the part files.  After the compaction, the distributed tier
    on 1, 3 and the default number of shards equals the local tier."""
    import glob
    import os
    import shutil
    import tempfile

    from emailindexer_spark.plans.builder import IndexBuilder
    from emailindexer_spark.streaming.compact import compact_index
    from emailindexer_spark.streaming.ingest import incremental_append

    convs = corpus_pdf["conv_id"].unique()
    cut1, cut2 = set(convs[: 2 * len(convs) // 3]), set(convs[: 5 * len(convs) // 6])
    base = corpus_pdf[corpus_pdf.conv_id.isin(cut1)]
    batches = (
        corpus_pdf[corpus_pdf.conv_id.isin(cut2 - cut1)],
        corpus_pdf[~corpus_pdf.conv_id.isin(cut2)],
    )

    def engines():
        local = SearchEngine(spark, d)
        over = SearchEngine(spark, d)
        over.LOCAL_MAX_POSTINGS = int(local._driver_vocab()[1].sum()) - 1
        dist = SearchEngine(spark, d)
        dist._local_search = lambda *a, **k: None
        dist._off_bc = None  # conv/turn from doc_stats, not the artifact
        return local, over, dist

    def check():
        local, over, dist = engines()
        assert local._off_bc is not None
        _assert_tiers_agree(local, dist)
        _assert_tiers_agree(over, dist)
        assert local._resident and not over._resident
        rare, mid, heavy = _terms(local)
        assert sum(local.term_dfs({rare, mid, heavy}).values()) < over.LOCAL_MAX_POSTINGS
        _assert_batches_agree(local, over, dist)

    d = tempfile.mkdtemp(prefix="ix_tier_append_")
    try:
        IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400).build(
            spark.createDataFrame(base)
        )
        for batch in batches:
            incremental_append(spark, d, spark.createDataFrame(batch))
        assert SearchEngine(spark, d).n_rows == len(corpus_pdf)
        parts = glob.glob(os.path.join(d, "postings", "part=*"))
        assert parts and all(len(glob.glob(os.path.join(p, "*.parquet"))) > 1 for p in parts)
        check()
        compact_index(spark, d)
        check()
        local, _over, _dist = engines()
        shards = SearchEngine(spark, d)
        shards._local_search = lambda *a, **k: None
        subs = _subs(local)
        assert_shards_agree(local, shards, [tmpl.format(**subs) for tmpl, _m, _w in SHAPES])
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_positionless_index_tiers_agree(spark, corpus_sdf, engines, assert_shards_agree):
    """On an index built without positions, phrases read their
    candidates' text from doc_index with pyarrow on both tiers: the
    local tier gives the positioned index's rows for every shape, and
    the distributed tier agrees with it on any shard count."""
    import shutil
    import tempfile

    from emailindexer_spark.plans.builder import IndexBuilder

    local, _ = engines
    queries = [tmpl.format(**_subs(local)) for tmpl, _m, _w in SHAPES]
    d = tempfile.mkdtemp(prefix="ix_nopos_tiers_")
    try:
        IndexBuilder(
            spark, d, num_parts=8, heavy_df_threshold=500, split_target=400, positions=False
        ).build(corpus_sdf)
        nopos, dist = SearchEngine(spark, d), SearchEngine(spark, d)
        dist._local_search = lambda *a, **k: None
        assert not nopos.positions
        for q in queries:
            for mode in ("turns", "conversations"):
                assert _rows(nopos.search(q, k=12, mode=mode)) == _rows(local.search(q, k=12, mode=mode)), q
        assert_shards_agree(nopos, dist, queries)
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
        assert local._local_search(ast, 5, "turns") is not None
        assert local._local_search(ast, None, "turns") is None
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
        assert local._local_search(ast, 10, "turns") is None
        assert _rows(local.search(q, k=10)) == _rows(dist.search(q, k=10))
    finally:
        del local.LOCAL_MAX_POSTINGS  # restore the class attribute


def _batch_rows(df):
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.conv_id, r.turn_idx, round(r.score, 9))
        for r in df.collect()
    )


def _assert_batches_agree(*engs):
    """A mixed search_many batch gives the same rows from every engine."""
    rare, mid, heavy = _terms(engs[0])
    batch = {
        "a": (rare, 5, "turns"),
        "b": (f"{mid} AND {heavy}", 5, "turns"),
        "c": (f'"{heavy} {mid}"', 5, "turns"),
        "d": (f"{rare} {heavy}", 5, "conversations"),
        "e": (mid[:2] + "*", 8, "turns"),
    }
    got = [_batch_rows(eng.search_many(batch, use_wand=False)) for eng in engs]
    assert got[0] and all(g == got[0] for g in got[1:])


def test_search_many_mixed_local_and_distributed(engines):
    _assert_batches_agree(*engines)


def _block_reference(rows):
    """{term: (docs, tfs, norms, positions per posting)} of Arrow posting
    ``rows`` by decode_block and decode_positions, block by block, each
    term's rows taken in first_doc order."""
    from emailindexer_spark.functions.codec import decode_block, decode_positions

    by_term = {}
    for r in sorted(rows.to_pylist(), key=lambda r: (r["term"], r["first_doc"])):
        ref = by_term.setdefault(r["term"], ([], [], [], []))
        for blk in zip(r["b_first"], r["b_docs"], r["b_tfs"], r["b_norms"], r["b_pos"]):
            d, t, n = decode_block(*blk[:4])
            ref[0].extend(d), ref[1].extend(t), ref[2].extend(n)
            ref[3].extend(np.split(decode_positions(blk[4], t), np.cumsum(t)[:-1]))
    return by_term


def _assert_postings_equal(got, ref):
    """{term: _Postings} against :func:`_block_reference` output."""
    assert got.keys() == ref.keys()
    for t, (d, tf, nm, pos) in ref.items():
        p = got[t]
        assert p.docs.dtype == np.int64 and p.docs.tolist() == d, t
        if p.level:
            assert p.tfs.tolist() == tf and p.norms.tolist() == nm, t
        if p.level == 2:
            assert [x.tolist() for x in np.split(p.positions(np.arange(p.docs.size)), np.cumsum(tf)[:-1])] == [
                x.tolist() for x in pos
            ], t


def _part_rows(index_dir, terms):
    """Every postings row of ``terms``, read with pyarrow from every
    postings file."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.dataset as ds

    files = glob.glob(os.path.join(index_dir, "postings", "part=*", "*.parquet"))
    return ds.dataset(files, format="parquet").to_table(filter=ds.field("term").isin(list(terms)))


def test_local_decoders_match_block_kernels(engines, index_dir):
    """The postings the local tier serves — resident decoded slices and,
    over the residency cap, the per-query scan — vs decode_block over
    every posting row of the terms in a real index, at every level."""
    local, _ = engines
    vocab, dfs, _parts = local._driver_vocab()
    terms = {vocab[int(np.argmax(dfs))], vocab[int(np.argmin(dfs))], vocab[int(np.argsort(dfs)[len(dfs) // 2])]}
    ref = _block_reference(_part_rows(index_dir, terms))
    assert len(ref) == 3
    over = SearchEngine(local.spark, index_dir)
    over.LOCAL_MAX_POSTINGS = 0
    for level in (0, 1, 2):
        got = local._local_term_rows(terms, level)
        assert all(p.level == 2 for p in got.values())
        _assert_postings_equal(got, ref)
        scanned = over._local_term_rows(terms, level)
        assert all(p.level == level for p in scanned.values()) and not over._resident
        _assert_postings_equal(scanned, ref)
    assert _part_rows(index_dir, {vocab[int(np.argmax(dfs))]}).num_rows > 1  # a multi-row term


def _largest_postings_file(index_dir):
    import glob
    import os

    from emailindexer_spark.plans.planner import _LEVEL_COLS, _load_sorted_postings

    files = glob.glob(os.path.join(index_dir, "postings", "part=*", "*.parquet"))
    return _load_sorted_postings(max(files, key=os.path.getsize), _LEVEL_COLS[2])


def _assert_arrow_reader_matches_blocks(rows):
    """The Arrow block reader reads each block column of ``rows`` (an
    Arrow table) — bytes, b_pos included, and lengths — as the rows'
    Python values, and the whole-table kernel gives every term's
    postings at every level as decode_block does block by block."""
    import emailindexer_spark.plans.planner as P

    py = rows.to_pydict()
    for col in ("b_docs", "b_tfs", "b_norms", "b_pos"):
        vals = [b for row in py[col] for b in row]
        gb, gl = P._arrow_blocks(rows.column(col))
        assert gb.tobytes() == b"".join(vals) and gl.tolist() == [len(b) for b in vals], col
    ref = _block_reference(rows)
    for level in (0, 1, 2):
        dec = P._decode_table(rows, level, 0, 1 << 62)
        _assert_postings_equal(dec.postings(set(py["term"]), 0, 1 << 62), ref)


def test_arrow_block_reader_matches_pandas_adapter(engines, index_dir):
    """The Arrow block reader and the whole-table kernel against
    decode_block and the rows' Python values, on real postings rows: a
    zero-copy slice from the middle of a file (its list and binary
    offsets do not start at 0), a multi-chunk table and empty
    selections."""
    import pyarrow as pa

    import emailindexer_spark.plans.planner as P

    local, _ = engines
    t = _largest_postings_file(index_dir)
    n = t.num_rows
    assert n > 10
    mid = t.slice(n // 3, n // 3)
    chunk = mid.column("b_docs").chunks[0]
    assert chunk.offset > 0 and chunk.flatten().offset > 0
    _assert_arrow_reader_matches_blocks(mid)
    multi = pa.concat_tables([t.slice(n - 4, 4), t.slice(1, 3), t.slice(n // 2, 0)])
    assert multi.column("b_docs").num_chunks == 3
    _assert_arrow_reader_matches_blocks(multi)
    _assert_arrow_reader_matches_blocks(t)
    empty = t.slice(n // 2, 0)
    _assert_arrow_reader_matches_blocks(empty)
    assert local._local_term_rows({"zzznope"}, 2) == {}
    assert P._decode_table(empty, 2, 0, local.n_rows).docs.size == 0


def test_arrow_decoders_reject_a_block_with_no_postings(index_dir):
    """A block with no postings would shift every later doc id of the
    selection; the Arrow decoders and the whole-table kernel raise, as
    the pandas adapters do."""
    import pyarrow as pa

    import emailindexer_spark.plans.planner as P

    t = _largest_postings_file(index_dir)
    rows = t.slice(t.num_rows // 2, 2).to_pylist()
    r = rows[0]
    for col, empty in (("b_first", r["b_first"][0]), ("b_docs", b""), ("b_tfs", b""), ("b_norms", b"")):
        r[col] = r[col][:1] + [empty] + r[col][1:]
    r["b_pos"] = r["b_pos"][:1] + [b""] + r["b_pos"][1:]
    bad = pa.Table.from_pylist(rows, schema=t.schema)
    for decode in [lambda x, lv=lv: P._decode_table(x, lv, 0, 1 << 62) for lv in (0, 1, 2)]:
        with pytest.raises(ValueError, match="non-empty"):
            decode(bad)
        with pytest.raises(ValueError, match="non-empty"):
            decode(bad.slice(0, 1))


def test_local_tier_makes_no_pandas_frame(spark, monkeypatch, engines):
    """Every SHAPES entry runs on the local tier from the resident
    postings to the result rows with no pandas conversion: with
    ``pyarrow.pandas_compat.table_to_dataframe`` (what ``Table.to_pandas``
    calls) patched to raise, each search and an all-local search_many
    still answer, equal to the distributed tier, and collect / count /
    take build no pandas frame.  ``toPandas`` still equals the JVM
    relation's frame, dtypes included."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.pandas_compat
    from pyspark.sql.classic.dataframe import DataFrame

    from emailindexer_spark.plans.results import LocalResult

    local, dist = engines
    subs = _subs(local)
    cases = [
        (tmpl.format(**subs), mode)
        for tmpl, mode, _wand in SHAPES
        for mode in ("turns", "conversations")
    ]
    want = [_rows(dist.search(q, k=12, mode=mode)) for q, mode in cases]
    batch = {f"q{i}": (q, 12, mode) for i, (q, mode) in enumerate(cases)}
    want_many = _batch_rows(dist.search_many(batch))
    for q, mode in cases:  # the first touch of each part reads its files
        local.search(q, k=12, mode=mode).collect()

    def boom(*a, **k):
        raise AssertionError("pandas frame made on the local tier")

    results = []
    with monkeypatch.context() as m:
        m.setattr(pyarrow.pandas_compat, "table_to_dataframe", boom)
        with pytest.raises(AssertionError, match="pandas frame"):
            pa.table({"a": [1]}).to_pandas()
        for (q, mode), rows in zip(cases, want):
            res = local.search(q, k=12, mode=mode)
            assert isinstance(res, LocalResult), (q, mode)
            assert _rows(res) == rows, (q, mode)
            assert res.count() == len(rows) and len(res.take(2)) == min(2, len(rows))
            assert "_pdf" not in res.__dict__ and "_jdf" not in res.__dict__, (q, mode)
            results.append(res)
        many = local.search_many(batch)
        assert isinstance(many, LocalResult) and _batch_rows(many) == want_many
        assert "_pdf" not in many.__dict__
    for res in results + [many]:
        pd.testing.assert_frame_equal(res.toPandas(), DataFrame(res._jdf, spark).toPandas())


def test_resident_parts_serve_without_reading_files(spark, monkeypatch, engines, index_dir):
    """After a part's first touch, searches of any term in it read no
    file: with pyarrow's readers patched to raise, a repeated search and
    a second term of the same part still answer, and equal the
    distributed tier.  An engine over the residency cap reads per query,
    so the same patch breaks it."""
    import pyarrow.dataset
    import pyarrow.parquet

    from emailindexer_spark.plans.builder import term_part_py

    _, dist = engines
    eng = SearchEngine(spark, index_dir)
    over = SearchEngine(spark, index_dir)
    over.LOCAL_MAX_POSTINGS = int(eng._driver_vocab()[1].sum()) - 1
    vocab, _dfs, _parts = eng._driver_vocab()
    _rare, mid, _heavy = _terms(eng)
    part = term_part_py(mid, eng.num_parts)
    other = next(t for t in vocab if t != mid and term_part_py(t, eng.num_parts) == part)
    first = _rows(eng.search(mid, k=10))
    want = [_rows(dist.search(q, k=10)) for q in (mid, other, f'"{mid} {other}"')]
    assert first == want[0] and list(eng._resident) == [part]
    assert _rows(over.search(mid, k=10)) == want[0] and not over._resident

    def boom(*a, **k):
        raise RuntimeError("postings read after residency")

    monkeypatch.setattr(pyarrow.parquet, "read_table", boom)
    monkeypatch.setattr(pyarrow.dataset, "dataset", boom)
    assert [_rows(eng.search(q, k=10)) for q in (mid, other, f'"{mid} {other}"')] == want
    with pytest.raises(RuntimeError, match="after residency"):
        over.search(mid, k=10)


def test_concurrent_first_touches_load_each_part_once(spark, monkeypatch, index_dir):
    """search_many plans queries in driver threads: racing first
    touches of the same parts load each part's files once, and every
    thread reads the rows a single-threaded engine reads."""
    import sys
    import threading
    from collections import Counter

    import emailindexer_spark.plans.planner as P

    ref = SearchEngine(spark, index_dir)
    vocab, _dfs, _parts = ref._driver_vocab()
    term_sets = [set(vocab[i::7][:40]) for i in range(7)]
    want = [ref._local_term_rows(ts, 1) for ts in term_sets]
    loads = Counter()
    load = P._load_sorted_postings

    def counted(path, cols):
        loads[path] += 1
        return load(path, cols)

    monkeypatch.setattr(P, "_load_sorted_postings", counted)
    eng = SearchEngine(spark, index_dir)
    got, errors = {}, []

    def work(i):
        try:
            got[i] = eng._local_term_rows(term_sets[i % 7], 1)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert loads and set(loads.values()) == {1}
    for i in range(16):
        w = want[i % 7]
        assert got[i].keys() == w.keys()
        for t in w:
            assert all(np.array_equal(a, b) for a, b in zip(got[i][t][1:4], w[t][1:4])), t


def test_unsorted_postings_file_raises(spark, tmp_path, index_dir):
    """Slicing relies on every postings file being term-sorted: a part
    file that is not fails the search loudly, naming the file."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as papq

    from emailindexer_spark.plans.builder import term_part_py

    d = str(tmp_path / "ix")
    shutil.copytree(index_dir, d)
    eng = SearchEngine(spark, d)
    _rare, mid, _heavy = _terms(eng)
    part = term_part_py(mid, eng.num_parts)
    f = sorted(glob.glob(os.path.join(d, "postings", f"part={part}", "*.parquet")))[0]
    t = papq.read_table(f)
    papq.write_table(t.take(np.arange(t.num_rows)[::-1]), f)
    with pytest.raises(ValueError, match=f"{os.path.basename(f)} is not sorted by term"):
        eng.search(mid, k=5)


def test_open_and_local_search_make_no_broadcast(spark, monkeypatch, index_dir):
    """The conv_offsets arrays reach Spark only when a distributed plan
    needs them: with broadcast patched to raise, an engine opens and
    serves local searches; once lifted, the same engine's distributed
    plans (single and batched) broadcast them and agree."""
    sc = spark.sparkContext

    def boom(*a, **k):
        raise RuntimeError("broadcast")

    with monkeypatch.context() as m:
        m.setattr(sc, "broadcast", boom)
        eng = SearchEngine(spark, index_dir)
        assert eng._off_bc is not None
        rare, mid, heavy = _terms(eng)
        qs = {"a": (f"{rare} {mid} {heavy}", 8, "turns"), "b": (f"{mid} {heavy}", 8, "conversations")}
        local = [_rows(eng.search(q, k=k, mode=mode)) for q, k, mode in qs.values()]
        local_many = _batch_rows(eng.search_many(qs, use_wand=False))
    eng._local_search = lambda *a, **k: None
    assert [_rows(eng.search(q, k=k, mode=mode)) for q, k, mode in qs.values()] == local
    assert _batch_rows(eng.search_many(qs, use_wand=False)) == local_many
    assert eng._off_spark is not None


def test_local_finish_rejects_offsets_not_starting_at_doc_0():
    """Conversation labels are positional in the offsets table: a first
    range not starting at doc 0 would mislabel every hit, so it raises."""
    from types import SimpleNamespace

    conv_ids = np.array(["a", "b"], dtype=object)
    eng = SimpleNamespace(_off_bc=SimpleNamespace(value=(conv_ids, np.array([1, 4]))))
    for mode in ("turns", "conversations"):
        with pytest.raises(ValueError, match="start at doc 0"):
            SearchEngine._local_finish(eng, np.array([1, 5]), np.array([1.0, 2.0]), 10, mode)


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
    """Every SHAPES template in turns and in conversations mode."""
    subs = _subs(eng)
    for tmpl, _mode, wand in SHAPES:
        for mode in ("turns", "conversations"):
            yield tmpl.format(**subs), mode, wand


def _typed(rows):
    return [(tuple(r), [type(v) for v in r], list(r.__fields__)) for r in rows]


def _row_calls(df):
    """take / head / first / isEmpty / limit answers of a DataFrame."""
    lim = df.limit(3)
    return (
        df.take(2), df.take(0), df.take(100), df.head(), df.head(3), df.first(),
        df.isEmpty(), lim.collect(), lim.count(), df.limit(0).collect(),
    )


def test_local_result_matches_its_jvm_relation(spark, spark_jobs, engines):
    """collect / toPandas / count / columns / schema and the row calls
    (take / head / first / isEmpty / limit) served on the driver equal
    the JVM relation the same result builds, in values and Python
    types; an empty result's relation collects with no job."""
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
        mine, theirs = _row_calls(res), _row_calls(jvm)
        assert [_typed(x) if isinstance(x, list) else x for x in mine] == [
            _typed(x) if isinstance(x, list) else x for x in theirs
        ], (q, mode)
        assert isinstance(res.limit(3), LocalResult)
        pd.testing.assert_frame_equal(res.limit(3).toPandas(), jvm.limit(3).toPandas())


def test_local_result_driver_calls_build_no_relation(spark_jobs, engines):
    from pyspark.sql import DataFrame as PublicDataFrame

    local, _ = engines
    for q, mode, wand in _both_modes(local):
        res = local.search(q, k=12, mode=mode, use_wand=wand)
        assert isinstance(res, PublicDataFrame)
        out = []
        calls = (
            res.collect, res.toPandas, res.count, lambda: res.columns, lambda: res.schema,
            lambda: _row_calls(res),
        )
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



def _codecs(d, table="*"):
    """The set of column-chunk codecs of the parquet files of ``table``
    under index ``d``, read from the footers."""
    import glob
    import os

    import pyarrow.parquet as papq

    out = set()
    for f in glob.glob(os.path.join(d, table, "**", "*.parquet"), recursive=True):
        md = papq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            out |= {md.row_group(g).column(c).compression for c in range(md.num_columns)}
    return out


@pytest.mark.slow
def test_snappy_index_serves_appends_and_compacts(spark, tmp_path, engines, index_dir, corpus_pdf):
    """An index whose every file is Snappy (what releases before 0.4.1
    wrote) gives the untouched index's answers to the shape set on both
    tiers, over the residency cap too; an append onto it adds zstd
    files and matches the oracle; compact_index rewrites every postings
    file as zstd and keeps the answers."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as papq

    from emailindexer_spark.oracle import build_oracle_index, search as osearch
    from emailindexer_spark.streaming.compact import compact_index
    from emailindexer_spark.streaming.ingest import incremental_append

    local, _dist = engines
    d = str(tmp_path / "ix")
    shutil.copytree(index_dir, d)
    for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
        pf = papq.ParquetFile(f)
        rg = pf.metadata.row_group(0).num_rows if pf.metadata.num_row_groups else None
        papq.write_table(pf.read(), f, compression="snappy", row_group_size=rg)
    assert _codecs(d) == {"SNAPPY"}

    def answers(eng):
        subs = _subs(local)
        return [_rows(eng.search(tmpl.format(**subs), k=12, mode=mode)) for tmpl, mode, _w in SHAPES]

    def tiers():
        snap = SearchEngine(spark, d)
        over = SearchEngine(spark, d)
        over.LOCAL_MAX_POSTINGS = int(snap._driver_vocab()[1].sum()) - 1
        dist = SearchEngine(spark, d)
        dist._local_search = lambda *a, **k: None
        return snap, over, dist

    want = answers(local)
    for eng in tiers():
        assert answers(eng) == want

    batch = corpus_pdf.head(400).assign(conv_id=lambda x: "zz-" + x.conv_id)
    incremental_append(spark, d, spark.createDataFrame(batch))
    assert _codecs(d) == {"SNAPPY", "ZSTD"}
    rows = []
    for chunk in (corpus_pdf, batch):
        rows += sorted(chunk[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    oracle = build_oracle_index(rows, sort=False)
    rare, mid, heavy = _terms(local)
    checks = [(f"{rare} {mid} {heavy}", "turns"), (heavy, "conversations"), (f'"{heavy} {mid}"', "turns")]

    def check_oracle(eng):
        for q, mode in checks:
            exp = osearch(oracle, q, k=10, mode=mode)
            got = [(r["doc_id"], r["score"]) for r in eng.search(q, k=10, mode=mode).collect()]
            assert exp and [x[0] for x in got] == [x[0] for x in exp], (q, mode)
            for (_, a), (_, b) in zip(got, exp):
                assert abs(a - b) <= 1e-6 * max(1.0, abs(b))

    snap, over, dist = tiers()
    check_oracle(snap)
    appended = answers(snap)
    assert answers(over) == answers(dist) == appended
    compact_index(spark, d)
    assert _codecs(d, "postings") == {"ZSTD"}
    snap, over, dist = tiers()
    check_oracle(snap)
    assert answers(snap) == answers(over) == answers(dist) == appended
