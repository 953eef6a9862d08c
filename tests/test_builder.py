"""Build pipeline: stats, skew splitting, metrics, resumability
(FIXTURES.md §5/§6.3/§6.5)."""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from emailindexer_spark.plans.builder import IndexBuilder
from emailindexer_spark.sources.checkpoint import Manifest


def test_stats_match_oracle(index_dir, oracle_ix):
    man = Manifest.load_or_create(index_dir)
    assert man.stats["n_docs"] == oracle_ix.n_docs
    assert man.stats["total_tokens"] / man.stats["n_docs"] == pytest.approx(oracle_ix.avgdl)


def _shard_of(d, docs):
    """The shard (doc_index file) of each of ``docs``, from the files'
    first doc ids."""
    import numpy as np
    import pyarrow.parquet as papq

    firsts = [
        papq.read_table(f, columns=["doc_id"]).column(0)[0].as_py()
        for f in sorted(glob.glob(os.path.join(d, "doc_index", "*.parquet")))
    ]
    return np.searchsorted(firsts, np.asarray(docs), side="right") - 1


def _postings_layout(d):
    """(file, term, split_id, first_doc, last_doc) of every postings row."""
    import pandas as pd
    import pyarrow.parquet as papq

    cols = ["term", "split_id", "first_doc", "last_doc"]
    return pd.concat(
        [
            papq.read_table(f, columns=cols).to_pandas().assign(file=os.path.relpath(f, d))
            for f in glob.glob(os.path.join(d, "postings", "part=*", "*.parquet"))
        ],
        ignore_index=True,
    )


def test_heavy_terms_are_split(spark, index_dir):
    p = _postings_layout(index_dir)
    assert (p.split_id > 0).sum() > 1  # FIXTURES.md §6.5: >1 skew split
    # every term's rows, in split order, cover ascending disjoint doc
    # ranges: (term, split_id) is unique across files, and a row ends
    # before the term's next row starts
    assert not p.duplicated(["term", "split_id"]).any()
    p = p.sort_values(["term", "split_id"], ignore_index=True)
    same = p.term.to_numpy()[1:] == p.term.to_numpy()[:-1]
    assert same.any()
    assert (p.last_doc.to_numpy()[:-1][same] < p.first_doc.to_numpy()[1:][same]).all()
    assert (p.first_doc <= p.last_doc).all()


def test_build_metrics_lineage(spark, index_dir):
    m = spark.read.parquet(os.path.join(index_dir, "build_metrics"))
    man = Manifest.load_or_create(index_dir)
    tot = m.agg(F.sum("postings_written"), F.sum("skew_splits")).collect()[0]
    assert tot[0] == man.stats["postings_written"] > 0
    assert tot[1] == man.stats["skew_splits"] > 1
    assert m.select("snapshot_id").distinct().count() == 1


def test_partition_pruning_layout(spark, index_dir):
    # postings are physically partitioned by part=md5(term)%P
    assert glob.glob(os.path.join(index_dir, "postings", "part=*"))


def _postings_payloads(spark, d):
    rows = (
        spark.read.parquet(os.path.join(d, "postings"))
        .select("term", "split_id", "b_docs", "b_tfs", "b_norms")
        .collect()
    )
    return sorted(
        (r["term"], r["split_id"], tuple(map(bytes, r["b_docs"])), tuple(map(bytes, r["b_tfs"])), tuple(map(bytes, r["b_norms"])))
        for r in rows
    )


@pytest.mark.slow
def test_kill_and_resume_byte_identical(spark, monkeypatch, corpus_sdf, index_dir):
    import emailindexer_spark.plans.builder as B

    d = tempfile.mkdtemp(prefix="ix_resume_")
    try:
        b = IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400)
        # phase 1: a sharded build that crashes before its commit, after
        # half of its shards were staged: the other half lose their
        # done markers and files
        marks_read = B._shard_marks

        def crash_on_second_read(*a):  # the first read precedes the staging
            crash_on_second_read.calls += 1
            return 1 / 0 if crash_on_second_read.calls == 2 else marks_read(*a)

        crash_on_second_read.calls = 0
        with monkeypatch.context() as m:
            m.setattr(B, "_shard_marks", crash_on_second_read)
            with pytest.raises(ZeroDivisionError):
                b.build(corpus_sdf)
        assert Manifest.load_or_create(d).stages == {}
        marks = os.path.join(d, "_staging", "build")
        shards = sorted(f[:-5] for f in os.listdir(marks) if f.endswith(".json"))
        assert len(shards) > 2

        def files(s, tables=("doc_index", "doc_stats", os.path.join("postings", "part=*"))):
            return [f for t in tables for f in glob.glob(os.path.join(d, t, f"part-{s}.parquet"))]

        for s in shards[1::2]:
            for f in glob.glob(os.path.join(marks, s + ".*")) + files(s):
                os.remove(f)
        # (the postings part files are merged into one per part at the end)
        kept = {f: os.stat(f).st_mtime_ns for s in shards[::2] for f in files(s, ("doc_index", "doc_stats"))}
        assert kept
        # phase 2: resume must NOT restage the marked shards, and must
        # reproduce byte-identical postings payloads
        man = b.build(corpus_sdf, resume=True)
        assert {f: os.stat(f).st_mtime_ns for f in kept} == kept
        assert not os.path.exists(marks) and man.is_complete("build_metrics")
        assert _postings_payloads(spark, d) == _postings_payloads(spark, index_dir)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_payload_invariant_to_input_partitioning(spark, corpus_sdf, index_dir):
    d = tempfile.mkdtemp(prefix="ix_repart_")
    try:
        IndexBuilder(
            spark, d, num_parts=8, heavy_df_threshold=500, split_target=400
        ).build(corpus_sdf.repartition(17))
        assert _postings_payloads(spark, d) == _postings_payloads(spark, index_dir)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_param_mismatch_rejected(spark, corpus_sdf, index_dir):
    with pytest.raises(ValueError):
        IndexBuilder(spark, index_dir, num_parts=4).build(corpus_sdf, resume=True)


def test_doc_index_carries_exact_dl_and_norm(spark, index_dir, corpus_pdf):
    # dl/norm come from the kernel's vectorized token counter and
    # SmallFloat encoder; they must equal the scalar tokenizer + codec
    from emailindexer_spark.functions.smallfloat import int_to_byte4
    from emailindexer_spark.functions.tokenizer import tokenize

    rows = (
        spark.read.parquet(os.path.join(index_dir, "doc_index"))
        .select("doc_id", "text", "dl", "norm")
        .limit(500)
        .collect()
    )
    assert rows
    for r in rows:
        dl = len(tokenize(r["text"]))
        assert r["dl"] == dl, (r["doc_id"], r["dl"], dl)
        assert r["norm"] == int_to_byte4(dl)


def test_term_dict_matches_postings(spark, index_dir):
    p = spark.read.parquet(os.path.join(index_dir, "postings"))
    td = spark.read.parquet(os.path.join(index_dir, "term_dict"))
    exp = {
        (r["term"], r["part"]): r["df"]
        for r in p.groupBy("term", "part").agg(F.sum("df_row").alias("df")).collect()
    }
    got = {(r["term"], r["part"]): r["df"] for r in td.collect()}
    assert got == exp


def _shard_reads(monkeypatch, eng, node):
    """Run every shard task of a distributed search of ``node`` in this
    process: (its hits as a doc -> score map, the (files, terms, columns)
    of each postings scan the tasks made, the expansion's keys)."""
    import pyarrow as pa

    import emailindexer_spark.plans.planner as P

    plan = eng._shard_plan(eng._resolve_node(node))
    scans, real = [], P._scan_files

    def spy(files, terms, cols, lo=None, hi=None):
        scans.append((list(files), list(terms), tuple(cols)))
        return real(files, terms, cols, lo, hi)

    monkeypatch.setattr(P, "_scan_files", spy)
    ids = pa.record_batch([pa.array(range(plan.n), pa.int64())], names=["id"])
    hits = {}
    for b in P._shard_scorer(plan)(iter([ids])):
        hits.update(zip(b.column("doc_id").to_pylist(), b.column("score").to_pylist()))
    return hits, scans, plan.ast.keys


def _part_of(path):
    return int(path.split("part=")[1].split(os.sep)[0])


def _full_scan_docs(index_dir, match):
    """Doc ids of every postings row whose term ``match`` accepts, over
    every postings file (no partition pruning)."""
    import numpy as np
    import pyarrow.parquet as papq

    from emailindexer_spark.plans.planner import _LEVEL_COLS, _decode_table

    docs = []
    for f in glob.glob(os.path.join(index_dir, "postings", "part=*", "*.parquet")):
        t = papq.read_table(f, columns=list(_LEVEL_COLS[0]))
        keep = [bool(match(x)) for x in t.column("term").to_pylist()]
        docs.append(_decode_table(t.filter(keep), 0, 0, 1 << 62).docs)
    return set(np.concatenate(docs).tolist())


def test_prefix_plan_prunes_postings_partitions(spark, monkeypatch, index_dir):
    """A distributed prefix search's shard tasks open only the ``part=``
    directories of the expansion's terms, read doc ids only, and find
    the docs a decode of every postings file finds."""
    from emailindexer_spark.plans.builder import term_part_py
    from emailindexer_spark.plans.parser import Prefix
    from emailindexer_spark.plans.planner import SearchEngine

    eng = SearchEngine(spark, index_dir)
    assert eng.term_dict is not None
    hits, scans, keys = _shard_reads(monkeypatch, eng, Prefix(prefix="t"))
    parts = {term_part_py(t, eng.num_parts) for t in keys}
    opened = {_part_of(f) for files, _, _ in scans for f in files}
    assert keys and opened == parts
    assert all("b_tfs" not in cols and "b_pos" not in cols for _, _, cols in scans)
    exp = _full_scan_docs(index_dir, lambda t: t.startswith("t"))
    assert set(hits) == exp and exp
    assert set(hits.values()) == {1.0}
    got = {r["doc_id"] for r in eng._shard_scores(eng._resolve_node(Prefix(prefix="t"))).collect()}
    assert got == exp


def test_fuzzy_and_wildcard_plans_prune_partitions(spark, monkeypatch, index_dir):
    """Fuzzy and wildcard expansions resolve to concrete terms, so their
    shard tasks open only those terms' ``part=`` directories; fuzzy's
    blended BM25 reads tf/norm payloads but never positions."""
    import re

    from emailindexer_spark.plans.builder import term_part_py
    from emailindexer_spark.plans.parser import Fuzzy, Wildcard
    from emailindexer_spark.plans.planner import SearchEngine

    eng = SearchEngine(spark, index_dir)
    base = eng.term_dict.orderBy("term").first()["term"]
    pattern = base[:1] + "?" + base[2:] if len(base) > 2 else base + "*"
    for node, tf_cols in ((Fuzzy(text=base, max_edits=1), True), (Wildcard(pattern=pattern), False)):
        hits, scans, keys = _shard_reads(monkeypatch, eng, node)
        parts = {term_part_py(t, eng.num_parts) for t in keys}
        opened = {_part_of(f) for files, _, _ in scans for f in files}
        assert keys and hits and opened == parts, node
        for _, terms, cols in scans:
            assert set(terms) <= set(keys) and "b_pos" not in cols, node
            assert ("b_tfs" in cols and "b_norms" in cols) == tf_cols, node
        monkeypatch.undo()
    rx = re.compile(
        "^" + "".join(".*" if c == "*" else "." if c == "?" else re.escape(c) for c in pattern) + "$"
    )
    exp = _full_scan_docs(index_dir, lambda t: ":" not in t and rx.match(t))
    assert set(hits) == exp


def test_load_transcripts_jsonl_and_csv(spark, tmp_path):
    from emailindexer_spark.sources.fixtures import make_transcripts
    from emailindexer_spark.sources.transcripts import load_transcripts

    pdf = make_transcripts(200, seed=3)
    jl = str(tmp_path / "t.jsonl")
    pdf.to_json(jl, orient="records", lines=True, date_format="iso")
    got = load_transcripts(spark, jl)
    assert got.count() == len(pdf)
    assert dict(got.dtypes)["ts"] == "timestamp"
    cv = str(tmp_path / "t.csv")
    pdf.to_csv(cv, index=False)
    got_csv = load_transcripts(spark, cv)
    assert got_csv.count() == len(pdf)
    # same (conv_id, turn_idx, text) content through both formats
    a = {(r["conv_id"], r["turn_idx"], r["text"]) for r in got.collect()}
    b = {(r["conv_id"], r["turn_idx"], r["text"]) for r in got_csv.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# driver-staged small builds


@pytest.fixture(params=["driver", "spark"])
def build_path(request, monkeypatch):
    """Run the test's builds on one path: the driver path takes every
    bare-parquet input the tests use; a negative cap forces the sharded
    route ("spark")."""
    import emailindexer_spark.plans.builder as B

    if request.param == "spark":
        monkeypatch.setattr(B, "DRIVER_MAX_TURNS", -1)
    return request.param


def _parquet(tmp_path, pdf, name="t.parquet"):
    p = str(tmp_path / name)
    pdf.to_parquet(p, index=False)
    return p


def _build_on(spark, monkeypatch, path, d, src, **params):
    """Build ``src`` (a parquet path or a DataFrame) into ``d`` on
    ``path``; returns the manifest, whose every stage must say so."""
    import emailindexer_spark.plans.builder as B

    with monkeypatch.context() as m:
        if path == "spark":
            m.setattr(B, "DRIVER_MAX_TURNS", -1)
        df = spark.read.parquet(src) if isinstance(src, str) else src
        man = IndexBuilder(
            spark, d, num_parts=8, heavy_df_threshold=500, split_target=400, **params
        ).build(df)
    assert {st["path"] for st in man.stages.values()} == {path}
    assert all(st["seconds"] >= 0 for st in man.stages.values())
    return man


@pytest.mark.slow
@pytest.mark.parametrize(
    "params,sparse",
    [
        ({}, False),
        ({"positions": False}, False),
        ({"fields": ("text", "role")}, False),
        ({"sanitize": True}, False),
        ({}, True),
    ],
    ids=["heavy_splits", "no_positions", "two_fields", "sanitize", "sparse_turns"],
)
def test_driver_and_spark_builds_write_identical_tables(
    spark, monkeypatch, tmp_path, index_digest, corpus_pdf, params, sparse
):
    """A small bare-parquet build staged on the driver (one kernel call
    at base 0) and a sharded build (one kernel call per shard, in Spark
    tasks) write the same index: every term's decoded postings and
    positions, rows, schemas, term_dict, conv_offsets and manifest
    stats (index_digest: how postings split into rows and files may
    differ) — and still do after a driver append on top of each."""
    from emailindexer_spark.streaming.ingest import incremental_append

    convs = corpus_pdf.conv_id.unique()
    keep = set(convs[: 3 * len(convs) // 4])
    base = corpus_pdf[corpus_pdf.conv_id.isin(keep)]
    batch = corpus_pdf[~corpus_pdf.conv_id.isin(keep)]
    if sparse:  # every other conversation's turns numbered 0, 2, 4, ...
        odd = base.conv_id.isin(set(convs[1::2]))
        base = base.assign(turn_idx=base.turn_idx.where(~odd, base.turn_idx * 2))
    src = _parquet(tmp_path, base.sample(frac=1, random_state=5))
    states = {}
    for path in ("driver", "spark"):
        d = str(tmp_path / path)
        man = _build_on(spark, monkeypatch, path, d, src, **params)
        assert man.is_complete("conv_offsets") == (not sparse)
        assert len(os.listdir(os.path.join(d, "doc_index"))) == (1 if path == "driver" else 8)
        states[path] = [index_digest(d)]
        incremental_append(spark, d, spark.createDataFrame(batch))
        states[path].append(index_digest(d))
    a, b = states["driver"], states["spark"]
    assert a[0]["postings"] and bool(a[0]["conv_offsets"]) != sparse
    for when, sa, sb in zip(("build", "append"), a, b):
        assert sa.keys() == sb.keys()
        for k in sa:
            assert sa[k] == sb[k], (when, k)


@pytest.mark.slow
def test_small_build_path_and_jobs(spark, spark_jobs, monkeypatch, tmp_path, corpus_pdf):
    """A bare-parquet build within the caps runs one Spark job, the
    read's schema inference: its files are read with pyarrow.  A
    filtered input and an input over either cap are staged in
    shards."""
    import emailindexer_spark.plans.builder as B

    src = _parquet(tmp_path, corpus_pdf)
    d = str(tmp_path / "ix")
    jobs = spark_jobs(
        lambda: IndexBuilder(spark, d, num_parts=8).build(spark.read.parquet(src))
    )
    assert len(jobs) <= 1, jobs
    man = Manifest.load_or_create(d)
    assert {st["path"] for st in man.stages.values()} == {"driver"}
    assert man.stages["doc_index"]["read"] == "files"
    assert man.stats["n_rows"] == len(corpus_pdf)

    filtered = spark.read.parquet(src).where(F.col("turn_idx") >= 0)
    assert IndexBuilder(spark, d, num_parts=8).build(filtered).stages["postings"]["path"] == "spark"
    bp = B.bare_parquet(spark.read.parquet(src))
    rows, nbytes = bp.rows, bp.nbytes
    assert rows == len(corpus_pdf) and 0 < nbytes <= B.DRIVER_MAX_INPUT_BYTES
    for cap, over in (("DRIVER_MAX_TURNS", rows - 1), ("DRIVER_MAX_INPUT_BYTES", nbytes - 1)):
        with monkeypatch.context() as m:
            m.setattr(B, cap, over)
            man = IndexBuilder(spark, d, num_parts=8).build(spark.read.parquet(src))
        assert {st["path"] for st in man.stages.values()} == {"spark"}, cap


def test_validate_raises_on_both_paths(spark, tmp_path, build_path, corpus_pdf):
    bad = corpus_pdf.head(200).assign(turn_idx=lambda x: x.turn_idx + 1)
    src = _parquet(tmp_path, bad)
    with pytest.raises(ValueError, match="turn_idx is not dense from 0 within some conv_id"):
        IndexBuilder(spark, str(tmp_path / "ix"), validate=True).build(spark.read.parquet(src))


@pytest.mark.slow
def test_fresh_driver_build_replaces_an_existing_index(
    spark, monkeypatch, tmp_path, index_state, corpus_pdf
):
    """A fresh build over an index that has seen appends and a
    compaction leaves none of its files, stages or stats behind: the
    directory equals a build of the same input into an empty one."""
    from emailindexer_spark.streaming.compact import compact_index
    from emailindexer_spark.streaming.ingest import incremental_append

    old, new = corpus_pdf.head(1500), corpus_pdf.tail(1000)
    d, ref = str(tmp_path / "ix"), str(tmp_path / "ref")
    _build_on(spark, monkeypatch, "driver", d, _parquet(tmp_path, old, "old.parquet"))
    incremental_append(spark, d, spark.createDataFrame(old.assign(conv_id="zz_" + old.conv_id)))
    compact_index(spark, d)
    src = _parquet(tmp_path, new, "new.parquet")
    _build_on(spark, monkeypatch, "driver", d, src)
    _build_on(spark, monkeypatch, "driver", ref, src)

    def files(root):
        return sorted(
            os.path.relpath(os.path.join(r, f), root)
            for r, _dirs, names in os.walk(root)
            for f in names
            if os.path.basename(r) != "_snapshots"
        )

    assert files(d) == files(ref)
    assert index_state(d) == index_state(ref)


# ---------------------------------------------------------------------------
# reading bare parquet inputs with pyarrow


def _bare_inputs(spark, tmp_path, pdf):
    """name -> a bare parquet relation of ``pdf``'s rows."""
    three = tmp_path / "three"
    three.mkdir()
    for i, (a, b) in enumerate([(0, 300), (300, 1000), (1000, len(pdf))]):
        pdf.iloc[a:b].to_parquet(str(three / f"f{i}.parquet"), index=False)
    spark.createDataFrame(pdf).repartition(3).write.parquet(str(tmp_path / "by_spark"))
    schema = "conv_id string, turn_idx long, role string, text string, tool string, ts timestamp"
    return {
        # the scan reads the largest file first, not in listing order
        "three_files": spark.read.parquet(str(three)),
        # Spark writes LTZ timestamps, pandas naive ones
        "spark_written": spark.read.parquet(str(tmp_path / "by_spark")),
        "pandas_written": spark.read.parquet(_parquet(tmp_path, pdf)),
        # a read schema that widens turn_idx to long
        "widened": spark.read.schema(schema).parquet(str(three)),
    }


@pytest.mark.slow
def test_bare_parquet_read_matches_collect(spark, monkeypatch, tmp_path, index_state, corpus_pdf):
    """read_bare_parquet returns the table toArrow() collects, for
    several files of unequal sizes, Spark- and pandas-written files and
    a widening read schema; a build from each input records
    read="files" and writes the same tables as the collect route."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    import emailindexer_spark.plans.builder as B

    pdf = corpus_pdf.head(1500)
    for name, df in _bare_inputs(spark, tmp_path, pdf).items():
        bp = B.bare_parquet(df)
        assert bp is not None and bp.rows == len(pdf), name
        got, exp = B.read_bare_parquet(df, bp), df.toArrow()
        assert got is not None and got.equals(exp), name
        if name == "three_files":
            listing = pa.concat_tables(papq.read_table(f) for f in bp.files)
            assert not listing.column("conv_id").equals(exp.column("conv_id"))
        states = {}
        for read in ("files", "collect"):
            with monkeypatch.context() as m:
                if read == "collect":
                    m.setattr(B, "read_bare_parquet", lambda df, bp: None)
                d = str(tmp_path / f"ix_{name}_{read}")
                man = _build_on(spark, monkeypatch, "driver", d, df)
            assert man.stages["doc_index"]["read"] == read, name
            states[read] = index_state(d)
        assert states["files"] == states["collect"], name


@pytest.mark.slow
def test_hive_partitioned_input_builds_with_collect(
    spark, monkeypatch, tmp_path, index_state, corpus_pdf
):
    """A hive-partitioned directory is a bare relation whose partition
    column the files do not hold: the driver build collects it, and
    writes the index a flat file of the same rows gives."""
    import emailindexer_spark.plans.builder as B

    pdf = corpus_pdf.head(1500)
    hive = str(tmp_path / "hive")
    pdf.to_parquet(hive, partition_cols=["role"], index=False)
    df = spark.read.parquet(hive)
    bp = B.bare_parquet(df)
    assert bp is not None and bp.rows == len(pdf) and B.read_bare_parquet(df, bp) is None
    man = _build_on(spark, monkeypatch, "driver", str(tmp_path / "ix"), df)
    assert man.stages["doc_index"]["read"] == "collect"
    _build_on(spark, monkeypatch, "driver", str(tmp_path / "flat"), _parquet(tmp_path, pdf))
    assert index_state(str(tmp_path / "ix")) == index_state(str(tmp_path / "flat"))


@pytest.mark.slow
def test_driver_build_commits_in_one_write(spark, monkeypatch, tmp_path, index_state, corpus_pdf):
    """A driver build writes its manifest once after creating it, and a
    crash before that write commits no stage and marks no shard; resume
    is then a fresh driver build, and writes the postings a fresh build
    writes."""
    import emailindexer_spark.plans.builder as B

    src = _parquet(tmp_path, corpus_pdf.head(1500))
    writes = []
    flush = Manifest._flush

    def counted(self):
        writes.append(self._held)
        flush(self)

    with monkeypatch.context() as m:
        m.setattr(Manifest, "_flush", counted)
        _build_on(spark, monkeypatch, "driver", str(tmp_path / "ref"), src)
    # the creation, the build's commit; the rest were held back
    assert writes.count(False) == 2, writes

    def crash(*a, **k):
        raise RuntimeError("crash after staging")

    d = str(tmp_path / "ix")
    b = IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400)
    with monkeypatch.context() as m:
        m.setattr(B, "_commit_build_metrics", crash)
        with pytest.raises(RuntimeError, match="crash after staging"):
            b.build(spark.read.parquet(src))
    man = Manifest.load_or_create(d)
    assert man.stages == {} and man.stats == {}
    man = b.build(spark.read.parquet(src), resume=True)
    assert {st["path"] for st in man.stages.values()} == {"driver"}
    assert index_state(d)["postings"] == index_state(str(tmp_path / "ref"))["postings"]


# ---------------------------------------------------------------------------
# sharded builds


def test_sharded_build_layout(spark, index_dir, corpus_pdf):
    """A sharded build (the shared fixture: a createDataFrame input, 8
    shards): shard s's doc_index file is part-{s:05d}.parquet, holding
    one contiguous doc range, the ranges tiling [0, n_rows) in name
    order; every conversation lies in exactly one shard; each postings
    part is one file whose every row lies in one shard's range; build
    split ids stay below an append's 1_000_000; and conv_offsets tiles
    [0, n_rows)."""
    import pyarrow.parquet as papq

    man = Manifest.load_or_create(index_dir)
    n = man.stats["n_rows"]
    files = sorted(glob.glob(os.path.join(index_dir, "doc_index", "*.parquet")))
    assert len(files) == 8 and n == len(corpus_pdf)
    edge, seen = 0, set()
    for s, f in enumerate(files):
        assert os.path.basename(f) == f"part-{s:05d}.parquet"
        t = papq.read_table(f, columns=["doc_id", "conv_id"]).to_pandas()
        assert t.doc_id.tolist() == list(range(edge, edge + len(t)))
        edge += len(t)
        convs = set(t.conv_id)
        assert not convs & seen
        seen |= convs
    assert edge == n and seen == set(corpus_pdf.conv_id)
    p = _postings_layout(index_dir)
    assert p.split_id.max() < 1_000_000
    assert p.file.str.endswith(os.path.join("", "part-00000.parquet")).all()
    assert p.file.nunique() == len(glob.glob(os.path.join(index_dir, "postings", "part=*")))
    shard = _shard_of(index_dir, p.first_doc)
    assert set(shard) == set(range(8)) and (shard == _shard_of(index_dir, p.last_doc)).all()
    assert man.is_complete("conv_offsets")
    co = papq.read_table(glob.glob(os.path.join(index_dir, "conv_offsets", "*.parquet"))[0]).to_pandas()
    assert co.conv_offset.tolist() == [0, *(co.conv_offset + co.n_turns).tolist()[:-1]]
    assert int(co.conv_offset.iloc[-1] + co.n_turns.iloc[-1]) == n


@pytest.mark.slow
def test_compacting_a_sharded_build_gives_the_driver_build(
    spark, monkeypatch, tmp_path, index_state, corpus_pdf
):
    """Heavy terms split within shards keep (term, split_id) unique and
    split order doc order; compaction re-cuts every term from its exact
    df at base 0, so a compacted sharded build holds the postings a
    driver build of the same rows writes, row for row: every column and
    ``part``."""
    import emailindexer_spark.plans.builder as B
    from emailindexer_spark.streaming.compact import compact_index

    src = _parquet(tmp_path, corpus_pdf)
    one, many = str(tmp_path / "one"), str(tmp_path / "many")
    for d in (one, many):
        with monkeypatch.context() as m:
            if d == many:
                m.setattr(B, "DRIVER_MAX_TURNS", -1)
            IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=100, split_target=40).build(
                spark.read.parquet(src)
            )
    p = _postings_layout(many)
    p["shard"] = _shard_of(many, p.first_doc)
    assert p.duplicated(["shard", "term"]).any(), "heavy terms must split within a shard"
    assert not p.duplicated(["term", "split_id"]).any()
    p = p.sort_values(["term", "split_id"], ignore_index=True)
    same = p.term.to_numpy()[1:] == p.term.to_numpy()[:-1]
    assert (p.last_doc.to_numpy()[:-1][same] < p.first_doc.to_numpy()[1:][same]).all()
    want = index_state(one)["postings"]
    assert want != index_state(many)["postings"]
    compact_index(spark, many)
    assert index_state(many)["postings"] == want
    assert any(sid > 0 for _t, sid in want)


def test_index_digest_sees_one_changed_tf(spark, tmp_path, index_digest, corpus_pdf):
    """A planted defect — one posting's tf off by one — changes the
    digest, in that term's stream only."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from emailindexer_spark.functions.codec import decode_block, varbyte_encode

    d, bad = str(tmp_path / "ix"), str(tmp_path / "bad")
    IndexBuilder(spark, d, num_parts=4).build(
        spark.read.parquet(_parquet(tmp_path, corpus_pdf.head(600)))
    )
    shutil.copytree(d, bad)
    f = sorted(glob.glob(os.path.join(bad, "postings", "part=*", "*.parquet")))[0]
    rows = papq.read_table(f).to_pylist()
    r = rows[0]
    _docs, tfs, _norms = decode_block(r["b_first"][0], r["b_docs"][0], r["b_tfs"][0], r["b_norms"][0])
    tfs[0] += 1
    r["b_tfs"][0] = varbyte_encode(tfs.astype("uint64"))
    papq.write_table(pa.Table.from_pylist(rows, schema=papq.read_schema(f)), f)
    a, b = index_digest(d), index_digest(bad)
    assert a != b
    diff = [t for t in a["postings"] if a["postings"][t] != b["postings"][t]]
    assert diff == [r["term"]]


def _assert_every_chunk_zstd(d, when):
    """Every column chunk of every parquet file under ``d`` is zstd,
    read from the footers; term_dict keeps its 32768-row row groups."""
    import pyarrow.parquet as papq

    files = glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    assert files, when
    other = set()
    for f in files:
        md = papq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                codec = md.row_group(g).column(c).compression
                if codec != "ZSTD":
                    other.add((os.path.relpath(f, d), codec))
    assert not other, (when, sorted(other)[:5])
    for f in glob.glob(os.path.join(d, "term_dict", "*.parquet")):
        md = papq.ParquetFile(f).metadata
        sizes = [md.row_group(g).num_rows for g in range(md.num_row_groups)]
        assert all(n == 32768 for n in sizes[:-1]) and sizes[-1] <= 32768, (when, f, sizes)


@pytest.mark.slow
def test_every_write_path_writes_zstd(spark, monkeypatch, tmp_path, corpus_pdf):
    """Driver and sharded builds, driver and over-cap appends, and
    compaction on the driver loop and on the task route all write their
    parquet files with zstd, the shard files and term_parts markers a
    sharded stage job leaves for the driver included.  The driver
    build's input carries a turn of 40k distinct words, so its
    term_dict spans two row groups."""
    import pandas as pd
    import pyarrow.parquet as papq

    import emailindexer_spark.plans.builder as B
    from emailindexer_spark.plans.planner import SearchEngine
    from emailindexer_spark.streaming.compact import compact_index
    from emailindexer_spark.streaming.ingest import incremental_append

    convs = corpus_pdf["conv_id"].unique()
    base = corpus_pdf[corpus_pdf.conv_id.isin(set(convs[: len(convs) // 2]))]
    b1 = corpus_pdf[corpus_pdf.conv_id.isin(set(convs[len(convs) // 2 : 3 * len(convs) // 4]))]
    b2 = corpus_pdf[corpus_pdf.conv_id.isin(set(convs[3 * len(convs) // 4 :]))]
    wide = base.iloc[[0]].assign(conv_id="zz-wide", text=" ".join(f"zq{i:05d}" for i in range(40_000)))
    src = str(tmp_path / "base.parquet")
    pd.concat([base, wide]).to_parquet(src, index=False)

    marks_read, staged = B._shard_marks, []

    def check_staged(marks, shards):
        # after a sharded stage job: its shard files and term_parts
        # markers, before the driver merges and removes them
        done = marks_read(marks, shards)
        if done and len(done) == len(shards):
            staged.append(glob.glob(os.path.join(marks, "*.parquet")))
            _assert_every_chunk_zstd(marks.split("_staging")[0], "staged shards")
        return done

    kw = dict(num_parts=4, heavy_df_threshold=300, split_target=150)
    driver_ix, sharded_ix = str(tmp_path / "driver"), str(tmp_path / "sharded")
    IndexBuilder(spark, driver_ix, **kw).build(spark.read.parquet(src))
    assert Manifest.load_or_create(driver_ix).stages["postings"]["path"] == "driver"
    assert papq.ParquetFile(glob.glob(f"{driver_ix}/term_dict/*.parquet")[0]).metadata.num_row_groups > 1
    _assert_every_chunk_zstd(driver_ix, "driver build")
    with monkeypatch.context() as m:
        m.setattr(B, "DRIVER_MAX_TURNS", -1)
        m.setattr(B, "_shard_marks", check_staged)
        IndexBuilder(spark, sharded_ix, **kw).build(spark.createDataFrame(base))
    assert Manifest.load_or_create(sharded_ix).stages["postings"]["path"] == "spark"
    _assert_every_chunk_zstd(sharded_ix, "sharded build")

    incremental_append(spark, sharded_ix, spark.createDataFrame(b1))
    assert Manifest.load_or_create(sharded_ix).stages["ingest_000001"]["path"] == "driver"
    _assert_every_chunk_zstd(sharded_ix, "driver append")
    compact_index(spark, sharded_ix)
    assert Manifest.load_or_create(sharded_ix).stages["compact_0001"]["path"] == "driver"
    _assert_every_chunk_zstd(sharded_ix, "driver-loop compaction")

    with monkeypatch.context() as m:
        m.setattr(B, "DRIVER_MAX_TURNS", -1)
        m.setattr(B, "_shard_marks", check_staged)
        incremental_append(spark, sharded_ix, spark.createDataFrame(b2))
    assert len(staged) == 2 and all(staged), staged
    assert Manifest.load_or_create(sharded_ix).stages["ingest_000002"]["path"] == "spark"
    _assert_every_chunk_zstd(sharded_ix, "over-cap append")
    monkeypatch.setattr(SearchEngine, "LOCAL_MAX_POSTINGS", 0)
    compact_index(spark, sharded_ix)
    assert Manifest.load_or_create(sharded_ix).stages["compact_0002"]["path"] == "spark"
    _assert_every_chunk_zstd(sharded_ix, "task-route compaction")
