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


def test_heavy_terms_are_split(spark, index_dir):
    p = spark.read.parquet(os.path.join(index_dir, "postings"))
    splits = p.where(F.col("split_id") > 0)
    assert splits.count() > 1  # FIXTURES.md §6.5: >1 skew split
    # splits of one term cover disjoint, ordered doc ranges
    rows = (
        p.where(F.col("split_id") >= 0)
        .groupBy("term")
        .agg(F.count("*").alias("n"), F.collect_list(F.struct("split_id", "first_doc", "last_doc")).alias("s"))
        .where(F.col("n") > 1)
        .limit(5)
        .collect()
    )
    assert rows
    for r in rows:
        parts = sorted(r["s"], key=lambda x: x["split_id"])
        for a, b in zip(parts, parts[1:]):
            assert a["last_doc"] < b["first_doc"]


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
def test_kill_and_resume_byte_identical(spark, corpus_sdf, index_dir):
    d = tempfile.mkdtemp(prefix="ix_resume_")
    try:
        b = IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400)
        # phase 1: run the full build, then simulate a crash AFTER doc_stats
        # by deleting the postings + metrics stages and their ledger entries
        b.build(corpus_sdf)
        man = Manifest.load_or_create(d)
        for st in ("postings", "build_metrics"):
            shutil.rmtree(os.path.join(d, st))
            man.stages.pop(st)
        man._flush()
        # phase 2: resume must NOT rebuild doc_index/doc_stats, and must
        # reproduce byte-identical postings payloads
        b.build(corpus_sdf, resume=True)
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
    # dl/norm are JVM column expressions (Java regex + arithmetic
    # SmallFloat); they must equal the Python tokenizer + codec exactly
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


def test_prefix_plan_prunes_postings_partitions(spark, index_dir):
    from emailindexer_spark.plans.parser import Prefix
    from emailindexer_spark.plans.planner import SearchEngine

    eng = SearchEngine(spark, index_dir)
    assert eng.term_dict is not None
    node = Prefix(prefix="t")
    df = eng._leaf_df(node, {})
    plan = df._jdf.queryExecution().toString()
    # the postings scan must carry a partition filter (part IN ...), i.e.
    # only term_dict-matched part= directories are read for a prefix
    assert "PartitionFilters" in plan
    import re as _re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "part#" in ln]
    assert pf and _re.search(r"part#\d+L? IN \(", pf[0]), pf
    # and the result equals the dictionary-less full-scan path
    from emailindexer_spark.plans.planner import _decode_docs_only

    full = eng.postings.where(F.col("term").startswith("t"))
    exp = {
        r["doc_id"]
        for r in full.mapInPandas(_decode_docs_only(), "doc_id long").distinct().collect()
    }
    got = {r["doc_id"] for r in df.select("doc_id").collect()}
    assert got == exp and got


def test_fuzzy_and_wildcard_plans_prune_partitions(spark, index_dir):
    from emailindexer_spark.plans.parser import Fuzzy, Wildcard
    from emailindexer_spark.plans.planner import SearchEngine

    eng = SearchEngine(spark, index_dir)
    base = eng.term_dict.orderBy("term").first()["term"]

    # fuzzy: expansion resolves concrete terms, so the postings scan must
    # carry a part IN (...) partition filter like any term lookup
    df = eng._leaf_df(Fuzzy(text=base, max_edits=1), {})
    assert df is not None
    plan = df._jdf.queryExecution().toString()
    import re as _re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "part#" in ln]
    # a single-expansion fuzzy collapses IN (...) to an equality filter
    assert pf and _re.search(r"part#\d+L? (IN \(|= )", pf[0]), plan
    # blended-freq scoring reads tf/norm payloads — but never positions
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "b_docs" in ln]
    assert rs and "b_tfs" in rs[0] and "b_norms" in rs[0] and "b_pos" not in rs[0], rs
    assert df.count() > 0

    # wildcard with a literal prefix: term_dict-driven partition pruning
    w = Wildcard(pattern=base[:1] + "?" + base[2:] if len(base) > 2 else base + "*")
    dfw = eng._leaf_df(w, {})
    assert dfw is not None
    planw = dfw._jdf.queryExecution().toString()
    pfw = [ln for ln in planw.splitlines() if "PartitionFilters" in ln and "part#" in ln]
    assert pfw and _re.search(r"part#\d+L? (IN \(|= )", pfw[0]), planw
    assert dfw.count() > 0


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
    bare-parquet input the tests use; a negative cap forces the Spark
    pipeline."""
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
    spark, monkeypatch, tmp_path, index_state, corpus_pdf, params, sparse
):
    """A small bare-parquet build staged on the driver (one Arrow
    collect, the append's kernel with the exact-df heavy map, pyarrow
    writes) and the Spark pipeline write the same index: postings bytes,
    rows, schemas, term_dict, build_metrics, conv_offsets and manifest
    stats — and still do after a driver append on top of each."""
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
        states[path] = [index_state(d)]
        incremental_append(spark, d, spark.createDataFrame(batch))
        states[path].append(index_state(d))
    a, b = states["driver"], states["spark"]
    assert a[0]["postings"] and any(sid > 0 for _t, sid in a[0]["postings"])
    for when, sa, sb in zip(("build", "append"), a, b):
        assert sa.keys() == sb.keys()
        for k in sa:
            assert sa[k] == sb[k], (when, k)


@pytest.mark.slow
def test_small_build_path_and_jobs(spark, spark_jobs, monkeypatch, tmp_path, corpus_pdf):
    """A bare-parquet build within the caps runs one Spark job, the
    read's schema inference: its files are read with pyarrow.  A
    filtered input and an input over either cap take the Spark
    pipeline."""
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
    crash before that write commits no stage; resume then rebuilds on
    Spark the postings a fresh build writes."""
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
    assert {st["path"] for st in man.stages.values()} == {"spark"}
    assert index_state(d)["postings"] == index_state(str(tmp_path / "ref"))["postings"]
