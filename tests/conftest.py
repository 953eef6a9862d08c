import glob
import os
import shutil
import tempfile

import pytest

from emailindexer_spark import get_spark
from emailindexer_spark.sources.fixtures import make_transcripts


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)``: the Spark job ids started while ``fn`` runs."""
    import itertools

    sc = spark.sparkContext
    calls = itertools.count()

    def jobs(fn):
        # a group per call: the status tracker keeps a group's jobs
        # after the call that started them
        group = f"job_probe_{next(calls)}"
        sc.setJobGroup(group, group)
        try:
            fn()
            return list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    return jobs


@pytest.fixture(scope="session")
def assert_shards_agree():
    """``assert_shards_agree(local, dist, queries)``: ``dist``, an engine
    forced onto the distributed tier, run on 1, 3 and the default number
    of doc-range shards, gives the rows the local tier gives for every
    query in both modes, with k=None (every hit)."""
    from emailindexer_spark.plans.results import LocalResult

    def rows(df):
        return [(r.rank, r.doc_id, r.conv_id, r.turn_idx, round(r.score, 9)) for r in df.collect()]

    def check(local, dist, queries):
        want = {}
        for q in queries:
            for mode in ("turns", "conversations"):
                res = local.search(q, k=None, mode=mode)
                assert isinstance(res, LocalResult), (q, mode)
                want[q, mode] = rows(res)
        assert any(want.values())
        for n in (1, 3, None):
            if n is not None:
                dist._shard_count = lambda n=n: n
            try:
                for (q, mode), w in want.items():
                    assert rows(dist.search(q, k=None, mode=mode)) == w, (n, q, mode)
            finally:
                dist.__dict__.pop("_shard_count", None)

    return check


@pytest.fixture(scope="session")
def corpus_pdf():
    return make_transcripts(3000, seed=42)


@pytest.fixture(scope="session")
def corpus_sdf(spark, corpus_pdf):
    return spark.createDataFrame(corpus_pdf)


@pytest.fixture(scope="session")
def index_dir(spark, corpus_sdf):
    """One shared built index (heavy thresholds low → skew path exercised)."""
    from emailindexer_spark.plans.builder import IndexBuilder

    d = tempfile.mkdtemp(prefix="ix_shared_")
    IndexBuilder(
        spark, d, num_parts=8, heavy_df_threshold=500, split_target=400
    ).build(corpus_sdf)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def oracle_ix(corpus_pdf):
    from emailindexer_spark.oracle import build_oracle_index

    return build_oracle_index(
        list(corpus_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    )


@pytest.fixture(scope="session")
def doc_norm_lookup():
    """``doc_norm_lookup(d)`` → ``norm(key, docs)``: the norm byte of
    each of ``docs`` in ``key``'s field, from the doc_index of index
    ``d``, the one copy of the norms since postings stopped carrying
    them (0.5.0): a bare key reads the default field's ``norm`` column,
    a ``field:term`` key that field's ``norm_{field}``."""
    import numpy as np
    import pyarrow.dataset as ds

    from emailindexer_spark.sources.checkpoint import Manifest

    def lookup(d):
        fields = Manifest.load_or_create(d).params.get("fields", ["text"])
        names = ["norm", *(f"norm_{f}" for f in fields[1:])]
        t = ds.dataset(os.path.join(d, "doc_index"), format="parquet").to_table(columns=["doc_id", *names])
        ids = t.column("doc_id").to_numpy()
        cols = {}
        for f, name in zip(fields, names):
            cols[f] = np.full(int(ids.max()) + 1 if ids.size else 0, -1, np.int64)
            cols[f][ids] = t.column(name).to_numpy()

        def norm(key, docs):
            field = key.split(":", 1)[0] if ":" in key else fields[0]
            return cols.get(field, cols[fields[0]])[np.asarray(docs, np.int64)]

        return norm

    return lookup


@pytest.fixture(scope="session")
def index_state(spark, doc_norm_lookup):
    """``index_state(d)``: everything a build or an append writes under
    index directory ``d``, file names and layout aside: postings rows
    per (term, split_id) byte for byte (plus ``part``, and the norm of
    each of the row's postings taken from doc_index), the other tables'
    rows (build_metrics without its snapshot_id), the Spark-read schema
    of every table, and the manifest's stats and stages (timings and
    routes aside: ``path``, ``read``)."""
    import pyarrow.parquet as papq

    from emailindexer_spark.functions.codec import decode_block
    from emailindexer_spark.plans.builder import INDEX_TABLES
    from emailindexer_spark.sources.checkpoint import Manifest

    def rows(d, t):
        return sorted(tuple(r) for r in spark.read.parquet(os.path.join(d, t)).collect())

    def state(d):
        norm = doc_norm_lookup(d)
        post = {}
        for f in glob.glob(os.path.join(d, "postings", "part=*", "*.parquet")):
            for r in papq.read_table(f).to_pylist():
                r["part"] = f.split("part=")[1].split(os.sep)[0]
                docs = [x for blk in zip(r["b_first"], r["b_docs"], r["b_tfs"]) for x in decode_block(*blk)[0]]
                r["norms"] = norm(r["term"], docs).tolist()
                post[(r["term"], r["split_id"])] = repr(sorted(r.items()))
        out = {"postings": post}
        for t in ("doc_index", "doc_stats", "term_dict"):
            out[t] = rows(d, t)
        out["build_metrics"] = [
            r for r in spark.read.parquet(os.path.join(d, "build_metrics"))
            .drop("snapshot_id")
            .orderBy("part")
            .collect()
        ]
        out["schemas"] = {
            t: spark.read.parquet(os.path.join(d, t)).schema
            for t in INDEX_TABLES
            if os.path.isdir(os.path.join(d, t))
        }
        man = Manifest.load_or_create(d)
        out["stats"] = man.stats
        out["stages"] = {
            k: {x: y for x, y in v.items() if x not in ("committed_at", "seconds", "path", "read")}
            for k, v in man.stages.items()
        }
        return out

    return state


@pytest.fixture(scope="session")
def index_digest(spark, doc_norm_lookup):
    """``index_digest(d)``: what the index under ``d`` holds, its layout
    aside — per term, the decoded (doc, tf, norm, positions) stream in
    doc order, each norm taken from doc_index in the term's field; the
    other tables' sorted rows; the Spark-read schema of
    every table; the manifest's stats but the layout ones
    (``bytes_compressed``, ``skew_splits``) and its stage names.  The
    same rows staged by any route, in one shard or many, digest alike;
    how postings split into rows and files, and build_metrics, may
    differ."""
    import numpy as np
    import pyarrow.parquet as papq

    from emailindexer_spark.functions.codec import decode_block, decode_positions
    from emailindexer_spark.plans.builder import INDEX_TABLES
    from emailindexer_spark.sources.checkpoint import Manifest

    cols = ["term", "b_first", "b_docs", "b_tfs", "b_pos"]

    def postings(d):
        norm = doc_norm_lookup(d)
        out = {}
        for f in glob.glob(os.path.join(d, "postings", "part=*", "*.parquet")):
            for r in papq.read_table(f, columns=cols).to_pylist():
                stream = out.setdefault(r["term"], [])
                for first, bd, bt, bp in zip(*(r[c] for c in cols[1:])):
                    docs, tfs = decode_block(first, bd, bt)
                    norms = norm(r["term"], docs)
                    pos = (
                        np.split(decode_positions(bp, tfs), np.cumsum(tfs)[:-1])
                        if bp
                        else [np.empty(0, np.int64)] * docs.size
                    )
                    stream += zip(
                        docs.tolist(), tfs.tolist(), norms.tolist(), (tuple(p.tolist()) for p in pos)
                    )
        return {t: sorted(s) for t, s in out.items()}

    def digest(d):
        out = {"postings": postings(d)}
        for t in ("doc_index", "doc_stats", "term_dict"):
            out[t] = sorted(tuple(r) for r in spark.read.parquet(os.path.join(d, t)).collect())
        out["schemas"] = {
            t: spark.read.parquet(os.path.join(d, t)).schema
            for t in INDEX_TABLES
            if os.path.isdir(os.path.join(d, t))
        }
        man = Manifest.load_or_create(d)
        out["stats"] = {
            k: v for k, v in man.stats.items() if k not in ("bytes_compressed", "skew_splits")
        }
        out["stages"] = sorted(man.stages)
        return out

    return digest
