"""Multi-field scoring parity: Spark engine vs pure-Python oracle.

The reference indexes subject+body with INDEPENDENT per-field df/N/
norms and sums the per-field disjunction (MultiFieldQueryParser,
EmailIndexSearcher.java:49-53; EmailIndexGenerator.java:90-91).  Here
the two-field fixture is (text, role): bare terms search both fields,
``role:assistant`` routes, unknown fields match nothing (Lucene parity).
"""

import shutil
import tempfile

import pytest

from emailindexer_spark.oracle import build_oracle_index_fields
from emailindexer_spark.oracle import search as osearch
from emailindexer_spark.plans.builder import IndexBuilder
from emailindexer_spark.plans.parser import QueryParseError
from emailindexer_spark.plans.planner import SearchEngine

REL_TOL = 1e-4
FIELDS = ("text", "role")


@pytest.fixture(scope="module")
def mf_index(spark, corpus_sdf):
    d = tempfile.mkdtemp(prefix="ix_mf_")
    IndexBuilder(
        spark, d, num_parts=8, heavy_df_threshold=500, split_target=400,
        fields=FIELDS,
    ).build(corpus_sdf)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def mf_engine(spark, mf_index):
    return SearchEngine(spark, mf_index)


@pytest.fixture(scope="module")
def mf_oracle(corpus_pdf):
    rows = [
        (r.conv_id, r.turn_idx, {"text": r.text, "role": r.role})
        for r in corpus_pdf.itertuples(index=False)
    ]
    return build_oracle_index_fields(rows, FIELDS)


def _assert_match(got, exp, qid):
    assert [d for d, _ in got] == [d for d, _ in exp], f"{qid}: rank mismatch"
    for (d, a), (_, b) in zip(got, exp):
        assert abs(a - b) <= REL_TOL * max(1.0, abs(b)), f"{qid}: doc {d}: {a} vs {b}"


MF_QUERIES = [
    "qojema",                      # bare term → text OR role (role won't match)
    "role:assistant",              # routed: role field stats (N=rows, avgdl=1)
    "text:qojema",                 # explicit default field
    "+role:user qojema",           # MUST on role + SHOULD on both fields
    "role:assistant qojema",       # cross-field sum on docs matching both
    "qo* role:ass*",               # per-field prefix constant scores
    '"noza guka"',                 # bare phrase → both fields (text matches)
    "role:user -qojema",           # field MUST with bare NOT
]


def test_multifield_parity(mf_engine, mf_oracle):
    for q in MF_QUERIES:
        exp = osearch(mf_oracle, q, k=15)
        got = [
            (r["doc_id"], r["score"])
            for r in mf_engine.search(q, k=15, use_wand=False).collect()
        ]
        _assert_match(got, exp, q)
        assert got or q in ("role:user -qojema",), f"{q}: fixture should match"


def test_multifield_flat_or_parity(mf_engine, mf_oracle):
    # flat bare-term disjunctions on a multi-field index sum per-field
    # keys, each scored with its own field's avgdl — results must equal
    # the oracle exactly (round-3 VERDICT item 6)
    for q in ["qojema", "qojema fuhepi", "assistant qojema", "noza guka fuhepi"]:
        exp = osearch(mf_oracle, q, k=15)
        got = [
            (r["doc_id"], r["score"])
            for r in mf_engine.search(q, k=15).collect()
        ]
        _assert_match(got, exp, q)


def test_multifield_field_stats_differ(mf_engine):
    # role is a 1-token field: avgdl exactly 1.0, N = all rows
    n_role, avgdl_role = mf_engine.field_stats["role"]
    assert avgdl_role == pytest.approx(1.0)
    assert n_role == mf_engine.n_rows
    # text stats differ from role stats
    assert mf_engine.field_stats["text"][1] > 5


def test_unknown_field_matches_nothing(mf_engine):
    # Lucene parity (round-2 ADVICE): a query on an unindexed field
    # parses fine and matches zero docs — it must not raise
    assert mf_engine.search("subject:apple", k=5).count() == 0
    # ...and must not poison the rest of a disjunction
    assert mf_engine.search("subject:apple qojema", k=5).count() > 0
    # but a MUST clause on an unindexed field kills the whole query
    assert mf_engine.search("+subject:apple qojema", k=5).count() == 0


def test_single_field_engine_unknown_field_matches_nothing(spark, index_dir):
    eng = SearchEngine(spark, index_dir)
    assert eng.search("role:assistant", k=5).count() == 0
    # but the explicit default field name routes fine
    assert eng.search("text:qojema", k=5).count() > 0


def test_field_range_routes_and_bare_range_sums(mf_engine, mf_oracle):
    # role:[a TO u] matches assistant+tool roles; bare range sums fields
    for q in ["role:[a TO u]", "[assistant TO assistant] qojema"]:
        exp = osearch(mf_oracle, q, k=3500)
        got = [
            (r["doc_id"], r["score"])
            for r in mf_engine.search(q, k=3500, use_wand=False).collect()
        ]
        _assert_match(got, exp, q)


def test_default_prefix_does_not_leak_into_other_fields(mf_engine, mf_oracle):
    # "as*" as a BARE prefix searches both fields (role:assistant matches
    # via the role copy) — but the text-field copy alone must not match
    # role keys
    exp = osearch(mf_oracle, "text:as*", k=2000)
    got = [
        (r["doc_id"], r["score"])
        for r in mf_engine.search("text:as*", k=2000, use_wand=False).collect()
    ]
    _assert_match(got, exp, "text:as*")


def test_multifield_randomized_parity(mf_engine, mf_oracle, corpus_pdf):
    # seeded fuzz over the two-field index: bare leaves (both-field sum),
    # text:/role: routing, unknown fields, fuzzy/prefix/phrase mixes
    import numpy as np

    from emailindexer_spark.functions.tokenizer import tokenize

    rng = np.random.default_rng(77)
    vocab = sorted({t for txt in corpus_pdf["text"].head(200) for t in tokenize(txt)})
    vocab = [t for t in vocab if len(t) >= 3]
    roles = ["user", "assistant", "tool"]

    def leaf():
        r = rng.random()
        t = str(rng.choice(vocab))
        if r < 0.25:
            return t
        if r < 0.40:
            return "role:" + str(rng.choice(roles))
        if r < 0.50:
            return "text:" + t
        if r < 0.58:
            return "subject:" + t  # unindexed field: matches nothing
        if r < 0.68:
            return "role:" + str(rng.choice(roles))[:2] + "*"
        if r < 0.78:
            return t + "~1"
        if r < 0.88:
            return f'"{t} {rng.choice(vocab)}"'
        return t + "^2"

    checked = nonempty = 0
    for _ in range(25):
        parts = []
        for _i in range(int(rng.integers(1, 4))):
            p = leaf()
            r = rng.random()
            if r < 0.12:
                p = "+" + p
            elif r < 0.24:
                p = "-" + p
            parts.append(p)
        q = " ".join(parts)
        exp = osearch(mf_oracle, q, k=15)
        got = [
            (r["doc_id"], r["score"])
            for r in mf_engine.search(q, k=15, use_wand=False).collect()
        ]
        _assert_match(got, exp, q)
        checked += 1
        nonempty += bool(got)
    assert checked == 25 and nonempty >= 10


@pytest.mark.slow
def test_multifield_shards_agree(spark, mf_index, mf_engine, assert_shards_agree):
    """On a multi-field index the distributed tier on 1, 3 and the
    default number of shards gives the local tier's rows, nested Bools
    and sloppy phrases included."""
    dist = SearchEngine(spark, mf_index)
    dist._local_search = lambda *a, **k: None
    extra = ["+(qojema OR role:user) -noza", '"noza guka"~2', '"guka noza"~2']
    assert_shards_agree(mf_engine, dist, MF_QUERIES + extra)


def test_field_keys_score_with_their_fields_norms(spark, mf_index, mf_engine):
    """A ``field:term`` key's postings carry doc_index's ``norm_{field}``
    bytes and a bare key's its ``norm``: on the resident local tier, the
    over-cap scan (with the engine's kept norms, and with a per-query
    read of its docs' norms) and a distributed shard's decode of a doc
    range.  The
    two columns differ on the role key's docs (role holds one token a
    doc), so a gather from the wrong field shows."""
    import os
    from functools import partial

    import numpy as np
    import pyarrow.dataset as ds

    import emailindexer_spark.plans.planner as P
    from emailindexer_spark.plans.builder import term_part_py

    t = ds.dataset(os.path.join(mf_index, "doc_index"), format="parquet").to_table(
        columns=["doc_id", "norm", "norm_role"]
    )
    ids = t.column("doc_id").to_numpy()
    norm, norm_role = np.zeros(ids.size, np.int64), np.zeros(ids.size, np.int64)
    norm[ids], norm_role[ids] = t.column("norm").to_numpy(), t.column("norm_role").to_numpy()
    keys = ["qojema", "role:assistant"]
    over = SearchEngine(spark, mf_index)
    over.LOCAL_MAX_POSTINGS = 0  # the per-query scan, with the kept norms
    sparse = SearchEngine(spark, mf_index)
    sparse.LOCAL_MAX_POSTINGS = sparse.LOCAL_MAX_NORM_DOCS = 0  # reading its docs' norms
    lo, hi = mf_engine.n_rows // 3, 2 * mf_engine.n_rows // 3
    parts = [(mf_engine._part_files(term_part_py(k, mf_engine.num_parts)), [k]) for k in keys]
    shard, _ = P._scan_postings(
        parts, 1, lo, hi, partial(P._read_doc_norms, mf_engine._doc_groups, mf_engine.fields, lo, hi)
    )
    for where, got in (
        ("resident", mf_engine._local_term_rows(set(keys), 1)),
        ("scan", over._local_term_rows(set(keys), 1)),
        ("scan, docs' norms", sparse._local_term_rows(set(keys), 1)),
        ("shard", shard),
    ):
        bare, role = got["qojema"], got["role:assistant"]
        assert bare.docs.size and role.docs.size, where
        assert bare.norms.tolist() == norm[bare.docs].tolist(), where
        assert role.norms.tolist() == norm_role[role.docs].tolist(), where
        assert (norm[role.docs] != norm_role[role.docs]).any(), where
    assert not over._resident and not sparse._resident
    assert over._norms is not None and sparse._norms is None
