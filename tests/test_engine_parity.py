"""Golden end-to-end parity: Spark engine vs pure-Python Lucene oracle.

BASELINE.md acceptance: top-k ranks exactly equal, scores within 1e-4
relative, on the full reference query set (FIXTURES.md §3).
"""

import pytest

from emailindexer_spark.oracle import search as osearch
from emailindexer_spark.plans.planner import SearchEngine
from emailindexer_spark.sources.fixtures import reference_queries

REL_TOL = 1e-4


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


@pytest.fixture(scope="module")
def queries(corpus_pdf):
    return reference_queries(corpus_pdf)


def _assert_match(got, exp, qid):
    assert [d for d, _ in got] == [d for d, _ in exp], f"{qid}: rank mismatch"
    for (d, a), (_, b) in zip(got, exp):
        assert abs(a - b) <= REL_TOL * max(1.0, abs(b)), f"{qid}: score mismatch doc {d}: {a} vs {b}"


def test_reference_query_set_exhaustive(engine, oracle_ix, queries):
    for q in queries:
        exp = osearch(oracle_ix, q["query"], k=q["k"], mode=q["mode"])
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(q["query"], k=q["k"], mode=q["mode"], use_wand=False).collect()
        ]
        _assert_match(got, exp, q["query_id"])


def test_rank_column_and_schema(engine):
    rows = engine.search("qojema", k=5).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert set(rows[0].asDict()) == {"rank", "doc_id", "conv_id", "turn_idx", "score"}


def test_with_text_join(engine, corpus_pdf):
    rows = engine.search("qojema", k=3, with_text=True).collect()
    lookup = {
        (r.conv_id, r.turn_idx): r.text for r in corpus_pdf.itertuples(index=False)
    }
    for r in rows:
        # per-turn text equality under stable ordering (input_hint invariant)
        assert r["text"] == lookup[(r["conv_id"], r["turn_idx"])]


def test_phrase_repeated_term_idf(engine, oracle_ix):
    # Lucene PhraseWeight counts a duplicated term's idf per POSITION:
    # "x x" must score 2*idf(x)-weighted, not deduped (regression)
    q = '"qojema qojema"'
    exp = osearch(oracle_ix, q, k=10)
    got = [
        (r["doc_id"], r["score"]) for r in engine.search(q, k=10, use_wand=False).collect()
    ]
    _assert_match(got, exp, "phrase_repeat")
    assert got, "fixture corpus must contain an adjacent heavy-term pair"


def test_unindexed_query_empty(engine):
    assert engine.search("zzzzqqqqxxxx wwwwww", k=10).count() == 0


def test_conversation_collapse_unique_convs(engine):
    rows = engine.search("qojema", k=20, mode="conversations").collect()
    convs = [r["conv_id"] for r in rows]
    assert len(convs) == len(set(convs))


def test_term_range_constant_score(engine, oracle_ix):
    # Lucene TermRangeQuery: constant-score rewrite over [lo TO hi]
    for q in ["[qa TO qp]", "{qa TO qojema}", "[* TO ab]", "[zz TO *]", "[qo TO qp] fuhepi"]:
        exp = osearch(oracle_ix, q, k=2000)
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(q, k=2000, use_wand=False).collect()
        ]
        _assert_match(got, exp, q)
    assert engine.search("[qa TO qp]", k=5).count() > 0


def test_fuzzy_wildcard_slop_parity(engine, oracle_ix):
    # round-3 grammar: fuzzy ~, wildcards ?/*, phrase slop ~k — engine
    # (term_dict expansion / positions greedy-chain) vs pure-Python
    # oracle (vocab scan / bisect greedy-chain)
    nonempty = 0
    for q in [
        "qojema~1",
        "qojema~",            # default 2 edits
        "fuhepi~2 qojema",    # fuzzy in a disjunction
        "q?jema",
        "qo*ma",
        "n?za guka",
        '"noza guka"~2',
        '"qojema qojema"~1',
        '"noza guka"~0',      # slop 0 == exact phrase
    ]:
        exp = osearch(oracle_ix, q, k=20)
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(q, k=20, use_wand=False).collect()
        ]
        _assert_match(got, exp, q)
        nonempty += bool(got)
    assert nonempty >= 7  # the fixture corpus must exercise these


def test_fuzzy_osa_parity(spark, index_dir, oracle_ix, engine):
    # Lucene-exact fuzzy metric behind SearchEngine(fuzzy_transpositions=
    # True): optimal string alignment (adjacent-transposition credit) —
    # engine's vectorized DP vs the oracle's INDEPENDENT scalar _osa.
    # "qojeam" is "qojema" with the last two chars swapped: OSA distance
    # 1 (matches at ~1), classic distance 2 (does not) — so the two
    # metrics must also provably diverge on this corpus.
    eng_osa = SearchEngine(spark, index_dir, fuzzy_transpositions=True)
    queries = ["qojeam~1", "qojeam~2", "fuhepi~1 qojeam~1", "ugka~1"]
    oracle_ix.fuzzy_transpositions = True
    try:
        nonempty = 0
        for q in queries:
            exp = osearch(oracle_ix, q, k=20)
            got = [
                (r["doc_id"], r["score"])
                for r in eng_osa.search(q, k=20, use_wand=False).collect()
            ]
            _assert_match(got, exp, f"osa:{q}")
            nonempty += bool(got)
        assert nonempty >= 2
        osa_docs = {d for d, _ in osearch(oracle_ix, "qojeam~1", k=2000)}
    finally:
        oracle_ix.fuzzy_transpositions = False
    classic_docs = {
        r["doc_id"] for r in engine.search("qojeam~1", k=2000, use_wand=False).collect()
    }
    classic_exp = {d for d, _ in osearch(oracle_ix, "qojeam~1", k=2000)}
    assert classic_docs == classic_exp
    assert osa_docs != classic_docs, "metrics must diverge on a transposed query"


def test_fuzzy_osa_spark_fallback_parity(spark, index_dir, oracle_ix):
    # vocab above the driver cap → the Spark pre-filter (classic ≤ 2k
    # superset) + driver-side exact OSA re-filter must equal the
    # driver-vocab zero-job path
    slow = SearchEngine(spark, index_dir, fuzzy_transpositions=True)
    slow.VOCAB_DRIVER_MAX_ROWS = 0  # force the Spark fallback
    assert slow._driver_vocab() is None
    oracle_ix.fuzzy_transpositions = True
    try:
        for q in ["qojeam~1", "qojeam~2"]:
            exp = osearch(oracle_ix, q, k=20)
            got = [
                (r["doc_id"], r["score"])
                for r in slow.search(q, k=20, use_wand=False).collect()
            ]
            _assert_match(got, exp, f"osa-fallback:{q}")
    finally:
        oracle_ix.fuzzy_transpositions = False


def test_fuzzy_expansion_zero_jobs(engine, spark):
    # driver-vocab expansion: planning a query with SEVERAL fuzzy leaves
    # runs ZERO vocab-scan Spark jobs (Lucene walks its in-memory terms
    # dict in the same place; the Spark-job path is only the >5M-term
    # fallback)
    assert engine._driver_vocab() is not None
    sc = spark.sparkContext
    sc.setJobGroup("fzjobs", "fzjobs")
    df = engine.search("qojema~1 fuhepi~1 guka~1", k=5)  # plan build only
    assert df is not None
    assert len(sc.statusTracker().getJobIdsForGroup("fzjobs")) == 0


def test_slop_order_tolerant_parity(spark, index_dir, oracle_ix, engine):
    # opt-in unordered sloppy phrase (SearchEngine(slop_order_tolerant=
    # True)): minimal-covering-window semantics — engine (vectorized
    # positions path AND the re-tokenize fallback) vs the oracle's
    # independent event-sweep implementation.  The gated default stays
    # exact-order (SQL-verifiable); this checks the documented opt-in.
    eng_ot = SearchEngine(spark, index_dir, slop_order_tolerant=True)
    eng_fb = SearchEngine(spark, index_dir, slop_order_tolerant=True)
    eng_fb.positions = False  # force the candidate+re-tokenize fallback
    qs = ['"guka noza"~2', '"guka noza"~4', '"qojema fuhepi"~3', '"noza guka"~1']
    oracle_ix.slop_order_tolerant = True
    try:
        nonempty = 0
        for q in qs:
            exp = osearch(oracle_ix, q, k=20)
            got = [
                (r["doc_id"], r["score"])
                for r in eng_ot.search(q, k=20, use_wand=False).collect()
            ]
            _assert_match(got, exp, f"ot:{q}")
            fb = [
                (r["doc_id"], r["score"])
                for r in eng_fb.search(q, k=20, use_wand=False).collect()
            ]
            _assert_match(fb, exp, f"ot-fallback:{q}")
            nonempty += bool(got)
        assert nonempty >= 2
        ot_docs = {d for d, _ in osearch(oracle_ix, '"guka noza"~2', k=2000)}
    finally:
        oracle_ix.slop_order_tolerant = False
    # the corpus holds "noza guka" pairs (see test_slop_widens_matches):
    # reversed-order "guka noza"~2 matches them ONLY under the opt-in
    default_docs = {
        r["doc_id"]
        for r in engine.search('"guka noza"~2', k=2000, use_wand=False).collect()
    }
    assert ot_docs > default_docs, "unordered slop must widen the reversed phrase"


def test_slop_widens_matches(engine, oracle_ix):
    exact = osearch(oracle_ix, '"noza guka"', k=2000)
    sloppy = osearch(oracle_ix, '"noza guka"~3', k=2000)
    assert len(sloppy) > len(exact), "fixture must contain gapped pairs"


def test_phrase_positionless_fallback_matches(spark, corpus_sdf, oracle_ix, engine):
    # an index built WITHOUT position payloads must answer phrases via
    # the candidate+re-tokenize fallback, byte-for-byte the same results
    import shutil
    import tempfile

    from emailindexer_spark.plans.builder import IndexBuilder

    assert engine.positions  # the shared index uses the positions path
    d = tempfile.mkdtemp(prefix="ix_nopos_")
    try:
        IndexBuilder(
            spark, d, num_parts=8, heavy_df_threshold=500, split_target=400,
            positions=False,
        ).build(corpus_sdf)
        nopos = SearchEngine(spark, d)
        assert not nopos.positions
        for q in ['"qojema qojema"', '"noza guka"', '"noza guka"~2']:
            exp = [
                (r["doc_id"], r["score"])
                for r in engine.search(q, k=10, use_wand=False).collect()
            ]
            got = [
                (r["doc_id"], r["score"])
                for r in nopos.search(q, k=10, use_wand=False).collect()
            ]
            _assert_match(got, exp, f"fallback:{q}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_randomized_query_parity(engine, oracle_ix, corpus_pdf):
    # seeded fuzz across the WHOLE grammar: random queries mixing terms,
    # phrases (with slop), prefixes, wildcards, fuzzy, ranges, boosts and
    # +/- occurs — engine and oracle must agree on every one.  Catches
    # node-type interactions (fuzzy under NOT, wildcard as MUST, ...)
    # that the fixed reference set cannot.
    import numpy as np

    from emailindexer_spark.functions.tokenizer import tokenize

    rng = np.random.default_rng(1234)
    vocab = sorted({t for txt in corpus_pdf["text"].head(300) for t in tokenize(txt)})
    vocab = [t for t in vocab if len(t) >= 3]

    def leaf() -> str:
        t = str(rng.choice(vocab))
        r = rng.random()
        if r < 0.40:
            return t
        if r < 0.52:
            ph = f'"{t} {rng.choice(vocab)}"'
            return ph + (f"~{int(rng.integers(0, 3))}" if rng.random() < 0.5 else "")
        if r < 0.62:
            return t[:2] + "*"
        if r < 0.70:
            return t + "~1"
        if r < 0.78:
            return t[0] + "?" + t[2:]
        if r < 0.88:
            lo, hi = sorted([t[:2], str(rng.choice(vocab))[:2] + "z"])
            return f"[{lo} TO {hi}]"
        return t + "^2"

    checked = nonempty = 0
    for _ in range(30):
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
        exp = osearch(oracle_ix, q, k=20)
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(q, k=20, use_wand=False).collect()
        ]
        _assert_match(got, exp, q)
        checked += 1
        nonempty += bool(got)
    assert checked == 30 and nonempty >= 15


def test_randomized_query_parity_optin_semantics(spark, index_dir, oracle_ix, corpus_pdf):
    # the same seeded grammar fuzz with BOTH round-5 opt-ins enabled
    # (OSA fuzzy + unordered slop) on engine AND oracle: the two
    # independent implementations must agree across random node-type
    # interactions (transposed fuzzy under NOT, unordered phrase as
    # MUST, ...), not just on the handcrafted cases.
    import numpy as np

    from emailindexer_spark.functions.tokenizer import tokenize

    eng = SearchEngine(
        spark, index_dir, fuzzy_transpositions=True, slop_order_tolerant=True
    )
    rng = np.random.default_rng(777)
    vocab = sorted({t for txt in corpus_pdf["text"].head(300) for t in tokenize(txt)})
    vocab = [t for t in vocab if len(t) >= 4]

    def swap(t: str) -> str:  # adjacent transposition — OSA-visible
        i = int(rng.integers(0, len(t) - 1))
        return t[:i] + t[i + 1] + t[i] + t[i + 2:]

    def leaf() -> str:
        t = str(rng.choice(vocab))
        r = rng.random()
        if r < 0.35:
            return swap(t) + "~1"  # transposed fuzzy
        if r < 0.70:
            a, b = str(rng.choice(vocab)), t
            return f'"{a} {b}"~{int(rng.integers(1, 4))}'  # unordered slop
        return t

    oracle_ix.fuzzy_transpositions = True
    oracle_ix.slop_order_tolerant = True
    try:
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
            exp = osearch(oracle_ix, q, k=20)
            got = [
                (r["doc_id"], r["score"])
                for r in eng.search(q, k=20, use_wand=False).collect()
            ]
            _assert_match(got, exp, f"optin:{q}")
            checked += 1
            nonempty += bool(got)
        assert checked == 25 and nonempty >= 10
    finally:
        oracle_ix.fuzzy_transpositions = False
        oracle_ix.slop_order_tolerant = False


def test_driver_vocab_fallback_parity(spark, index_dir):
    # the driver-resident vocab makes expansions/df lookups zero-job;
    # forcing the >cap fallback (Spark term_dict jobs) must produce
    # IDENTICAL results for every expansion-shaped query
    fast = SearchEngine(spark, index_dir)
    assert fast._driver_vocab() is not None
    slow = SearchEngine(spark, index_dir)
    slow.VOCAB_DRIVER_MAX_ROWS = 0  # vocab "too big" → Spark fallback
    assert slow._driver_vocab() is None

    for q in ["qo*", "q?jema", "qojema~1", "[qa TO qp]", "qojema~2 fuhepi", "zz*"]:
        a = [
            (r["rank"], r["doc_id"], round(r["score"], 9))
            for r in fast.search(q, k=15, use_wand=False).collect()
        ]
        b = [
            (r["rank"], r["doc_id"], round(r["score"], 9))
            for r in slow.search(q, k=15, use_wand=False).collect()
        ]
        assert a == b, q
