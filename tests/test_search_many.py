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
    # every shape (AND/NOT/boost/musts, phrase/prefix/fuzzy) in one
    # batch, on the local tier and with every member distributed
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
    dist = SearchEngine(spark, index_dir)
    dist._local_search = lambda *a, **k: None  # every member distributed
    for e in (eng, dist):
        by_q: dict[str, list] = {}
        for r in e.search_many(batch).collect():
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
    the calling thread.  Both give the same rows, also over the
    residency cap, where members fetch a shared term at different
    levels ("or" scores fuhepi, "not" only excludes it, "phrase" needs
    noza's positions)."""
    import threading

    batch = {
        "or": ("qojema fuhepi noza", 5, "turns"),
        "and": ("qojema AND fuhepi", 5, "turns"),
        "not": ("qojema -fuhepi", 5, "turns"),
        "conv": ("qojema fuhepi", 4, "conversations"),
        "phrase": ('"noza guka"', 5, "turns"),
        "prefix": ("qo*", 5, "turns"),
    }
    total = int(SearchEngine(spark, index_dir)._driver_vocab()[1].sum())
    rows, threads = {}, {}
    for name, cap, resident in (
        ("sequential", 10**12, True), ("pool", 0, True), ("pool_scan", 0, False)
    ):
        eng = SearchEngine(spark, index_dir)
        eng.LOCAL_POOL_MIN_POSTINGS = cap
        if not resident:
            eng.LOCAL_MAX_POSTINGS = total - 1
        local_search, seen = eng._local_search, set()

        def spy(*a, _f=local_search, _seen=seen, **k):
            _seen.add(threading.get_ident())
            return _f(*a, **k)

        eng._local_search = spy
        rows[name] = sorted(tuple(r) for r in eng.search_many(batch).collect())
        threads[name] = seen
        assert bool(eng._resident) == resident
    assert rows["pool"] == rows["sequential"] == rows["pool_scan"] and rows["pool"]
    assert threads["sequential"] == {threading.get_ident()}
    assert threading.get_ident() not in threads["pool"] | threads["pool_scan"]


def test_local_search_reads_its_own_postings_not_the_shared_cache(spark, index_dir):
    """search_many members share one postings cache across driver
    threads; another member may replace an entry with a lower level
    while a query evaluates.  Each query scores from the postings it
    took itself: with every cache write replaced at once by empty
    docs-only postings, the answers still equal plain searches."""
    from emailindexer_spark.plans.parser import parse
    from emailindexer_spark.plans.planner import _no_postings

    class Clobbered(dict):
        def __setitem__(self, key, value):
            super().__setitem__(key, _no_postings(0))

        def update(self, other=(), **kw):
            for key in dict(other, **kw):
                self[key] = None

    eng = SearchEngine(spark, index_dir)
    eng.LOCAL_MAX_POSTINGS = int(eng._driver_vocab()[1].sum()) - 1  # fetch at each level asked
    for q in ("qojema fuhepi noza", "qojema -fuhepi", '"noza guka"', "qojema AND fuhepi"):
        cache = Clobbered()
        got = eng._local_search(parse(q), 5, "turns", cache)
        want = eng._local_search(parse(q), 5, "turns")
        assert got is not None and cache, q
        assert {c: v.tolist() for c, v in got.items()} == {c: v.tolist() for c, v in want.items()}, q


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
