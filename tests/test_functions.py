"""Unit tests: SmallFloat norms, varbyte codec, tokenizer, sanitizer, parser.

These are the executable-spec pins from SURVEY.md §5 (our plan, items 1-2):
the 256-entry norm table, codec round-trips, StandardAnalyzer-parity
tokenization for the validated ASCII classes, BodyReplyRemover parity
(reference BodyReplyRemover.java:10-24), and the classic-parser subset.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from emailindexer_spark.functions.codec import (
    decode_block,
    encode_blocks,
    varbyte_decode,
    varbyte_encode,
)
from emailindexer_spark.functions.sanitize import (
    remove_quoted_replies,
    remove_quoted_replies_str,
)
from emailindexer_spark.functions.smallfloat import (
    LENGTH_TABLE,
    byte4_to_int,
    decode_lengths,
    encode_lengths,
    int_to_byte4,
)
from emailindexer_spark.functions.tokenizer import tokenize, tokenize_series
from emailindexer_spark.plans.parser import (
    MUST,
    MUST_NOT,
    SHOULD,
    Bool,
    Phrase,
    Prefix,
    Term,
    parse,
)


class TestSmallFloat:
    # Pins derived independently from Lucene 9.1 SmallFloat semantics
    # (NUM_FREE_VALUES = 255 - longToInt4(Integer.MAX_VALUE) = 24), NOT from
    # this implementation's own round-trip.

    def test_exact_through_39(self):
        # 0..23 are free values; 24..39 are exact because the tiny float is
        # exact below 16.  Lucene encodes/decodes all of 0..39 losslessly.
        for i in range(40):
            assert int_to_byte4(i) == i
            assert byte4_to_int(i) == i

    def test_first_shared_bucket_40_41(self):
        assert byte4_to_int(int_to_byte4(40)) == 40
        assert byte4_to_int(int_to_byte4(41)) == 40  # 41 shares 40's bucket
        assert int_to_byte4(40) == int_to_byte4(41) == 40

    def test_lucene_pinned_values(self):
        # Hand-computed from the Lucene algorithm (offset + tiny float):
        # encode(i) = 24 + ((x>>s & 7) | (s+1)<<3), x = i-24, s = bitlen(x)-4
        pins = {
            0: 0, 17: 17, 23: 23, 24: 24, 39: 39,
            40: 40,            # x=16, s=1 -> (0|16) -> 40
            56: 48,            # x=32, s=2 -> (0|24) -> 48
            100: 57,           # x=76, s=3 -> ((76>>3)&7)|(4<<3) = 33 -> 24+33
            2**31 - 1: 255,    # MAX_INT -> 24 + 231
        }
        for i, b in pins.items():
            assert int_to_byte4(i) == b, (i, int_to_byte4(i), b)

    def test_shifted_top4bit_identity(self):
        # decode(encode(i)) = 24 + top-4-bits(i-24) for i >= 24
        for i in [24, 39, 40, 41, 100, 255, 1000, 65535, 10**9]:
            x = i - 24
            s = max(0, x.bit_length() - 4)
            assert byte4_to_int(int_to_byte4(i)) == 24 + ((x >> s) << s)

    def test_table_monotone_256(self):
        assert LENGTH_TABLE.shape == (256,)
        assert (np.diff(LENGTH_TABLE) > 0).all()
        assert LENGTH_TABLE[0] == 0
        assert LENGTH_TABLE[255] == 24 + (15 << 27)  # 24 + int4ToLong(231)

    def test_vectorized_matches_scalar(self):
        arr = np.arange(0, 200000, 3)
        enc = encode_lengths(arr)
        assert [int_to_byte4(int(i)) for i in arr[:1000]] == enc[:1000].tolist()
        assert (decode_lengths(enc) == [byte4_to_int(int_to_byte4(int(i))) for i in arr]).all()

    def test_sql_mirror_identity(self):
        # The DuckDB oracles mirror decode(encode(dl)) as:
        #   dl if dl < 32 else 24 + (((dl-24) >> s) << s), s = floor(log2(dl-24)) - 3
        import math

        for dl in list(range(0, 5000)) + [65535, 10**6, 10**9]:
            if dl < 32:
                q = dl
            else:
                s = int(math.floor(math.log2(dl - 24))) - 3
                q = 24 + (((dl - 24) >> s) << s)
            assert q == byte4_to_int(int_to_byte4(dl)), dl


class TestPositionsCodec:
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=6),  # tf
                st.integers(min_value=0, max_value=4000),  # base pos
            ),
            min_size=0,
            max_size=60,
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_roundtrip_segmented(self, docs):
        from emailindexer_spark.functions.codec import (
            decode_positions,
            encode_positions,
        )

        tfs = np.array([t for t, _ in docs], dtype=np.int64)
        segs = [np.sort(b + np.arange(t) * 2) for t, b in docs]
        flat = np.concatenate(segs) if segs else np.empty(0, dtype=np.int64)
        got = decode_positions(encode_positions(flat, tfs), tfs)
        assert got.tolist() == flat.tolist()


class TestVarbyte:
    @given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_roundtrip(self, vals):
        arr = np.array(vals, dtype=np.uint64)
        assert varbyte_decode(varbyte_encode(arr)).tolist() == vals

    def test_empty(self):
        assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
        assert varbyte_decode(b"").size == 0

    def test_compression_small_deltas_one_byte(self):
        assert len(varbyte_encode(np.arange(100, dtype=np.uint64) % 128)) == 100

    @staticmethod
    def _decode_by_byte_position(buf: bytes) -> np.ndarray:
        """The byte-position decode varbyte_decode replaced: a value id
        per byte from a cumsum, then one pass over the whole buffer per
        position within a value."""
        b = np.frombuffer(buf, dtype=np.uint8)
        if b.size == 0:
            return np.empty(0, dtype=np.uint64)
        is_end = (b & 0x80) == 0
        if bool(is_end.all()):
            return b.astype(np.uint64)
        value_id = np.zeros(b.size, dtype=np.int64)
        value_id[1:] = np.cumsum(is_end)[:-1]
        n_values = int(is_end.sum())
        value_starts = np.zeros(n_values, dtype=np.int64)
        value_starts[1:] = np.nonzero(is_end)[0][:-1] + 1
        pos = np.arange(b.size, dtype=np.int64) - value_starts[value_id]
        payload = (b & np.uint8(0x7F)).astype(np.uint64)
        out = np.zeros(n_values, dtype=np.uint64)
        for j in range(int(pos.max()) + 1):
            m = pos == j
            out[value_id[m]] |= payload[m] << np.uint64(7 * j)
        return out

    def test_decode_matches_byte_position_decode(self):
        """varbyte_decode (per value: starts from the end bits, one gather
        per extra byte) equals the byte-position decode on random
        buffers of 1- to 10-byte values, on single-byte-only buffers
        (the cast fast path) and on an empty one."""
        rng = np.random.default_rng(11)
        for trial in range(60):
            n = int(rng.integers(1, 400))
            nbytes = rng.integers(1, 11, size=n)  # a value's byte count
            lo = np.where(nbytes == 1, 0, np.uint64(1) << (7 * (nbytes - 1)).astype(np.uint64))
            hi = np.where(nbytes == 10, np.uint64(2**64 - 1), (np.uint64(1) << (7 * nbytes).astype(np.uint64)) - 1)
            vals = np.array(
                [rng.integers(int(a), int(z), dtype=np.uint64, endpoint=True) for a, z in zip(lo, hi)],
                dtype=np.uint64,
            )
            buf = varbyte_encode(vals)
            assert len(buf) == int(nbytes.sum()), trial
            got = varbyte_decode(buf)
            assert got.dtype == np.uint64
            assert (got == self._decode_by_byte_position(buf)).all(), trial
            assert (got == vals).all(), trial
        single = varbyte_encode(rng.integers(0, 128, size=500).astype(np.uint64))
        assert len(single) == 500
        assert (varbyte_decode(single) == self._decode_by_byte_position(single)).all()
        assert varbyte_decode(b"").tolist() == self._decode_by_byte_position(b"").tolist() == []

    def test_decode_rejects_a_cut_value(self):
        buf = varbyte_encode(np.array([5, 300], dtype=np.uint64))
        with pytest.raises(ValueError, match="ends inside a value"):
            varbyte_decode(buf[:-1])


class TestBlocks:
    def test_roundtrip_and_blockmax(self):
        rng = np.random.default_rng(7)
        docs = np.unique(rng.integers(0, 10**9, size=1000, dtype=np.int64))
        tfs = rng.integers(1, 99, size=docs.size).astype(np.int64)
        eb = encode_blocks(docs, tfs, block_size=128)
        got_d, got_t = [], []
        for i in range(len(eb.doc_bytes)):
            d, t = decode_block(int(eb.first_doc[i]), eb.doc_bytes[i], eb.tf_bytes[i])
            assert eb.first_doc[i] == d[0]
            assert d.size == (128 if i < len(eb.doc_bytes) - 1 else docs.size - 128 * i)
            got_d.append(d), got_t.append(t)
        assert (np.concatenate(got_d) == docs).all()
        assert (np.concatenate(got_t) == tfs).all()

    def test_rejects_unsorted(self):
        with pytest.raises(ValueError):
            encode_blocks(np.array([3, 2]), np.array([1, 1]))


class TestTokenizer:
    def test_uax29_ascii_edges(self):
        # dotted numerics/acronyms join, mixed-class dots split,
        # apostrophes join letters only, hyphens split (SURVEY.md §7)
        assert tokenize("Don't split 2.0.26 or u.s.a but a1.b hy-phen x..y") == [
            "don't", "split", "2.0.26", "or", "u.s.a", "but", "a1", "b", "hy", "phen", "x", "y",
        ]
        assert tokenize("2'3 a'b it's") == ["2", "3", "a'b", "it's"]
        assert tokenize("") == [] and tokenize(None) == []

    def test_lowercase(self):
        assert tokenize("FOO Bar") == ["foo", "bar"]

    def test_max_len_split(self):
        t = "a" * 600
        assert tokenize(t) == ["a" * 255, "a" * 255, "a" * 90]

    def test_series_matches_scalar(self):
        texts = pd.Series(["Don't 2.0.26 a1.b", None, "", "x y z", "A" * 300])
        got = tokenize_series(texts)
        for s, g in zip(texts, got):
            assert tokenize(s) == list(g)

    @given(
        st.lists(
            st.text(
                alphabet="abcz019.' -\n\t>!,_#É",  # incl. chars outside the token classes
                max_size=60,
            ),
            max_size=8,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_series_matches_scalar_property(self, texts):
        s = pd.Series(texts, dtype=object)
        got = tokenize_series(s)
        for t, g in zip(texts, got):
            assert tokenize(t) == list(g)
        # simple mode too
        got_s = tokenize_series(s, simple=True)
        for t, g in zip(texts, got_s):
            assert tokenize(t, simple=True) == list(g)

    def test_simple_mode(self):
        assert tokenize("don't 2.0.26", simple=True) == ["don", "t", "2", "0", "26"]


class TestSanitizer:
    def test_reference_parity(self):
        # reference BodyReplyRemover: trimmed '>' lines dropped, trimmed
        # case-insensitive marker stops processing
        t = "keep\n > q1\n>q2\nKEEP 2\n  -----original message-----  \ndropped\n> also"
        assert remove_quoted_replies_str(t) == "keep\nKEEP 2\n"

    def test_series_matches_scalar(self):
        texts = pd.Series([
            "a\n> b\nc", None, "-----Original Message-----\nx", "plain",
        ])
        got = remove_quoted_replies(texts)
        for s, g in zip(texts, got):
            assert remove_quoted_replies_str(s) == g


class TestParser:
    def test_default_or(self):
        q = parse("apple banana")
        assert [(o, c.text) for o, c in q.clauses] == [(SHOULD, "apple"), (SHOULD, "banana")]

    def test_and_promotes_both(self):
        q = parse("apple AND banana")
        assert [o for o, _ in q.clauses] == [MUST, MUST]

    def test_plus_minus_not(self):
        q = parse("+a -b NOT c d")
        assert [o for o, _ in q.clauses] == [MUST, MUST_NOT, MUST_NOT, SHOULD]

    def test_phrase_prefix_group(self):
        q = parse('"a b" t* (x OR y)')
        assert isinstance(q.clauses[0][1], Phrase) and q.clauses[0][1].terms == ("a", "b")
        assert isinstance(q.clauses[1][1], Prefix) and q.clauses[1][1].prefix == "t"
        assert isinstance(q.clauses[2][1], Bool)

    def test_analysis_lowercases_and_splits(self):
        q = parse("APPLE a1.b")
        assert q.clauses[0][1].text == "apple"
        assert isinstance(q.clauses[1][1], Phrase)  # multi-token analysis

    def test_field_prefix_routes(self):
        t = parse("body:apple").clauses[0][1]
        assert t.text == "apple" and t.field == "body"
        p = parse('role:"a b"').clauses[0][1]
        assert isinstance(p, Phrase) and p.field == "role" and p.terms == ("a", "b")
        pre = parse("role:as*").clauses[0][1]
        assert isinstance(pre, Prefix) and pre.field == "role" and pre.prefix == "as"
        bare = parse("apple").clauses[0][1]
        assert bare.field is None

    def test_fuzzy_and_slop_parse(self):
        from emailindexer_spark.plans.parser import Fuzzy

        fz = parse("roam~").clauses[0][1]
        assert isinstance(fz, Fuzzy) and fz.text == "roam" and fz.max_edits == 2
        fz1 = parse("roam~1^2").clauses[0][1]
        assert isinstance(fz1, Fuzzy) and fz1.max_edits == 1 and fz1.boost == 2.0
        t0 = parse("roam~0").clauses[0][1]
        assert isinstance(t0, Term) and t0.text == "roam"
        sl = parse('"a b"~3').clauses[0][1]
        assert isinstance(sl, Phrase) and sl.slop == 3
        # phrase boosts attach through the lexer (round-2 ADVICE: they
        # used to lex as a stray ^2 token and vanish silently)
        pb = parse('"a b"^2').clauses[0][1]
        assert isinstance(pb, Phrase) and pb.boost == 2.0 and pb.slop == 0
        both = parse('"a b"~1^2').clauses[0][1]
        assert both.slop == 1 and both.boost == 2.0
        ff = parse('role:term~1').clauses[0][1]
        assert isinstance(ff, Fuzzy) and ff.field == "role"

    def test_wildcard_parses(self):
        from emailindexer_spark.plans.parser import Prefix as _P
        from emailindexer_spark.plans.parser import Wildcard

        w = parse("te?m").clauses[0][1]
        assert isinstance(w, Wildcard) and w.pattern == "te?m"
        w2 = parse("TE*M^2").clauses[0][1]
        assert isinstance(w2, Wildcard) and w2.pattern == "te*m" and w2.boost == 2.0
        w3 = parse("role:t?e*").clauses[0][1]
        assert isinstance(w3, Wildcard) and w3.field == "role"
        # trailing-star-only stays the cheaper PrefixQuery
        assert isinstance(parse("te*").clauses[0][1], _P)

    def test_unsupported_syntax_raises_loudly(self):
        # non-trailing wildcards, malformed ranges, out-of-range fuzzy
        # edits, and dangling suffix tokens are classic-parser syntax we
        # do NOT implement — silent degrade to bare terms returns
        # wrong-but-plausible results, so the parser must raise.
        import pytest as _pytest

        from emailindexer_spark.plans.parser import QueryParseError

        for bad in [
            "roam~3",         # Lucene caps fuzzy edits at 2
            "roam~0.8",       # pre-Lucene-4 float fuzziness
            "a~b",            # embedded tilde
            '"a b" ^2',       # detached boost (Lucene errors too)
            "*",              # bare star
            "*term",          # leading wildcard (Lucene default rejects)
            "?erm",
            "te–?m",          # pattern chars outside the token alphabet
            "stray]bracket",
            "[a TO",          # unterminated range
            "[a b c]",        # no TO
        ]:
            with _pytest.raises(QueryParseError):
                parse(bad)

    def test_term_range_parses(self):
        from emailindexer_spark.plans.parser import TermRange

        r = parse("[alpha TO omega]").clauses[0][1]
        assert isinstance(r, TermRange)
        assert (r.lo, r.hi, r.lo_incl, r.hi_incl) == ("alpha", "omega", True, True)
        r2 = parse("{alpha TO omega}").clauses[0][1]
        assert (r2.lo_incl, r2.hi_incl) == (False, False)
        r3 = parse("role:[a TO c]^2").clauses[0][1]
        assert r3.field == "role" and r3.boost == 2.0
        r4 = parse("[* TO m]").clauses[0][1]
        assert r4.lo is None and r4.hi == "m"
        # mixed brackets and uppercase endpoints analyzed
        r5 = parse("[Alpha TO M}").clauses[0][1]
        assert r5.lo == "alpha" and r5.hi == "m" and r5.lo_incl and not r5.hi_incl

    def test_supported_syntax_still_parses(self):
        # literal ~ [ ] inside a quoted phrase is analyzed text, not syntax
        q = parse('"a ~ [b]" pre* term^2')
        assert isinstance(q.clauses[0][1], Phrase) and q.clauses[0][1].terms == ("a", "b")
        assert isinstance(q.clauses[1][1], Prefix)
        assert q.clauses[2][1].boost == 2.0


class TestLevenshteinBatch:
    """The planner's vectorized edit-distance kernel vs a scalar
    reference DP — both metrics: classic Levenshtein (the gated one, ==
    Spark/DuckDB levenshtein()) and OSA / restricted Damerau (Lucene's
    transpositions=true primitive, shipped but not gated)."""

    @staticmethod
    def _ref(a, b, transpositions):
        m, n = len(a), len(b)
        D = [[0] * (n + 1) for _ in range(m + 1)]
        for i in range(m + 1):
            D[i][0] = i
        for j in range(n + 1):
            D[0][j] = j
        for i in range(1, m + 1):
            for j in range(1, n + 1):
                D[i][j] = min(
                    D[i - 1][j] + 1,
                    D[i][j - 1] + 1,
                    D[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
                )
                if (
                    transpositions
                    and i > 1
                    and j > 1
                    and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]
                ):
                    D[i][j] = min(D[i][j], D[i - 2][j - 2] + 1)
        return D[m][n]

    def test_matches_reference_dp(self):
        import random

        import numpy as np

        from emailindexer_spark.plans.planner import _levenshtein_batch

        rng = random.Random(13)
        cands = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(0, 7)))
            for _ in range(300)
        ]
        for text in ["", "abc", "abca", "dcba", "aabbc"]:
            for tr in (False, True):
                got = _levenshtein_batch(cands, text, transpositions=tr)
                exp = np.array([self._ref(text, c, tr) for c in cands])
                bad = np.nonzero(got != exp)[0]
                assert bad.size == 0, (text, tr, [(cands[i], got[i], exp[i]) for i in bad[:3]])
                # the lengths the caller already holds (the vocabulary's)
                lens = np.array([len(c) for c in cands], np.int32)
                assert (_levenshtein_batch(cands, text, tr, lens) == got).all()

    def test_transposition_credit(self):
        from emailindexer_spark.plans.planner import _levenshtein_batch

        # "ab" -> "ba": classic 2 edits, OSA 1
        assert _levenshtein_batch(["ba"], "ab", transpositions=False)[0] == 2
        assert _levenshtein_batch(["ba"], "ab", transpositions=True)[0] == 1


class TestFastTokenizerCodes:
    """tokenize_series_codes / token_counts lock-step with the regex
    tokenizer — the r6 build-path internals."""

    def _check(self, texts, simple):
        from emailindexer_spark.functions.tokenizer import (
            token_counts,
            tokenize_series_codes,
        )

        s = pd.Series(texts, dtype=object)
        toks = tokenize_series(s, simple=simple)
        nl_ref = toks.str.len().to_numpy(np.int64)
        nl, codes, uniq = tokenize_series_codes(s, simple=simple)
        assert (nl == nl_ref).all()
        assert (token_counts(s, simple=simple) == nl_ref).all()
        flat_ref = (
            np.concatenate([t for t in toks.to_numpy() if len(t)])
            if nl_ref.sum()
            else np.empty(0, object)
        )
        flat = uniq[codes] if len(codes) else np.empty(0, object)
        assert len(flat) == len(flat_ref)
        assert all(a == b for a, b in zip(flat, flat_ref))

    def test_edge_cases(self):
        cases = [
            ["Don't stop", "u.s.a 2.0.26 a1.b", "", None, "2'3 a'b a''b 1.2 a.2"],
            ["A" * 600, ("q" * 255) + "r", "x" * 33, "x" * 32],  # 255-split + fast-max fallback
            ["é snow ☃", "ascii then", "MiXeD CaSe 42"],  # non-ASCII fallback
            [""], [None, None], ["...", "'''", "a.b'c.d"],
        ]
        for texts in cases:
            for simple in (False, True):
                self._check(texts, simple)

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abzABZ019.' \n\té", min_size=0, max_size=60),
            min_size=1,
            max_size=6,
        ),
        st.booleans(),
    )
    def test_fuzz_lockstep(self, texts, simple):
        self._check(texts, simple)


class TestRunEncoder:
    """functions/codec.encode_runs_vec (every run of a reduce partition
    in one pass) and the posting encoder built on it
    (plans/builder._encode_chunk_table) must equal the per-run,
    per-block reference encode_blocks / encode_positions."""

    @staticmethod
    def _ref_blocks(d, tfs, bs):
        eb = encode_blocks(d, tfs, block_size=bs)
        return (
            eb.first_doc.tolist(),
            eb.doc_bytes,
            eb.tf_bytes,
        )

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.one_of(
                # lengths on the block edges: 1, block_size, block_size + 1
                st.sampled_from([1, 4, 5, 8, 9]).map(lambda n: list(range(7, 7 + 3 * n, 3))),
                st.lists(st.integers(0, 1 << 40), min_size=1, max_size=60, unique=True),
            ),
            min_size=1,
            max_size=8,
        ),
        st.integers(1, 9),
    )
    def test_encode_runs_vec_equals_per_run(self, runs, tf_mod):
        from emailindexer_spark.functions.codec import encode_runs_vec

        runs = [np.sort(np.asarray(r, dtype=np.int64)) for r in runs]
        d = np.concatenate(runs)
        tfs = (d % tf_mod + 1).astype(np.int64)
        starts = np.cumsum([0] + [r.size for r in runs[:-1]])
        for bs in (4, 128):
            er = encode_runs_vec(d, tfs, starts, block_size=bs)
            for r, (a, b) in enumerate(zip(starts, np.append(starts[1:], d.size))):
                blk = slice(er.run_blocks[r], er.run_blocks[r + 1])
                bo = er.block_starts[blk.start : blk.stop + 1]
                assert bo[0] == a and bo[-1] == b
                got = (
                    er.first_doc[blk].tolist(),
                    [er.doc_buf[x:y] for x, y in zip(er.doc_offs[blk.start:blk.stop], er.doc_offs[blk.start + 1:blk.stop + 1])],
                    [er.tf_buf[x:y] for x, y in zip(er.tf_offs[blk.start:blk.stop], er.tf_offs[blk.start + 1:blk.stop + 1])],
                )
                assert got == self._ref_blocks(d[a:b], tfs[a:b], bs)

    def test_encode_runs_vec_rejects_bad_runs(self):
        from emailindexer_spark.functions.codec import encode_runs_vec

        one = np.ones(3, np.int64)
        with pytest.raises(ValueError, match="strictly increasing"):
            encode_runs_vec(np.array([1, 5, 5]), one, np.array([0]))
        with pytest.raises(ValueError, match="non-empty"):
            encode_runs_vec(np.array([1, 5, 6]), one, np.array([0, 3]))
        # a run boundary may step back in doc order
        er = encode_runs_vec(np.array([4, 9, 2]), one, np.array([0, 2]), block_size=1)
        assert er.first_doc.tolist() == [4, 9, 2] and er.run_blocks.tolist() == [0, 2, 3]

    @pytest.mark.parametrize("positions", [True, False])
    def test_chunk_encoder_equals_per_run_reference(self, positions):
        """Chunk rows of one (term, split) run arrive in interleaved doc
        order (several map batches); runs have 1, block_size and
        block_size + 1 postings."""
        import pyarrow as pa

        from emailindexer_spark.functions.codec import (
            encode_positions,
            varbyte_encode,
        )
        from emailindexer_spark.plans.builder import (
            _encode_chunk_table,
            term_part_py,
        )

        bs, rng = 4, np.random.default_rng(5)
        runs = {}  # (term, split) -> {doc: (tf, positions)}
        for j, n in enumerate([1, bs, bs + 1, 3 * bs + 2, 1, 9]):
            docs = np.sort(rng.choice(10_000, size=n, replace=False))
            post = {}
            for doc in docs:
                tf = int(rng.integers(1, 4))
                pos = np.sort(rng.choice(300, size=tf, replace=False))
                post[int(doc)] = (tf, pos)
            runs[(f"t{j // 2}", j % 2)] = post

        def chunk(term, split, docs, post):
            tf = np.array([post[x][0] for x in docs])
            return {
                "term": term,
                "split_id": split,
                "docs": varbyte_encode(np.diff(docs, prepend=0).astype(np.uint64)),
                "tfs": varbyte_encode(tf.astype(np.uint64)),
                "pos": b"".join(encode_positions(post[x][1], [post[x][0]]) for x in docs)
                if positions
                else b"",
            }

        rows = []
        for (term, split), post in runs.items():
            docs = np.array(sorted(post))
            # every other doc in one chunk row, the rest in another,
            # the later docs first: the run's rows interleave in doc order
            for sub in (docs[1::2], docs[0::2]):
                if sub.size:
                    rows.append(chunk(term, split, sub, post))
        got = pa.Table.from_batches(
            list(_encode_chunk_table(pa.Table.from_pylist(rows), bs, 8, max_rows=4))
        ).to_pylist()
        assert [(r["term"], r["split_id"]) for r in got] == list(runs)
        for r, ((term, split), post) in zip(got, runs.items()):
            docs = np.array(sorted(post))
            tfs = np.array([post[x][0] for x in docs])
            ref = self._ref_blocks(docs, tfs, bs)
            assert (r["b_first"], r["b_docs"], r["b_tfs"]) == ref
            assert "b_norms" not in r
            assert r["part"] == term_part_py(term, 8)
            assert (r["df_row"], r["first_doc"], r["last_doc"]) == (docs.size, docs[0], docs[-1])
            want_pos = [
                encode_positions(
                    np.concatenate([post[x][1] for x in docs[i : i + bs]]), tfs[i : i + bs]
                )
                if positions
                else b""
                for i in range(0, docs.size, bs)
            ]
            assert r["b_pos"] == want_pos


class TestFrameDecode:
    """The whole-table posting decoder planner._decode_table must equal
    the per-block reference decode_block for ANY mix of terms, rows and
    block sizes (multi-row terms, single-byte and multi-byte varbyte deltas,
    segment-boundary leak correction), and give each posting the norm of
    its doc in its key's field."""

    @staticmethod
    def _table(rows):
        import pyarrow as pa

        blocks = pa.list_(pa.binary())
        return pa.table(
            {
                "term": pa.array([r["term"] for r in rows], pa.string()),
                "split_id": pa.array([0] * len(rows), pa.int32()),
                "first_doc": pa.array([r["b_first"][0] if r["b_first"] else 0 for r in rows], pa.int64()),
                "last_doc": pa.array([r.get("last_doc", 1 << 62) for r in rows], pa.int64()),
                "b_first": pa.array([r["b_first"] for r in rows], pa.list_(pa.int64())),
                **{c: pa.array([r[c] for r in rows], blocks) for c in ("b_docs", "b_tfs")},
            }
        )

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(0, 1 << 40), min_size=1, max_size=120, unique=True),
            min_size=1,
            max_size=6,
        ),
        st.integers(1, 9),
    )
    def test_frame_decode_matches_per_block(self, doc_lists, tf_mod):
        from emailindexer_spark.plans.planner import _decode_table

        rows = []
        for j, docs in enumerate(doc_lists):
            d = np.sort(np.asarray(docs, dtype=np.int64))
            tfs = (d % tf_mod + 1).astype(np.int64)
            eb = encode_blocks(d, tfs, block_size=3)
            rows.append(
                {
                    "term": f"t{j}",
                    "last_doc": int(d[-1]),
                    "b_first": [int(x) for x in eb.first_doc],
                    "b_docs": eb.doc_bytes,
                    "b_tfs": eb.tf_bytes,
                }
            )
        table = self._table(rows)

        ref_d, ref_t = [], []
        for r in rows:
            for i in range(len(r["b_docs"])):
                d, t = decode_block(r["b_first"][i], r["b_docs"][i], r["b_tfs"][i])
                ref_d.append(d), ref_t.append(t)
        ref_d = np.concatenate(ref_d)

        # rows given in order and in reverse, at levels 1 and 0 (docs
        # only: segments recovered from continuation bits)
        terms = [r["term"] for r in rows]
        for level, order in ((1, 1), (0, 1), (1, -1), (0, -1)):
            dec = _decode_table(table.take(np.arange(len(rows))[::order]), level, 0, 1 << 62)
            got = dec.postings(terms, 0, 1 << 62)
            assert (np.concatenate([got[t].docs for t in sorted(terms)]) == ref_d).all()
            if level:
                assert (np.concatenate([got[t].tfs for t in sorted(terms)]) == np.concatenate(ref_t)).all()

    def test_frame_decode_empty(self):
        from emailindexer_spark.plans.planner import _decode_table

        table = self._table([])
        for level in (0, 1):
            dec = _decode_table(table, level, 0, 100)
            assert dec.docs.size == dec.tfs.size == dec.norms.size == 0
            assert dec.postings(["t"], 0, 100) == {}

    def test_frame_decode_rejects_empty_blocks(self):
        """An empty block would shift every later doc id of the rows;
        the decoders raise instead."""
        from emailindexer_spark.functions.codec import varbyte_encode
        from emailindexer_spark.plans.planner import _decode_table, _segmented_delta_docs

        buf = varbyte_encode(np.array([0, 2, 0, 1], dtype=np.uint64))
        firsts = np.array([5, 9, 20])
        with pytest.raises(ValueError, match="non-empty"):
            _segmented_delta_docs(buf, firsts, np.array([2, 0, 2]))
        row = {"term": "t", "b_first": [5, 20], "b_docs": [buf, b""], "b_tfs": [b"", b""]}
        for level in (0, 1):
            with pytest.raises(ValueError, match="non-empty"):
                _decode_table(self._table([row]), level, 0, 100)

    def test_norms_come_from_each_keys_field(self, tmp_path):
        """Each posting takes its doc's norm byte from its key's field:
        bare keys from doc_index's ``norm``, ``role:…`` keys from
        ``norm_role``, and a key whose prefix is no field from ``norm``.
        _read_doc_norms reads a doc range from doc_index files whose rows
        are out of doc order, with each doc's conversation as a code
        numbered in doc order and its turn, and raises when the files
        miss a doc."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        from emailindexer_spark.plans.planner import _decode_table, _doc_row_groups, _read_doc_norms

        n, rng = 40, np.random.default_rng(3)
        norm, norm_role = rng.integers(0, 256, n), rng.integers(0, 256, n)
        conv = np.array([f"c{x}" for x in rng.integers(0, 6, n)], dtype=object)
        turn = rng.integers(0, 9, n).astype(np.int32)
        for i, ids in enumerate(np.array_split(rng.permutation(n), 2)):
            papq.write_table(
                pa.table(
                    {
                        "doc_id": ids.astype(np.int64),
                        "conv_id": conv[ids].tolist(),
                        "turn_idx": turn[ids],
                        "text": ["x"] * ids.size,
                        "norm": norm[ids].astype(np.int32),
                        "norm_role": norm_role[ids].astype(np.int32),
                    }
                ),
                tmp_path / f"part-{i}.parquet",
            )
        files = sorted(str(f) for f in tmp_path.iterdir())
        keys = {"a": np.arange(0, n, 3), "role:a": np.arange(1, n, 2), "x:y": np.arange(5, 30)}
        rows = []
        for key, d in keys.items():
            eb = encode_blocks(d, d % 3 + 1, block_size=4)
            rows.append(
                {
                    "term": key, "last_doc": int(d[-1]), "b_first": [int(x) for x in eb.first_doc],
                    "b_docs": eb.doc_bytes, "b_tfs": eb.tf_bytes,
                }
            )
        table = self._table(rows)
        for lo, hi in ((0, n), (7, 23)):
            norms = _read_doc_norms(_doc_row_groups(files), ("text", "role"), lo, hi)
            assert norms.convs[norms.code].tolist() == conv[lo:hi].tolist(), lo
            assert norms.turn.tolist() == turn[lo:hi].tolist(), lo
            first = [norms.code[conv[lo:hi] == c].min() for c in dict.fromkeys(conv[lo:hi])]
            assert first == list(range(len(norms.convs))), lo  # codes in doc order
            got = _decode_table(table, 1, lo, hi, norms)
            got = got.postings(list(keys), lo, hi)
            for key, d in keys.items():
                d = d[(d >= lo) & (d < hi)]
                col = norm_role if key.startswith("role:") else norm
                assert got[key].docs.tolist() == d.tolist(), (key, lo)
                assert got[key].norms.tolist() == col[d].tolist(), (key, lo)
        with pytest.raises(ValueError, match="doc_index holds"):
            _read_doc_norms(_doc_row_groups(files[:1]), ("text", "role"), 0, n)

    def test_scans_read_only_the_row_groups_of_their_docs(self, tmp_path, monkeypatch):
        """A postings scan (the over-cap local tier and every shard task)
        reads the norms of the docs it decoded, and _doc_texts the text of
        its docs: only the doc_index row groups whose doc_id min/max can
        hold one are read, and a scan that matches no row reads none."""
        from functools import partial

        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as papq

        from emailindexer_spark.plans.planner import (
            _doc_row_groups,
            _doc_texts,
            _read_doc_norms,
            _scan_postings,
        )

        n, rng = 80, np.random.default_rng(5)
        norm = rng.integers(0, 256, n)
        dfiles = []
        for i in range(2):  # two files of four 10-doc row groups each
            ids = np.arange(40 * i, 40 * (i + 1))
            dfiles.append(str(tmp_path / f"doc-{i}.parquet"))
            papq.write_table(
                pa.table(
                    {
                        "doc_id": ids,
                        "conv_id": [f"c{d // 4}" for d in ids],
                        "turn_idx": (ids % 4).astype(np.int32),
                        "text": [f"t{d}" for d in ids],
                        "norm": norm[ids].astype(np.int32),
                    }
                ),
                dfiles[-1],
                row_group_size=10,
            )
        d = np.array([3, 5, 61])
        eb = encode_blocks(d, np.ones(d.size, np.int64), block_size=2)
        pfile = str(tmp_path / "postings.parquet")
        papq.write_table(
            self._table(
                [{"term": "a", "last_doc": 61, "b_first": [int(x) for x in eb.first_doc],
                  "b_docs": eb.doc_bytes, "b_tfs": eb.tf_bytes}]
            ),
            pfile,
        )
        real, groups = ds.FileSystemDataset, []

        def spy(frags, *a, **k):  # each read (file, row group) by its doc_id range
            for fr in frags:
                i = dfiles.index(fr.path)
                groups.extend((40 * i + 10 * g.id, 40 * i + 10 * g.id + 9) for g in fr.row_groups)
            return real(frags, *a, **k)

        monkeypatch.setattr(ds, "FileSystemDataset", spy)
        dgroups = _doc_row_groups(dfiles)
        for (lo, hi), want, rgs in (
            ((0, n), [3, 5, 61], [(0, 9), (60, 69)]),
            ((0, 50), [3, 5], [(0, 9)]),
            ((10, 60), [], []),
        ):
            groups.clear()
            norms_of = partial(_read_doc_norms, dgroups, ("text",), lo, hi)
            got, dn = _scan_postings([([pfile], ["a"])], 1, lo, hi, norms_of)
            docs = got["a"].docs.tolist() if want else []
            assert docs == want and ("a" in got) == bool(want), (lo, hi)
            if want:
                assert got["a"].norms.tolist() == norm[want].tolist(), (lo, hi)
                rows = dn.rows(np.array(want))
                assert dn.convs[dn.code[rows]].tolist() == [f"c{d // 4}" for d in want], (lo, hi)
                assert dn.turn[rows].tolist() == [d % 4 for d in want], (lo, hi)
            assert groups == rgs, (lo, hi)
        groups.clear()
        norms_of = partial(_read_doc_norms, dgroups, ("text",), 0, n)
        assert _scan_postings([([pfile], ["b"])], 1, 0, n, norms_of) == ({}, None)
        assert groups == []
        assert _doc_texts(dgroups, np.array([5, 61])).tolist() == ["t5", "t61"]
        assert groups == [(0, 9), (60, 69)]

    def test_row_decode_keeps_a_doc_range_and_checks_rows(self):
        """planner._decode_table and _Decoded.postings against the
        per-row reference on random rows of two terms, given in any
        order: each term's postings inside a doc range [lo, hi),
        ascending, with their tf, norm and positions; a row whose range
        overlaps another's of its term, or whose last_doc is cut below
        its last doc, raises naming the row."""
        import pyarrow as pa

        from emailindexer_spark.functions.codec import encode_positions
        from emailindexer_spark.plans.planner import _decode_table, _DocNorms

        rng = np.random.default_rng(0)
        schema = pa.schema(
            [("term", pa.string()), ("split_id", pa.int32()), ("first_doc", pa.int64()), ("last_doc", pa.int64()),
             ("b_first", pa.list_(pa.int64()))]
            + [(c, pa.list_(pa.binary())) for c in ("b_docs", "b_tfs", "b_pos")]
        )
        doc_norm = rng.integers(0, 256, 1000).astype(np.uint8)  # one byte per doc

        def row(term, sid, docs):
            tfs = rng.integers(1, 4, docs.size)
            norms = doc_norm[docs]
            pos = [np.sort(rng.choice(50, t, replace=False)) for t in tfs]
            eb = encode_blocks(docs, tfs, block_size=4)
            b_pos = [
                encode_positions(np.concatenate(pos[i:i + 4]), tfs[i:i + 4]) for i in range(0, docs.size, 4)
            ]
            r = {
                "term": term, "split_id": sid, "first_doc": int(docs[0]), "last_doc": int(docs[-1]),
                "b_first": [int(x) for x in eb.first_doc], "b_docs": eb.doc_bytes, "b_tfs": eb.tf_bytes,
                "b_pos": b_pos,
            }
            return r, (docs, tfs, norms, pos)

        def split_rows(term):
            docs = np.sort(rng.choice(1000, int(rng.integers(1, 60)), replace=False))
            k = min(docs.size - 1, int(rng.integers(0, 4)))
            cuts = np.sort(rng.choice(np.arange(1, docs.size), k, replace=False)) if k else []
            return zip(*(row(term, i, d) for i, d in enumerate(np.split(docs, cuts))))

        def decode(rows, level, lo, hi):
            table = pa.Table.from_pylist([rows[i] for i in rng.permutation(len(rows))], schema=schema)
            norms = _DocNorms(lo, ("text",), (doc_norm[lo:hi],))
            return _decode_table(table, level, lo, hi, norms).postings(["s", "t", "u"], lo, hi)

        for trial in range(150):
            rows, refs = split_rows("t")
            other, other_refs = split_rows("s")
            lo = int(rng.integers(0, 500))
            hi = int(rng.integers(lo + 1, 1001))
            got = decode(rows + other, 2, lo, hi)
            docs_only = decode(rows + other, 0, lo, hi)
            assert "u" not in got
            for term, rr in (("t", refs), ("s", other_refs)):
                d, t, n = (np.concatenate([r[i] for r in rr]) for i in range(3))
                pos = [p for r in rr for p in r[3]]
                keep = np.flatnonzero((d >= lo) & (d < hi))
                if not keep.size:
                    assert term not in got and term not in docs_only, trial
                    continue
                p = got[term]
                assert (p.docs == d[keep]).all() and (p.tfs == t[keep]).all(), trial
                assert (p.norms == n[keep]).all(), trial
                want = np.concatenate([pos[i] for i in keep])
                assert (p.positions(np.arange(keep.size)) == want).all(), trial
                assert (docs_only[term].docs == d[keep]).all(), trial
            if len(rows) > 1:
                bad = [dict(r) for r in rows]
                bad[1]["first_doc"] = bad[0]["last_doc"]
                with pytest.raises(ValueError, match=r"term 't' \(split_id [01]\)"):
                    decode(bad + list(other), 1, 0, 1000)
            if rows[0]["first_doc"] < rows[0]["last_doc"]:
                bad = [dict(r) for r in rows]
                bad[0]["last_doc"] -= 1
                with pytest.raises(ValueError, match=r"term 't' \(split_id 0\)"):
                    decode(bad + list(other), 1, 0, 1000)
