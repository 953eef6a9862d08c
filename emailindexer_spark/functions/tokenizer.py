"""StandardAnalyzer-parity tokenizer (vectorized).

The reference analyzes both index- and query-side text with Lucene's
``StandardAnalyzer`` (SURVEY.md §1.2): UAX#29 word-break tokenization +
lowercasing, empty stopword set, max token length 255.  We replicate the
UAX#29 rules for the character classes the corpus uses (lowercase ASCII
letters, digits, apostrophes, dots — FIXTURES.md §1), which reduce to:

* a token is a maximal run of ``[a-z0-9]``,
* a single ``'`` joins two runs iff both neighbors are LETTERS
  (UAX#29 WB6/WB7 with Single_Quote; ``don't`` → one token, ``2'3`` → two),
* a single ``.`` joins two runs iff both neighbors are letters or both
  are digits (MidNumLet; ``u.s.a`` and ``2.0.26`` are one token,
  ``a1.b`` splits — the char before the dot is a digit, after is a letter),
* everything else (whitespace, punctuation, ``-``, ``_`` is excluded from
  the generated corpora) breaks,
* tokens longer than 255 chars are split at 255 (StandardTokenizer
  ``maxTokenLength``),
* lowercase filter (applied up front; word-break classes of ASCII are
  case-insensitive so the result is identical to Lucene's
  tokenize-then-lowercase order).

Two implementations, kept in lock-step by tests:
``tokenize`` (pure Python, used by the oracle and the query parser) and
``tokenize_series`` / ``tokenize_series_codes`` (vectorized, used by the
build's staging kernel).

Simple mode (``simple=True``) is plain ``[a-z0-9]+`` runs — the variant
the DuckDB oracle SQL can reproduce (RE2 has no lookbehind); on plain
space-separated corpora the two modes coincide.
"""

from __future__ import annotations

import re

import pandas as pd

MAX_TOKEN_LEN = 255

# one token: an alnum run, extended by ' between letters or . between
# letters/letters or digits/digits (single separator only).
_STANDARD_RE = re.compile(
    r"[a-z0-9]+(?:"
    r"(?<=[a-z])'(?=[a-z])[a-z0-9]+"
    r"|(?<=[a-z])\.(?=[a-z])[a-z0-9]+"
    r"|(?<=[0-9])\.(?=[0-9])[a-z0-9]+"
    r")*"
)
_SIMPLE_RE = re.compile(r"[a-z0-9]+")

def _split_long(tokens: list[str]) -> list[str]:
    if all(len(t) <= MAX_TOKEN_LEN for t in tokens):
        return tokens
    out: list[str] = []
    for t in tokens:
        if len(t) <= MAX_TOKEN_LEN:
            out.append(t)
        else:
            out.extend(t[i : i + MAX_TOKEN_LEN] for i in range(0, len(t), MAX_TOKEN_LEN))
    return out


def tokenize(text: str, simple: bool = False) -> list[str]:
    """Analyze one string → ordered token list (positions = indexes)."""
    if text is None:
        return []
    rx = _SIMPLE_RE if simple else _STANDARD_RE
    return _split_long(rx.findall(text.lower()))


def tokenize_series(texts: pd.Series, simple: bool = False) -> pd.Series:
    """Vectorized analyze: Series[str] → Series[list[str]]."""
    rx = _SIMPLE_RE if simple else _STANDARD_RE
    toks = texts.fillna("").str.lower().str.findall(rx)
    # long-token split is a no-op on real corpora; only pay when needed
    if (texts.str.len().fillna(0) > MAX_TOKEN_LEN).any():
        toks = toks.map(_split_long)
    return toks


#: fast-path cap on token length (bytes): beyond this the padded
#: byte-matrix factorization would cost more than it saves, so the batch
#: falls back to the regex path.  32 covers every natural-language token
#: (the 255-split only produces longer runs on pathological input).
_FAST_MAX_TOKEN = 32


def token_counts(texts: pd.Series, simple: bool = False) -> np.ndarray:
    """Exact per-row token COUNTS (``len(tokenize(text))``) without
    materializing tokens: the ASCII fast path stops after the run scan
    — identical values by the same fuzz lock-step as
    tokenize_series_codes."""
    nlens, _codes, _uniq = tokenize_series_codes(texts, simple=simple, count_only=True)
    return nlens


def tokenize_series_codes(
    texts: pd.Series, simple: bool = False, count_only: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Analyze a batch into FACTORIZED flat form: ``(nlens, codes,
    uniques)`` where ``nlens[i]`` = token count of row i, ``codes`` =
    per-token integer code in reading order, ``uniques[code]`` = token
    string.  ``uniques[codes]`` reproduces the flat token stream of
    ``tokenize_series`` exactly (lock-step fuzz-tested).

    Pure-ASCII batches take a numpy byte-mask path: the whole batch is
    joined into one buffer, lowercased and classified vectorially, the
    UAX#29-subset joining rules (``'`` between letters, ``.`` between
    letters or digits) become neighbor-mask ANDs, and token identity
    comes from factorizing the tokens' padded 8-byte words — no per-row
    regex calls and no per-occurrence Python string objects (the only
    strings materialized are the batch's UNIQUE tokens).  Anything
    non-ASCII, or a token run over _FAST_MAX_TOKEN bytes, falls back to
    the regex path with identical results (guide §4.2: hand whole
    batches to vectorized native code)."""
    import numpy as _np

    texts = texts.fillna("")
    n_rows = len(texts)
    if n_rows == 0:
        return (
            _np.zeros(0, dtype=_np.int64),
            _np.zeros(0, dtype=_np.int64),
            _np.empty(0, dtype=object),
        )
    big = "\n".join(texts.tolist()) + "\n"
    if big.isascii():
        out = _tokenize_ascii_codes(big, texts, simple, count_only)
        if out is not None:
            return out
    # fallback: regex tokenize + factorize (non-ASCII or pathological
    # token lengths) — bit-identical stream, just slower
    toks = tokenize_series(texts, simple=simple)
    nlens = toks.str.len().to_numpy(dtype=_np.int64)
    if count_only or nlens.sum() == 0:
        return nlens, _np.zeros(0, dtype=_np.int64), _np.empty(0, dtype=object)
    flat = _np.concatenate([t for t in toks.to_numpy() if len(t)])
    codes, uniques = pd.factorize(flat)
    return nlens, codes.astype(_np.int64), _np.asarray(uniques, dtype=object)


def _tokenize_ascii_codes(big: str, texts: pd.Series, simple: bool, count_only: bool = False):
    """ASCII fast path of :func:`tokenize_series_codes`; returns None to
    request the regex fallback (token longer than _FAST_MAX_TOKEN)."""
    import numpy as _np

    b = _np.frombuffer(big.encode("ascii"), dtype=_np.uint8).copy()
    upper = (b >= 65) & (b <= 90)
    b[upper] += 32  # lowercase (word-break classes are case-insensitive)
    letter = (b >= 97) & (b <= 122)
    digit = (b >= 48) & (b <= 57)
    tok = letter | digit
    if not simple:
        prev_l = _np.concatenate(([False], letter[:-1]))
        next_l = _np.concatenate((letter[1:], [False]))
        # WB6/WB7 Single_Quote: ' joins two LETTERS; MidNumLet dot joins
        # letter.letter or digit.digit (single separator only — a
        # second separator char fails the alnum neighbor test itself)
        tok |= (b == 39) & prev_l & next_l
        if _np.any(b == 46):
            prev_d = _np.concatenate(([False], digit[:-1]))
            next_d = _np.concatenate((digit[1:], [False]))
            tok |= (b == 46) & ((prev_l & next_l) | (prev_d & next_d))
    is_start = tok & _np.concatenate(([True], ~tok[:-1]))
    starts = _np.nonzero(is_start)[0]
    n_tok = starts.size
    row_lens = texts.str.len().to_numpy(dtype=_np.int64)
    if n_tok == 0:
        return (
            _np.zeros(len(texts), dtype=_np.int64),
            _np.zeros(0, dtype=_np.int64),
            _np.empty(0, dtype=object),
        )
    is_end = tok & _np.concatenate((~tok[1:], [True]))
    ends = _np.nonzero(is_end)[0] + 1
    lens = ends - starts
    lmax = int(lens.max())
    if lmax > MAX_TOKEN_LEN:
        # maxTokenLength split: cut over-long runs at 255-byte bounds
        n_sub = -(-lens // MAX_TOKEN_LEN)
        rep = _np.repeat(_np.arange(n_tok), n_sub)
        off = _np.arange(int(n_sub.sum()), dtype=_np.int64) - _np.repeat(
            _np.cumsum(n_sub) - n_sub, n_sub
        )
        starts = starts[rep] + off * MAX_TOKEN_LEN
        ends = _np.minimum(starts + MAX_TOKEN_LEN, ends[rep])
        lens = ends - starts
        n_tok = starts.size
        lmax = int(lens.max())
    # rows: token i belongs to the row whose [row_start, row_end) span
    # contains starts[i] (rows are '\n'-separated, sep included in span)
    row_bounds = _np.zeros(len(texts) + 1, dtype=_np.int64)
    _np.cumsum(row_lens + 1, out=row_bounds[1:])
    row_of = _np.searchsorted(row_bounds, starts, side="right") - 1
    nlens = _np.bincount(row_of, minlength=len(texts)).astype(_np.int64)
    if count_only:
        return nlens, _np.zeros(0, dtype=_np.int64), _np.empty(0, dtype=object)
    if lmax > _FAST_MAX_TOKEN:
        return None
    # token identity: padded byte matrix viewed as uint64 words,
    # factorized word-by-word (integer hash factorize, no strings).
    # The matrix is one broadcast GATHER from a zero-padded buffer
    # (token slices masked by length) — no per-byte scatter indices.
    n_words = -(-lmax // 8)
    width = n_words * 8
    bpad = _np.concatenate((b, _np.zeros(width, dtype=_np.uint8)))
    col = _np.arange(width, dtype=_np.int64)
    M = bpad[starts[:, None] + col[None, :]]
    M[col[None, :] >= lens[:, None]] = 0
    words = _np.ascontiguousarray(M).view(_np.uint64).reshape(n_tok, n_words)
    codes, _u = pd.factorize(words[:, 0])
    codes = codes.astype(_np.int64)
    for k in range(1, n_words):
        ck, _u = pd.factorize(words[:, k])
        combo = codes * _np.int64(len(_u)) + ck
        codes, _u2 = pd.factorize(combo)
        codes = codes.astype(_np.int64)
    # materialize ONLY the unique tokens: first-occurrence index per
    # code via a REVERSED scatter (last write wins ⇒ first occurrence)
    n_uniq = int(codes.max()) + 1
    firsts = _np.empty(n_uniq, dtype=_np.int64)
    firsts[codes[::-1]] = _np.arange(n_tok - 1, -1, -1, dtype=_np.int64)
    uniques = _np.empty(n_uniq, dtype=object)
    bb = b.tobytes()  # lowercased buffer — token text is defined on it
    for u in range(n_uniq):
        i = firsts[u]
        uniques[u] = bb[starts[i]:ends[i]].decode("ascii")
    return nlens, codes, uniques
