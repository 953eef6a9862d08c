"""Query planning + execution: parse → logical AST → one numpy evaluator.

Reference lifecycle (SURVEY.md §3.1): MultiFieldQueryParser → rewrite →
per-segment BM25 scorers → top-k collector → root-id dedup.  Ours:
driver-side parse (plans/parser.py) → rewrite (field routing, and each
prefix / wildcard / range / fuzzy leaf expanded on the driver to an
explicit term list, from the driver vocabulary or one ``term_dict``
job) → :class:`QueryEvaluator`, the ONE scorer of every query shape:
(ast, term → decoded postings, idf/avgdl maps) → (sorted docs, scores)
→ top-k with optional conversation collapse.

Scoring needs NO join against per-doc stats: norms ride inside the
postings payload (functions/codec.py), so a term's score stream is a
pure map over its postings.  One kernel, :func:`_decode_table`, decodes
postings rows from Arrow buffers for both tiers, a whole table at a
time.

The evaluator runs in one of two places:

* the driver-local tier: a query within ``LOCAL_MAX_POSTINGS``,
  ``LOCAL_MAX_EXPANSION`` and ``LOCAL_MAX_K`` is evaluated on the
  driver over the whole doc range, from postings parts kept resident
  and decoded whole on their first touch, so a query's postings are
  numpy slices (scanned and decoded per query above the residency
  cap), and finished into a
  :class:`LocalResult` with no Spark job;
* the distributed tier: every other search runs the same function in
  ONE ``spark.range(n, numPartitions=n).mapInArrow`` stage, one task
  per doc-range shard.  Each task reads its terms' rows with pyarrow
  from the part files the engine took, decodes only the blocks that
  overlap its range, and the (doc_id, score) stream goes through
  :meth:`SearchEngine._finish` (top-k, conversation collapse, text).

Shards partition the doc space and idf/avgdl come from the driver, so
both tiers rank alike, exhaustively, as the reference's own flagship
search does (n=Integer.MAX_VALUE, EmailIndexSearcher.java:57).
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from functools import cached_property, partial, reduce
from types import SimpleNamespace
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emailindexer_spark.functions import bm25
from emailindexer_spark.functions.codec import (
    decode_positions,
    varbyte_decode,
)
from emailindexer_spark.functions.smallfloat import encode_lengths
from emailindexer_spark.functions.tokenizer import tokenize_series
from emailindexer_spark.plans.builder import (
    POSTINGS_ARROW_SCHEMA,
    _binary_values,
    avgdl_from_stats,
    term_part_py,
)
from emailindexer_spark.plans.parser import (
    MAX_FUZZY_EXPANSIONS,
    MUST,
    MUST_NOT,
    SHOULD,
    Bool,
    Fuzzy,
    Node,
    Phrase,
    Prefix,
    Term,
    TermRange,
    Wildcard,
    parse,
    query_terms,
)
from emailindexer_spark.plans.results import LocalResult
from emailindexer_spark.sources.checkpoint import Manifest

SCORE_SCHEMA = "doc_id long, score double"
RESULT_COLS = ["rank", "doc_id", "conv_id", "turn_idx", "score"]


def _segmented_delta_docs(buf: bytes, firsts: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """Absolute doc ids from one concatenated varbyte delta stream:
    global cumsum, then the per-block leak is subtracted back out via
    the segment trick (each block's offset is the cumsum value at the
    previous block's last element) and ``b_first`` re-based per block.
    An empty block would make its segment offset read the wrong block's
    cumsum and silently shift every later doc id, so it raises."""
    if not bool((nb > 0).all()):
        raise ValueError("posting block with no postings: every block must be non-empty")
    deltas = varbyte_decode(buf).view(np.int64)
    cs = np.cumsum(deltas)
    starts = np.cumsum(nb) - nb
    offs = (
        np.concatenate(([0], cs[starts[1:] - 1])) if nb.size > 1 else np.zeros(1, np.int64)
    )
    return cs - np.repeat(offs, nb) + np.repeat(firsts, nb)


def _doc_counts(buf: np.ndarray, blens: np.ndarray) -> np.ndarray:
    """Postings per block of a doc stream (bytes as uint8, per-block
    byte lengths), read off its varbyte continuation bits: a value ends
    at each byte whose high bit is clear."""
    if not bool((blens > 0).all()):
        raise ValueError("empty b_docs block: every block must be non-empty")
    n_at = np.cumsum((buf & 0x80) == 0)
    return np.diff(np.concatenate(([0], n_at[np.cumsum(blens) - 1])))


def _arrow_blocks(col) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated block bytes, per-block lengths) of an Arrow
    ``list<binary>`` column, read straight from its buffers: per chunk
    one flatten (which honours a zero-copy slice's offsets) and the
    builder's :func:`_binary_values` view of the values.  One chunk's
    bytes are a read-only view, not a copy."""
    got = [_binary_values(vals) for c in col.chunks if len(vals := c.flatten())]
    if not got:
        return np.empty(0, np.uint8), np.empty(0, np.int64)
    if len(got) == 1:
        return got[0]
    return np.concatenate([b for b, _ in got]), np.concatenate([n for _, n in got])


def _sorted_member_mask(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Boolean mask: which ``values`` occur in ``sorted_arr``."""
    if not sorted_arr.size:
        return np.zeros(values.size, dtype=bool)
    p = np.searchsorted(sorted_arr, values)
    return (p < sorted_arr.size) & (
        sorted_arr[np.minimum(p, sorted_arr.size - 1)] == values
    )


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The indices ``starts[i] .. starts[i] + lens[i] - 1``, concatenated."""
    return np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(
        int(lens.sum()), dtype=np.int64
    )


def _kept_blocks(col, keep: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_arrow_blocks` of ``col`` restricted to the blocks ``keep``
    marks (all of them for None)."""
    buf, lens = _arrow_blocks(col)
    if keep is None:
        return buf, lens
    return buf[_ranges((np.cumsum(lens) - lens)[keep], lens[keep])], lens[keep]


def _count_unordered_windows(pos: np.ndarray, slot: np.ndarray, m: int, slop: int) -> int:
    """Order-tolerant sloppy-phrase match count for ONE doc: the number
    of MINIMAL windows over the merged (pos, slot) event stream that
    cover all ``m`` slots with slack (width − (m−1)) ≤ slop — the
    unordered SpanNearQuery analogue (two-pointer minimal-window sweep;
    each left boundary contributes at most one minimal window).
    Documented simplification: a physical position shared by two slots
    (repeated phrase terms) counts for both."""
    cnt = np.zeros(m, dtype=np.int64)
    covered = 0
    lo = 0
    out = 0
    for hi in range(pos.size):
        s = slot[hi]
        cnt[s] += 1
        if cnt[s] == 1:
            covered += 1
        while covered == m:
            s0 = slot[lo]
            if cnt[s0] > 1:
                cnt[s0] -= 1
                lo += 1
                continue
            if int(pos[hi] - pos[lo]) - (m - 1) <= slop:
                out += 1
            cnt[s0] -= 1
            covered -= 1
            lo += 1
    return out


def _codes_matrix(strs, lens: np.ndarray) -> np.ndarray:
    """(N, max_len) code-point matrix for a sequence of strings —
    scatter-filled from one UTF-32 decode, no per-row Python loop."""
    n = len(lens)
    L = int(lens.max()) if n else 0
    M = np.zeros((n, L), dtype=np.uint32)
    if n and L:
        allc = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
        starts = np.concatenate(([0], np.cumsum(lens[:-1])))
        M[np.repeat(np.arange(n), lens), np.arange(lens.sum()) - np.repeat(starts, lens)] = allc
    return M


def _levenshtein_batch(cands, text: str, transpositions: bool = False) -> np.ndarray:
    """Edit distance from ``text`` to each candidate, vectorized across
    candidates (DP rows are (N, L+1) arrays; the insertion recurrence's
    sequential dependency along j is resolved by the classic
    prefix-min-with-slope trick: cur[j] = min(t[j], cur[j-1]+1) ⇔
    (cur[j]-j) = running-min of (t[j]-j)).

    ``transpositions=True`` adds the adjacent-transposition edit
    (optimal string alignment / restricted Damerau-Levenshtein — the
    same primitive Lucene's FuzzyQuery automaton applies with its
    default ``transpositions=true``)."""
    n = len(cands)
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    lens = np.fromiter((len(t) for t in cands), dtype=np.int64, count=n)
    M = _codes_matrix(cands, lens)
    L = M.shape[1]
    tc = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    m = len(tc)
    jj = np.arange(L + 1, dtype=np.int32)
    prev2 = None  # D[i-2] row (transpositions)
    prev = np.broadcast_to(jj, (n, L + 1)).astype(np.int32)  # D[0][j] = j
    for i in range(1, m + 1):
        sub = prev[:, :-1] + (M != tc[i - 1])  # substitution/match
        t = np.minimum(prev[:, 1:] + 1, sub)  # deletion (of text char) branch
        if transpositions and i >= 2:
            # text[i-2:i] matched swapped against cand[j-2:j]
            swap = (M[:, 1:] == tc[i - 2]) & (M[:, :-1] == tc[i - 1])
            t[:, 1:] = np.where(swap, np.minimum(t[:, 1:], prev2[:, :-2] + 1), t[:, 1:])
        cur = np.empty_like(prev)
        e = np.minimum.accumulate(
            np.concatenate(
                [np.full((n, 1), i, dtype=np.int32), t - jj[1:]], axis=1
            ),
            axis=1,
        )
        cur[:] = e + jj
        prev2, prev = prev, cur
    return prev[np.arange(n), lens].astype(np.int32)


def _flatten_shoulds(ast: Node) -> Node:
    """Inline unit-boost pure-SHOULD child Bools into their parent (one
    level; :meth:`SearchEngine._rewrite` applies it bottom-up).
    Score-preserving: BooleanQuery sums SHOULD clause scores either
    way."""
    if not isinstance(ast, Bool):
        return ast
    out: list[tuple[str, Node]] = []
    for o, c in ast.clauses:
        if (
            o == SHOULD
            and isinstance(c, Bool)
            and c.boost == 1.0
            and c.clauses
            and all(oo == SHOULD for oo, _ in c.clauses)
        ):
            out.extend(c.clauses)
        else:
            out.append((o, c))
    return Bool(boost=ast.boost, clauses=out)


def table_files(table_dir: str) -> list[str]:
    """The data files a Spark listing of ``table_dir`` reads (``.``/``_``
    names skipped, files and directories alike), in path order."""
    files = []
    for root, dirs, names in os.walk(table_dir):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        files += [os.path.join(root, f) for f in names if not f.startswith((".", "_"))]
    return sorted(files)


def footer_schema(files: list[str]):
    """The data schema ``spark.read.parquet`` infers over ``files`` (a
    :func:`table_files` listing), derived the way Spark derives it but
    from ONE footer read on the driver, with no schema-inference job:
    the first file in path order, and the Spark schema its writer stored
    in the footer, else its Parquet schema converted (naive timestamps
    as NTZ).  Given this as the read schema, Spark makes every field
    nullable and appends the ``key=value`` directory partition columns
    from its file listing, as inference does.  None when there is no
    file or a type does not convert: callers let Spark infer instead."""
    import json

    import pyarrow.parquet as papq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    if not files:
        return None
    first = min(files)
    try:
        meta = papq.read_metadata(first).metadata or {}
        spark_json = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
        if spark_json is not None:
            return StructType.fromJson(json.loads(spark_json))
        return from_arrow_schema(papq.read_schema(first), prefer_timestamp_ntz=True)
    except (ValueError, TypeError, OSError):
        return None


def _load_sorted_postings(path: str, cols) -> pa.Table:
    """Columns ``cols`` of one postings file, whole.  Raises ValueError
    unless the file is term-sorted, as every writer leaves it: one that
    is not did not come from the index's writer, so none of its rows
    can be trusted."""
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    t = papq.read_table(path, columns=list(cols)).replace_schema_metadata(None)
    terms = t.column("term")
    if len(terms) > 1 and not pc.all(pc.less_equal(terms[:-1], terms[1:])).as_py():
        raise ValueError(f"postings file {path} is not sorted by term")
    return t


# ---------------------------------------------------------------- the evaluator


@dataclass
class _Terms(Node):
    """A multi-term leaf rewritten on the driver to the vocabulary keys
    it matches (sorted).  Without ``weights`` it scores constant
    (prefix, wildcard, range): a doc matching any key scores ``boost``.
    With them it is fuzzy's blended rewrite: key i scores BM25 at the
    blended ``idf`` times ``weights[i]``, summed per doc, times
    ``boost``."""

    keys: tuple[str, ...] = ()
    weights: tuple[float, ...] | None = None
    idf: float = 0.0


def _is_flat_terms(node: Bool) -> bool:
    return bool(node.clauses) and all(isinstance(c, Term) for _, c in node.clauses)


def _leaves(node: Node) -> Iterator[Node]:
    if isinstance(node, Bool):
        for _, c in node.clauses:
            yield from _leaves(c)
    else:
        yield node


def _term_levels(node: Node, positions: bool, out: dict[str, int] | None = None) -> dict[str, int]:
    """{key: decode level} of every key ``node`` reads: 0 doc ids only
    (constant-score keys, MUST_NOT terms of a flat Bool, phrase terms
    without positions), 1 with tf and norm, 2 with positions too."""
    out = {} if out is None else out

    def need(t: str, level: int) -> None:
        out[t] = max(out.get(t, 0), level)

    if isinstance(node, Bool):
        is_flat = _is_flat_terms(node)
        for o, c in node.clauses:
            if is_flat:
                need(c.text, 0 if o == MUST_NOT else 1)
            else:
                _term_levels(c, positions, out)
    elif isinstance(node, Term):
        need(node.text, 1)
    elif isinstance(node, Phrase):
        for t in node.terms:
            need(t, 2 if positions else 0)
    elif isinstance(node, _Terms):
        for t in node.keys:
            need(t, 0 if node.weights is None else 1)
    return out


class _Postings(NamedTuple):
    """Decoded postings of one key in a doc range, ascending: ``tfs`` and
    ``norms`` from level 1 on, and at level 2 ``pos`` = (position bytes,
    each posting's byte start and end in them)."""

    level: int
    docs: np.ndarray
    tfs: np.ndarray
    norms: np.ndarray
    pos: tuple[np.ndarray, np.ndarray, np.ndarray] | None

    def positions(self, sel: np.ndarray) -> np.ndarray:
        """The positions of postings ``sel`` (ascending), concatenated."""
        buf, start, end = self.pos
        return decode_positions(
            buf[_ranges(start[sel], end[sel] - start[sel])].tobytes(), self.tfs[sel]
        )


def _no_postings(level: int) -> _Postings:
    z = np.empty(0, np.int64)
    return _Postings(level, z, z, z, (np.empty(0, np.uint8), z, z) if level == 2 else None)


def _no_hits() -> tuple[np.ndarray, np.ndarray]:
    return np.empty(0, np.int64), np.empty(0, np.float64)


#: the postings columns read per decode level (:func:`_term_levels`):
#: doc ids only, with tf and norm, with positions too (b_pos, ~40% of a
#: positioned index's bytes, is read only by phrases)
_DOCS_COLS = ("term", "split_id", "first_doc", "last_doc", "b_first", "b_docs")
_SCORE_COLS = _DOCS_COLS + ("b_tfs", "b_norms")
_LEVEL_COLS = (_DOCS_COLS, _SCORE_COLS, _SCORE_COLS + ("b_pos",))


class _Decoded(NamedTuple):
    """A postings table decoded whole by :func:`_decode_table`: rows in
    (term, first_doc) order, row r's postings at ``off[r]:off[r + 1]`` of
    the flat ``docs``/``tfs``/``norms``, so each term's postings are one
    ascending run; at level 2 ``pos`` = (the position bytes, each
    posting's byte start, the end appended)."""

    level: int
    term: np.ndarray
    first_doc: np.ndarray
    last_doc: np.ndarray
    off: np.ndarray
    docs: np.ndarray
    tfs: np.ndarray
    norms: np.ndarray
    pos: tuple[np.ndarray, np.ndarray] | None

    def postings(self, terms, lo: int, hi: int) -> dict[str, _Postings]:
        """{term: its postings in [lo, hi), as numpy slices} of the
        ``terms`` with postings here."""
        q = np.array(sorted(terms), dtype=object)
        a = np.searchsorted(self.term, q, "left").tolist()
        b = np.searchsorted(self.term, q, "right").tolist()
        out = {}
        for t, r0, r1 in zip(q.tolist(), a, b):
            s, e = int(self.off[r0]), int(self.off[r1])
            if s == e:
                continue
            if lo > self.first_doc[r0] or hi <= self.last_doc[r1 - 1]:
                d = self.docs[s:e]
                s, e = s + int(np.searchsorted(d, lo)), s + int(np.searchsorted(d, hi))
                if s == e:
                    continue
            pos = self.pos and (self.pos[0], self.pos[1][s:e], self.pos[1][s + 1 : e + 1])
            out[t] = _Postings(self.level, self.docs[s:e], self.tfs[s:e], self.norms[s:e], pos)
        return out


def _decode_table(table: pa.Table, level: int, lo: int, hi: int) -> _Decoded:
    """Decode a postings ``table`` (any row order, columns
    ``_LEVEL_COLS[level]``) whole at ``level``, keeping the docs of
    [lo, hi): rows whose [first_doc, last_doc] misses the range keep no
    postings, and of the others only the blocks that overlap it are
    decoded, in ONE varbyte pass per column.

    Shards choose rows by their doc ranges, so a wrong range would drop
    hits without a sound: a decoded doc outside its row's
    [first_doc, last_doc], or not above the previous doc of its row, and
    two rows of one term whose ranges overlap, raise ValueError naming
    the term and the row."""
    import pyarrow.compute as pc

    order = pc.sort_indices(table, [("term", "ascending"), ("first_doc", "ascending")]).to_numpy()
    if (order[1:] < order[:-1]).any():
        table = table.take(order)
    table = table.combine_chunks()
    n = table.num_rows
    term = table.column("term").to_numpy()
    fd = table.column("first_doc").to_numpy()
    ld = table.column("last_doc").to_numpy()
    bf = table.column("b_first").chunk(0) if n else pa.array([], pa.list_(pa.int64()))
    nblk = np.diff(bf.offsets.to_numpy())
    firsts = bf.flatten().to_numpy().astype(np.int64, copy=False)
    brow = np.repeat(np.arange(n), nblk)
    # block j holds docs [firsts[j], firsts[j + 1]) within its row
    nxt = np.append(firsts[1:], 0)
    nxt[np.cumsum(nblk) - 1] = np.iinfo(np.int64).max
    meets = (fd < hi) & (ld >= lo)
    keep = (firsts < hi) & (nxt > lo) & meets[brow]
    if keep.all():
        keep = None
    else:
        firsts, brow = firsts[keep], brow[keep]
    dblocks = _kept_blocks(table.column("b_docs"), keep)
    if level == 0:
        nb = _doc_counts(*dblocks) if firsts.size else np.empty(0, np.int64)
        docs = _segmented_delta_docs(dblocks[0], firsts, nb) if firsts.size else nb
        tfs = norms = np.empty(0, np.int64)
    else:  # tfs as int32 and norms as their bytes: 13 bytes a posting, not 24
        norms, nb = _kept_blocks(table.column("b_norms"), keep)
        docs = np.empty(0, np.int64)
        if firsts.size:
            docs = _segmented_delta_docs(dblocks[0], firsts, nb)
        tfs = varbyte_decode(_kept_blocks(table.column("b_tfs"), keep)[0]).astype(np.int32)
        norms = np.array(norms)
    cnt = np.bincount(brow, weights=nb, minlength=n).astype(np.int64)
    off = np.concatenate(([0], np.cumsum(cnt)))
    has = np.flatnonzero(cnt > 0)
    cut = off[has]
    down = docs[1:] <= docs[:-1]
    down[cut[cut > 0] - 1] = False  # each row ascends on its own
    bad = has[(docs[cut] < fd[has]) | (docs[off[has + 1] - 1] > ld[has])].tolist()
    if down.any():
        bad.append(int(np.searchsorted(off, int(np.argmax(down)) + 1, "right")) - 1)
    m = np.flatnonzero(meets)  # consecutive rows of one term must not overlap
    bad += m[1:][(term[m[:-1]] == term[m[1:]]) & (ld[m[:-1]] >= fd[m[1:]])].tolist()
    if bad:
        r = min(bad)
        raise ValueError(
            f"postings row of term {term[r]!r} (split_id "
            f"{table.column('split_id')[r].as_py()}) holds docs outside its range "
            f"[{fd[r]}, {ld[r]}] or out of order"
        )
    pos = None
    if level == 2:
        pbuf = np.array(_kept_blocks(table.column("b_pos"), keep)[0])
        pend = (np.flatnonzero((pbuf & 0x80) == 0) + 1)[np.cumsum(tfs) - 1]
        pos = (pbuf, np.concatenate(([0], pend)))
    for a in (docs, tfs, norms, *(pos or ())):
        a.flags.writeable = False  # postings() hands out views of them
    return _Decoded(level, term, fd, ld, off, docs, tfs, norms, pos)


def _phrase_freqs(
    slots: list[tuple[np.ndarray, np.ndarray]], slop: int, unordered: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Phrase matches per candidate doc.  ``slots[i]`` holds term i's
    occurrences as (candidate rank, position) arrays, rank-major and
    ascending.  Returns (ranks with a match, ascending; their freq).

    * Exact order (the default; plans/parser.py Phrase.slop): from each
      start position p0 of term 0, chain to the SMALLEST position of
      term i past the previous one, pruning at p0 + i + slop; freq =
      starts that complete.  One forward searchsorted per term over
      (rank << shift | pos) keys; slop 0 is exact Lucene adjacency.
    * ``unordered`` (SearchEngine(slop_order_tolerant=True)): freq =
      minimal windows covering every term with slack <= slop
      (:func:`_count_unordered_windows`), per candidate."""
    m = len(slots)
    if any(not p.size for _, p in slots):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    if unordered:
        r = np.concatenate([r for r, _ in slots])
        p = np.concatenate([p for _, p in slots])
        s = np.repeat(np.arange(m), [r.size for r, _ in slots])
        o = np.lexsort((s, p, r))
        r, p, s = r[o], p[o], s[o]
        bounds = np.concatenate(([0], np.flatnonzero(r[1:] != r[:-1]) + 1, [r.size]))
        got = [
            (int(r[a]), f)
            for a, z in zip(bounds[:-1], bounds[1:])
            if (f := _count_unordered_windows(p[a:z], s[a:z], m, slop))
        ]
        return np.array([g[0] for g in got], np.int64), np.array([g[1] for g in got], np.int64)
    shift = int(max(int(p.max()) for _, p in slots) + m + slop + 1).bit_length()
    if int(max(int(r[-1]) for r, _ in slots) + 1).bit_length() + shift > 62:
        raise ValueError("phrase position keys overflow int64")
    keys = [(r << shift) | p for r, p in slots]
    start = e = keys[0]
    for i in range(1, m):
        k = keys[i]
        j = np.searchsorted(k, e, side="right")
        nxt = k[np.minimum(j, k.size - 1)]
        ok = (j < k.size) & (nxt <= start + i + slop)
        start, e = start[ok], nxt[ok]
        if not start.size:
            return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.unique(start >> shift, return_counts=True)


def _doc_texts(files: list[str], docs: np.ndarray) -> np.ndarray:
    """The ``text`` of ``docs`` (sorted, distinct) from the doc_index
    ``files``, in doc order: a pyarrow scan whose doc_id filter prunes
    row groups by their min/max."""
    import pyarrow.dataset as ds

    t = ds.dataset(files, format="parquet").to_table(
        columns=["doc_id", "text"], filter=ds.field("doc_id").isin(pa.array(docs))
    )
    got = t.column("doc_id").to_numpy()
    if got.size != docs.size:
        raise ValueError(f"doc_index holds {got.size} rows for {docs.size} candidate docs")
    return t.column("text").to_numpy(zero_copy_only=False)[np.argsort(got, kind="stable")]


class QueryEvaluator:
    """The one BM25 evaluator of every query shape, on both tiers:
    (ast, term → decoded postings, idf/avgdl maps) → (sorted docs,
    scores).

    ``post`` maps a key to its :class:`_Postings` in the doc range
    scored (a key without them has no postings there), ``levels`` a key
    to the decode level the ast needs (:func:`_term_levels`); a Term or
    Phrase key missing from ``idf_map`` has no postings and matches
    nothing.  Bools follow BooleanQuery: MUST clauses intersect, SHOULD
    clauses add, MUST_NOT clauses subtract, and the boost multiplies; a
    flat Bool of terms takes one pass over every term's postings.
    ``doc_text`` (sorted docs → their text) serves phrases on an index
    without positions, re-tokenized with ``simple``."""

    def __init__(
        self,
        post: dict[str, _Postings],
        levels: dict[str, int],
        idf_map: dict[str, float],
        avgdl_map: dict[str, float],
        positions: bool,
        order_tolerant: bool = False,
        doc_text=None,
        simple: bool = False,
    ):
        self.post, self.levels = post, levels
        self.idf, self.avgdl = idf_map, avgdl_map
        self.positions, self.order_tolerant = positions, order_tolerant
        self.doc_text, self.simple = doc_text, simple

    def __call__(self, ast: Node) -> tuple[np.ndarray, np.ndarray]:
        if isinstance(ast, Bool):
            return self._bool(ast)
        if isinstance(ast, Term):
            if ast.text not in self.idf:
                return _no_hits()
            p = self._postings(ast.text)
            return p.docs, self._bm25(ast.text, p) * ast.boost
        if isinstance(ast, Phrase):
            return self._phrase(ast)
        if isinstance(ast, _Terms):
            return self._terms(ast)
        raise TypeError(type(ast))

    def _postings(self, t: str) -> _Postings:
        got = self.post.get(t)
        return _no_postings(self.levels.get(t, 0)) if got is None else got

    def _bm25(self, t: str, p: _Postings) -> np.ndarray:
        return bm25.score_tf(p.tfs, p.norms, self.avgdl[t], self.idf[t])

    def _bool(self, node: Bool) -> tuple[np.ndarray, np.ndarray]:
        if _is_flat_terms(node):
            return self._flat(node)
        if len(node.clauses) == 1 and node.clauses[0][0] == SHOULD and node.boost == 1.0:
            return self(node.clauses[0][1])
        musts, shoulds, nots = [], [], []
        for occur, child in node.clauses:
            docs, scores = self(child)
            if occur == MUST:
                if not docs.size:
                    return _no_hits()  # an unmatched MUST matches nothing
                musts.append((docs, scores))
            elif occur == SHOULD:
                shoulds.append((docs, scores))
            else:
                nots.append(docs)
        if musts:
            docs, total = musts[0]
            for d, s in musts[1:]:
                hit = _sorted_member_mask(d, docs)
                docs = docs[hit]
                total = total[hit] + s[np.searchsorted(d, docs)]
            extra = np.zeros(docs.size)
            for d, s in shoulds:
                hit = _sorted_member_mask(d, docs)
                extra[hit] += s[np.searchsorted(d, docs[hit])]
            total = total + extra
        elif shoulds:
            docs, inv = np.unique(np.concatenate([d for d, _ in shoulds]), return_inverse=True)
            total = np.zeros(docs.size)
            np.add.at(total, inv, np.concatenate([s for _, s in shoulds]))
        else:
            return _no_hits()
        for d in nots:
            keep = ~_sorted_member_mask(d, docs)
            docs, total = docs[keep], total[keep]
        if node.boost != 1.0:
            total = total * node.boost
        return docs, total

    def _flat(self, node: Bool) -> tuple[np.ndarray, np.ndarray]:
        """A Bool of terms in one pass: every scoring term's postings
        concatenated (terms sorted, each scaled by its summed clause
        boosts) and summed per doc; MUST terms counted per doc, MUST_NOT
        terms decoded to doc ids only."""
        boosts: dict[str, float] = {}
        musts, nots = set(), set()
        for occur, c in node.clauses:
            if occur == MUST:
                if c.text not in self.idf:
                    return _no_hits()
                musts.add(c.text)
            elif occur == MUST_NOT:
                nots.add(c.text)
            if occur != MUST_NOT and c.text in self.idf:
                boosts[c.text] = boosts.get(c.text, 0.0) + c.boost
        if not boosts:
            return _no_hits()
        terms = sorted(boosts)
        ps = [self._postings(t) for t in terms]
        uniq, inv = np.unique(np.concatenate([p.docs for p in ps]), return_inverse=True)
        total = np.zeros(uniq.size, np.float64)
        np.add.at(
            total, inv, np.concatenate([self._bm25(t, p) * boosts[t] for t, p in zip(terms, ps)])
        )
        keep = np.ones(uniq.size, dtype=bool)
        if musts:
            nmust = np.zeros(uniq.size, np.int64)
            for t in musts:
                nmust[np.searchsorted(uniq, self._postings(t).docs)] += 1
            keep &= nmust == len(musts)
        excl = [self._postings(t).docs for t in nots if t in self.idf]
        if excl:
            keep &= ~_sorted_member_mask(np.unique(np.concatenate(excl)), uniq)
        if node.boost != 1.0:
            total = total * node.boost
        return uniq[keep], total[keep]

    def _terms(self, node: _Terms) -> tuple[np.ndarray, np.ndarray]:
        keys = [t for t in node.keys if t in self.post]
        if not keys:
            return _no_hits()
        if node.weights is None:  # constant score
            docs = np.unique(np.concatenate([self.post[t].docs for t in keys]))
            return docs, np.full(docs.size, 1.0 * node.boost)
        weight = dict(zip(node.keys, node.weights))
        ps = [self._postings(t) for t in keys]
        uniq, inv = np.unique(np.concatenate([p.docs for p in ps]), return_inverse=True)
        total = np.zeros(uniq.size, np.float64)
        np.add.at(
            total,
            inv,
            np.concatenate(
                [
                    bm25.score_tf(p.tfs, p.norms, self.avgdl[t], node.idf) * weight[t]
                    for t, p in zip(keys, ps)
                ]
            ),
        )
        if node.boost != 1.0:
            total = total * node.boost
        return uniq, total

    def _phrase(self, node: Phrase) -> tuple[np.ndarray, np.ndarray]:
        """Candidates hold every term; their occurrences come from the
        position payloads, or (an index without positions) from their
        re-tokenized ``doc_index`` text.  Score: BM25 of the phrase freq
        with the SUMMED idf of the terms by position (Lucene
        PhraseWeight: "x x" counts x twice)."""
        if any(t not in self.idf for t in node.terms):
            return _no_hits()
        ps = {t: self._postings(t) for t in dict.fromkeys(node.terms)}
        cand = None
        for p in ps.values():
            cand = p.docs if cand is None else cand[_sorted_member_mask(p.docs, cand)]
            if not cand.size:
                return _no_hits()
        if self.positions:
            slots = {}
            for t, p in ps.items():
                sel = np.flatnonzero(_sorted_member_mask(cand, p.docs))
                slots[t] = (np.repeat(np.arange(cand.size), p.tfs[sel]), p.positions(sel))
            p0 = ps[node.terms[0]]
            norms = p0.norms[_sorted_member_mask(cand, p0.docs)]
        else:
            toks = tokenize_series(pd.Series(self.doc_text(cand), dtype=object), simple=self.simple)
            n = toks.str.len().to_numpy(np.int64)
            flat = np.array([w for ws in toks for w in ws], dtype=object)
            rank = np.repeat(np.arange(cand.size), n)
            pos = np.arange(flat.size, dtype=np.int64) - np.repeat(np.cumsum(n) - n, n)
            slots = {t: (rank[flat == t], pos[flat == t]) for t in ps}
            norms = encode_lengths(n)
        rank, freq = _phrase_freqs(
            [slots[t] for t in node.terms], node.slop, self.order_tolerant and node.slop > 0
        )
        idf_sum = sum(self.idf[t] for t in node.terms)
        scores = bm25.score_tf(freq, norms[rank], self.avgdl[node.terms[0]], idf_sum)
        return cand[rank], scores * node.boost


def _scan_files(
    files: list[str], terms: list[str], cols, lo: int | None = None, hi: int | None = None
) -> pa.Table | None:
    """A term-filtered pyarrow scan of postings ``files`` (row groups
    pruned by the sorted term column's min/max), restricted when ``lo``
    is given to rows whose [first_doc, last_doc] meets [lo, hi); None
    when no row matches."""
    if not files:
        return None
    import pyarrow.dataset as ds

    flt = ds.field("term").isin(terms)
    if lo is not None:
        flt = flt & (ds.field("first_doc") < hi) & (ds.field("last_doc") >= lo)
    t = ds.dataset(files, format="parquet").to_table(columns=list(cols), filter=flt)
    return t if t.num_rows else None


def _scan_postings(
    files: list[str], terms: list[str], level: int, lo: int, hi: int
) -> dict[str, _Postings]:
    """{term: _Postings} of ``terms`` in [lo, hi) from a
    :func:`_scan_files` of ``files``, decoded by :func:`_decode_table`."""
    t = _scan_files(files, terms, _LEVEL_COLS[level], lo, hi)
    return {} if t is None else _decode_table(t, level, lo, hi).postings(terms, lo, hi)


def _conv_winners(
    docs: np.ndarray, scores: np.ndarray, offs: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Best hit per conversation — max score, then smallest doc — as
    (docs, scores, conversation index), in doc order; ``offs`` holds the
    conversations' first docs (sorted, from 0).  Conversations are
    CONTIGUOUS doc ranges, so grouping is one searchsorted of the offset
    array and a repeat, and the winner a reduceat group max with a
    first-equal-per-group pick: no sort of the candidates."""
    if not bool((docs[1:] > docs[:-1]).all()):
        o0 = np.argsort(docs, kind="stable")
        docs, scores = docs[o0], scores[o0]
    b = np.searchsorted(docs, offs)
    if b[0] != 0:
        raise ValueError("candidate doc id below the first conversation")
    counts = np.diff(np.append(b, docs.size))
    gids = np.repeat(np.arange(offs.size, dtype=np.int64), counts)
    starts = b[counts > 0]
    gmax = np.maximum.reduceat(scores, starts)
    seg = np.diff(np.append(starts, docs.size))
    pos = np.flatnonzero(scores == np.repeat(gmax, seg))
    g = gids[pos]
    first = np.concatenate(([True], g[1:] != g[:-1]))
    return docs[pos[first]], scores[pos[first]], g[first]


def _shard_scorer(plan: SimpleNamespace):
    """mapInArrow over ``spark.range(plan.n, numPartitions=plan.n)``:
    shard i scores the docs [plan.bounds[i], plan.bounds[i + 1]) with
    :class:`QueryEvaluator`, over its terms' rows read with pyarrow from
    ``plan.files`` (per part; terms and the doc range prune row groups
    and rows) and decoded by :func:`_decode_table`, and emits (doc_id,
    score).  With ``plan.offs`` (the
    conversations' first docs; the bounds then fall on conversation
    edges) it keeps each conversation's best hit, and with ``plan.k``
    its top k by (score desc, doc_id asc): the global winners lie
    within the shards'."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        doc_text = partial(_doc_texts, plan.doc_files) if plan.doc_files else None
        for b in batches:
            for i in b.column(0).to_pylist():
                lo, hi = int(plan.bounds[i]), int(plan.bounds[i + 1])
                post = {}
                for part, terms in plan.terms.items():
                    post.update(_scan_postings(plan.files[part], terms, plan.level, lo, hi))
                docs, scores = QueryEvaluator(
                    post, plan.levels, plan.idf, plan.avgdl, plan.positions,
                    plan.order_tolerant, doc_text, plan.simple,
                )(plan.ast)
                if plan.offs is not None and docs.size:
                    docs, scores, _ = _conv_winners(docs, scores, plan.offs)
                if plan.k is not None and docs.size > plan.k:
                    top = np.lexsort((docs, -scores))[: plan.k]
                    docs, scores = docs[top], scores[top]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(docs, pa.int64()), pa.array(scores, pa.float64())],
                    names=["doc_id", "score"],
                )

    return run


class SearchEngine:
    """Query engine over an index directory built by plans/builder.py."""

    #: driver-side term-dictionary cap: Lucene keeps its terms dict in
    #: memory per segment; we mirror that for BOUNDED vocabularies (5M
    #: rows ≈ low hundreds of MB of driver heap).  Above the cap every
    #: stat/expansion lookup falls back to vocab-scale Spark jobs.
    VOCAB_DRIVER_MAX_ROWS = 5_000_000

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        fuzzy_transpositions: bool = False,
        slop_order_tolerant: bool = False,
    ):
        self.spark = spark
        self.index_dir = index_dir
        # opt-in unordered sloppy phrase ("a b"~k matches "b … a"):
        # minimal-covering-window semantics (the SpanNearQuery
        # inOrder=false analogue), parity-tested against the pure-Python
        # oracle.  Default stays EXACT-ORDER because only that choice is
        # independently verifiable by the SQL gate (SURVEY §2.9).
        self.slop_order_tolerant = bool(slop_order_tolerant)
        # FuzzyQuery distance metric: False = classic Levenshtein (the
        # default — independently verifiable by SQL oracles, since Spark
        # and DuckDB `levenshtein()` compute the same function); True =
        # optimal string alignment (adjacent-transposition credit),
        # Lucene FuzzyQuery's own default (transpositions=true,
        # FuzzyQuery defaults; EmailIndexSearcher.java:49-53 uses the
        # parser default).  Same expansion/rewrite machinery either way.
        self.fuzzy_transpositions = bool(fuzzy_transpositions)
        self.man = Manifest.load_or_create(index_dir)
        if "n_docs" not in self.man.stats:
            raise ValueError(f"{index_dir} has no completed build")
        # heal a compact crashed mid-swap (postings renamed away but the
        # new dir not yet moved in) BEFORE touching the postings dir;
        # then publish any append that committed its manifest entry but
        # crashed before renaming its hidden files visible
        from emailindexer_spark.streaming.compact import _repair_partial
        from emailindexer_spark.streaming.ingest import (
            committed_tags,
            repair_ingest_visibility,
        )

        _repair_partial(self.man)
        repair_ingest_visibility(self.man)
        # the engine answers as of this open: the files it reads later
        # (vocabulary, postings parts) skip appends committed after it
        self._tags = committed_tags(self.man)
        self.num_parts = int(self.man.params.get("num_parts", 32))
        self.simple = bool(self.man.params.get("simple_tokens", False))
        self.positions = bool(self.man.params.get("positions", False))
        self.n_docs = int(self.man.stats["n_docs"])
        self.n_rows = int(self.man.stats["n_rows"])
        self.avgdl = avgdl_from_stats(self.man.stats)
        # per-field Lucene statistics; fields[0] = default (bare-term keys)
        self.fields: tuple[str, ...] = tuple(self.man.params.get("fields", ["text"]))
        fs = self.man.stats.get(
            "field_stats",
            {self.fields[0]: {"n_docs": self.n_docs, "total_tokens": self.man.stats["total_tokens"]}},
        )
        self.field_stats: dict[str, tuple[int, float]] = {
            f: (
                int(v["n_docs"]),
                (v["total_tokens"] / v["n_docs"]) if v["n_docs"] else 0.0,
            )
            for f, v in fs.items()
        }
        # driver-side df cache (Lucene keeps its term dictionary in
        # memory too): terms resolve once per engine instance; None
        # marks a term known to be absent from the index
        self._df_cache: dict[str, int | None] = {}
        # lazily-loaded driver-side term dictionary (sorted terms, dfs,
        # parts) — makes df lookups and prefix/range/wildcard/fuzzy
        # expansion ZERO-Spark-job operations for bounded vocabularies
        self._vocab: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        self._vocab_tried = False
        self._vocab_lock = threading.Lock()
        self._vocab_lens: np.ndarray | None = None
        self._vocab_colon: np.ndarray | None = None
        # driver-local postings: each part's file list, taken on its
        # first touch, and the parts held in memory (_resident_part),
        # loaded under their own lock for search_many's planner threads
        self._local_files: dict[int, list[str]] = {}
        self._resident: dict[int, _Decoded] = {}
        self._resident_lock = threading.Lock()
        self._postings_total: int | None = None
        # conv_offsets artifact (dense-docid builds and their appends of
        # new conversations): (conv_id array, sorted conv_offset array)
        # maps doc_id → (conv_id, turn_idx) with a searchsorted — no
        # doc_stats join per query.  ``_off_bc.value`` is read on the
        # driver and shipped to shard tasks; the distributed tier's
        # finish broadcasts it on first use (_off_broadcast), so an open
        # makes no JVM call
        self._off_bc = None
        self._off_spark = None
        self._load_conv_offsets()

    def _at_open(self, files: list[str]) -> list[str]:
        """``files`` minus those of appends committed after the open
        (``{tag}-…`` names; build and compaction files carry no tag)."""
        return [
            f
            for f in files
            if not (n := os.path.basename(f)).startswith("ing")
            or n.split("-", 1)[0] in self._tags
        ]

    def _read_table(self, name: str) -> DataFrame:
        """Table ``name`` as of the open: the files :meth:`_at_open`
        keeps, read as an explicit list under ``basePath`` so the
        ``part=`` directories still give their partition column."""
        path = os.path.join(self.index_dir, name)
        files = self._at_open(table_files(path))
        schema = footer_schema(files)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        if not files:
            return reader.parquet(path)
        return reader.option("basePath", path).parquet(*files)

    def _load_conv_offsets(self) -> None:
        """Load the optional conv_offsets fast-path artifact: the build's
        piece plus one piece per append of new conversations
        (streaming/ingest.py), concatenated and ordered by conv_offset.

        STRICTLY best-effort: the artifact only ever replaces the
        doc_stats join, so any doubt — stage not committed in the
        manifest, unreadable file (e.g. a crash left a truncated
        parquet), a conv_id in two pieces, offsets that don't tile
        [0, n_rows) contiguously — falls back to the join path instead
        of failing the engine open."""
        import glob

        if not self.man.is_complete("conv_offsets"):
            return
        co_dir = os.path.join(self.index_dir, "conv_offsets")
        files = self._at_open(glob.glob(os.path.join(co_dir, "*.parquet")))
        if not files:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as papq

        try:
            t = pa.concat_tables([papq.read_table(f) for f in files])
            # piece order on disk is not doc order (``ing…`` names sort
            # before the build's ``part-…``): order rows by offset
            t = t.take(pc.sort_indices(t.column("conv_offset")))
            offs = t.column("conv_offset").to_numpy().astype(np.int64)
            n_turns = t.column("n_turns").to_numpy().astype(np.int64)
            unique = pc.count_distinct(t.column("conv_id")).as_py() == t.num_rows
        except Exception:
            return  # unreadable/corrupt artifact → doc_stats join path
        # stale-artifact guard: the offsets must tile [0, n_rows) with
        # FULL contiguity and give each conversation ONE range (appends
        # that break either drop the artifact, but reject any mismatch
        # regardless — a wrong offset table would silently mislabel
        # every hit)
        if (
            offs.size == 0
            or not unique
            or int(offs[0]) != 0
            or int(offs[-1] + n_turns[-1]) != self.n_rows
            or not bool((offs[1:] == offs[:-1] + n_turns[:-1]).all())
        ):
            return
        conv_ids = np.asarray(t.column("conv_id").to_pylist(), dtype=object)
        self._off_bc = SimpleNamespace(value=(conv_ids, offs))

    def _off_broadcast(self):
        """``_off_bc`` as a Spark broadcast, made once on the first
        distributed use; None when the index has no usable offsets."""
        if self._off_bc is None:
            return None
        with self._vocab_lock:
            if self._off_spark is None:
                self._off_spark = self.spark.sparkContext.broadcast(self._off_bc.value)
        return self._off_spark

    def _driver_vocab(self) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
        """(sorted terms, df, part) arrays, or None when the vocabulary
        exceeds VOCAB_DRIVER_MAX_ROWS (Spark-job fallbacks engage).

        Lock-guarded double-checked load: search_many evaluates queries in
        driver threads, and publishing ``_vocab_tried`` before ``_vocab``
        would let a concurrent first call observe (tried=True, vocab=None)
        and silently take the Spark-job fallback."""
        if self._vocab_tried:
            return self._vocab
        with self._vocab_lock:
            if self._vocab_tried:
                return self._vocab
            self._vocab = self._read_driver_vocab()
            self._vocab_tried = True  # AFTER _vocab is assigned
        return self._vocab

    def _read_driver_vocab(self) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
        import glob

        td_path = os.path.join(self.index_dir, "term_dict")
        files = self._at_open(sorted(glob.glob(os.path.join(td_path, "*.parquet"))))
        if not files:
            return None
        import pyarrow as pa
        import pyarrow.parquet as papq

        nrows = 0
        for f in files:
            nrows += papq.ParquetFile(f).metadata.num_rows
            if nrows > self.VOCAB_DRIVER_MAX_ROWS:
                return None
        pdf = pa.concat_tables([papq.read_table(f) for f in files]).to_pandas()
        # part is a pure function of term; duplicates come from ingest-
        # batch delta files: sum df per term.  sort=True gives Python str
        # order == Spark UTF8 binary order (code-point order).
        g = pdf.groupby("term", sort=True).agg(df=("df", "sum"), part=("part", "first"))
        return (
            g.index.to_numpy(dtype=object),
            g["df"].to_numpy(np.int64),
            g["part"].to_numpy(np.int32),
        )

    def _vocab_aux(self) -> tuple[np.ndarray, np.ndarray]:
        """(per-term length, per-term contains-colon) masks, computed
        once — the fuzzy length band and default-field scoping."""
        terms = self._vocab[0]
        if self._vocab_lens is None:
            self._vocab_lens = np.fromiter(
                (len(t) for t in terms), dtype=np.int32, count=len(terms)
            )
            self._vocab_colon = np.fromiter(
                ((":" in t) for t in terms), dtype=bool, count=len(terms)
            )
        return self._vocab_lens, self._vocab_colon

    @staticmethod
    def _prefix_successor(prefix: str) -> str | None:
        """Smallest string > EVERY string carrying ``prefix`` under
        code-point (== Spark UTF8 binary) order, or None when no such
        string exists (the prefix is all U+10FFFF — slice to the end).

        The naive ``prefix + U+10FFFF`` inclusive bound UNDER-includes:
        a vocabulary term whose suffix itself starts with U+10FFFF sorts
        after it and would silently drop out of parts pruning.  Pruning
        must never under-include, so prefix slices use this true
        successor as an EXCLUSIVE upper bound instead."""
        s = prefix.rstrip("\U0010ffff")
        if not s:
            return None
        return s[:-1] + chr(ord(s[-1]) + 1)

    def _vocab_prefix_slice(self, prefix: str) -> tuple[int, int]:
        """[i0, i1) of driver-vocab terms that START WITH ``prefix``."""
        return self._vocab_slice(prefix, self._prefix_successor(prefix), True, False)

    def _vocab_slice(
        self,
        lo: str | None,
        hi: str | None,
        lo_incl: bool = True,
        hi_incl: bool = False,
    ) -> tuple[int, int]:
        """[i0, i1) indices of the sorted driver vocab within the key
        range — the binary-search analogue of term_dict row-group
        pruning."""
        terms = self._vocab[0]
        i0 = (
            int(np.searchsorted(terms, lo, side="left" if lo_incl else "right"))
            if lo is not None
            else 0
        )
        i1 = (
            int(np.searchsorted(terms, hi, side="right" if hi_incl else "left"))
            if hi is not None
            else int(terms.size)
        )
        return i0, max(i0, i1)

    def _expand_sel_to_parts(self, sel: np.ndarray) -> list[int]:
        return sorted({int(p) for p in self._vocab[2][sel]})

    def _default_scope_sel(self, i0: int, i1: int, field: str) -> np.ndarray:
        """Vocab indices [i0, i1) minus other-field ``f:term`` keys when
        expanding in the default field (mirrors the Spark-side
        ``~contains(':')`` scope predicate)."""
        if field == self.fields[0]:
            _, colon = self._vocab_aux()
            return np.nonzero(~colon[i0:i1])[0] + i0
        return np.arange(i0, i1)

    # the Spark-side tables, read on first use with explicit footer
    # schemas (no Spark job) from the files of the open: the driver-
    # local tier never touches them, so opening the engine makes no JVM
    # call for them

    @cached_property
    def postings(self) -> DataFrame:
        return self._read_table("postings")

    @cached_property
    def doc_stats(self) -> DataFrame:
        return self._read_table("doc_stats")

    @cached_property
    def term_dict(self) -> DataFrame | None:
        """The sorted term dictionary (term, part, df): prefix expansion
        and df lookups scan the vocabulary, never the postings payloads.
        None for an index without one."""
        if not os.path.isdir(os.path.join(self.index_dir, "term_dict")):
            return None
        return self._read_table("term_dict")

    @cached_property
    def doc_index(self) -> DataFrame:
        return self._read_table("doc_index")


    @cached_property
    def _doc_files(self) -> list[str]:
        """doc_index's files as of the open, for phrases on an index
        without positions (read with pyarrow, on either tier)."""
        return self._at_open(table_files(os.path.join(self.index_dir, "doc_index")))

    # ------------------------------------------------------------ postings access

    def _vocab_source(self) -> DataFrame:
        """(term, df) rows of the vocabulary for the Spark-job fallbacks
        above VOCAB_DRIVER_MAX_ROWS: term_dict, or on an index without one
        the postings' per-row df (sum df per term either way: ingest
        batches add rows)."""
        if self.term_dict is not None:
            return self.term_dict.select("term", "df")
        return self.postings.select("term", F.col("df_row").alias("df"))

    def term_dfs(self, terms: set[str]) -> dict[str, int]:
        """Global doc frequency per term (sum over skew splits/batches).

        Cached per engine instance, so a batch of queries sharing terms
        (or ``search_many`` pre-warming the cache with the union of all
        its queries' terms) pays ONE driver round-trip total.
        """
        missing = sorted(t for t in terms if t not in self._df_cache)
        if missing:
            vocab = self._driver_vocab()
            if vocab is not None:
                vt, vdf, _ = vocab
                at = np.searchsorted(vt, np.array(missing, dtype=object))
                for t, i in zip(missing, at.tolist()):
                    self._df_cache[t] = int(vdf[i]) if i < vt.size and vt[i] == t else None
            else:
                rows = (
                    self._vocab_source()
                    .where(F.col("term").isin(missing))
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"))
                    .collect()
                )
                found = {r["term"]: int(r["df"]) for r in rows}
                for t in missing:
                    self._df_cache[t] = found.get(t)
        return {t: v for t in terms if (v := self._df_cache.get(t)) is not None}

    def _empty_scores(self) -> DataFrame:
        return self.spark.createDataFrame([], SCORE_SCHEMA)

    # ------------------------------------------------------------ field routing

    def _key(self, field: str, term: str) -> str:
        """The default field owns the bare-term key space; other fields
        are prefixed ``field:term`` (one shared sorted term space —
        per-field terms dictionaries flattened; analyzed default-field
        tokens can never contain ':')."""
        return term if field == self.fields[0] else f"{field}:{term}"

    def _fields_for(self, field: str | None) -> list[str]:
        if field is None:
            # bare leaves search ALL indexed fields (the reference's
            # MultiFieldQueryParser, EmailIndexSearcher.java:49-53)
            return list(self.fields)
        if field not in self.fields:
            # Lucene parity: a query on an unindexed field parses fine
            # and simply matches zero docs (a TermQuery over a field no
            # document carries) — it must not raise
            return []
        return [field]

    def _field_of_key(self, key: str) -> str:
        if ":" in key:
            f = key.split(":", 1)[0]
            if f in self.fields:
                return f
        return self.fields[0]

    def _resolve_node(self, node: Node) -> Node:
        """Rewrite field routing into keyed leaves: ``field:term`` →
        key-addressed Term; a bare leaf on a multi-field index becomes a
        SHOULD disjunction of per-field copies (score = sum of matched
        fields, BooleanQuery-of-per-field-queries semantics)."""
        if isinstance(node, Bool):
            return Bool(
                boost=node.boost,
                clauses=[(o, self._resolve_node(c)) for o, c in node.clauses],
            )
        flds = self._fields_for(getattr(node, "field", None))

        def mk(f: str) -> Node:
            if isinstance(node, Term):
                return Term(boost=node.boost, text=self._key(f, node.text), field=f)
            if isinstance(node, Prefix):
                return Prefix(boost=node.boost, prefix=node.prefix, field=f)
            if isinstance(node, TermRange):
                return TermRange(
                    boost=node.boost, lo=node.lo, hi=node.hi,
                    lo_incl=node.lo_incl, hi_incl=node.hi_incl, field=f,
                )
            if isinstance(node, Phrase):
                return Phrase(
                    boost=node.boost,
                    terms=tuple(self._key(f, t) for t in node.terms),
                    field=f,
                    slop=node.slop,
                )
            if isinstance(node, Fuzzy):
                return Fuzzy(
                    boost=node.boost, text=node.text, max_edits=node.max_edits, field=f
                )
            if isinstance(node, Wildcard):
                return Wildcard(boost=node.boost, pattern=node.pattern, field=f)
            raise TypeError(type(node))

        if not flds:
            return Bool(boost=1.0, clauses=[])  # unknown field: matches nothing
        if len(flds) == 1:
            return mk(flds[0])
        return Bool(boost=1.0, clauses=[(SHOULD, mk(f)) for f in flds])

    def _maps_for(self, keys: set[str]) -> tuple[dict[str, float], dict[str, float]]:
        """(idf per key, avgdl per key) under each key's FIELD stats."""
        dfs = self.term_dfs(keys)
        idf_map, avgdl_map = {}, {}
        for k, dfv in dfs.items():
            n_f, adl_f = self.field_stats[self._field_of_key(k)]
            idf_map[k] = float(bm25.idf(dfv, n_f))
            avgdl_map[k] = adl_f
        return idf_map, avgdl_map


    # ------------------------------------------------------------ rewrite

    def _band(
        self, lo: str | None, hi: str | None, lo_incl: bool, hi_incl: bool, field: str
    ) -> np.ndarray:
        """The vocabulary keys in a key range (None = open end), sorted,
        scoped to ``field``: a default-field band drops the other fields'
        ``field:term`` keys.  A slice of the driver vocabulary, else one
        vocab-scale Spark job over term_dict (row groups pruned by the
        sorted term column), whose dfs warm the df cache."""
        if self._driver_vocab() is not None:
            i0, i1 = self._vocab_slice(lo, hi, lo_incl, hi_incl)
            return self._vocab[0][self._default_scope_sel(i0, i1, field)]
        t = F.col("term")
        pred = F.lit(True)
        if lo is not None:
            pred = pred & ((t >= lo) if lo_incl else (t > lo))
        if hi is not None:
            pred = pred & ((t <= hi) if hi_incl else (t < hi))
        if field == self.fields[0]:
            pred = pred & ~t.contains(":")
        rows = self._vocab_source().where(pred).groupBy("term").agg(F.sum("df").alias("df")).collect()
        for r in rows:
            self._df_cache[r["term"]] = int(r["df"])
        return np.array(sorted(r["term"] for r in rows), dtype=object)

    def _expand(self, node: Prefix | Wildcard | TermRange, field: str) -> list[str]:
        """The ``field`` keys a constant-score leaf matches, as Lucene's
        multi-term rewrite walks its terms dict.  The parser rejects
        leading wildcards, so a wildcard's band is its literal prefix's;
        a range's open end in a non-default field stops at the field
        prefix's true successor (see _prefix_successor)."""
        pref = "" if field == self.fields[0] else field + ":"
        if isinstance(node, Prefix):
            key = pref + node.prefix
            return list(self._band(key, self._prefix_successor(key), True, False, field))
        if isinstance(node, Wildcard):
            import re

            base = pref + re.split(r"[?*]", node.pattern)[0]
            band = self._band(base, self._prefix_successor(base), True, False, field)
            rx = "".join(
                ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in node.pattern
            )
            pat = re.compile("^" + re.escape(pref) + rx + "$")
            return [t for t in band if pat.match(t)]
        lo = pref + node.lo if node.lo is not None else (pref or None)
        if node.hi is not None:
            hi, hi_incl = pref + node.hi, node.hi_incl
        elif pref:
            hi, hi_incl = self._prefix_successor(pref), False
        else:
            hi, hi_incl = None, True
        lo_incl = node.lo_incl if node.lo is not None else True
        return list(self._band(lo, hi, lo_incl, hi_incl, field))

    def _rewrite(self, node: Node) -> Node:
        """``node`` (field-resolved) with every multi-term leaf rewritten
        on the driver to the explicit :class:`_Terms` it matches, and
        unit-boost pure-SHOULD Bools inlined into SHOULD parents
        (:func:`_flatten_shoulds`: a bare term on a multi-field index
        stays a flat Bool of terms).  Fuzzy
        is Lucene's default TopTermsBlendedFreqScoringRewrite: every
        selected expansion scores as a BM25 TermQuery whose df is BLENDED
        to the selected terms' max df, weighted by the FuzzyTermsEnum
        similarity boost, SHOULD-summed per doc."""
        if isinstance(node, Bool):
            clauses = [(o, self._rewrite(c)) for o, c in node.clauses]
            return _flatten_shoulds(Bool(boost=node.boost, clauses=clauses))
        f = getattr(node, "field", None) or self.fields[0]
        if isinstance(node, Fuzzy):
            exp = self._fuzzy_expand(node.text, f, node.max_edits)
            dfs = self.term_dfs({kk for kk, _ in exp})
            exp = sorted((kk, ed) for kk, ed in exp if kk in dfs)
            if not exp:
                return _Terms(boost=node.boost)
            pref_len = 0 if f == self.fields[0] else len(f) + 1
            return _Terms(
                boost=node.boost,
                keys=tuple(kk for kk, _ in exp),
                weights=tuple(self._fuzzy_boost(kk[pref_len:], node.text, ed) for kk, ed in exp),
                idf=float(bm25.idf(max(dfs[kk] for kk, _ in exp), self.field_stats[f][0])),
            )
        if isinstance(node, (Prefix, Wildcard, TermRange)):
            return _Terms(boost=node.boost, keys=tuple(self._expand(node, f)))
        if isinstance(node, Phrase) and not self.positions and f != self.fields[0]:
            raise NotImplementedError("non-default-field phrases need a positions-enabled index")
        return node

    def _prepare(
        self, ast: Node
    ) -> tuple[Node, dict[str, float], dict[str, float], dict[str, int], int]:
        """``ast`` (field-resolved) rewritten by :meth:`_rewrite`, the idf
        and avgdl maps of its scored keys, the decode level of each key
        it reads that the index holds, and its widest constant-score
        expansion."""
        ast = self._rewrite(ast)
        const, scored, widest = set(), set(), 0
        for leaf in _leaves(ast):
            if isinstance(leaf, _Terms):
                if leaf.weights is None:
                    const.update(leaf.keys)
                    widest = max(widest, len(leaf.keys))
                else:
                    scored.update(leaf.keys)
        idf_map, avgdl_map = self._maps_for(query_terms(ast) | scored)
        levels = _term_levels(ast, self.positions)
        levels = {t: v for t, v in levels.items() if t in idf_map or t in const}
        return ast, idf_map, avgdl_map, levels, widest

    @staticmethod
    def _fuzzy_boost(bare: str, text: str, ed: int) -> float:
        """Lucene FuzzyTermsEnum similarity: 1 - ed/min(|cand|, |query|)
        in code points (exact match → 1.0)."""
        return 1.0 if ed == 0 else 1.0 - ed / min(len(bare), len(text))

    def _fuzzy_expand(
        self, text: str, field: str, max_edits: int, max_expansions: int = MAX_FUZZY_EXPANSIONS
    ) -> list[tuple[str, int]]:
        """FuzzyQuery expansion against the sorted term dictionary:
        (key, edit distance) pairs of ``field`` vocabulary keys within
        Levenshtein distance ``max_edits`` of ``text`` (length-band
        pre-filter, then classic Levenshtein — the same function Spark
        and DuckDB ``levenshtein()`` compute, so oracles reproduce the
        expansion exactly).  Capped at ``max_expansions`` terms by
        similarity-boost desc / df desc / term asc (Lucene's
        TopTermsRewrite priority, maxExpansions=50); the scan is
        vocab-scale, never postings-scale — Lucene walks its terms dict
        with a Levenshtein automaton in the same place.  With the
        driver vocab loaded the whole expansion is a zero-job numpy
        pass (length band → vectorized DP → top-N)."""
        pref = "" if field == self.fields[0] else field + ":"
        if self._driver_vocab() is not None:
            terms = self._vocab[0]
            dfs = self._vocab[1]
            lens, _ = self._vocab_aux()
            if pref:
                i0, i1 = self._vocab_prefix_slice(pref)
                sel = np.arange(i0, i1)
            else:
                sel = self._default_scope_sel(0, terms.size, field)
            band = sel[np.abs(lens[sel] - len(pref) - len(text)) <= max_edits]
            if band.size == 0:
                return []
            bare = [terms[i][len(pref):] for i in band] if pref else list(terms[band])
            d = _levenshtein_batch(
                bare, text, transpositions=self.fuzzy_transpositions
            )
            keep = d <= max_edits
            hit = band[keep]
            eds = {int(i): int(e) for i, e in zip(hit, d[keep])}
            ranked = sorted(
                hit.tolist(),
                key=lambda i: (
                    -self._fuzzy_boost(terms[i][len(pref):], text, eds[i]),
                    -int(dfs[i]),
                    terms[i],
                ),
            )
            return [(terms[i], eds[i]) for i in ranked[:max_expansions]]
        src = self._vocab_source()
        bare = (
            F.col("term").substr(F.lit(len(pref) + 1), F.length("term"))
            if pref
            else F.col("term")
        )
        scope = (
            F.col("term").startswith(pref)
            if pref
            else ~F.col("term").contains(":")
        )
        # Spark-side pre-filter.  Classic metric: exact (Spark
        # `levenshtein` IS the metric).  OSA: Spark has no transposition-
        # aware distance, but OSA ≤ k ⟹ classic ≤ 2k (one transposition
        # costs at most two classic edits), so classic ≤ 2k plus the
        # length band is a SUPERSET pre-filter; exact OSA re-filters the
        # collected (vocab-band-sized, tiny) candidate list driver-side.
        lev_bound = 2 * max_edits if self.fuzzy_transpositions else max_edits
        pred = (
            scope
            & (F.abs(F.length(bare) - F.lit(len(text))) <= max_edits)
            & (F.levenshtein(bare, F.lit(text)) <= lev_bound)
        )
        rows = (
            src.where(pred)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.min(F.levenshtein(bare, F.lit(text))).alias("ed"))
            .collect()
        )
        scored = [
            (r["term"], int(r["ed"]), int(r["df"])) for r in rows
        ]
        if self.fuzzy_transpositions and scored:
            cand_bare = [t[len(pref):] for t, _e, _d in scored]
            osa = _levenshtein_batch(cand_bare, text, transpositions=True)
            scored = [
                (t, int(e), dfv)
                for (t, _e, dfv), e in zip(scored, osa)
                if e <= max_edits
            ]
        scored.sort(
            key=lambda t: (
                -self._fuzzy_boost(t[0][len(pref):], text, t[1]),
                -t[2],
                t[0],
            )
        )
        return [(t, e) for t, e, _df in scored[:max_expansions]]


    # ------------------------------------------------------------ local serving

    #: posting-volume budget for the driver-local tier: a query whose
    #: terms and expansions hold at most this many postings is evaluated
    #: on the driver (the same evaluator the shard tasks run) instead of
    #: paying cluster scheduling for milliseconds of work — the
    #: Lucene-searcher analogue of Q2's zero-job term lookups.  Above
    #: the budget (or when any required artifact is missing) the
    #: distributed tier runs; 5M postings ≈ 120 MB of transient decode
    #: arrays, the same order as the driver vocab cap.  It also caps
    #: residency (_resident_part): touched parts stay in memory, decoded,
    #: only while the WHOLE index holds at most this many postings.  A
    #: decoded part costs ~25 bytes per posting with positions (int64
    #: doc, int32 tf, norm byte, int64 position offset, ~1.7 position
    #: bytes; perfbench's 11k-turn index after two appends: 468k
    #: postings = 11.6 MB, against 3.1 MB of the Arrow it was read
    #: from).  Measured just under the cap (110k turns, 4.67M postings,
    #: 8 parts, 4 vCPU): 109 MB of decoded arrays (23 bytes a posting),
    #: driver RSS +153 MB, 0.5 s to touch every part; so ~115 MB of
    #: arrays at the cap — about one query's decode arrays at the budget.
    LOCAL_MAX_POSTINGS = 5_000_000
    #: expansion-width cap for local constant-score rewrites (prefix/
    #: range/wildcard): wider expansions take the distributed tier
    LOCAL_MAX_EXPANSION = 4096
    #: result-row cap: k above it stays distributed, and so does a
    #: "give me everything" query (k=None) with more candidates
    LOCAL_MAX_K = 10_000
    #: Σdf of a search_many batch's exact terms above which its local
    #: members run on a 4-thread pool.  Measured (4 vCPU, medians of
    #: 7-15): one after another was faster at Σdf 40k-100k (10k turns,
    #: 10-32 queries: 16-67 ms against 25-89 ms pooled), the pool from
    #: 242k up (60k and 600k turns, 2-64 queries: 1.15-2.6x faster)
    #: except once at 318k (88 against 95 ms)
    LOCAL_POOL_MIN_POSTINGS = 200_000

    def _local_term_rows(self, terms: set[str], level: int) -> dict[str, _Postings]:
        """{term: its postings over the open's docs, at ``level`` or
        above} for the ``terms`` with postings.

        While the index's whole postings volume (Σdf over the driver
        vocabulary) fits LOCAL_MAX_POSTINGS, a touched part stays
        resident, decoded (:meth:`_resident_part`: ~23-25 bytes a
        posting, ~115 MB at the cap), and a query's postings are numpy
        slices of it: a searchsorted on its term column per part, and per term one
        slice (two searchsorted more when it holds docs past the open's
        ``n_rows``).  On perfbench's ingest-search index (4 vCPU) a
        rare-term search takes ~0.2 ms, against ~0.75 ms when each search
        decoded its terms' Arrow rows.  Above the cap
        each query runs a term-filtered pyarrow scan of the part's files
        (row groups pruned by the sorted term column's min/max) and
        decodes the rows it finds with the same kernel.  Either way each
        part's file list is taken on its first touch and kept, so both
        tiers see one fixed index state."""
        by_part: dict[int, list[str]] = {}
        for t in sorted(terms):
            by_part.setdefault(term_part_py(t, self.num_parts), []).append(t)
        resident = self._resident_ok()
        out: dict[str, _Postings] = {}
        for part, ts in sorted(by_part.items()):
            if resident:
                out.update(self._resident_part(part).postings(ts, 0, self.n_rows))
            else:
                out.update(_scan_postings(self._part_files(part), ts, level, 0, self.n_rows))
        return out

    def _resident_ok(self) -> bool:
        """Whether postings parts may stay resident (see
        LOCAL_MAX_POSTINGS); read per call, so an instance cap applies
        at once."""
        if self._postings_total is None:
            vocab = self._driver_vocab()
            if vocab is None:
                return False
            self._postings_total = int(vocab[1].sum())
        return self._postings_total <= self.LOCAL_MAX_POSTINGS

    def _part_files(self, part: int) -> list[str]:
        """Postings part ``part``'s files as of the open, taken on its
        first touch by either tier."""
        files = self._local_files.get(part)
        if files is None:
            import glob

            pattern = os.path.join(self.index_dir, "postings", f"part={part}", "*.parquet")
            files = self._at_open(sorted(glob.glob(pattern)))
            self._local_files[part] = files
        return files

    def _resident_part(self, part: int) -> _Decoded:
        """Postings part ``part`` decoded whole (:func:`_decode_table`) at
        the index's top level over the open's docs, on its first touch:
        its files read with pyarrow, checked term-sorted, and dropped
        once decoded, so only the decoded arrays stay: ~23-25 bytes a
        posting, ~115 MB at LOCAL_MAX_POSTINGS (109 MB measured at
        4.67M postings).  A part of 40k-85k postings (perfbench's
        ingest-search index, 4 vCPU) takes 4-6 ms to read and 5-10 ms
        to decode.  Double-checked under a lock, like _driver_vocab:
        search_many evaluates queries in driver threads."""
        got = self._resident.get(part)
        if got is None:
            with self._resident_lock:
                got = self._resident.get(part)
                if got is None:
                    level = 2 if self.positions else 1
                    cols = list(_LEVEL_COLS[level])
                    tables = [_load_sorted_postings(f, cols) for f in self._part_files(part)]
                    empty = POSTINGS_ARROW_SCHEMA.empty_table().select(cols)
                    got = _decode_table(pa.concat_tables(tables or [empty]), level, 0, self.n_rows)
                    self._resident[part] = got
        return got

    def _local_search(
        self,
        ast: Node,
        k: int | None,
        mode: str,
        cache: dict[str, _Postings] | None = None,
    ) -> dict[str, np.ndarray] | None:
        """Evaluate the whole query on the driver: the result columns
        (see :meth:`_local_finish`), or None = take the distributed
        tier — ``k`` above LOCAL_MAX_K, no conv_offsets or driver
        vocabulary, more than LOCAL_MAX_POSTINGS postings in its terms
        and expansions, a constant-score expansion wider than
        LOCAL_MAX_EXPANSION, or k=None with more than LOCAL_MAX_K hits.
        ``cache`` shares postings across a search_many batch.  The doc
        range stops at the open's ``n_rows``: a compaction after the
        open rewrites later appends' postings into files the open
        cannot tell apart, and the open-time conv_offsets would
        mislabel their docs."""
        if (
            (k is not None and k > self.LOCAL_MAX_K)
            or self._off_bc is None
            or self._driver_vocab() is None
        ):
            return None
        ast, idf_map, avgdl_map, levels, widest = self._prepare(ast)
        if (
            widest > self.LOCAL_MAX_EXPANSION
            or sum(self.term_dfs(set(levels)).values()) > self.LOCAL_MAX_POSTINGS
        ):
            return None
        # the query's own map: pooled batch members share ``cache``, and
        # above the residency cap one may fetch a term at a lower level
        cache = {} if cache is None else cache
        post = {t: p for t, v in levels.items() if (p := cache.get(t)) is not None and p.level >= v}
        need = set(levels) - set(post)
        if need:
            level = max(levels[t] for t in need)
            got = self._local_term_rows(need, level)
            for t in need:
                post[t] = got[t] if t in got else _no_postings(level)
                if t not in cache or cache[t].level < post[t].level:
                    cache[t] = post[t]
        docs, scores = QueryEvaluator(
            post, levels, idf_map, avgdl_map, self.positions, self.slop_order_tolerant,
            None if self.positions else partial(_doc_texts, self._doc_files), self.simple,
        )(ast)
        if k is None and docs.size > self.LOCAL_MAX_K:
            return None
        return self._local_finish(docs, scores, k, mode)

    def _local_finish(
        self, docs: np.ndarray, scores: np.ndarray, k: int | None, mode: str
    ) -> dict[str, np.ndarray]:
        """Driver-local mirror of :meth:`_finish`: (score desc, doc_id
        asc) ordering, optional best-per-conv collapse (max-struct
        winner = score desc then doc asc), top-k, rank, conv/turn
        attachment via the conv_offsets searchsorted.  Returns the
        RESULT_COLS as numpy columns of the RESULT_SCHEMA dtypes (rank
        and turn_idx int32, doc_id int64, conv_id object, score
        float64), which :class:`LocalResult` holds as they are.

        Turns mode prunes to the exact top-k SUPERSET first (k-th score
        threshold via np.partition, keeping every tie at the boundary),
        so the full sort and the conv attachment touch ~k rows instead
        of every candidate — measured 0.08 s off a 555k-candidate
        query.  Conversation mode never sorts the full candidate set
        either: conversations are CONTIGUOUS doc ranges and the
        candidates arrive doc-sorted, so conv grouping is one
        searchsorted of the (much smaller) offset array + repeat, the
        per-conv winner (max score, tie → smallest doc) is a reduceat
        group-max and a first-equal-per-group pick, and only the
        winners — one row per conversation hit — pay the
        (score desc, doc asc) lexsort.  Measured 0.19 → ~0.10 s on the
        555k-candidate bench query; same winners by construction (the
        old path's sort-then-first-per-conv picks exactly the max-score
        / smallest-doc row per conv)."""
        conv_ids, offs = self._off_bc.value
        if offs.size == 0 or int(offs[0]) != 0:
            # the conv grouping below labels group i with conv_ids[i];
            # a first range not starting at doc 0 would misalign them
            raise ValueError("conv_offsets must start at doc 0")
        if (
            mode != "conversations"
            and k is not None
            and 0 < k < docs.size
            and docs.size > max(4 * k, 4096)
        ):
            kth = np.partition(scores, docs.size - k)[docs.size - k]
            if (scores == kth).all():
                # constant-score: winners are just the k smallest docs
                sel = np.argpartition(docs, k - 1)[:k]
                docs, scores = docs[sel], scores[sel]
            else:
                m = scores >= kth  # superset: all boundary ties kept
                docs, scores = docs[m], scores[m]
        if mode == "conversations" and docs.size:
            wdocs, wscores, wgid = _conv_winners(docs, scores, offs)
            order = np.lexsort((wdocs, -wscores))[:k]
            docs, scores, oi = wdocs[order], wscores[order], wgid[order]
        else:
            order = np.lexsort((docs, -scores))
            docs, scores = docs[order][:k], scores[order][:k]
            oi = np.searchsorted(offs, docs, side="right") - 1
        return {
            "rank": np.arange(1, docs.size + 1, dtype=np.int32),
            "doc_id": docs,
            "conv_id": conv_ids[oi] if docs.size else np.empty(0, object),
            "turn_idx": (docs - offs[oi]).astype(np.int32) if docs.size else np.empty(0, np.int32),
            "score": scores,
        }

    RESULT_SCHEMA = (
        "rank int, doc_id long, conv_id string, turn_idx int, score double"
    )


    # ------------------------------------------------------------ distributed tier

    def _shard_count(self) -> int:
        """Doc-range shards of a distributed search: the session's default
        parallelism, the floor of a sharded build's shard count."""
        return self.spark.sparkContext.defaultParallelism

    def _shard_plan(
        self, ast: Node, k: int | None = None, collapse: bool = False
    ) -> SimpleNamespace | None:
        """What every shard task of :func:`_shard_scorer` needs, built on
        the driver (None when the query reads no key the index holds):
        the rewritten ast with its idf/avgdl maps and key levels, the
        shards' doc bounds over the open's ``n_rows`` docs, the keys and
        file list of each postings part they live in (taken as of the
        open), the decode level their keys need, and doc_index's files on
        an index without positions.  With conv_offsets, each bound moves
        up to the next conversation's first doc, so a conversation lies
        in one shard, as in a sharded build's row-balanced shards (and
        ``collapse`` has each shard keep its conversations' best hits)."""
        ast, idf_map, avgdl_map, levels, _ = self._prepare(ast)
        if not levels:
            return None
        terms: dict[int, list[str]] = {}
        for t in sorted(levels):
            terms.setdefault(term_part_py(t, self.num_parts), []).append(t)
        n = self._shard_count()
        bounds = np.arange(n + 1) * self.n_rows // n
        offs = None if self._off_bc is None else self._off_bc.value[1]
        if offs is not None:
            bounds = np.append(offs, self.n_rows)[np.searchsorted(offs, bounds)]
        return SimpleNamespace(
            ast=ast, idf=idf_map, avgdl=avgdl_map, levels=levels, k=k,
            n=n, bounds=bounds, offs=offs if collapse else None, terms=terms,
            files={p: self._part_files(p) for p in terms}, level=max(levels.values()),
            positions=self.positions, order_tolerant=self.slop_order_tolerant,
            simple=self.simple, doc_files=None if self.positions else self._doc_files,
        )

    def _shard_scores(
        self, ast: Node, k: int | None = None, collapse: bool = False
    ) -> DataFrame:
        """(doc_id, score) of every doc matching the field-resolved
        ``ast`` — each shard's top ``k`` only, when given, of its
        conversations' best hits with ``collapse`` — from ONE mapInArrow
        stage with no exchange: one task per doc-range shard (see
        :func:`_shard_scorer`)."""
        plan = self._shard_plan(ast, k, collapse)
        if plan is None:
            return self._empty_scores()
        return self.spark.range(plan.n, numPartitions=plan.n).mapInArrow(
            _shard_scorer(plan), SCORE_SCHEMA
        )

    def _distributed(self, ast: Node, k: int | None, mode: str, with_text: bool) -> DataFrame:
        """The distributed tier: the shards' (doc_id, score) through
        :meth:`_finish`.  With conv_offsets the shards collapse
        conversations themselves (each lies in one shard), so both modes
        finish as a top-k; without, _finish's hash aggregation does."""
        collapse = mode == "conversations" and self._off_bc is not None
        top = k if mode != "conversations" or collapse else None
        scores = self._shard_scores(ast, top, collapse)
        return self._finish(scores, k, "turns" if collapse else mode, with_text)

    # ------------------------------------------------------------ public API

    def score(self, query: str) -> DataFrame:
        """(doc_id, score) for every matching doc — exhaustive semantics."""
        return self._shard_scores(self._resolve_node(parse(query, simple=self.simple)))

    def search(
        self,
        query: str,
        k: int | None = 10,
        mode: str = "turns",
        use_wand: bool | None = None,
        with_text: bool = False,
    ) -> DataFrame:
        """Top-k search. Returns (rank, doc_id, conv_id, turn_idx, score).

        When the driver-local tier serves the query (no ``with_text``,
        ``k`` up to ``LOCAL_MAX_K``, within the local budgets; every
        query shape), the result is a :class:`LocalResult`: its
        ``collect``, ``toPandas``, ``count``, ``columns`` and ``schema``
        answer on the driver with no JVM call, and any other DataFrame
        use builds the JVM relation first.  Every other query returns a
        plain DataFrame over the distributed tier: the same evaluator
        per doc-range shard in one mapInArrow stage, then
        :meth:`_finish`.  ``use_wand`` is accepted and ignored: every
        query takes the same exact plan."""
        ast = self._resolve_node(parse(query, simple=self.simple))
        if not with_text:
            lr = self._local_search(ast, k, mode)
            if lr is not None:
                return LocalResult(lr, self.RESULT_SCHEMA, self.spark)
        return self._distributed(ast, k, mode, with_text)

    BATCH_SCHEMA = (
        "query_id string, rank int, doc_id long, conv_id string, turn_idx int, score double"
    )

    def search_many(
        self, queries: dict[str, tuple[str, int, str]], use_wand: bool | None = None
    ) -> DataFrame:
        """Run a batch of queries: query_id -> (query_string, k, mode).
        Returns one DataFrame (query_id, rank, doc_id, conv_id, turn_idx,
        score).

        The members the driver-local tier serves share one postings
        cache, so each term's postings are taken once per batch, and fold
        into ONE :class:`LocalResult`, which answers ``collect``/``toPandas``/
        ``count``/``columns``/``schema`` with no JVM call; a batch they
        fill (and an empty batch) returns it as is.  Each other member
        runs its own distributed search plan, unioned with the local
        rows (materialized as a JVM relation).  ``use_wand`` is accepted
        and ignored, as in :meth:`search`."""
        # ONE df-stat lookup for the whole batch: pre-warm the term cache
        # with the union of every query's terms
        resolved: dict[str, tuple[Node, int | None, str]] = {}
        all_terms: set[str] = set()
        for qid, (q, k, mode) in queries.items():
            ast = self._resolve_node(parse(q, simple=self.simple))
            resolved[qid] = (ast, k, mode)
            all_terms |= query_terms(ast)
        batch_df = sum(self.term_dfs(all_terms).values())
        # a batch whose terms hold more than LOCAL_POOL_MIN_POSTINGS
        # postings runs its local members on 4 threads, whose decode and
        # scoring passes overlap in numpy; a smaller one runs them one
        # after another, because its members' numpy work is too small to
        # overlap under the GIL
        cache: dict[str, _Postings] = {}

        def _local_one(item):
            qid, (ast, k, mode) = item
            return qid, self._local_search(ast, k, mode, cache)

        if len(resolved) > 1 and batch_df > self.LOCAL_POOL_MIN_POSTINGS:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(4, len(resolved))) as lex:
                local_results = list(lex.map(_local_one, resolved.items()))
        else:
            local_results = [_local_one(item) for item in resolved.items()]
        served = [(qid, lr) for qid, lr in local_results if lr is not None]
        local = (
            LocalResult(
                {
                    "query_id": np.repeat(
                        np.array([qid for qid, _ in served], dtype=object),
                        [lr["rank"].size for _, lr in served],
                    ),
                    **{c: np.concatenate([lr[c] for _, lr in served]) for c in RESULT_COLS},
                },
                self.BATCH_SCHEMA,
                self.spark,
            )
            if served
            else LocalResult.empty(self.BATCH_SCHEMA, self.spark)
        )
        rest = [(qid, lr) for qid, lr in local_results if lr is None]
        if not rest:
            return local  # every member served locally, or an empty batch
        parts = [local] if served else []
        for qid, _ in rest:
            ast, k, mode = resolved[qid]
            parts.append(self._distributed(ast, k, mode, False).withColumn("query_id", F.lit(qid)))
        out = reduce(lambda a, b: a.unionByName(b), parts)
        return out.select("query_id", *RESULT_COLS)

    ATTACHED_SCHEMA = "doc_id long, score double, conv_id string, turn_idx int"

    def _attach_stats(self, scores: DataFrame) -> DataFrame:
        """Attach (conv_id, turn_idx) to a (doc_id, score) stream.

        Dense-docid indexes (conv_offsets artifact present) map doc_id →
        conversation MAP-SIDE with a broadcast searchsorted: doc_id =
        conv_offset + turn_idx by construction, so no doc_stats scan and
        no join shuffle per query.  Other indexes join doc_stats."""
        bc = self._off_broadcast()
        if bc is None:
            return scores.join(
                self.doc_stats.select("doc_id", "conv_id", "turn_idx"), "doc_id"
            )

        def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            conv_ids, offs = bc.value
            for pdf in it:
                d = pdf["doc_id"].to_numpy(np.int64)
                idx = np.searchsorted(offs, d, side="right") - 1
                out = pdf[["doc_id", "score"]].copy()
                out["conv_id"] = conv_ids[idx]
                out["turn_idx"] = (d - offs[idx]).astype(np.int32)
                yield out

        return scores.mapInPandas(gen, self.ATTACHED_SCHEMA)

    def _finish(
        self,
        scores: DataFrame,
        k: int | None,
        mode: str,
        with_text: bool,
    ) -> DataFrame:
        if mode != "conversations" and k is not None:
            # turns mode: the top-k winners are fully determined by
            # (score, doc_id), so rank FIRST (TakeOrderedAndProject,
            # all JVM) and attach conversation metadata to the k
            # surviving rows only — one tiny Python task instead of a
            # per-shuffle-partition wave over every candidate
            topk = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            attached = self._attach_stats(topk)
            wr = Window.orderBy(F.desc("score"), F.asc("doc_id"))
            out = attached.withColumn("rank", F.row_number().over(wr)).select(*RESULT_COLS)
            if with_text:
                out = out.join(self.doc_index.select("doc_id", "text"), "doc_id", "left")
            return out
        enriched = self._attach_stats(scores)
        if mode == "conversations":
            # best-per-conv as a hash aggregation, NOT a window: structs
            # compare lexicographically, so max(struct(score, -doc_id,
            # …payload)) picks the (score desc, doc_id asc) winner with
            # map-side partial combine — no per-conv sort of all
            # candidates, no window exchange of losers
            best = F.max(
                F.struct(
                    F.col("score"),
                    (-F.col("doc_id")).alias("_nd"),
                    F.col("doc_id"),
                    F.col("turn_idx"),
                )
            ).alias("_b")
            enriched = (
                enriched.groupBy("conv_id")
                .agg(best)
                .select(
                    F.col("_b.doc_id").alias("doc_id"),
                    "conv_id",
                    F.col("_b.turn_idx").alias("turn_idx"),
                    F.col("_b.score").alias("score"),
                )
            )
        if k is not None:
            enriched = enriched.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        wr = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        out = enriched.withColumn("rank", F.row_number().over(wr)).select(*RESULT_COLS)
        if with_text:
            out = out.join(self.doc_index.select("doc_id", "text"), "doc_id", "left")
        return out
