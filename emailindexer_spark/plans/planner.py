"""Query planning + execution: parse → logical AST → DataFrame program.

Reference lifecycle (SURVEY.md §3.1): MultiFieldQueryParser → rewrite →
per-segment BM25 scorers → top-k collector → root-id dedup.  Ours:
driver-side parse (plans/parser.py) → postings selection with partition
pruning (part = md5(term) % P is computed in Python, so only matching
``part=`` directories are read; the term predicate additionally prunes
parquet row-groups via min/max on the sorted ``term`` column) →
vectorized decode+score (Arrow batches, numpy BM25) → boolean
combination in DataFrame ops → conversation collapse (max-struct hash
agg, best row per conv_id) → global top-k (TakeOrderedAndProject).

Scoring needs NO join against per-doc stats: norms ride inside the
postings payload (functions/codec.py), so a term's score stream is a
pure map over its posting rows.  The only joins are candidate-sized:
conv_id attachment for collapse mode and text attachment for phrase
verification / display.

Selectivity leads (Lucene's driver-iterator order): conjunctions and
phrases broadcast the rarest MUST term's doc ids and filter every wider
term's block decode map-side; MUST_NOT terms decode doc ids only (no
tf/norm IO, no scoring) into a broadcast-hinted anti join.

Routing: a search the driver-local tier serves scores on the driver;
every other search takes one exhaustive plan (score every matching
doc, then top-k), matching the reference's own exhaustive flagship
search (n=Integer.MAX_VALUE, EmailIndexSearcher.java:57).
``search_many`` batches flat queries onto ONE shared postings scan
with a vectorized per-query fan-out kernel.
"""

from __future__ import annotations

import os
import threading
from functools import cached_property, reduce
from types import SimpleNamespace
from typing import Iterator

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
from emailindexer_spark.plans.builder import _binary_values, avgdl_from_stats, term_part_py
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
TERM_SCORE_SCHEMA = "term string, doc_id long, score double"
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


def _decode_postings(
    firsts: np.ndarray,
    docs: tuple[np.ndarray, np.ndarray],
    tfs: tuple[np.ndarray, np.ndarray],
    norms: tuple[np.ndarray, np.ndarray],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The posting decode kernel over any mix of blocks → (docs, tfs,
    norms).  ``docs``/``tfs``/``norms`` are each column's blocks as
    (concatenated bytes as uint8, per-block byte lengths), ``firsts``
    the blocks' ``b_first``: ONE varbyte pass per stream — concatenated
    varbyte streams are self-delimiting — instead of a Python loop per
    block.  Per-block posting counts come off the norm payload (exactly
    1 byte per posting)."""
    if not firsts.size:
        z = np.empty(0, np.int64)
        return z, z.copy(), z.copy()
    d = _segmented_delta_docs(docs[0], firsts, norms[1])
    return d, varbyte_decode(tfs[0]).view(np.int64), norms[0].astype(np.int64)


def _decode_docs(firsts: np.ndarray, docs: tuple[np.ndarray, np.ndarray]) -> np.ndarray:
    """Docs-only decode kernel (NOT exclusion / constant score): per-block
    value counts are read off the doc stream's own varbyte continuation
    bits, so only (b_first, b_docs) is ever fetched from parquet.
    Returns doc ids in posting order (not deduplicated)."""
    buf, blens = docs
    if not firsts.size:
        return np.empty(0, np.int64)
    if not bool((blens > 0).all()):
        raise ValueError("empty b_docs block: every block must be non-empty")
    n_at = np.cumsum((buf & 0x80) == 0)
    nb = np.diff(np.concatenate(([0], n_at[np.cumsum(blens) - 1])))
    return _segmented_delta_docs(buf, firsts, nb)


def _frame_blocks(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated block bytes, per-block lengths) of a pandas column of
    per-row lists of bytes."""
    bufs = [b for row in col for b in row]
    lens = np.fromiter(map(len, bufs), np.int64, count=len(bufs))
    return np.frombuffer(b"".join(bufs), dtype=np.uint8), lens


def _frame_firsts(col: pd.Series) -> np.ndarray:
    if not len(col):
        return np.empty(0, np.int64)
    return np.concatenate([np.asarray(x, dtype=np.int64) for x in col])


def _decode_frame_postings(sub: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`_decode_postings` over pandas posting rows (the executor
    kernels and compaction)."""
    return _decode_postings(
        _frame_firsts(sub["b_first"]),
        _frame_blocks(sub["b_docs"]),
        _frame_blocks(sub["b_tfs"]),
        _frame_blocks(sub["b_norms"]),
    )


def _decode_frame_docs(sub: pd.DataFrame) -> np.ndarray:
    """:func:`_decode_docs` over pandas posting rows."""
    return _decode_docs(_frame_firsts(sub["b_first"]), _frame_blocks(sub["b_docs"]))


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


def _arrow_firsts(col) -> np.ndarray:
    """The flattened ``b_first`` values of an Arrow ``list<int64>`` column."""
    vals = [c.flatten().to_numpy() for c in col.chunks]
    if not vals:
        return np.empty(0, np.int64)
    return (vals[0] if len(vals) == 1 else np.concatenate(vals)).astype(np.int64, copy=False)


def _decode_arrow_postings(rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`_decode_postings` over Arrow posting rows (the driver-local
    tier), with no pandas conversion."""
    return _decode_postings(
        _arrow_firsts(rows.column("b_first")),
        _arrow_blocks(rows.column("b_docs")),
        _arrow_blocks(rows.column("b_tfs")),
        _arrow_blocks(rows.column("b_norms")),
    )


def _decode_arrow_docs(rows) -> np.ndarray:
    """:func:`_decode_docs` over Arrow posting rows."""
    return _decode_docs(_arrow_firsts(rows.column("b_first")), _arrow_blocks(rows.column("b_docs")))


def _sorted_member_mask(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Boolean mask: which ``values`` occur in ``sorted_arr``."""
    p = np.searchsorted(sorted_arr, values)
    return (p < sorted_arr.size) & (
        sorted_arr[np.minimum(p, sorted_arr.size - 1)] == values
    )


def _decode_score_rows(
    idf_map: dict[str, float],
    avgdl: float,
    avgdl_map: dict[str, float] | None = None,
    cand_docs=None,
):
    """mapInPandas over posting rows → (term, doc_id, score).

    ``avgdl_map`` overrides the default-field avgdl per KEY for
    field-prefixed keys (per-field BM25 statistics).  ``cand_docs``
    (broadcast of a sorted doc-id array — the rarest MUST term's
    postings) filters every term's stream MAP-SIDE: docs outside the
    set can never satisfy the conjunction, so their shuffle bytes are
    skipped entirely.  Each Arrow batch decodes per TERM in one
    vectorized pass over all its blocks (the executor lift of the
    driver-local kernel), not per block in Python."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cand = cand_docs.value if cand_docs is not None else None
        for pdf in it:
            terms, docs, scores = [], [], []
            for term, sub in pdf.groupby("term", sort=False):
                iv = idf_map.get(term)
                if iv is None:
                    continue
                adl = avgdl_map.get(term, avgdl) if avgdl_map else avgdl
                d, t, n = _decode_frame_postings(sub)
                if cand is not None:
                    keep = _sorted_member_mask(cand, d)
                    if not keep.any():
                        continue
                    d, t, n = d[keep], t[keep], n[keep]
                s = bm25.score_tf(t, n, adl, iv)
                docs.append(d)
                scores.append(s)
                terms.append(np.full(d.size, term, dtype=object))
            if not docs:
                continue
            yield pd.DataFrame(
                {
                    "term": np.concatenate(terms),
                    "doc_id": np.concatenate(docs),
                    "score": np.concatenate(scores),
                }
            )

    return gen


def _decode_docs_only():
    """mapInPandas over posting rows → doc_ids (constant-score / NOT
    exclusion).  Decodes ONLY the docID delta stream — tf/norm payloads
    are neither read from parquet (see DOCS_COLS) nor decoded — in one
    vectorized pass per Arrow batch."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            docs = _decode_frame_docs(pdf)
            if docs.size:
                yield pd.DataFrame({"doc_id": np.unique(docs)})

    return gen


BATCH_ROW_SCHEMA = (
    "query_id string, doc_id long, score double, conv_id string, turn_idx int, "
    "conv boolean, k int"
)


#: cap on the dense (rows × n_queries) temporaries inside the batch
#: kernel: partitions are processed in doc-group-aligned chunks of at
#: most ~this many matrix cells, so executor memory is bounded by the
#: chunk, not by (partition rows × batch size)
KERNEL_MAX_CELLS = 8_000_000

#: floor on rows per kernel chunk — below this the reduceat bookkeeping
#: costs more than the dense temporaries save.  A module constant (not a
#: literal in the kernel) so tests can shrink it and actually exercise
#: the multi-chunk path.
KERNEL_MIN_ROWS = 4096


def _shared_batch_kernel(
    clause_rows: list[tuple[str, str, float, bool, bool]],
    cfg_rows: list[tuple[str, int, bool, int, float]],
    off_bc=None,
):
    """Vectorized multi-query scoring over ONE doc_id-clustered pass of
    the shared (term, doc_id, score) stream.

    The per-query fan-out lives in term-indexed matrices (boost /
    scoring-membership / must / not, each vocab×Q), applied chunk by
    chunk: per-doc per-query aggregates are ``np.add.reduceat`` over
    the doc-sorted rows.  Chunks are cut at doc-group boundaries and
    bounded to KERNEL_MAX_CELLS dense cells, so a large batch over a
    heavy-term partition cannot OOM an executor; per-chunk prunes
    (top-k / best-per-conv) are supersets of the global winners, and
    the finalize stage reprunes exactly.  Each query's boolean filters
    (all musts, no nots, ≥1 scoring hit) run here too, so the only
    remaining exchange carries k·P-ish rows per query.

    ``off_bc`` (broadcast of the conv_offsets arrays) attaches
    (conv_id, turn_idx) by searchsorted on the dense doc_id space —
    when None the input rows must already carry those columns (the
    doc_stats-join fallback for non-dense indexes)."""
    qids = [r[0] for r in cfg_rows]
    nq = len(qids)
    ks = [int(r[1]) for r in cfg_rows]
    conv_mode = [bool(r[2]) for r in cfg_rows]
    n_musts = [int(r[3]) for r in cfg_rows]
    qboosts = [float(r[4]) for r in cfg_rows]
    qidx = {q: i for i, q in enumerate(qids)}
    per_term: dict[str, list[tuple[int, float, bool, bool]]] = {}
    for qid, term, boost, is_must, is_not in clause_rows:
        per_term.setdefault(term, []).append((qidx[qid], boost, is_must, is_not))

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = list(it)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True) if len(batches) > 1 else batches[0]
        if not len(pdf):
            return
        # doc groups must be contiguous: a doc's term rows can span
        # Arrow batches within the partition
        pdf = pdf.sort_values("doc_id", kind="stable")
        codes, uniq = pd.factorize(pdf["term"].to_numpy())
        B = np.zeros((len(uniq), nq))
        S = np.zeros((len(uniq), nq), dtype=np.int32)  # scoring membership
        M = np.zeros((len(uniq), nq), dtype=np.int32)  # must membership
        N = np.zeros((len(uniq), nq), dtype=np.int32)  # not membership
        for i, t in enumerate(uniq):
            for qi, b, is_must, is_not in per_term.get(t, ()):
                if is_not:
                    N[i, qi] = 1
                else:
                    B[i, qi] += b
                    S[i, qi] = 1
                    if is_must:
                        M[i, qi] = 1
        docs = pdf["doc_id"].to_numpy(np.int64)
        starts = np.concatenate(([0], np.nonzero(docs[1:] != docs[:-1])[0] + 1))
        tok_scores = pdf["score"].to_numpy(np.float64)
        if off_bc is not None:
            conv_ids_arr, offs_arr = off_bc.value
            conv_all = turn_all = None
        else:
            conv_all = pdf["conv_id"].to_numpy()
            turn_all = pdf["turn_idx"].to_numpy(np.int32)
        max_rows = max(KERNEL_MIN_ROWS, KERNEL_MAX_CELLS // max(1, nq))
        n_groups = starts.size
        total = docs.size
        g0 = 0
        while g0 < n_groups:
            outs = []
            g1 = int(np.searchsorted(starts, int(starts[g0]) + max_rows, side="left"))
            if g1 <= g0:
                g1 = g0 + 1  # one doc group larger than the chunk bound
            lo = int(starts[g0])
            hi = int(starts[g1]) if g1 < n_groups else total
            cstarts = starts[g0:g1] - lo
            ccodes = codes[lo:hi]
            score_d = np.add.reduceat(
                tok_scores[lo:hi, None] * B[ccodes], cstarts, axis=0
            )
            hits_d = np.add.reduceat(S[ccodes], cstarts, axis=0)
            must_d = np.add.reduceat(M[ccodes], cstarts, axis=0)
            not_d = np.add.reduceat(N[ccodes], cstarts, axis=0)
            gdoc = docs[starts[g0:g1]]
            if off_bc is not None:
                oi = np.searchsorted(offs_arr, gdoc, side="right") - 1
                gconv = conv_ids_arr[oi]
                gturn = (gdoc - offs_arr[oi]).astype(np.int32)
            else:
                gconv = conv_all[starts[g0:g1]]
                gturn = turn_all[starts[g0:g1]]
            for qi, qid in enumerate(qids):
                ok = (
                    (not_d[:, qi] == 0)
                    & (hits_d[:, qi] > 0)
                    & (must_d[:, qi] == n_musts[qi])
                )
                if not ok.any():
                    continue
                sc = score_d[ok, qi] * qboosts[qi]
                d, cv, ti = gdoc[ok], gconv[ok], gturn[ok]
                order = np.lexsort((d, -sc))  # score desc, doc asc
                if conv_mode[qi]:
                    # best-per-conv, then TOP-K CONVS per chunk: a conv in
                    # the global top-k has fewer than k convs whose global
                    # max beats its best row's score s; any conv ranked
                    # above it in THIS chunk has chunk-max > s, hence
                    # global-max > s — so at most k-1 convs can outrank it
                    # here and truncation never drops a global winner.
                    # Without this a heavy-term conversations query emits
                    # every conv winner per chunk (~#convs rows) into the
                    # single finalize task that owns the query_id.
                    cv_sorted = pd.Series(cv[order])
                    keep = order[~cv_sorted.duplicated().to_numpy()][: ks[qi]]
                else:
                    keep = order[: ks[qi]]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "doc_id": d[keep],
                            "score": sc[keep],
                            "conv_id": cv[keep],
                            "turn_idx": ti[keep],
                            "conv": conv_mode[qi],
                            "k": np.int32(ks[qi]),
                        }
                    )
                )
            g0 = g1
            # yield per chunk: the pruned chunk output streams straight
            # into Arrow instead of accumulating across chunks (also the
            # observable chunk boundary tests count)
            if outs:
                yield pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]

    return gen


def _finalize_batch():
    """One pandas pass per query_id-clustered partition: conversation
    collapse (best row per conv), exact top-k with the Lucene tie-break
    (score desc, doc_id asc), and rank assignment.  Partition batches
    are concatenated first — a query's rows may span Arrow batches."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = list(it)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True) if len(batches) > 1 else batches[0]
        outs = []
        for _qid, g in pdf.groupby("query_id", sort=False):
            k = int(g["k"].iat[0])
            g = g.sort_values(["score", "doc_id"], ascending=[False, True], kind="stable")
            if bool(g["conv"].iat[0]):
                g = g.loc[~g["conv_id"].duplicated()]
            g = g.head(k).copy()
            g["rank"] = np.arange(1, len(g) + 1, dtype=np.int32)
            outs.append(g[["query_id", "rank", "doc_id", "conv_id", "turn_idx", "score"]])
        if outs:
            yield pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]

    return gen


def _decode_docs_only_keyed():
    """Like :func:`_decode_docs_only`, keeping the term key per doc —
    the shared-scan batch path joins these rows against the clause
    table like any scored row (score 0)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            terms, docs = [], []
            for term, sub in pdf.groupby("term", sort=False):
                d = _decode_frame_docs(sub)
                if d.size:
                    docs.append(d)
                    terms.append(np.full(d.size, term, dtype=object))
            if docs:
                yield pd.DataFrame(
                    {"term": np.concatenate(terms), "doc_id": np.concatenate(docs)}
                )

    return gen


def _phrase_score_fn(
    terms: tuple[str, ...],
    idf_sum: float,
    avgdl: float,
    simple: bool,
    slop: int = 0,
    order_tolerant: bool = False,
):
    """mapInPandas over candidate (doc_id, text) → (doc_id, score).

    Position-less-index fallback.  slop=0: exact Lucene PhraseQuery
    adjacency; slop>0: the same exact-order greedy-chain semantics as
    the positions path (see _phrase_match_positions); order_tolerant:
    the unordered minimal-window semantics of the same flag there.
    idf = sum of constituent term idfs; doc norm re-derived from the
    text (identical to the indexed norm byte by construction).
    """

    from emailindexer_spark.functions.tokenizer import tokenize_series

    m = len(terms)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            toks = tokenize_series(pdf["text"], simple=simple)
            n = toks.str.len().to_numpy(dtype=np.int64)
            if n.sum() == 0:
                continue
            rows = np.repeat(np.arange(len(pdf), dtype=np.int64), n)
            starts = np.concatenate(([0], np.cumsum(n[:-1])))
            pos = np.arange(int(n.sum()), dtype=np.int64) - np.repeat(starts, n)
            flat = pd.DataFrame(
                {"row": rows, "pos": pos, "term": np.concatenate([t for t in toks.to_numpy() if len(t)])}
            )
            if slop == 0:
                # adjacency via successive (row, pos) merges — vectorized
                cur = flat.loc[flat["term"] == terms[0], ["row", "pos"]]
                for i in range(1, m):
                    nxt = flat.loc[flat["term"] == terms[i], ["row", "pos"]].copy()
                    nxt["pos"] -= i
                    cur = cur.merge(nxt, on=["row", "pos"])
                    if cur.empty:
                        break
            elif order_tolerant:
                frames = []
                for i, t in enumerate(terms):
                    fi = flat.loc[flat["term"] == t, ["row", "pos"]].copy()
                    fi["slot"] = np.int64(i)
                    frames.append(fi)
                ev = pd.concat(frames, ignore_index=True)
                nslots = ev.groupby("row")["slot"].nunique()
                ev = ev[ev["row"].map(nslots).eq(m)]
                if ev.empty:
                    continue
                ev = ev.sort_values(["row", "pos"], kind="stable")
                rr = ev["row"].to_numpy(np.int64)
                pp = ev["pos"].to_numpy(np.int64)
                ss = ev["slot"].to_numpy(np.int64)
                bnd = np.concatenate(
                    ([0], np.nonzero(rr[1:] != rr[:-1])[0] + 1, [rr.size])
                )
                od, of = [], []
                for s_, e_ in zip(bnd[:-1], bnd[1:]):
                    fq = _count_unordered_windows(pp[s_:e_], ss[s_:e_], m, slop)
                    if fq:
                        od.append(int(rr[s_]))
                        of.append(fq)
                if not od:
                    continue
                ridx = np.asarray(od, dtype=np.int64)
                f = np.asarray(of, dtype=np.float64)
                dl = bm25.LENGTH_TABLE[encode_lengths(n[ridx])].astype(np.float64)
                sc = idf_sum * f / (f + bm25.K1 * (1 - bm25.B + bm25.B * dl / avgdl))
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"].to_numpy()[ridx], "score": sc}
                )
                continue
            else:
                cur = flat.loc[flat["term"] == terms[0], ["row", "pos"]].rename(
                    columns={"pos": "e"}
                )
                cur["p0"] = cur["e"]
                for i in range(1, m):
                    if cur.empty:
                        break
                    nxt = flat.loc[flat["term"] == terms[i], ["row", "pos"]].sort_values(
                        "pos", kind="stable"
                    )
                    cur = pd.merge_asof(
                        cur.sort_values("e", kind="stable"),
                        nxt,
                        left_on="e",
                        right_on="pos",
                        by="row",
                        direction="forward",
                        allow_exact_matches=False,
                    )
                    cur = cur.loc[
                        cur["pos"].notna() & (cur["pos"] <= cur["p0"] + i + slop)
                    ]
                    cur = cur.drop(columns=["e"]).rename(columns={"pos": "e"})
                    cur = cur.assign(e=cur["e"].astype(np.int64))
            if cur.empty:
                continue
            freq = cur.groupby("row").size()
            ridx = freq.index.to_numpy()
            f = freq.to_numpy(dtype=np.float64)
            dl = bm25.LENGTH_TABLE[encode_lengths(n[ridx])].astype(np.float64)
            sc = idf_sum * f / (f + bm25.K1 * (1 - bm25.B + bm25.B * dl / avgdl))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy()[ridx], "score": sc}
            )

    return gen


POS_STREAM_SCHEMA = "doc_id long, slot int, tf int, pos binary, norm int"


def _decode_positions_stream(phrase_terms: tuple[str, ...], cand_docs=None):
    """mapInPandas over posting rows (with b_pos) → ONE compact row per
    (doc, slot): (doc_id, slot, tf, pos_bytes, norm).

    The per-doc position payload stays VARBYTE-ENCODED through the
    shuffle (a block's b_pos is split at doc boundaries by scanning the
    continuation bits — no decode map-side), so shuffle volume is
    df-rows with compressed payloads, not exploded positions.  Norm
    rides on slot-0 rows only.  Repeated phrase terms ("x x") emit the
    same postings under each of their slots — Lucene PhraseWeight
    semantics fall out.

    ``cand_docs`` (a broadcast of the RAREST term's sorted doc ids)
    filters every term's stream MAP-SIDE before the shuffle — Lucene's
    lead-with-the-rarest-term iteration: a doc missing any phrase term
    can never match, so the heavy terms' payloads for non-candidates
    never leave the scan task."""
    slot_map: dict[str, list[int]] = {}
    for i, t in enumerate(phrase_terms):
        slot_map.setdefault(t, []).append(i)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cand = cand_docs.value if cand_docs is not None else None
        for pdf in it:
            docs_out, slot_out, tf_out, pos_out, norm_out = [], [], [], [], []
            for term, sub in pdf.groupby("term", sort=False):
                slots = slot_map.get(term)
                if not slots:
                    continue
                # one frame pass over every block of this term's rows;
                # the concatenated pos stream is split at doc boundaries
                # by ONE continuation-bit scan (value ends), indexed by
                # the per-doc tf cumsum — no decode of the positions
                d, t, n = _decode_frame_postings(sub)
                raw = b"".join(b for row in sub["b_pos"] for b in row)
                rb = np.frombuffer(raw, dtype=np.uint8)
                ends = np.nonzero((rb & 0x80) == 0)[0] + 1  # byte end per value
                byte_ends = ends[np.cumsum(t) - 1]  # byte end per doc
                byte_starts = np.concatenate(([0], byte_ends[:-1]))
                if cand is not None:
                    # sorted-array membership: keep candidate docs only
                    keep = _sorted_member_mask(cand, d)
                    if not keep.any():
                        continue
                    sel = np.nonzero(keep)[0]
                    bufs = [raw[byte_starts[x]:byte_ends[x]] for x in sel]
                    d, t, n = d[sel], t[sel], n[sel]
                else:
                    bufs = [raw[a:z] for a, z in zip(byte_starts, byte_ends)]
                for s in slots:
                    docs_out.append(d)
                    slot_out.append(np.full(d.size, s, dtype=np.int32))
                    tf_out.append(t)
                    pos_out.extend(bufs)
                    norm_out.append(
                        n if s == 0 else np.zeros(d.size, dtype=np.int64)
                    )
            if docs_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(docs_out),
                        "slot": np.concatenate(slot_out),
                        "tf": np.concatenate(tf_out).astype("int32"),
                        "pos": pos_out,
                        "norm": np.concatenate(norm_out),
                    }
                )

    return gen


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


def _phrase_match_positions(
    m: int, idf_sum: float, avgdl: float, slop: int = 0, order_tolerant: bool = False
):
    """mapInPandas over doc_id-partitioned (doc, slot, tf, pos_bytes)
    rows → scores.

    Per slot, the partition's payloads are decoded in ONE vectorized
    varbyte pass (concatenated buffers + per-doc tf counts).

    * ``slop == 0`` — exact Lucene PhraseQuery adjacency: m-1 vectorized
      merges on (doc_id, pos - slot); phrase tf = matches per doc.
    * ``slop > 0`` — exact-order sloppy phrase (documented semantics,
      plans/parser.py Phrase.slop): greedily chain each start position
      p_0 to the SMALLEST next-slot position > current (a per-doc
      ``merge_asof`` forward search — greedy-minimal completion is
      sufficient: taking the smallest feasible p_i keeps every later
      choice open), pruning when p_i > p_0 + i + slop; freq = surviving
      start positions per doc.
    * ``slop > 0, order_tolerant=True`` — opt-in unordered semantics
      (SearchEngine(slop_order_tolerant=True)): terms may appear in ANY
      order; freq = minimal covering windows with slack ≤ slop
      (:func:`_count_unordered_windows`), parity-tested against the
      pure-Python oracle's independent implementation.  Not the gated
      default because no SQL oracle can verify it (SURVEY §2.9).

    Score is the standard BM25 partial with the SUMMED constituent idf
    (Lucene PhraseWeight).  The whole partition is concatenated first: a
    doc's rows may span Arrow batches."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = list(it)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True) if len(batches) > 1 else batches[0]

        def slot_frame(i: int, shift: bool) -> pd.DataFrame:
            sub = pdf.loc[pdf["slot"] == i]
            if sub.empty:
                return pd.DataFrame(
                    {
                        "doc_id": np.array([], dtype=np.int64),
                        "pos": np.array([], dtype=np.int64),
                    }
                )
            tfs = sub["tf"].to_numpy(np.int64)
            pos = decode_positions(b"".join(sub["pos"]), tfs)
            out = pd.DataFrame(
                {
                    "doc_id": np.repeat(sub["doc_id"].to_numpy(np.int64), tfs),
                    "pos": pos - i if shift else pos,
                }
            )
            if i == 0:
                out["norm"] = np.repeat(sub["norm"].to_numpy(np.int64), tfs)
            return out

        if slop == 0:
            cur = slot_frame(0, shift=True)
            for i in range(1, m):
                if cur.empty:
                    return
                cur = cur.merge(slot_frame(i, shift=True), on=["doc_id", "pos"])
            if cur.empty:
                return
            g = cur.groupby("doc_id").agg(freq=("pos", "size"), norm=("norm", "first"))
        elif order_tolerant:
            frames = []
            norms = None
            for i in range(m):
                fi = slot_frame(i, shift=False)
                if fi.empty:
                    return  # a missing slot term matches nothing
                if i == 0:
                    norms = fi[["doc_id", "norm"]].drop_duplicates("doc_id")
                    fi = fi.drop(columns=["norm"])
                fi["slot"] = np.int64(i)
                frames.append(fi)
            ev = pd.concat(frames, ignore_index=True)
            # candidate docs must hold ALL slots — prune before the sweep
            nslots = ev.groupby("doc_id")["slot"].nunique()
            ev = ev[ev["doc_id"].map(nslots).eq(m)]
            if ev.empty:
                return
            ev = ev.sort_values(["doc_id", "pos"], kind="stable")
            docs = ev["doc_id"].to_numpy(np.int64)
            pos = ev["pos"].to_numpy(np.int64)
            slots = ev["slot"].to_numpy(np.int64)
            bounds = np.concatenate(
                ([0], np.nonzero(docs[1:] != docs[:-1])[0] + 1, [docs.size])
            )
            out_docs, out_freq = [], []
            for s, e in zip(bounds[:-1], bounds[1:]):
                fq = _count_unordered_windows(pos[s:e], slots[s:e], m, slop)
                if fq:
                    out_docs.append(int(docs[s]))
                    out_freq.append(fq)
            if not out_docs:
                return
            g = pd.DataFrame({"doc_id": out_docs, "freq": out_freq}).merge(
                norms, on="doc_id"
            ).set_index("doc_id")
        else:
            cur = slot_frame(0, shift=False).rename(columns={"pos": "e"})
            cur["p0"] = cur["e"]
            for i in range(1, m):
                if cur.empty:
                    return
                nxt = slot_frame(i, shift=False).sort_values("pos", kind="stable")
                cur = pd.merge_asof(
                    cur.sort_values("e", kind="stable"),
                    nxt,
                    left_on="e",
                    right_on="pos",
                    by="doc_id",
                    direction="forward",
                    allow_exact_matches=False,
                )
                cur = cur.loc[cur["pos"].notna() & (cur["pos"] <= cur["p0"] + i + slop)]
                cur = cur.drop(columns=["e"]).rename(columns={"pos": "e"})
                # a missed asof match makes the column float64 — restore
                # int64 so the next merge_asof keys are dtype-compatible
                cur = cur.assign(e=cur["e"].astype(np.int64))
            if cur.empty:
                return
            g = cur.groupby("doc_id").agg(freq=("p0", "size"), norm=("norm", "first"))
        f = g["freq"].to_numpy(np.float64)
        dl = bm25.LENGTH_TABLE[g["norm"].to_numpy(np.int64)].astype(np.float64)
        sc = idf_sum * f / (f + bm25.K1 * (1 - bm25.B + bm25.B * dl / avgdl))
        yield pd.DataFrame({"doc_id": g.index.to_numpy(), "score": sc})

    return gen


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
    level — field resolution creates at most one).  Score-preserving:
    BooleanQuery sums SHOULD clause scores either way."""
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


def _load_sorted_postings(path: str) -> tuple[np.ndarray, object]:
    """One postings file, whole: (its term column as an object array,
    its Arrow table).  Raises ValueError unless the file is term-sorted,
    as every writer leaves it: slicing an unsorted file by searchsorted
    would drop postings without a sound."""
    import pyarrow.parquet as papq

    t = papq.read_table(path).replace_schema_metadata(None)
    terms = t.column("term").to_numpy()
    if not (terms[1:] >= terms[:-1]).all():
        raise ValueError(f"postings file {path} is not sorted by term")
    return terms, t


def _term_slices(
    files: list[tuple[np.ndarray, object]], terms: list[str], by_term: bool = False
) -> list[tuple[str | None, object]]:
    """The rows of ``terms`` (sorted) in each term-sorted file, in file
    order, as zero-copy Arrow slices: ``(term, slice)`` per term and file
    when ``by_term``, else ``(None, slice)`` with query terms adjacent in
    a file (a prefix expansion's, say) sharing one slice."""
    q = np.array(terms, dtype=object)
    out = []
    for tcol, table in files:
        lo = np.searchsorted(tcol, q, "left")
        hi = np.searchsorted(tcol, q, "right")
        hit = np.flatnonzero(hi > lo)
        if not hit.size:
            continue
        if by_term:
            out += [(terms[i], table.slice(int(lo[i]), int(hi[i] - lo[i]))) for i in hit]
            continue
        lo, hi = lo[hit], hi[hit]
        cut = np.flatnonzero(lo[1:] != hi[:-1]) + 1
        for a, z in zip(lo[np.r_[0, cut]], hi[np.r_[cut - 1, len(hi) - 1]]):
            out.append((None, table.slice(int(a), int(z - a))))
    return out


#: Arrow types of the postings columns the driver-local tier reads (an
#: empty selection's table)
_POSTINGS_TYPES = {
    "term": pa.string(),
    "b_first": pa.list_(pa.int64()),
    **{c: pa.list_(pa.binary()) for c in ("b_docs", "b_tfs", "b_norms", "b_pos")},
}


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
        self._lead_bc_cache: dict[str, object] = {}
        self._vocab_lens: np.ndarray | None = None
        self._vocab_colon: np.ndarray | None = None
        # driver-local postings: each part's file list, taken on its
        # first touch, and the parts held in memory (_resident_part),
        # loaded under their own lock for search_many's planner threads
        self._local_files: dict[int, list[str]] = {}
        self._resident: dict[int, list[tuple[np.ndarray, object]]] = {}
        self._resident_lock = threading.Lock()
        self._postings_total: int | None = None
        # conv_offsets artifact (dense-docid builds and their appends of
        # new conversations): (conv_id array, sorted conv_offset array)
        # maps doc_id → (conv_id, turn_idx) with a searchsorted — no
        # doc_stats join per query.  ``_off_bc.value`` is read on the
        # driver; the distributed plans broadcast it on first use
        # (_off_broadcast), so an open makes no JVM call
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

        Lock-guarded double-checked load: search_many plans queries in
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

    # ------------------------------------------------------------ postings access

    #: columns each read path actually decodes — projecting BEFORE the
    #: Arrow transfer keeps unrelated payloads (esp. b_pos, ~40% of a
    #: positioned index's bytes) out of parquet IO and out of Python
    SCORE_COLS = ("term", "b_first", "b_docs", "b_tfs", "b_norms")
    POS_COLS = ("term", "b_first", "b_docs", "b_tfs", "b_norms", "b_pos")
    #: docs-only reads (constant-score, MUST_NOT): no tf/norm/pos IO
    DOCS_COLS = ("b_first", "b_docs")

    def _rows_for_terms(self, terms: set[str], cols: tuple[str, ...] | None = None) -> DataFrame:
        """Partition-pruned + term-predicate-pushed posting selection."""
        parts = sorted({term_part_py(t, self.num_parts) for t in terms})
        out = self.postings.where(
            F.col("part").isin(parts) & F.col("term").isin(sorted(terms))
        )
        return out.select(*cols) if cols else out

    def term_dfs(self, terms: set[str]) -> dict[str, int]:
        """Global doc frequency per term (sum over skew splits/batches).

        Cached per engine instance, so a batch of queries sharing terms
        (or ``search_many`` pre-warming the cache with the union of all
        its queries' terms) pays ONE driver round-trip total.
        """
        missing = {t for t in terms if t not in self._df_cache}
        if missing:
            vocab = self._driver_vocab()
            if vocab is not None:
                vt, vdf, _ = vocab
                for t in missing:
                    i = int(np.searchsorted(vt, t))
                    self._df_cache[t] = (
                        int(vdf[i]) if i < vt.size and vt[i] == t else None
                    )
                return {
                    t: v for t in terms if (v := self._df_cache.get(t)) is not None
                }
            if self.term_dict is not None:
                src = self.term_dict.where(F.col("term").isin(sorted(missing)))
            else:  # pre-term_dict index layout
                src = self._rows_for_terms(missing, ("term", "df_row")).withColumnRenamed(
                    "df_row", "df"
                )
            rows = src.groupBy("term").agg(F.sum("df").alias("df")).collect()
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t)
        return {t: v for t in terms if (v := self._df_cache.get(t)) is not None}

    def _empty_scores(self) -> DataFrame:
        return self.spark.createDataFrame([], SCORE_SCHEMA)

    #: target scored rows per reduce partition on the serving path
    SERVE_ROWS_PER_PART = 50_000

    def _serve_parts(self, est_rows: int) -> int:
        """Shuffle width for a query's candidate-sized exchanges, from
        the DRIVER-KNOWN df statistics: a 10-hit rare-term query gets 4
        reduce partitions (latency: one task wave), a 10^9-df term at
        cluster scale gets the session's full shuffle width.  The
        session conf stays untouched — width rides each exchange via an
        explicit hash repartition, which Catalyst recognizes as
        satisfying the downstream aggregation's clustering."""
        cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return max(4, min(cap, -(-est_rows // self.SERVE_ROWS_PER_PART)))

    def _docs_for_terms(self, terms: set[str]) -> DataFrame:
        """doc_ids matching ANY of ``terms`` — no tf/norm decode, no
        scoring.  The MUST_NOT path: an excluded (typically heavy) term
        needs membership only, so skip ~2/3 of its payload IO and all
        the BM25 math."""
        self.term_dfs(terms)  # warm the df cache for the spread decision
        rows = self._spread_posting_rows(
            self._rows_for_terms(terms, self.DOCS_COLS), terms
        )
        return rows.mapInPandas(_decode_docs_only(), "doc_id long")

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

    # ------------------------------------------------------------ leaf scoring

    def _spread_posting_rows(self, rows: DataFrame, terms: set[str]) -> DataFrame:
        """Parallelize heavy-term decode: one md5-part's file(s) hold a
        heavy term's skew-split rows in few scan tasks, so the Python
        decode would serialize.  When the DRIVER-KNOWN summed df says
        the decode is the bottleneck, round-robin the ENCODED rows (a
        compressed-payload shuffle ~1% of the decoded volume) so each
        ≤split_target row decodes in its own task.  Cheap no-op for
        rare terms."""
        est = sum(self._df_cache.get(t) or 0 for t in terms)
        if est > 2 * self.SERVE_ROWS_PER_PART:
            cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            rows = rows.repartition(min(cap, est // self.SERVE_ROWS_PER_PART))
        return rows

    def _scored_terms_df(
        self,
        terms: set[str],
        idf_map: dict[str, float],
        avgdl_map: dict[str, float] | None = None,
        cand_docs=None,
    ) -> DataFrame:
        rows = self._spread_posting_rows(
            self._rows_for_terms(terms, self.SCORE_COLS), terms
        )
        return rows.mapInPandas(
            _decode_score_rows(idf_map, self.avgdl, avgdl_map, cand_docs),
            TERM_SCORE_SCHEMA,
        )

    #: rarest-term-lead thresholds: broadcast the rarest MUST/phrase
    #: term's doc ids when it is ≥4× rarer than the widest co-term and
    #: its df ≤ 500k (≤ 4 MB broadcast)
    LEAD_MAX_DF = 500_000
    LEAD_RATIO = 4

    #: term-keyed cache of lead-docs broadcasts (Lucene caches filter
    #: bitsets the same way): each entry is ≤ LEAD_MAX_DF int64 ids
    #: (≤ 4 MB); bounded FIFO so a long-lived engine can't grow without
    #: limit.  Index immutability per engine instance makes entries
    #: permanently valid (appends/compactions are opened as new engines).
    LEAD_CACHE_MAX = 32

    def _lead_docs_bc(self, must_terms: set[str], all_terms: set[str]):
        """Broadcast of the rarest must-term's sorted doc ids, or None
        when the skew does not justify the extra (partition-pruned,
        docs-only) pass."""
        dfs = self.term_dfs(all_terms)
        if not must_terms or any(t not in dfs for t in must_terms):
            return None
        min_t = min(must_terms, key=lambda t: dfs[t])
        widest = max(dfs.values())
        if dfs[min_t] > self.LEAD_MAX_DF or dfs[min_t] * self.LEAD_RATIO > widest:
            return None
        bc = self._lead_bc_cache.get(min_t)
        if bc is None:
            ids = self._docs_for_terms({min_t}).toPandas()["doc_id"].to_numpy(np.int64)
            bc = self.spark.sparkContext.broadcast(np.sort(ids))
            with self._vocab_lock:  # planner threads share the cache
                if len(self._lead_bc_cache) >= self.LEAD_CACHE_MAX:
                    old = next(iter(self._lead_bc_cache))
                    self._lead_bc_cache.pop(old).unpersist(blocking=False)
                self._lead_bc_cache[min_t] = bc
        return bc

    def _constant_score_docs(
        self,
        pred,
        field: str,
        boost: float,
        parts: list[int] | None = None,
        est_rows: int | None = None,
    ) -> DataFrame | None:
        """Multi-term constant-score rewrite (Prefix/TermRange/Wildcard):
        prune postings PARTITIONS to the expansion's md5-part list, then
        push the term predicate into the scan.  ``parts`` comes from the
        driver-side vocabulary when loaded (zero Spark jobs — an empty
        list means the expansion matched nothing); otherwise one
        vocab-scale term_dict job computes it (row-group pruned by the
        sorted `term` min/max)."""
        if field == self.fields[0]:
            # bare keys only: a default-field expansion must not match
            # another field's `field:term` keys
            pred = pred & ~F.col("term").contains(":")
        if parts is None and self.term_dict is not None:
            parts = [
                r["part"]
                for r in self.term_dict.where(pred).select("part").distinct().collect()
            ]
        if parts is not None:
            if not parts:
                return None
            prows = self.postings.where(F.col("part").isin(sorted(parts)) & pred)
        else:  # pre-term_dict index layout: full postings scan
            prows = self.postings.where(pred)
        docs = prows.select(*self.DOCS_COLS).mapInPandas(
            _decode_docs_only(), "doc_id long"
        )
        if est_rows is not None:
            # driver-known expansion df sizes the dedup exchange; the
            # explicit hash partitioning satisfies distinct()'s
            # clustering, so this is the ONE shuffle, at the right width
            docs = docs.repartition(self._serve_parts(est_rows), "doc_id")
        docs = docs.distinct()
        return docs.withColumn("score", F.lit(1.0 * boost))

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
        src = self.term_dict
        if src is None:  # pre-term_dict index layout: derive vocab from postings
            src = self.postings.groupBy("term").agg(F.sum("df_row").alias("df"))
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

    def _leaf_df(
        self,
        node: Node,
        idf_map: dict[str, float],
        avgdl_map: dict[str, float] | None = None,
    ) -> DataFrame | None:
        if isinstance(node, Term):
            if node.text not in idf_map:
                return None
            df = self._scored_terms_df({node.text}, idf_map, avgdl_map).drop("term")
            return df.withColumn("score", F.col("score") * F.lit(node.boost))
        if isinstance(node, Prefix):
            f = node.field or self.fields[0]
            key = self._key(f, node.prefix)
            pred = F.col("term").startswith(key)
            parts = est = None
            if self._driver_vocab() is not None:
                # zero-job expansion: binary-search the driver vocab for
                # the prefix range, emit its md5-part list
                i0, i1 = self._vocab_prefix_slice(key)
                sel = self._default_scope_sel(i0, i1, f)
                parts = self._expand_sel_to_parts(sel)
                est = int(self._vocab[1][sel].sum())
            return self._constant_score_docs(pred, f, node.boost, parts=parts, est_rows=est)
        if isinstance(node, Fuzzy):
            # Lucene's default TopTermsBlendedFreqScoringRewrite: every
            # selected expansion scores as a BM25 TermQuery whose df is
            # BLENDED to the selected terms' max df, weighted by the
            # FuzzyTermsEnum similarity boost, SHOULD-summed per doc
            f = node.field or self.fields[0]
            pref_len = 0 if f == self.fields[0] else len(f) + 1
            exp = self._fuzzy_expand(node.text, f, node.max_edits)
            dfs = self.term_dfs({kk for kk, _ in exp})
            exp = [(kk, ed) for kk, ed in exp if kk in dfs]
            if not exp:
                return None
            n_f, adl_f = self.field_stats[f]
            idf_b = float(bm25.idf(max(dfs[kk] for kk, _ in exp), n_f))
            fboosts = {
                kk: self._fuzzy_boost(kk[pref_len:], node.text, ed) for kk, ed in exp
            }
            keys = set(fboosts)
            scored = self._scored_terms_df(
                keys, {kk: idf_b for kk in keys}, {kk: adl_f for kk in keys}
            )
            boost_expr = F.create_map(
                *[x for t, b in fboosts.items() for x in (F.lit(t), F.lit(b))]
            )
            nparts = self._serve_parts(sum(dfs.values()))
            g = (
                scored.repartition(nparts, "doc_id")
                .groupBy("doc_id")
                .agg(
                    F.sum(
                        F.col("score") * F.element_at(boost_expr, F.col("term"))
                    ).alias("score")
                )
            )
            if node.boost != 1.0:
                g = g.withColumn("score", F.col("score") * F.lit(node.boost))
            return g
        if isinstance(node, Wildcard):
            # WildcardQuery: regex over the sorted term dictionary
            # (Lucene walks its terms dict with an automaton in the same
            # place); a literal prefix, when present, restores row-group
            # min/max pruning on the term-sorted dictionary
            import re as _re

            f = node.field or self.fields[0]
            rx = "".join(
                ".*" if c == "*" else "." if c == "?" else _re.escape(c)
                for c in node.pattern
            )
            pref = "" if f == self.fields[0] else f + ":"
            pred = F.col("term").rlike("^" + _re.escape(pref) + rx + "$")
            lit = _re.split(r"[?*]", node.pattern)[0]
            if lit:
                pred = F.col("term").startswith(pref + lit) & pred
            parts = est = None
            if self._driver_vocab() is not None:
                # zero-job expansion: regex over the literal-prefix band
                # of the driver vocab (parser rejects leading wildcards,
                # so the band is always a proper prefix slice)
                terms = self._vocab[0]
                base = pref + lit
                i0, i1 = self._vocab_prefix_slice(base)
                sel = self._default_scope_sel(i0, i1, f)
                pat = _re.compile("^" + _re.escape(pref) + rx + "$")
                sel = sel[[bool(pat.match(terms[i])) for i in sel]] if sel.size else sel
                parts = self._expand_sel_to_parts(sel)
                est = int(self._vocab[1][sel].sum())
            return self._constant_score_docs(pred, f, node.boost, parts=parts, est_rows=est)
        if isinstance(node, TermRange):
            # Lucene TermRangeQuery: constant-score rewrite over the
            # dictionary range, same machinery as Prefix
            f = node.field or self.fields[0]
            pref = "" if f == self.fields[0] else f + ":"
            pred = F.lit(True)
            if node.lo is not None:
                lo = pref + node.lo
                pred = pred & (
                    (F.col("term") >= lo) if node.lo_incl else (F.col("term") > lo)
                )
            if node.hi is not None:
                hi = pref + node.hi
                pred = pred & (
                    (F.col("term") <= hi) if node.hi_incl else (F.col("term") < hi)
                )
            if pref:
                pred = pred & F.col("term").startswith(pref)
            parts = est = None
            if self._driver_vocab() is not None:
                lo_key = pref + node.lo if node.lo is not None else (pref or None)
                if node.hi is not None:
                    hi_key, hi_incl = pref + node.hi, node.hi_incl
                elif pref:
                    # open-ended range scoped to a field: every key with
                    # the field prefix (true-successor exclusive bound —
                    # never under-includes, see _prefix_successor)
                    hi_key, hi_incl = self._prefix_successor(pref), False
                else:
                    hi_key, hi_incl = None, True
                i0, i1 = self._vocab_slice(
                    lo_key,
                    hi_key,
                    node.lo_incl if node.lo is not None else True,
                    hi_incl,
                )
                sel = self._default_scope_sel(i0, i1, f)
                parts = self._expand_sel_to_parts(sel)
                est = int(self._vocab[1][sel].sum())
            return self._constant_score_docs(pred, f, node.boost, parts=parts, est_rows=est)
        if isinstance(node, Phrase):
            terms = set(node.terms)
            if any(t not in idf_map for t in terms):
                return None
            f = node.field or self.fields[0]
            field_avgdl = self.field_stats[f][1]
            # Lucene PhraseWeight sums idf over term POSITIONS — a phrase
            # "x x" counts x's idf twice (duplicates not deduped)
            idf_sum = sum(idf_map[t] for t in node.terms)
            if self.positions:
                # positions path (index is DOCS_AND_FREQS_AND_POSITIONS):
                # decode the phrase terms' position payloads, ONE shuffle
                # by doc_id, vectorized adjacency merge — cost scales with
                # the terms' postings volume, never with corpus text size.
                # Lead with the rarest term (Lucene's conjunction order):
                # when one term is much rarer, its doc set is broadcast
                # and the heavier terms' payloads are filtered MAP-SIDE,
                # so non-candidate positions never enter the shuffle.
                cand_bc = self._lead_docs_bc(terms, terms)
                stream = self._spread_posting_rows(
                    self._rows_for_terms(terms, self.POS_COLS), terms
                ).mapInPandas(
                    _decode_positions_stream(node.terms, cand_bc), POS_STREAM_SCHEMA
                )
                nparts = self._serve_parts(sum(self.term_dfs(terms).values()))
                scored = stream.repartition(nparts, "doc_id").mapInPandas(
                    _phrase_match_positions(
                        len(node.terms),
                        idf_sum,
                        field_avgdl,
                        node.slop,
                        order_tolerant=self.slop_order_tolerant and node.slop > 0,
                    ),
                    SCORE_SCHEMA,
                )
                return scored.withColumn("score", F.col("score") * F.lit(node.boost))
            # fallback for position-less indexes: candidate docs contain
            # ALL phrase terms; re-tokenize their text to verify adjacency
            if f != self.fields[0]:
                raise NotImplementedError(
                    "non-default-field phrases need a positions-enabled index"
                )
            cand = (
                self._scored_terms_df(terms, idf_map, avgdl_map)
                .groupBy("doc_id")
                .agg(F.countDistinct("term").alias("nt"))
                .where(F.col("nt") == len(terms))
                .select("doc_id")
            )
            cand_text = cand.join(self.doc_index.select("doc_id", "text"), "doc_id")
            scored = cand_text.mapInPandas(
                _phrase_score_fn(
                    node.terms,
                    idf_sum,
                    self.avgdl,
                    self.simple,
                    node.slop,
                    order_tolerant=self.slop_order_tolerant and node.slop > 0,
                ),
                SCORE_SCHEMA,
            )
            return scored.withColumn("score", F.col("score") * F.lit(node.boost))
        raise TypeError(type(node))

    # ------------------------------------------------------------ boolean combine

    def _score_node(
        self,
        node: Node,
        idf_map: dict[str, float],
        avgdl_map: dict[str, float] | None = None,
    ) -> DataFrame | None:
        if not isinstance(node, Bool):
            return self._leaf_df(node, idf_map, avgdl_map)
        if self._is_flat_terms(node):
            return self._score_flat_terms(node, idf_map, avgdl_map)
        musts, shoulds, nots = [], [], []
        for occur, child in node.clauses:
            if occur == MUST_NOT:
                d = self._not_docs(child, idf_map, avgdl_map)
                if d is not None:
                    nots.append(d)
                continue
            d = self._score_node(child, idf_map, avgdl_map)
            if occur == MUST:
                if d is None:
                    return None  # unmatched MUST → nothing matches
                musts.append(d)
            elif d is not None:
                shoulds.append(d)
        should_sum = None
        if shoulds:
            should_sum = (
                reduce(lambda a, b: a.unionByName(b), shoulds)
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))
            )
        if musts:
            base = musts[0]
            for i, m in enumerate(musts[1:], start=1):
                m = m.withColumnRenamed("score", f"_s{i}")
                base = base.join(m, "doc_id")
                base = base.withColumn("score", F.col("score") + F.col(f"_s{i}")).drop(f"_s{i}")
            if should_sum is not None:
                s = should_sum.withColumnRenamed("score", "_ss")
                base = base.join(s, "doc_id", "left").withColumn(
                    "score", F.col("score") + F.coalesce(F.col("_ss"), F.lit(0.0))
                ).drop("_ss")
        elif should_sum is not None:
            base = should_sum
        else:
            return None
        for nd in nots:
            base = base.join(nd, "doc_id", "left_anti")
        if node.boost != 1.0:
            base = base.withColumn("score", F.col("score") * F.lit(node.boost))
        return base

    def _not_docs(
        self,
        node: Node,
        idf_map: dict[str, float],
        avgdl_map: dict[str, float] | None,
    ) -> DataFrame | None:
        """Membership-only evaluation of a MUST_NOT clause: Term leaves
        (including the Bool-of-per-field-Terms a bare leaf resolves to on
        a multi-field index) take the docs-only decode path; anything
        else falls back to scoring and projects doc_id."""
        texts: set[str] | None = None
        if isinstance(node, Term):
            texts = {node.text}
        elif (
            isinstance(node, Bool)
            and node.clauses
            and all(o == SHOULD and isinstance(c, Term) for o, c in node.clauses)
        ):
            texts = {c.text for _, c in node.clauses}
        if texts is not None:
            texts = {t for t in texts if t in idf_map}
            return self._not_docs_maybe_bc(texts) if texts else None
        d = self._score_node(node, idf_map, avgdl_map)
        return d.select("doc_id") if d is not None else None

    def _not_docs_maybe_bc(self, terms: set[str]) -> DataFrame:
        """Docs-only stream for MUST_NOT terms, broadcast-hinted when
        the summed df is known small (the exclusion side of a left-anti
        join builds a hash set; a Python-UDF-produced stream has no
        stats, so Catalyst would otherwise pick a shuffle join)."""
        nd = self._docs_for_terms(terms)
        dfs = self.term_dfs(terms)
        if sum(dfs.values()) <= 2_000_000:
            nd = F.broadcast(nd)
        return nd

    @staticmethod
    def _is_flat_terms(node: Bool) -> bool:
        return all(isinstance(c, Term) for _, c in node.clauses) and node.clauses

    def _score_flat_terms(
        self,
        node: Bool,
        idf_map: dict[str, float],
        avgdl_map: dict[str, float] | None = None,
    ) -> DataFrame | None:
        """One-aggregation path for flat boolean-of-terms queries: a single
        postings scan + ONE shuffle, no per-leaf DataFrames."""
        boosts = {}
        musts, nots, scoring = [], [], []
        for occur, c in node.clauses:
            if occur == MUST:
                if c.text not in idf_map:
                    return None
                musts.append(c.text)
            elif occur == MUST_NOT:
                nots.append(c.text)
            if occur != MUST_NOT and c.text in idf_map:
                scoring.append(c.text)
                boosts[c.text] = boosts.get(c.text, 0.0) + c.boost
        if not scoring:
            return None
        # MUST_NOT terms never enter the scored stream: they need doc
        # membership only, via the docs-only decode (no tf/norm IO, no
        # BM25 math on what is typically a heavy exclusion term).
        # Conjunctions lead with the rarest MUST term (Lucene's driver
        # iterator): its doc set filters every other term's decode
        # map-side, so the wide terms' non-candidate rows never score
        # or shuffle.
        lead = self._lead_docs_bc(
            {t for t in musts if t in idf_map}, {t for t in scoring if t in idf_map}
        )
        scored = self._scored_terms_df(set(scoring), idf_map, avgdl_map, lead)
        not_terms = {t for t in nots if t in idf_map}
        if not_terms:
            # MUST_NOT membership rides the SAME aggregation as score-0
            # rows (docs-only decode — no tf/norm IO) and a `nnot == 0`
            # filter, exactly like the batch kernel's N matrix: no
            # separately-materialized exclusion set, no broadcast job,
            # no anti-join stage.  At 10^9-df exclusions the not rows
            # co-partition with the candidates in the one doc_id
            # exchange — the same volume a shuffle anti join would move.
            ndocs = (
                self._spread_posting_rows(
                    self._rows_for_terms(not_terms, ("term",) + self.DOCS_COLS),
                    not_terms,
                )
                .mapInPandas(_decode_docs_only_keyed(), "term string, doc_id long")
                .withColumn("score", F.lit(0.0))
            )
            scored = scored.unionByName(ndocs)
        nparts = self._serve_parts(
            sum(self.term_dfs(set(scoring) | not_terms).values())
        )
        scored = scored.repartition(nparts, "doc_id")
        boost_expr = F.create_map(
            *[x for t, b in boosts.items() for x in (F.lit(t), F.lit(b))]
        )
        aggs = [
            F.sum(F.col("score") * F.element_at(boost_expr, F.col("term"))).alias(
                "score"
            )
        ]
        if musts:
            aggs.append(
                F.countDistinct(
                    F.when(F.col("term").isin(musts), F.col("term"))
                ).alias("_nmust")
            )
        if not_terms:
            aggs.append(
                F.sum(
                    F.when(F.col("term").isin(sorted(not_terms)), 1).otherwise(0)
                ).alias("_nnot")
            )
        g = scored.groupBy("doc_id").agg(*aggs)
        if musts:
            g = g.where(F.col("_nmust") == len(set(musts))).drop("_nmust")
        if not_terms:
            # score NULL = the doc matched only excluded terms
            g = g.where(
                (F.col("_nnot") == 0) & F.col("score").isNotNull()
            ).drop("_nnot")
        if node.boost != 1.0:
            g = g.withColumn("score", F.col("score") * F.lit(node.boost))
        return g

    # ------------------------------------------------------------ local serving

    #: posting-volume budget for the driver-local fast path: queries
    #: whose pruned, expanded term set decodes at most this many
    #: postings run on the driver (the same numpy kernels the executors
    #: run) instead of paying cluster scheduling for milliseconds of
    #: work — the Lucene-searcher analogue of Q2's zero-job term
    #: lookups.  Above the budget (or when any required artifact is
    #: missing) the distributed plan runs unchanged; 5M postings ≈ 120
    #: MB of transient decode arrays, the same order as the driver vocab
    #: cap.  It also caps residency (_local_posting_rows): touched parts
    #: stay in memory only while the WHOLE index holds at most this many
    #: postings, because resident parts cost ~6.5 bytes per posting of
    #: Arrow with positions (423k postings = 2.7 MB for a 10k-turn
    #: corpus), so the cap holds the driver to ~32 MB — less than one
    #: query's decode arrays at the budget.
    LOCAL_MAX_POSTINGS = 5_000_000
    #: expansion-width cap for local multi-term rewrites (prefix/range/
    #: wildcard/fuzzy): wider expansions keep the distributed scan
    LOCAL_MAX_EXPANSION = 4096
    #: tighter budget for local PHRASES: their cost is the position
    #: merge (O(sum tf), single-threaded here), measured net-slower than
    #: the distributed plan above a few hundred thousand postings
    LOCAL_MAX_PHRASE_POSTINGS = 200_000
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

    def _local_slices(
        self, terms: set[str], want: list[str], by_term: bool
    ) -> list[tuple[str | None, object]]:
        """The :func:`_term_slices` of ``terms`` over every touched part,
        columns ``want`` (``term`` among them), in the order a scan of
        their ``part=`` files returns them: parts ascending, files by
        name, rows in file order.

        While the index's whole postings volume (Σdf over the driver
        vocabulary) fits LOCAL_MAX_POSTINGS, a touched part stays
        resident for the life of the engine: its files are read once,
        whole, and each query slices every file's (term, split_id)-
        sorted rows by a searchsorted on its term column (one term of a
        10k-turn index, 4 vCPU: 0.12-0.17 ms, against 1.4-1.5 ms for a
        filtered parquet scan).  Above the cap each query runs that
        term-filtered pyarrow scan of the part's files (row groups
        pruned by the sorted term column's min/max).  Either way each
        part's file list is taken on its first touch and kept, so the
        local path sees one fixed index state, like the Spark
        DataFrame's frozen file listing."""
        by_part: dict[int, list[str]] = {}
        for t in sorted(terms):
            by_part.setdefault(term_part_py(t, self.num_parts), []).append(t)
        resident = self._resident_ok()
        pieces = []
        for part in sorted(by_part):
            files = (
                self._resident_part(part) if resident else self._scan_part(part, by_part[part], want)
            )
            pieces += _term_slices(files, by_part[part], by_term)
        return [(t, p.select(want)) for t, p in pieces]

    def _local_posting_rows(self, terms: set[str], cols: tuple[str, ...]):
        """Driver-side equivalent of :meth:`_rows_for_terms`: the posting
        rows of ``terms`` with columns ``cols`` (``term`` last) as ONE
        Arrow table, the concatenated zero-copy slices of the part files
        (see :meth:`_local_slices`); no pandas frame is made."""
        want = [c for c in cols if c != "term"] + ["term"]
        pieces = [p for _, p in self._local_slices(terms, want, False)]
        if not pieces:
            return pa.table({c: pa.array([], _POSTINGS_TYPES[c]) for c in want})
        return pieces[0] if len(pieces) == 1 else pa.concat_tables(pieces)

    def _local_term_rows(self, terms: set[str], cols: tuple[str, ...]) -> dict:
        """{term: its posting rows as an Arrow table, columns ``cols``
        (``term`` among them)} for the ``terms`` with postings: each
        term's slices in file order, so consumers take a term's rows
        without a mask over the whole selection."""
        by: dict[str, list] = {}
        for t, p in self._local_slices(terms, list(cols), True):
            by.setdefault(t, []).append(p)
        return {t: v[0] if len(v) == 1 else pa.concat_tables(v) for t, v in by.items()}

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
        files = self._local_files.get(part)
        if files is None:
            import glob

            pattern = os.path.join(self.index_dir, "postings", f"part={part}", "*.parquet")
            files = self._at_open(sorted(glob.glob(pattern)))
            self._local_files[part] = files
        return files

    def _resident_part(self, part: int) -> list[tuple[np.ndarray, object]]:
        """(term column, whole Arrow table) per file of ``part``, read
        on its first touch.  Double-checked under a lock, like
        _driver_vocab: search_many plans queries in driver threads."""
        files = self._resident.get(part)
        if files is None:
            with self._resident_lock:
                files = self._resident.get(part)
                if files is None:
                    files = [_load_sorted_postings(f) for f in self._part_files(part)]
                    self._resident[part] = files
        return files

    def _scan_part(self, part: int, terms: list[str], want: list[str]) -> list:
        """The term-filtered pyarrow scan of one part's files, as one
        (term column, table) pair like a resident file's."""
        files = self._part_files(part)
        if not files:
            return []
        import pyarrow.dataset as _ds

        t = _ds.dataset(files, format="parquet").to_table(
            columns=want, filter=_ds.field("term").isin(terms)
        )
        if not t.num_rows:
            return []
        # files are term-sorted one by one: a stable sort by term makes
        # the scan one term-sorted table, each term's rows in file order
        tcol = t.column("term").to_numpy()
        order = np.argsort(tcol, kind="stable")
        return [(tcol[order], t.take(order))]

    def _local_budget_ok(self, terms: set[str]) -> bool:
        dfs = self.term_dfs(terms)
        return sum(dfs.values()) <= self.LOCAL_MAX_POSTINGS

    @staticmethod
    def _sorted_member(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
        """Boolean mask: which ``values`` occur in ``sorted_arr``."""
        return _sorted_member_mask(sorted_arr, values)

    #: docs-only local reads: per-block counts come off the doc
    #: stream's own varbyte continuation bits (_decode_docs)
    LOCAL_DOCS_COLS = ("b_first", "b_docs")

    @staticmethod
    def _local_decode_docs(rows) -> np.ndarray:
        """Vectorized docs-only decode (membership sets): sorted unique
        doc ids over every block of Arrow ``rows`` — the executor
        kernel's core."""
        return np.unique(_decode_arrow_docs(rows))

    def _local_term_streams(
        self,
        terms: set[str],
        idf_map: dict[str, float],
        avgdl_map: dict[str, float],
        tcache: dict[str, tuple[np.ndarray, np.ndarray]],
    ) -> None:
        """Decode (docs, raw bm25 score) per term into ``tcache`` for
        every term not already there — the per-CALL sharing that lets a
        search_many batch decode each term once (the local analogue of
        the distributed shared-scan; nothing outlives the call).
        Scores are bit-identical to the executor kernel's: same
        score_tf expression over the same (tf, norm) values with the
        same float64 idf/avgdl scalars."""
        missing = {t for t in terms if t not in tcache}
        if not missing:
            return
        rows = self._local_term_rows({t for t in missing if t in idf_map}, self.SCORE_COLS)
        for t in missing:
            iv = idf_map.get(t)
            if iv is None or t not in rows:
                tcache[t] = (np.empty(0, np.int64), np.empty(0, np.float64))
                continue
            docs, tfs, norms = _decode_arrow_postings(rows[t])
            adl = avgdl_map.get(t, self.avgdl) if avgdl_map else self.avgdl
            tcache[t] = (docs, bm25.score_tf(tfs, norms, adl, iv))

    def _local_flat_scores(
        self,
        node: Bool,
        idf_map: dict[str, float],
        avgdl_map: dict[str, float],
        tcache: dict[str, tuple[np.ndarray, np.ndarray]],
    ) -> tuple[np.ndarray, np.ndarray] | None:
        """Driver-local mirror of :meth:`_score_flat_terms` — same
        decode kernel, same per-doc sum/must/not semantics; returns
        (doc_ids, scores) or None when ineligible."""
        boosts: dict[str, float] = {}
        musts, nots, scoring = [], [], []
        for occur, c in node.clauses:
            if occur == MUST:
                if c.text not in idf_map:
                    return np.empty(0, np.int64), np.empty(0, np.float64)
                musts.append(c.text)
            elif occur == MUST_NOT:
                nots.append(c.text)
            if occur != MUST_NOT and c.text in idf_map:
                scoring.append(c.text)
                boosts[c.text] = boosts.get(c.text, 0.0) + c.boost
        if not scoring:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        sset = sorted(set(scoring))
        self._local_term_streams(set(sset), idf_map, avgdl_map, tcache)
        docs = np.concatenate([tcache[t][0] for t in sset])
        tscore = np.concatenate([tcache[t][1] * boosts[t] for t in sset])
        uniq, inv = np.unique(docs, return_inverse=True)
        total = np.zeros(uniq.size, np.float64)
        np.add.at(total, inv, tscore)
        keep = np.ones(uniq.size, dtype=bool)
        if musts:
            nmust = np.zeros(uniq.size, np.int64)
            for mt in set(musts):
                md = tcache[mt][0]
                nmust[np.searchsorted(uniq, md)] += 1  # md ⊆ uniq (mt scores)
            keep &= nmust == len(set(musts))
        if nots:
            not_terms = {t for t in nots if t in idf_map}
            if not_terms:
                nrows = self._local_posting_rows(not_terms, self.LOCAL_DOCS_COLS)
                excl = self._local_decode_docs(nrows)
                if excl.size:
                    pos = np.searchsorted(excl, uniq)
                    hit = (pos < excl.size) & (
                        excl[np.minimum(pos, excl.size - 1)] == uniq
                    )
                    keep &= ~hit
        if node.boost != 1.0:
            total = total * node.boost
        return uniq[keep], total[keep]

    def _local_leaf_scores(
        self, node: Node, idf_map, avgdl_map
    ) -> tuple[np.ndarray, np.ndarray] | None:
        """Driver-local scoring for a single non-Bool leaf; None when
        the shape/budget is not locally eligible."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        if isinstance(node, Phrase):
            if not self.positions:
                return None
            terms = set(node.terms)
            if any(t not in idf_map for t in terms):
                return empty
            fld = node.field or self.fields[0]
            idf_sum = sum(idf_map[t] for t in node.terms)
            df_sum = sum(self.term_dfs(terms).values())
            if node.slop == 0:
                # vectorized exact-adjacency intersection: per slot i,
                # sorted (doc << 32 | pos - i + m) keys; surviving keys
                # after m-1 sorted-membership passes are the phrase
                # start positions — same match set and score expression
                # as the distributed merge kernel
                if df_sum > self.LOCAL_MAX_POSTINGS:
                    return None
                rows = self._local_term_rows(terms, self.POS_COLS)
                # pass 1: docs/tfs/norms only (cheap) → candidate doc
                # set = intersection of every term's doc set (Lucene's
                # lead-with-the-rarest conjunction, applied to all
                # terms at once)
                raw = {}
                cand = None
                for t in terms:
                    sub = rows.get(t)
                    if sub is None:
                        return empty
                    docs, tfs, norms = _decode_arrow_postings(sub)
                    if docs.size == 0:
                        return empty
                    raw[t] = (sub, docs, tfs, norms)
                    ds = np.sort(docs)
                    cand = ds if cand is None else cand[self._sorted_member(ds, cand)]
                    if cand.size == 0:
                        return empty
                # pass 2: decode POSITIONS for candidate docs only —
                # non-candidate segments never leave their byte buffer
                streams = {}
                for t in terms:
                    sub, docs, tfs, norms = raw[t]
                    sel = self._sorted_member(cand, docs)
                    docs, tfs, norms = docs[sel], tfs[sel], norms[sel]
                    pb, _lens = _arrow_blocks(sub.column("b_pos"))
                    vends = np.nonzero((pb & 0x80) == 0)[0] + 1
                    all_tfs = raw[t][2]
                    dend = vends[np.cumsum(all_tfs) - 1]
                    dstart = np.concatenate(([0], dend[:-1]))
                    s_, e_ = dstart[sel], dend[sel]
                    lens = e_ - s_
                    tot = int(lens.sum())
                    gather = np.repeat(s_ - (np.cumsum(lens) - lens), lens) + np.arange(
                        tot, dtype=np.int64
                    )
                    pos = decode_positions(pb[gather].tobytes(), tfs)
                    if docs.size > 1 and (np.diff(docs) < 0).any():
                        # row order inside part files is layout-
                        # dependent (splits/appends) — doc-sort the
                        # stream, carrying each doc's position segment
                        o = np.argsort(docs, kind="stable")
                        sstart = np.cumsum(tfs) - tfs
                        so = tfs[o]
                        tot = int(so.sum())
                        g2 = np.repeat(
                            sstart[o] - (np.cumsum(so) - so), so
                        ) + np.arange(tot, dtype=np.int64)
                        docs, tfs, norms, pos = docs[o], so, norms[o], pos[g2]
                    streams[t] = (docs, tfs, norms, pos)
                m = len(node.terms)
                # rank-compress doc ids so (rank << 40 | pos) always
                # fits int64 regardless of the corpus's doc-id range
                union_docs = np.unique(
                    np.concatenate([streams[t][0] for t in terms])
                )
                SHIFT = np.int64(1) << np.int64(40)
                if any(
                    streams[t][3].size and int(streams[t][3].max()) + m >= int(SHIFT)
                    for t in terms
                ):
                    return None  # pathological positions — distributed path
                keys = None
                for i, t in enumerate(node.terms):
                    docs, tfs, _n, pos = streams[t]
                    ranks = np.searchsorted(union_docs, docs).astype(np.int64)
                    ki = np.repeat(ranks, tfs) * SHIFT + (pos - i + m)
                    if keys is None:
                        keys = ki  # ascending: ranks asc, pos asc per doc
                    else:
                        p = np.searchsorted(ki, keys)
                        hit = (p < ki.size) & (ki[np.minimum(p, ki.size - 1)] == keys)
                        keys = keys[hit]
                    if keys.size == 0:
                        return empty
                docs_hit = union_docs[keys // SHIFT]
                uniqd, freq = np.unique(docs_hit, return_counts=True)
                d0, _t0, n0, _p0 = streams[node.terms[0]]
                dl = bm25.LENGTH_TABLE[n0[np.searchsorted(d0, uniqd)]].astype(
                    np.float64
                )
                f = freq.astype(np.float64)
                adl = self.field_stats[fld][1]
                sc = idf_sum * f / (f + bm25.K1 * (1 - bm25.B + bm25.B * dl / adl))
                return uniqd, sc * node.boost
            # sloppy variants keep the (slower) merge kernels — bounded
            # tighter because the sweep is single-threaded here
            if df_sum > self.LOCAL_MAX_PHRASE_POSTINGS:
                return None
            rows = self._local_posting_rows(terms, self.POS_COLS)
            stream = list(_decode_positions_stream(node.terms)(iter([rows.to_pandas()])))
            if not stream:
                return empty
            scored = list(
                _phrase_match_positions(
                    len(node.terms),
                    idf_sum,
                    self.field_stats[fld][1],
                    node.slop,
                    order_tolerant=self.slop_order_tolerant and node.slop > 0,
                )(iter(stream))
            )
            if not scored:
                return empty
            sp = scored[0] if len(scored) == 1 else pd.concat(scored, ignore_index=True)
            return (
                sp["doc_id"].to_numpy(np.int64),
                sp["score"].to_numpy(np.float64) * node.boost,
            )
        if isinstance(node, (Prefix, Wildcard, TermRange, Fuzzy)):
            f = getattr(node, "field", None) or self.fields[0]
            if isinstance(node, Fuzzy):
                exp = self._fuzzy_expand(node.text, f, node.max_edits)
                dfs = self.term_dfs({kk for kk, _ in exp})
                exp = [(kk, ed) for kk, ed in exp if kk in dfs]
                if not exp:
                    return empty
                if sum(dfs.values()) > self.LOCAL_MAX_POSTINGS:
                    return None
                n_f, adl_f = self.field_stats[f]
                idf_b = float(bm25.idf(max(dfs[kk] for kk, _ in exp), n_f))
                pref_len = 0 if f == self.fields[0] else len(f) + 1
                fboosts = {
                    kk: self._fuzzy_boost(kk[pref_len:], node.text, ed)
                    for kk, ed in exp
                }
                keys = set(fboosts)
                fcache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
                self._local_term_streams(
                    keys,
                    {kk: idf_b for kk in keys},
                    {kk: adl_f for kk in keys},
                    fcache,
                )
                kk_sorted = sorted(keys)
                docs = np.concatenate([fcache[kk][0] for kk in kk_sorted])
                sc = np.concatenate(
                    [fcache[kk][1] * fboosts[kk] for kk in kk_sorted]
                )
                if not docs.size:
                    return empty
                uniq, inv = np.unique(docs, return_inverse=True)
                total = np.zeros(uniq.size, np.float64)
                np.add.at(total, inv, sc)
                if node.boost != 1.0:
                    total = total * node.boost
                return uniq, total
            # constant-score expansions resolve to an exact vocab slice
            terms_v = self._vocab[0]
            if isinstance(node, Prefix):
                key = self._key(f, node.prefix)
                i0, i1 = self._vocab_prefix_slice(key)
                sel = self._default_scope_sel(i0, i1, f)
            elif isinstance(node, TermRange):
                pref = "" if f == self.fields[0] else f + ":"
                lo_key = pref + node.lo if node.lo is not None else (pref or None)
                if node.hi is not None:
                    hi_key, hi_incl = pref + node.hi, node.hi_incl
                elif pref:
                    hi_key, hi_incl = self._prefix_successor(pref), False
                else:
                    hi_key, hi_incl = None, True
                i0, i1 = self._vocab_slice(
                    lo_key, hi_key, node.lo_incl if node.lo is not None else True, hi_incl
                )
                sel = self._default_scope_sel(i0, i1, f)
            else:  # Wildcard
                import re as _re

                rx = "".join(
                    ".*" if c == "*" else "." if c == "?" else _re.escape(c)
                    for c in node.pattern
                )
                pref = "" if f == self.fields[0] else f + ":"
                lit = _re.split(r"[?*]", node.pattern)[0]
                i0, i1 = self._vocab_prefix_slice(pref + lit)
                sel = self._default_scope_sel(i0, i1, f)
                pat = _re.compile("^" + _re.escape(pref) + rx + "$")
                sel = sel[[bool(pat.match(terms_v[i])) for i in sel]] if sel.size else sel
            if sel.size == 0:
                return empty
            if sel.size > self.LOCAL_MAX_EXPANSION:
                return None
            if int(self._vocab[1][sel].sum()) > self.LOCAL_MAX_POSTINGS:
                return None
            terms = {terms_v[i] for i in sel}
            rows = self._local_posting_rows(terms, self.LOCAL_DOCS_COLS)
            docs = self._local_decode_docs(rows)
            if not docs.size:
                return empty
            return docs, np.full(docs.size, 1.0 * node.boost)
        return None

    def _local_search(
        self,
        ast: Node,
        flat: Node,
        k: int | None,
        mode: str,
        tcache: dict[str, tuple[np.ndarray, np.ndarray]] | None = None,
    ) -> dict[str, np.ndarray] | None:
        """Attempt the whole query driver-side: the result columns (see
        :meth:`_local_finish`), or None = take the distributed plan.
        Covers exactly the shapes whose distributed results it provably
        mirrors (same kernels, same combine semantics): flat
        boolean-of-terms, and single Phrase / Prefix / Wildcard /
        TermRange / Fuzzy leaves."""
        if (
            (k is not None and k > self.LOCAL_MAX_K)
            or self._off_bc is None
            or self._driver_vocab() is None
        ):
            return None
        keys = query_terms(ast)
        idf_map, avgdl_map = self._maps_for(keys)
        if tcache is None:
            tcache = {}
        if isinstance(flat, Bool) and self._is_flat_terms(flat):
            if not self._local_budget_ok({t for t in keys if t in idf_map}):
                return None
            got = self._local_flat_scores(flat, idf_map, avgdl_map, tcache)
        elif not isinstance(flat, Bool):
            got = self._local_leaf_scores(flat, idf_map, avgdl_map)
        elif (
            isinstance(flat, Bool)
            and len(flat.clauses) == 1
            and flat.clauses[0][0] == SHOULD
            and flat.boost == 1.0
        ):
            got = self._local_leaf_scores(flat.clauses[0][1], idf_map, avgdl_map)
        else:
            return None
        if got is None:
            return None
        docs, scores = got
        # a compaction after this open rewrites later appends' postings
        # into untagged files, which _at_open cannot skip: drop their
        # docs, which the open-time conv_offsets would mislabel
        keep = docs < self.n_rows
        if not keep.all():
            docs, scores = docs[keep], scores[keep]
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
            cand = scores == np.repeat(gmax, seg)
            pos = np.flatnonzero(cand)
            g = gids[pos]
            first = np.concatenate(([True], g[1:] != g[:-1]))
            wpos = pos[first]
            wdocs, wscores, wgid = docs[wpos], scores[wpos], g[first]
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

    # ------------------------------------------------------------ public API

    def _score_resolved(self, ast: Node) -> DataFrame:
        idf_map, avgdl_map = self._maps_for(query_terms(ast))
        out = self._score_node(ast, idf_map, avgdl_map)
        return out if out is not None else self._empty_scores()

    def score(self, query: str) -> DataFrame:
        """(doc_id, score) for every matching doc — exhaustive semantics."""
        return self._score_resolved(self._resolve_node(parse(query, simple=self.simple)))

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
        ``k`` up to ``LOCAL_MAX_K``, a supported shape within the local
        budgets), the result is a :class:`LocalResult`: its ``collect``,
        ``toPandas``, ``count``, ``columns`` and ``schema`` answer on the
        driver with no JVM call, and any other DataFrame use builds the
        JVM relation first.  Every other query returns a plain
        distributed DataFrame.  ``use_wand`` is accepted and ignored:
        every query takes the same exact plan."""
        ast = self._resolve_node(parse(query, simple=self.simple))
        if not with_text:
            # driver-local fast path for bounded queries (exact same
            # kernels and combine semantics as the distributed plan);
            # a bare leaf on a multi-field index resolves to a nested
            # SHOULD-of-per-field-Terms Bool, flattened so it stays a
            # flat disjunction (score = sum over matched keys either way)
            lr = self._local_search(ast, _flatten_shoulds(ast), k, mode)
            if lr is not None:
                return LocalResult(lr, self.RESULT_SCHEMA, self.spark)
        scores = self._score_resolved(ast)
        nparts = self._serve_parts(
            sum(self.term_dfs(query_terms(ast)).values())
        )
        return self._finish(scores, k, mode, with_text, nparts=nparts)

    BATCH_SCHEMA = (
        "query_id string, rank int, doc_id long, conv_id string, turn_idx int, score double"
    )

    def search_many(
        self, queries: dict[str, tuple[str, int, str]], use_wand: bool | None = None
    ) -> DataFrame:
        """Run a batch of queries in ONE Spark job.

        queries: query_id -> (query_string, k, mode).  Returns a single
        DataFrame (query_id, rank, doc_id, conv_id, turn_idx, score).

        Flat boolean-of-terms queries (after multi-field flattening) run
        through a SHARED-SCAN plan: the union of every flat query's
        terms is read and decoded ONCE, a broadcast clause table fans
        the scored stream out per query, and one aggregation + one
        ranking window finish all of them — postings IO and decode are
        amortized across the batch instead of re-scanned per query (the
        batch-serving shape at 100 TB).  Non-flat queries (phrase,
        prefix, fuzzy, nested booleans) fall back to per-query plans
        unioned into the same result.  ``use_wand`` is accepted and
        ignored, as in :meth:`search`.

        A batch whose members the driver-local tier serves in full (and
        an empty batch) returns one :class:`LocalResult`, which answers
        ``collect``/``toPandas``/``count``/``columns``/``schema`` with no
        JVM call; a mixed batch unions the local rows (materialized as a
        JVM relation) with the distributed plans.
        """
        # ONE df-stat lookup for the whole batch: pre-warm the term cache
        # with the union of every query's terms, so every plan below
        # fires zero additional driver round-trips for stats
        resolved: dict[str, tuple[Node, int | None, str]] = {}
        all_terms: set[str] = set()
        for qid, (q, k, mode) in queries.items():
            ast = self._resolve_node(parse(q, simple=self.simple))
            resolved[qid] = (ast, k, mode)
            all_terms |= query_terms(ast)
        batch_df = sum(self.term_dfs(all_terms).values())
        # driver-local members first (same eligibility and results as
        # the per-query fast path): their rows fold into ONE local
        # result — no Spark work for a batch of bounded queries — and
        # the shared term cache decodes each term once.  A batch whose
        # terms hold more than LOCAL_POOL_MIN_POSTINGS postings runs
        # them on 4 threads, whose decode and scoring passes overlap in
        # numpy; a smaller one runs them one after another, because its
        # members' numpy work is too small to overlap under the GIL.
        batch_tcache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

        def _local_one(item):
            qid, (ast, k, mode) = item
            return qid, self._local_search(ast, _flatten_shoulds(ast), k, mode, tcache=batch_tcache)

        if len(resolved) > 1 and batch_df > self.LOCAL_POOL_MIN_POSTINGS:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(4, len(resolved))) as lex:
                local_results = list(lex.map(_local_one, resolved.items()))
        else:
            local_results = [_local_one(item) for item in resolved.items()]
        served = [(qid, lr) for qid, lr in local_results if lr is not None]
        for qid, _lr in served:
            resolved.pop(qid)
        shared: dict[str, tuple[Bool, int | None, str]] = {}
        nonflat: list[tuple[str, int | None, str]] = []
        for qid, (ast, k, mode) in resolved.items():
            flat = _flatten_shoulds(ast)
            if isinstance(flat, Bool) and self._is_flat_terms(flat):
                shared[qid] = (flat, k, mode)
            else:
                nonflat.append((qid, k, mode))
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
        if not resolved:
            return local  # every member served locally, or an empty batch
        parts = [local] if served else []
        futures = []
        ex = None
        if nonflat:
            # non-flat members (phrase/prefix/fuzzy/nested) fall back to
            # per-query plans; BUILD them in parallel driver threads —
            # plan construction is driver-bound (py4j round-trips plus
            # the occasional lead-docs/broadcast job), so a batch with
            # several such members otherwise serializes that latency.
            # All stats are prewarmed above, so threads share read-only
            # caches; the plans still execute in the ONE union action.
            from concurrent.futures import ThreadPoolExecutor

            def _plan(item):
                qid, k, mode = item
                return qid, self.search(queries[qid][0], k=k, mode=mode)

            ex = ThreadPoolExecutor(max_workers=min(4, len(nonflat)))
            futures = [ex.submit(_plan, it) for it in nonflat]
        try:
            if shared:
                # build the shared plan WHILE the non-flat threads work —
                # both are driver-bound, so overlapping them hides the
                # shorter latency entirely
                parts.append(self._search_many_shared(shared))
            for fut in futures:
                qid, df = fut.result()
                parts.append(df.withColumn("query_id", F.lit(qid)))
        finally:
            if ex is not None:
                ex.shutdown(wait=False)
        out = reduce(lambda a, b: a.unionByName(b), parts)
        return out.select("query_id", *RESULT_COLS)

    def _search_many_shared(
        self, flat: dict[str, tuple[Bool, int | None, str]]
    ) -> DataFrame:
        """One postings scan + one decode for a batch of flat queries.

        Clause table rows: (query_id, term, boost, is_must, is_not);
        terms used ONLY under MUST_NOT across the whole batch take the
        docs-only decode (no tf/norm IO) and ride in as score-0 rows."""
        clause_rows: list[tuple[str, str, float, bool, bool]] = []
        cfg_rows: list[tuple[str, int, bool, int, float]] = []
        scoring_any: set[str] = set()
        referenced: set[str] = set()
        for qid, (node, k, mode) in flat.items():
            boosts: dict[str, float] = {}
            musts: set[str] = set()
            nots: set[str] = set()
            for occur, c in node.clauses:
                referenced.add(c.text)
                if occur == MUST_NOT:
                    nots.add(c.text)
                else:
                    boosts[c.text] = boosts.get(c.text, 0.0) + c.boost
                    if occur == MUST:
                        musts.add(c.text)
            scoring_any |= set(boosts)
            for t, b in boosts.items():
                clause_rows.append((qid, t, float(b), t in musts, False))
            for t in nots:
                clause_rows.append((qid, t, 0.0, False, True))
            cfg_rows.append(
                (
                    qid,
                    int(k) if k is not None else (1 << 31) - 1,
                    mode == "conversations",
                    len(musts),
                    float(node.boost),
                )
            )
        idf_map, avgdl_map = self._maps_for(referenced)
        score_terms = {t for t in scoring_any if t in idf_map}
        not_only = {t for t in referenced - scoring_any if t in idf_map}
        if not score_terms:
            return LocalResult.empty(self.BATCH_SCHEMA, self.spark)
        scored = self._scored_terms_df(score_terms, idf_map, avgdl_map)
        if not_only:
            scored = scored.unionByName(
                self._rows_for_terms(not_only, ("term",) + self.DOCS_COLS)
                .mapInPandas(_decode_docs_only_keyed(), "term string, doc_id long")
                .withColumn("score", F.lit(0.0))
            )
        # ONE doc_id exchange of the (term, doc, score) stream — the
        # per-query fan-out (which would multiply the stream by the
        # number of queries referencing each term — measured 557k -> 2.8M
        # rows on the bench suite) happens INSIDE the vectorized kernel
        # as term-indexed boost/must/not matrix lookups + per-doc
        # reduceat, never as materialized rows; each partition also
        # prunes to per-query top-k / best-per-conv before anything
        # shuffles again.
        enriched = scored.repartition(
            self._serve_parts(sum(self.term_dfs(referenced).values())), "doc_id"
        )
        off_bc = self._off_broadcast()
        if off_bc is None:
            # non-dense index: conv/turn come from the doc_stats join;
            # dense indexes attach them INSIDE the kernel via the
            # broadcast conv_offsets searchsorted (no join, no scan)
            enriched = enriched.join(
                self.doc_stats.select("doc_id", "conv_id", "turn_idx"), "doc_id"
            )
        pruned = enriched.mapInPandas(
            _shared_batch_kernel(clause_rows, cfg_rows, off_bc), BATCH_ROW_SCHEMA
        )
        return (
            pruned.repartition(min(len(flat), 32), "query_id")
            .mapInPandas(
                _finalize_batch(),
                "query_id string, rank int, doc_id long, conv_id string, "
                "turn_idx int, score double",
            )
            .select("query_id", *RESULT_COLS)
        )

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
        nparts: int | None = None,
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
        if nparts is not None:
            # candidate-sized stream: collapse the upstream reduce
            # partitioning to the df-derived serving width before the
            # Python attach pass (coalesce — no extra shuffle)
            scores = scores.coalesce(nparts)
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
            if nparts is not None:
                enriched = enriched.repartition(nparts, "conv_id")
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
        ordered = enriched.orderBy(F.desc("score"), F.asc("doc_id"))
        if k is not None:
            ordered = ordered.limit(k)
        wr = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        out = ordered.withColumn("rank", F.row_number().over(wr)).select(*RESULT_COLS)
        if with_text:
            out = out.join(self.doc_index.select("doc_id", "text"), "doc_id", "left")
        return out
