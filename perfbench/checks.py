"""Output checks.  Each returns None when the output is right, else a
one-line reason; the benchmark counts every reason as a failed op."""

from __future__ import annotations

import pandas as pd

REL_TOL = 1e-4


def manifest(stats: dict, n_input: int) -> str | None:
    """A build counted every input row as a row and as a document (every
    fixture turn has tokens) and wrote postings."""
    if stats.get("n_rows") != n_input or stats.get("n_docs") != n_input:
        return f"n_rows {stats.get('n_rows')}, n_docs {stats.get('n_docs')} for {n_input} input rows"
    if not stats.get("postings_written", 0) > 0:
        return "no postings written"
    return None


def response(rows: list, k: int | None, mode: str) -> str | None:
    """Ranks are 1..n, order is score desc then doc_id asc, at most k
    rows, and conversations mode returns one row per conversation."""
    if k is not None and len(rows) > k:
        return f"{len(rows)} rows for k={k}"
    if [r["rank"] for r in rows] != list(range(1, len(rows) + 1)):
        return "ranks are not 1..n"
    keys = [(-r["score"], r["doc_id"]) for r in rows]
    if keys != sorted(keys):
        return "not ordered by score desc, doc_id asc"
    if mode == "conversations" and len({r["conv_id"] for r in rows}) != len(rows):
        return "repeated conv_id in conversations mode"
    return None


def matches_oracle(rows: list, expected: list[tuple[int, float]]) -> str | None:
    """Same doc_ids in the same ranks; scores within REL_TOL relative."""
    got = [(r["doc_id"], r["score"]) for r in rows]
    if [d for d, _ in got] != [d for d, _ in expected]:
        return "ranking differs from the oracle"
    for (_, a), (_, b) in zip(got, expected):
        if abs(a - b) > REL_TOL * max(1.0, abs(b)):
            return f"score {a} differs from the oracle's {b}"
    return None


def same_rows(a: list, b: list) -> str | None:
    """Identical (rank, doc_id, conv_id, turn_idx, score) rows."""

    def key(rows):
        return [(r["rank"], r["doc_id"], r["conv_id"], r["turn_idx"], round(r["score"], 9)) for r in rows]

    return None if key(a) == key(b) else "results differ"


def page_text(rows: list, text_of: dict) -> str | None:
    for r in rows:
        if r["text"] != text_of.get((r["conv_id"], r["turn_idx"])):
            return f"text of {r['conv_id']}/{r['turn_idx']} differs from the corpus"
    return None


def browse(page, rows: list, corpus: pd.DataFrame, mask, page_no: int, size: int) -> str | None:
    """find_all's total and page rows equal a pandas evaluation of the same
    predicate under the ts desc, (conv_id, turn_idx) asc order."""
    sel = corpus[mask]
    if page.total != len(sel):
        return f"total {page.total} != {len(sel)}"
    exp = sel.sort_values(["ts", "conv_id", "turn_idx"], ascending=[False, True, True])
    exp = exp.iloc[(page_no - 1) * size : page_no * size]
    got = [(r["conv_id"], r["turn_idx"]) for r in rows]
    if got != list(zip(exp["conv_id"], exp["turn_idx"])):
        return "page rows differ from the pandas evaluation"
    return None
