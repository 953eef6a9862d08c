"""BM25 scoring math — Lucene 9.1 semantics, shared by oracle and UDFs.

The reference never calls ``setSimilarity`` so both index and search use
Lucene's default ``BM25Similarity(k1=1.2, b=0.75)`` (SURVEY.md §1.2), with
the Lucene-8+ formula (no ``k1+1`` numerator):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(t,d) = idf(t) * tf / (tf + k1 * (1 - b + b * dl'/avgdl))

where ``dl'`` is the LOSSY doc length (SmallFloat byte round-trip,
``functions.smallfloat``) and ``avgdl = total_tokens / N`` uses EXACT
lengths (Lucene computes avgdl from sumTotalTermFreq/docCount, which are
exact long counters).  Disjunction scores SUM per doc; top-k ties break
by ascending docID.
"""

from __future__ import annotations

import numpy as np

from emailindexer_spark.functions.smallfloat import LENGTH_TABLE

K1 = 1.2
B = 0.75


def idf(df: int | np.ndarray, n_docs: int) -> float | np.ndarray:
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def score_tf(tf: np.ndarray, norm: np.ndarray, avgdl: float, idf_val: float) -> np.ndarray:
    """Vectorized per-posting score: arrays of tf and norm BYTES."""
    dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(np.float64)
    tf = np.asarray(tf, dtype=np.float64)
    return idf_val * tf / (tf + K1 * (1.0 - B + B * dl / avgdl))

