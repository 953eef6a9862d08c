"""Global docID assignment: dense rank over stable (conv_id, turn_idx).

The reference's Lucene docIDs are segment-insertion order, which equals
the DB page order ``DATE DESC, MESSAGE_ID ASC`` (SURVEY.md §2.9); for
transcripts the input_hint's stable ordering is ``(conv_id, turn_idx)``,
so docID = 0-based dense rank over that ordering.  Top-k ties break by
ascending docID, so this assignment is part of the correctness contract
and must be invariant to partitioning (FIXTURES.md §6.2).

The staging kernel (plans/builder._stage_on_driver) ranks its rows by a
stable (conv_id, turn_idx) sort from a base docID; a sharded build
takes each shard's base from :func:`conv_offsets`, a prefix sum over the
per-conversation counts of the whole input, so the shards' ranks join
into the global one.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validate_transcripts(df: DataFrame) -> None:
    """Assert the input_hint invariants: (conv_id, turn_idx) unique and
    turn_idx dense from 0 (reference analogue: PARENT_ID chain integrity,
    EmailRepository.java:184-209 — here explicit by schema)."""
    bad = (
        df.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"), F.min("turn_idx").alias("mn"))
        .where((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0))
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError("turn_idx is not dense from 0 within some conv_id")


def conv_offsets(conv_counts: pd.DataFrame) -> dict:
    """Driver-side prefix sum over per-conversation ``(conv_id, n_turns)``
    rows → ``conv_ids`` (sorted object array), ``offsets`` / ``n_turns``
    (int64: a conversation's doc ids start at its offset) and
    ``total``."""
    if conv_counts["conv_id"].isna().any():
        # a null conv_id has no place in the conversation order
        raise ValueError("null conv_id in transcripts: every row needs a conv_id")
    # Python str sort == Arrow/Spark UTF8 binary order (UTF-8 byte
    # order preserves code-point order): the kernel's sort order
    head = conv_counts.sort_values("conv_id", kind="stable", ignore_index=True)
    n = head["n_turns"].to_numpy(dtype=np.int64)
    return {
        "conv_ids": head["conv_id"].to_numpy(),
        "offsets": np.concatenate(([0], np.cumsum(n[:-1]))) if n.size else n,
        "n_turns": n,
        "total": int(n.sum()),
    }
