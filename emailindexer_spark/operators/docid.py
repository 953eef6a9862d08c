"""Global docID assignment: dense rank over stable (conv_id, turn_idx).

The reference's Lucene docIDs are segment-insertion order, which equals
the DB page order ``DATE DESC, MESSAGE_ID ASC`` (SURVEY.md §2.9); for
transcripts the input_hint's stable ordering is ``(conv_id, turn_idx)``,
so docID = 0-based dense rank over that ordering.  Top-k ties break by
ascending docID, so this assignment is part of the correctness contract
and must be invariant to partitioning (FIXTURES.md §6.2).

Two implementations:

* ``method="window"`` — ``row_number() OVER (ORDER BY conv_id, turn_idx)``.
  One global sort into a single task: fine for tests, not for 10^12 rows.
* ``method="two_phase"`` (default) — the scale path.  Exploits the
  input invariant that ``turn_idx`` is dense from 0 within a conversation
  (validated on demand): doc_id = conv_offset + turn_idx, where
  conv_offset is the cumulative turn count of all conversations sorting
  before this one.  The conversation-level cumulative sum is itself
  computed distributively: range-partition the (conv_id, n_turns) table
  by conv_id, take per-partition sums (a P-row driver collect), prefix-sum
  those on the driver, and let each partition cumsum locally in a
  mapInPandas — no global single-task sort anywhere, and the per-turn
  work is ONE co-partitioned shuffle join on conv_id.

Both yield identical doc_ids (property-tested across partition counts).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ["conv_id", "turn_idx"]


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


def assign_doc_ids(
    df: DataFrame, method: str = "two_phase", num_partitions: int | None = None
) -> DataFrame:
    """Return df + ``doc_id`` (long), dense 0-based over (conv_id, turn_idx)."""
    out, _total = assign_doc_ids_with_total(df, method, num_partitions)
    return out


def conv_offsets(conv_counts: pd.DataFrame) -> dict:
    """Driver-side prefix sum over per-conversation ``(conv_id, n_turns,
    _sparse)`` rows (``_sparse`` = 1 when the conversation's turn_idx
    is not dense from 0) → ``conv_ids`` (sorted object array),
    ``offsets`` / ``n_turns`` (int64: a conversation's doc ids start at
    its offset), ``dense`` and ``total``."""
    if conv_counts["conv_id"].isna().any():
        # a null conv_id would silently vanish in the offsets join
        # (inner join on null never matches) — fail loudly instead
        raise ValueError("null conv_id in transcripts: every row needs a conv_id")
    # Python str sort == Spark UTF8 binary order (UTF-8 byte order
    # preserves code-point order), so these offsets match the
    # distributed range-partitioned cumsum exactly
    head = conv_counts.sort_values("conv_id", kind="stable", ignore_index=True)
    n = head["n_turns"].to_numpy(dtype=np.int64)
    return {
        "conv_ids": head["conv_id"].to_numpy(),
        "offsets": np.concatenate(([0], np.cumsum(n[:-1]))) if n.size else n,
        "n_turns": n,
        "dense": not head["_sparse"].fillna(0).astype(np.int64).any(),
        "total": int(n.sum()),
    }


def assign_doc_ids_with_total(
    df: DataFrame,
    method: str = "two_phase",
    num_partitions: int | None = None,
    checkpoint_offsets: bool = True,
    pinned: list | None = None,
    max_broadcast_convs: int = 250_000,
    offsets_out: dict | None = None,
) -> tuple[DataFrame, int | None]:
    """Like assign_doc_ids, also returning the total row count when the
    two-phase path computes it for free (None for the window path).

    ``checkpoint_offsets=False`` skips the eager offsets materialization
    (one fewer serial job): the range-partitioned conversation table
    stays PERSISTED (appended to ``pinned`` for the caller to unpersist
    after its action), which pins the sampled range bounds, so the
    prefix sums stay valid without cutting lineage.  Use only when the
    caller runs its action while the pin is held (the build's doc_index
    write does).

    Small-conversation-table fast path: when the corpus has ≤
    ``max_broadcast_convs`` conversations (a capped Arrow ``toPandas``
    keeps the check bounded at any scale — 250k conv rows is a few MB
    of driver heap, and every realistic small corpus fits), the (conv,
    count, density) rows come straight to the driver, the prefix sum
    runs in numpy, and the offsets broadcast-join back.  Verified-dense
    input (checked for free inside the same aggregation) then takes
    doc_id = ``conv_offset + turn_idx`` — the per-turn rows are NEVER
    shuffled or window-sorted; non-dense input ranks within each
    conversation under the broadcast join.  Above the threshold the
    general path engages: range-partitioned per-partition sums, a
    driver prefix-sum over P values, ONE co-partitioned shuffle join on
    conv_id + a per-conversation row_number window in the same
    partitioning.

    ``offsets_out``: when given a dict and the fast path runs, it is
    filled with ``conv_ids`` (sorted numpy object array), ``offsets``
    / ``n_turns`` (int64 arrays), ``dense`` and ``total`` — the caller
    (the index builder) persists these as the ``conv_offsets`` artifact
    so the query engine can map doc_id → (conv_id, turn_idx) with a
    broadcast searchsorted instead of a doc_stats join.
    """
    if method == "window":
        w = Window.orderBy(*ORDER_COLS)
        return df.withColumn("doc_id", F.row_number().over(w).cast("long") - 1), None
    if method != "two_phase":
        raise ValueError(method)
    spark = df.sparkSession
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # density flags ride the same aggregation as the counts — the dense
    # check is free (no extra pass, no extra job)
    conv_counts = df.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        (
            (F.max("turn_idx") != F.count("*") - 1)
            | (F.min("turn_idx") != 0)
            | (F.count_distinct(F.col("turn_idx")) != F.count("*"))
        ).cast("int").alias("_sparse"),
    )
    # small-conversation-table fast path: collect the (conv, count)
    # pairs straight to the driver (capped — the limit guarantees a
    # bounded collect even on a 10^10-conv corpus), prefix-sum in
    # Python, broadcast-join.  Skips the range repartition (and its
    # sampling job), the per-partition-sums round-trip, and the
    # mapInPandas cumsum — three fewer serial steps in every build.
    # NOT persisted: the fast path (every bounded corpus) reads the
    # aggregation exactly once, and persisting it first was measured at
    # +2.7 s of pure cache/limit machinery per build; the rare at-scale
    # path re-aggregates once instead (one extra job on >250k-conv
    # corpora, where the build is hours anyway).
    head = conv_counts.limit(max_broadcast_convs + 1).toPandas()  # Arrow
    if len(head) <= max_broadcast_convs:
        oo = conv_offsets(head)
        acc = oo["total"]
        if offsets_out is not None:
            offsets_out.update(oo)
        offsets = spark.createDataFrame(
            pd.DataFrame({"conv_id": oo["conv_ids"], "conv_offset": oo["offsets"]}),
            "conv_id string, conv_offset long",
        )
        if oo["dense"]:
            out = df.join(F.broadcast(offsets), "conv_id").withColumn(
                "doc_id", (F.col("conv_offset") + F.col("turn_idx")).cast("long")
            )
        else:
            # non-dense input (e.g. a streaming batch holding turns
            # 5..9): rank within the conversation, same as the
            # distributed path
            w = Window.partitionBy("conv_id").orderBy("turn_idx")
            out = df.join(F.broadcast(offsets), "conv_id").withColumn(
                "doc_id",
                (F.col("conv_offset") + F.row_number().over(w) - 1).cast("long"),
            )
        return out.drop("conv_offset"), acc
    parted = (
        conv_counts.repartitionByRange(nparts, "conv_id")
        .sortWithinPartitions("conv_id")
        .persist()
    )
    keep_persisted = False
    try:
        psums = (
            parted.groupBy(F.spark_partition_id().alias("pid"))
            .agg(
                F.sum("n_turns").alias("s"),
                F.count("*").alias("n_convs"),
                F.sum("_sparse").alias("n_sparse"),
            )
            .collect()
        )
        part_sums = {r["pid"]: r["s"] for r in psums}
        # driver-side prefix sum over at most `nparts` values
        prefix: dict[int, int] = {}
        acc = 0
        for pid in range(nparts):
            prefix[pid] = acc
            acc += int(part_sums.get(pid, 0))
        prefix_bc = spark.sparkContext.broadcast(prefix)

        def local_cumsum(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ctx = TaskContext.get()
            run = prefix_bc.value[ctx.partitionId()] if ctx else 0
            for pdf in it:
                n = pdf["n_turns"].to_numpy(dtype=np.int64)
                starts = run + np.concatenate(([0], np.cumsum(n[:-1]))) if n.size else np.array([], dtype=np.int64)
                run += int(n.sum())
                yield pd.DataFrame({"conv_id": pdf["conv_id"], "conv_offset": starts})

        # (a broadcast-dense branch is unreachable here: the small-
        # conversation-table path above already handled every corpus
        # with ≤ max_broadcast_convs conversations)
        offsets = parted.mapInPandas(local_cumsum, "conv_id string, conv_offset long")
        if checkpoint_offsets:
            # Materialize offsets NOW (localCheckpoint cuts the lineage):
            # the prefix sums above are only valid for the exact
            # partitioning we sampled; a recompute of `parted` after
            # unpersist could re-sample different range bounds and
            # silently mis-assign ids.
            offsets = offsets.localCheckpoint(eager=True)
        else:
            # the persisted `parted` pins the partitioning instead; the
            # consuming action computes offsets from the cached blocks
            keep_persisted = True
            if pinned is not None:
                pinned.append(parted)
    finally:
        if not keep_persisted:
            parted.unpersist(blocking=False)
    # rank within the conversation rather than trusting turn_idx to be
    # dense from 0: identical for dense input, and correct for partial
    # conversations (e.g. a streaming batch holding turns 5..9).  The
    # window shuffles per conv_id — no global single-task sort.
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    out = df.join(offsets, "conv_id").withColumn(
        "doc_id",
        (F.col("conv_offset") + F.row_number().over(w) - 1).cast("long"),
    )
    return out.drop("conv_offset"), acc
