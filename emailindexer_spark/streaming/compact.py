"""Posting-list compaction — the Lucene segment-merge analogue.

Streaming appends (streaming/ingest.py) add one fresh posting row
(split) per term per batch; after many batches a term's posting list is
spread over many small rows and query-side decode pays per-row
overhead.  ``compact_index`` merges every term's rows back into
minimal, freshly skew-split runs — exactly what Lucene's background
TieredMergePolicy does for segments (reference: Lucene merges implied
by S6, SURVEY.md §4 "Segment merge policy") — WITHOUT re-tokenizing or
touching the text.  Compaction is a rewrite into the format the build
writes, through the build's own code:

* posting rows are decoded (the query engine's vectorized
  ``_decode_frame_postings``) straight back into the build's map-side
  chunk rows (plans/builder.CHUNK_SCHEMA) by the build's packer
  (``_pack_chunk_rows``); the per-doc POSITION payloads are never
  decoded, only byte-split at doc boundaries (the codec's segmented
  delta+varbyte encodes each doc's positions independently),
* heavy terms are re-split from EXACT per-term df (summed over rows —
  no sampling needed here),
* the chunk rows go through the build's one posting writer
  (``write_postings``: (term, split) shuffle → ``_encode_chunk_runs`` →
  part layout), so compacted output is byte-compatible with a fresh
  build's,
* the new postings directory is swapped in with a rename pair +
  leftover repair (``_repair_partial``): a crash mid-swap is healed by
  every entry point that touches the postings dir — the next
  ``compact_index``, ``SearchEngine`` open, or ``incremental_append``
  all invoke the repair first — and ``term_dict`` needs NO rewrite:
  per (term, part) df is invariant under merging splits.

Doc ranges of distinct splits never overlap (base split ranges come
from doc-range cuts; each ingest batch's ids start at the previous
corpus size), so the merged run's doc_ids stay strictly increasing —
asserted by the encoder.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from emailindexer_spark.plans.builder import (
    CHUNK_SCHEMA,
    _pack_chunk_rows,
    _pos_doc_bounds,
    write_postings,
)
from emailindexer_spark.plans.planner import _decode_frame_postings
from emailindexer_spark.sources.checkpoint import Manifest


def _decode_to_chunk_rows(heavy_bc, n_rows: int):
    """mapInPandas: posting rows → CHUNK_SCHEMA rows cut at the heavy
    split edges of ``heavy_bc`` ({term: n_splits}, or None).  A term's
    rows cover disjoint doc ranges, so ordering a batch's rows by
    (term, first_doc) makes one vectorized decode come out term-major
    with docs ascending — the packer's input."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        heavy = heavy_bc.value if heavy_bc is not None else {}
        for pdf in it:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["term", "first_doc"], ignore_index=True)
            docs, tfs, norms = _decode_frame_postings(pdf)
            terms = pdf["term"].to_numpy()
            row_starts = np.concatenate(([0], np.cumsum(pdf["df_row"].to_numpy(np.int64))))
            tb = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            term_rows = np.concatenate(([0], tb, [len(pdf)]))
            pos_buf = b"".join(b for row in pdf["b_pos"] for b in row)
            pos_bounds = _pos_doc_bounds(pos_buf, tfs) if pos_buf else None
            yield _pack_chunk_rows(
                terms[term_rows[:-1]],
                row_starts[term_rows],
                docs,
                tfs,
                norms,
                pos_buf,
                pos_bounds,
                heavy,
                n_rows,
            )

    return gen


def _repair_partial(man: Manifest) -> None:
    """Heal a crash mid-swap: live-missing+bak-present → restore; a
    stale tmp from an interrupted compact is discarded."""
    live = man.stage_path("postings")
    bak, tmp = live + ".bak", live + ".tmp"
    if not os.path.isdir(live) and os.path.isdir(bak):
        os.rename(bak, live)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(bak, ignore_errors=True)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    heavy_df_threshold: int | None = None,
    split_target: int | None = None,
) -> Manifest:
    """Merge every term's posting rows into minimal skew-split runs."""
    man = Manifest.load_or_create(index_dir)
    if "n_rows" not in man.stats:
        raise ValueError(f"{index_dir} has no completed build")
    _repair_partial(man)
    from emailindexer_spark.streaming.ingest import repair_ingest_visibility

    repair_ingest_visibility(man)  # publish a committed-but-hidden append
    t0 = time.time()
    num_parts = int(man.params.get("num_parts", 32))
    block_size = int(man.params.get("block_size", 128))
    heavy_df_threshold = heavy_df_threshold or int(
        man.params.get("heavy_df_threshold", 100_000)
    )
    split_target = split_target or int(man.params.get("split_target", 50_000))
    n_rows = int(man.stats["n_rows"])

    live = man.stage_path("postings")
    p = spark.read.parquet(live)
    # EXACT per-term df from the rows being merged — no sampling
    heavy = {
        r["term"]: -(-int(r["df"]) // split_target)
        for r in p.groupBy("term")
        .agg(F.sum("df_row").alias("df"))
        .where(F.col("df") > heavy_df_threshold)
        .collect()
    }
    heavy_bc = spark.sparkContext.broadcast(heavy) if heavy else None
    chunks = p.select(
        "term", "first_doc", "df_row", "b_first", "b_docs", "b_tfs", "b_norms", "b_pos"
    ).mapInPandas(_decode_to_chunk_rows(heavy_bc, n_rows), CHUNK_SCHEMA)
    tmp = live + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_postings(chunks, tmp, block_size, num_parts)
    # atomic-ish swap with crash repair; term_dict content is invariant
    # (df per (term, part) is preserved by merging), so only postings move
    bak = live + ".bak"
    os.rename(live, bak)
    os.rename(tmp, live)
    shutil.rmtree(bak)
    n_compactions = int(man.stats.get("compactions", 0)) + 1
    man.set_stats(compactions=n_compactions)
    man.commit_stage(
        f"compact_{n_compactions:04d}", seconds=round(time.time() - t0, 2)
    )
    return man
