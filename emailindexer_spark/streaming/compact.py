"""Posting-list compaction — the Lucene segment-merge analogue.

Streaming appends (streaming/ingest.py) add one fresh posting row
(split) per term per batch, and a sharded build one per term per shard;
after many batches a term's posting list is spread over many small rows
and query-side decode pays per-row overhead.  ``compact_index`` merges
every term's rows back into minimal, freshly skew-split runs — exactly
what Lucene's background TieredMergePolicy does for segments
(reference: Lucene merges implied by S6, SURVEY.md §4 "Segment merge
policy") — WITHOUT re-tokenizing or touching the text.  Compaction is a
rewrite into the format the build writes, through the build's own
kernels, one postings part at a time (a term's rows all live in its
part, so a part holds every term's whole posting list):

* the part's doc ids, tfs and positions are decoded (the query
  engine's whole-table kernel ``_decode_table``, with its row checks;
  norms live in doc_index, which compaction leaves as it is, and a
  postings file from before 0.5.0 loses its ``b_norms`` copy here)
  straight back into the build's chunk rows by the build's packer
  (``_pack_chunk_rows``) with the exact-df heavy map from base 0 — the postings hold every doc of the corpus, so a
  term of df > heavy_df_threshold is re-cut into ceil(df /
  split_target) doc-range splits, as a driver build of the same rows
  cuts it; the per-doc POSITION payloads are never decoded, only
  byte-split at doc boundaries (the codec's segmented delta+varbyte
  encodes each doc's positions independently),
* the chunk rows go through the build's posting encoder
  (``_encode_chunk_table``) into one (term, split_id)-sorted file per
  part: no shuffle, no heavy-df job.  The parts run in a driver loop
  while the index holds at most the query engine's
  ``LOCAL_MAX_POSTINGS`` postings, else one Spark task each (one job),
* the new postings directory is swapped in with a rename pair +
  leftover repair (``_repair_partial``): a crash mid-swap is healed by
  every entry point that touches the postings dir — the next
  ``compact_index``, ``SearchEngine`` open, or ``incremental_append``
  all invoke the repair first — and ``term_dict`` needs NO rewrite:
  per (term, part) df is invariant under merging splits.

Doc ranges of distinct splits never overlap (build split ranges come
from doc-range cuts within shards; each ingest batch's ids start at the
previous corpus size), so the merged run's doc_ids stay strictly
increasing — asserted by the encoder.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
from pyspark.sql import SparkSession

from emailindexer_spark.plans.builder import _encode_chunk_table, _pack_chunk_rows, write_index_table
from emailindexer_spark.plans.planner import _LEVEL_COLS, SearchEngine, _decode_table
from emailindexer_spark.sources.checkpoint import Manifest


def _compact_part(live: str, tmp: str, part: str, params: dict, n_rows: int) -> int:
    """Merge the visible files of postings directory ``live/part`` into
    one file under ``tmp/part``; returns the rows written."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    files = sorted(glob.glob(os.path.join(live, part, "*.parquet")))
    if not files:
        return 0
    level = 2 if params["positions"] else 1
    rows = pa.concat_tables(
        papq.read_table(f, columns=list(_LEVEL_COLS[level])).replace_schema_metadata(None)
        for f in files
    )
    # one decode, rows in (term, first_doc) order: term-major, each
    # term's docs ascending
    dec = _decode_table(rows, level, 0, n_rows)
    term_rows = np.concatenate(([0], np.flatnonzero(dec.term[1:] != dec.term[:-1]) + 1, [dec.term.size]))
    chunks = _pack_chunk_rows(
        dec.term[term_rows[:-1]],
        dec.off[term_rows],
        dec.docs,
        dec.tfs,
        dec.pos[0].tobytes() if dec.pos else b"",
        dec.pos[1] if dec.pos else None,
        (params["heavy_df_threshold"], params["split_target"]),
        0,
        n_rows,
    )
    post = pa.Table.from_batches(
        _encode_chunk_table(
            pa.Table.from_pandas(chunks, preserve_index=False),
            params["block_size"],
            params["num_parts"],
        )
    ).drop_columns(["part"])
    os.makedirs(os.path.join(tmp, part))
    write_index_table(post, os.path.join(tmp, part, "part-00000.parquet"))
    return post.num_rows


def _postings_total(man: Manifest) -> int:
    """Σ df over the visible term_dict files: the index's postings."""
    import pyarrow.parquet as papq

    return sum(
        int(papq.read_table(f, columns=["df"]).column(0).to_numpy().sum())
        for f in glob.glob(os.path.join(man.stage_path("term_dict"), "*.parquet"))
    )


def _repair_partial(man: Manifest) -> None:
    """Heal a crash mid-swap: live-missing+bak-present → restore; a
    stale tmp from an interrupted compact is discarded."""
    live = man.stage_path("postings")
    bak, tmp = live + ".bak", live + ".tmp"
    if not os.path.isdir(live) and os.path.isdir(bak):
        os.rename(bak, live)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(bak, ignore_errors=True)


def compact_index(spark: SparkSession, index_dir: str) -> Manifest:
    """Merge every term's posting rows into minimal skew-split runs,
    with the heavy-term rule the manifest's build params record."""
    man = Manifest.load_or_create(index_dir)
    if "n_rows" not in man.stats:
        raise ValueError(f"{index_dir} has no completed build")
    _repair_partial(man)
    from emailindexer_spark.streaming.ingest import repair_ingest_visibility

    repair_ingest_visibility(man)  # publish a committed-but-hidden append
    t0 = time.time()
    params = {
        k: int(man.params.get(k, d))
        for k, d in (
            ("num_parts", 32),
            ("block_size", 128),
            ("heavy_df_threshold", 100_000),
            ("split_target", 50_000),
            ("positions", 0),
        )
    }
    n_rows = int(man.stats["n_rows"])
    live = man.stage_path("postings")
    tmp = live + ".tmp"
    parts = sorted(p for p in os.listdir(live) if p.startswith("part="))
    os.makedirs(tmp)
    if _postings_total(man) <= SearchEngine.LOCAL_MAX_POSTINGS:
        path = "driver"
        for p in parts:
            _compact_part(live, tmp, p, params, n_rows)
    else:
        path = "spark"
        spark.sparkContext.parallelize(parts, max(1, len(parts))).map(
            lambda p: _compact_part(live, tmp, p, params, n_rows)
        ).collect()
    # atomic-ish swap with crash repair; term_dict content is invariant
    # (df per (term, part) is preserved by merging), so only postings move
    bak = live + ".bak"
    os.rename(live, bak)
    os.rename(tmp, live)
    shutil.rmtree(bak)
    n_compactions = int(man.stats.get("compactions", 0)) + 1
    man.set_stats(compactions=n_compactions)
    man.commit_stage(
        f"compact_{n_compactions:04d}", seconds=round(time.time() - t0, 2), path=path
    )
    return man
