"""Incremental / streaming index ingest.

The reference is batch-only — its index rebuild is a full delete+rewrite
(EmailIndexGenerator.java:45-50).  Our engine adds an append path: new
transcript turns get docIDs continuing from the current max (exactly
Lucene's insertion-order docID semantics), and the build's staging
kernel (plans/builder._stage_on_driver, no heavy-term splits) writes
their tables: NEW posting rows with a fresh ``split_id`` per ingest
batch, in the same format and (term, split_id)-sorted file layout a
build writes.

Input size decides only where that kernel runs (test-gated to write
the same index):

* a batch of at most ``plans/builder.DRIVER_MAX_TURNS`` turns and
  ``DRIVER_MAX_INPUT_BYTES`` of Arrow — every micro-batch of a live
  feed — is read onto the driver and staged there by
  plans/builder._stage_on_driver: docIDs from a stable (conv_id,
  turn_idx) sort, dl/norm from the build's token counter, the tokenizer
  and encoder called in-process, every table written with pyarrow.  A
  bare local parquet batch whose footers count at most the cap is read
  from its files with pyarrow (plans/builder.read_bare_parquet, no
  Spark job); any other batch with ONE bounded Arrow collect.  No Spark
  job runs past that read; the append costs milliseconds of numpy
  instead of a dozen jobs' scheduling (a small append is a cheap log
  commit, as in Delta Lake; heavy rewrites are compaction's job);
* a larger batch is staged as a large build is, in shards of whole
  conversations, one Spark task each (plans/builder._stage_sharded):
  shard s at base = the corpus size plus the rows of the shards before
  it, its postings at split_id = the batch's + s.

Each ``ingest_*`` manifest stage records which ``path`` ran and its
``seconds``; a driver-staged one also which ``read`` ("files" or
"collect") fetched its rows.

Because the query engine already handles multi-row posting lists whose
rows cover disjoint doc ranges (that is what skew splits are), appended
rows integrate with zero changes to the read path: per-term df sums over
rows, block decode is per-row.

Corpus statistics (N, total_tokens → avgdl) are updated in the manifest
on every commit, so scores reflect the full corpus after each batch —
the same behavior as a Lucene commit making new segments visible.

Each appended doc's ``doc_index`` row carries its conv_id and turn_idx,
which is all the query engine needs to collapse conversations: a batch
may continue an indexed conversation, reuse a conv_id or skip turns,
and every search stays on the driver-local tier.

Exactly-once semantics (Structured Streaming is at-least-once into
``foreachBatch``): every batch's files are (1) written into a private
``_staging/`` directory, (2) moved into the live tables under a HIDDEN
batch-tagged name (``.{tag}-{file}`` — Spark's parquet reader and the
engine's ``*.parquet`` globs both skip dot-files, so readers cannot see
them), (3) committed in the manifest — batch id, tag, and the updated
corpus statistics in ONE atomic write — and only then (4) renamed
visible.  MANIFEST-FIRST visibility: a reader opening the index at any
point before (3) sees exactly the pre-append corpus (old files, old
stats); after (3) it sees the appended corpus (a crash between (3) and
(4) is healed by ``repair_ingest_visibility`` — run at every engine
open and append entry — which un-hides files whose tag the manifest
records as committed).  A replayed batch whose id is already committed
is skipped; a crashed half-appended attempt is detected by its tag and
its partial files (hidden or visible) are deleted before the rewrite —
no duplicate doc_ids, postings, or inflated stats survive a retry.

``stream_ingest`` wires this into Structured Streaming via
``foreachBatch`` + ``trigger(availableNow)``; ``incremental_append`` is
the batch core, usable directly for micro-batch ETL.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from emailindexer_spark.plans import builder
from emailindexer_spark.plans.builder import (
    INDEX_TABLES,
    _stage_on_driver,
    _stage_sharded,
    _write_term_dict,
)
from emailindexer_spark.sources.checkpoint import Manifest

#: the tables an append writes
_TABLES = tuple(t for t in INDEX_TABLES if t != "build_metrics")


def _tag_for(batch_seq: int, batch_id: int | None) -> str:
    return f"ingb{int(batch_id):012d}" if batch_id is not None else f"ing{batch_seq:06d}"


def _remove_tagged(live_dir: str, tag: str) -> None:
    """Delete files from a crashed prior attempt of the same batch —
    both published (``tag-…``) and still-hidden (``.tag-…``) names."""
    if not os.path.isdir(live_dir):
        return
    for root, _dirs, files in os.walk(live_dir):
        for fn in files:
            if fn.startswith(tag + "-") or fn.startswith("." + tag + "-"):
                os.remove(os.path.join(root, fn))


def _move_staged(staged_dir: str, live_dir: str, tag: str) -> None:
    """Move staged parquet files into the live table under a HIDDEN
    dot-prefixed tagged name (invisible to Spark and to the engine's
    ``*.parquet`` globs until published), preserving partition
    subdirectories (``part=K/``)."""
    if not os.path.isdir(staged_dir):
        return
    for root, _dirs, files in os.walk(staged_dir):
        rel = os.path.relpath(root, staged_dir)
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            dst_dir = live_dir if rel == "." else os.path.join(live_dir, rel)
            os.makedirs(dst_dir, exist_ok=True)
            os.replace(os.path.join(root, fn), os.path.join(dst_dir, f".{tag}-{fn}"))


def _unhide_tagged(live_dir: str, tag: str) -> None:
    """Publish a committed batch's hidden files (rename ``.tag-…`` →
    ``tag-…``).  Idempotent: already-published files are untouched."""
    if not os.path.isdir(live_dir):
        return
    for root, _dirs, files in os.walk(live_dir):
        for fn in files:
            if fn.startswith("." + tag + "-"):
                os.replace(os.path.join(root, fn), os.path.join(root, fn[1:]))


def committed_tags(man: Manifest) -> set[str]:
    """The batch tags of the appends ``man`` records as committed."""
    return {
        st["tag"]
        for name, st in man.stages.items()
        if name.startswith("ingest_") and st.get("complete") and st.get("tag")
    }


def repair_ingest_visibility(man: Manifest) -> None:
    """Heal a crash between manifest commit and publish: un-hide files
    whose batch tag the manifest records as committed.  Hidden files
    with UNCOMMITTED tags are left alone — they belong to an in-flight
    or crashed-uncommitted append and stay invisible (the writer's
    retry deletes them).  Run at engine open and append entry; a no-op
    scan of the table directories when nothing is pending."""
    committed = committed_tags(man)
    for t in _TABLES:
        live = man.stage_path(t)
        if not os.path.isdir(live):
            continue
        for root, _dirs, files in os.walk(live):
            for fn in files:
                if fn.startswith(".ing") and "-" in fn:
                    tag = fn[1:].split("-", 1)[0]
                    if tag in committed:
                        os.replace(os.path.join(root, fn), os.path.join(root, fn[1:]))


def incremental_append(
    spark: SparkSession, index_dir: str, batch: DataFrame, batch_id: int | None = None
) -> Manifest:
    """Append one batch of transcripts to an existing index.

    ``batch_id`` (Structured Streaming's ``foreachBatch`` id) makes the
    append idempotent: an id already committed in the manifest is a
    no-op replay.  A batch of at most builder.DRIVER_MAX_TURNS turns,
    whose Arrow table holds at most builder.DRIVER_MAX_INPUT_BYTES (long
    bodies in few turns do not), is staged on the driver; a larger one
    in shards, as a large build is.  The driver gets the rows of a bare
    local parquet batch whose footers count at most the cap from its
    files (builder.read_bare_parquet, no Spark job), and those of any
    other batch from one bounded Arrow collect; a bare batch over the
    cap is not read at all.
    """
    t0 = time.perf_counter()
    man = Manifest.load_or_create(index_dir)
    if "n_rows" not in man.stats:
        raise ValueError(f"{index_dir} has no completed base build")
    # heal a compact crashed mid-swap before touching the postings dir,
    # and publish any committed-but-still-hidden prior append
    from emailindexer_spark.streaming.compact import _repair_partial

    _repair_partial(man)
    repair_ingest_visibility(man)
    # Replay detection is O(1) in manifest size: Structured Streaming
    # batch ids are monotonically increasing per checkpoint, so a
    # high-watermark covers them exactly.  A direct incremental_append()
    # caller passing a NON-monotonic id that was never committed must
    # not have its data silently dropped: the bounded recent-id tail
    # distinguishes "genuinely replayed" (in the tail → no-op) from
    # "stale but unseen" (≤ watermark, not in the tail → raise loudly;
    # ids older than the tail window are indistinguishable from
    # replays, so monotonic ids are required of direct callers).
    watermark = int(man.stats.get("last_committed_batch_id", -(1 << 62)))
    committed: list[int] = list(man.stats.get("committed_batch_ids", []))
    if batch_id is not None and int(batch_id) <= watermark:
        if int(batch_id) in committed or not committed:
            return man  # replayed batch — already fully committed
        raise ValueError(
            f"batch_id {batch_id} is below the committed watermark "
            f"{watermark} but was never committed (recent ids: "
            f"{committed[-8:]}): incremental_append requires "
            "monotonically increasing batch ids"
        )
    base = int(man.stats["n_rows"])
    batch_seq = int(man.stats.get("ingest_batches", 0)) + 1
    tag = _tag_for(batch_seq, batch_id)

    # clean any partial files left by a crashed attempt of this batch
    for t in _TABLES:
        _remove_tagged(man.stage_path(t), tag)
    staging = os.path.join(index_dir, "_staging", tag)
    shutil.rmtree(staging, ignore_errors=True)

    # every batch (every shard of one) becomes one fresh split per
    # term: doc ranges are disjoint from all prior rows by construction
    # (ids ≥ base)
    split_id = batch_seq * 1_000_000
    fields = tuple(man.params.get("fields", ["text"]))
    kernel = dict(
        fields=fields,
        simple=bool(man.params.get("simple_tokens", False)),
        positions=bool(man.params.get("positions", False)),
        block_size=int(man.params.get("block_size", 128)),
        num_parts=int(man.params.get("num_parts", 32)),
    )
    # the batch's rows on the driver, bounded like the collect: a bare
    # parquet batch's files when its footers count at most cap rows
    cap = builder.DRIVER_MAX_TURNS
    bp = builder.bare_parquet(batch)
    rows = read = None
    if bp is not None and bp.rows <= cap:
        rows, read = builder.read_bare_parquet(batch, bp), "files"
    if rows is None and (bp is None or bp.rows <= cap):
        rows, read = batch.limit(cap + 1).toArrow(), "collect"
    if rows is not None and rows.num_rows <= cap and rows.nbytes <= builder.DRIVER_MAX_INPUT_BYTES:
        path = "driver"
        st = _stage_on_driver(rows, staging, base, split_id, **kernel)
    else:
        path, read = "spark", None
        del rows
        marks = os.path.join(staging, "_shards")  # removed with staging
        st = _stage_sharded(batch, staging, marks, base, split_id, False, kernel)
    n_batch, totals = st.n_rows, st.totals
    # term_dict delta: df per (term, part) sums with the earlier rows at
    # read time
    if len(st.term_parts):
        _write_term_dict(os.path.join(staging, "term_dict"), st.term_parts)

    # publish, MANIFEST-FIRST: (1) move staged files into the live
    # tables under hidden dot-prefixed names — readers cannot see them;
    # (2) commit stats + stage + tag in ONE atomic manifest write;
    # (3) rename the batch's files visible.  A reader opening the index
    # at any point before (2) sees exactly the pre-append corpus; a
    # crash between (2) and (3) is healed by repair_ingest_visibility
    # at the next engine open or append.
    for t in _TABLES:
        _move_staged(os.path.join(staging, t), man.stage_path(t), tag)
    shutil.rmtree(os.path.join(index_dir, "_staging", tag), ignore_errors=True)

    if batch_id is not None:
        committed = (committed + [int(batch_id)])[-64:]  # bounded tail
        watermark = max(watermark, int(batch_id))
    f0 = fields[0]
    fstats = dict(man.stats.get("field_stats", {}))
    for fld in fields:
        # pre-field_stats manifests: seed the default field from the
        # legacy scalar stats so appended totals stay corpus-wide
        legacy = (
            {"n_docs": man.stats["n_docs"], "total_tokens": man.stats["total_tokens"]}
            if fld == fields[0]
            else {"n_docs": 0, "total_tokens": 0}
        )
        prev = fstats.get(fld, legacy)
        fstats[fld] = {
            "n_docs": int(prev["n_docs"]) + totals[fld][0],
            "total_tokens": int(prev["total_tokens"]) + totals[fld][1],
        }
    man.commit_stage_with_stats(
        f"ingest_{batch_seq:06d}",
        {
            "n_rows": base + n_batch,
            "max_doc_id": base + n_batch - 1,
            "n_docs": int(man.stats["n_docs"]) + totals[f0][0],
            "total_tokens": int(man.stats["total_tokens"]) + totals[f0][1],
            "ingest_batches": batch_seq,
            "committed_batch_ids": committed,
            "last_committed_batch_id": watermark,
            "field_stats": fstats,
        },
        rows=n_batch,
        tag=tag,
        path=path,
        **({"read": read} if read else {}),
        seconds=round(time.perf_counter() - t0, 3),
    )
    for t in _TABLES:
        _unhide_tagged(man.stage_path(t), tag)
    return man


def stream_ingest(
    spark: SparkSession,
    index_dir: str,
    source_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Structured Streaming: watch source_dir for transcript parquet and
    append each micro-batch to the index.  Returns the StreamingQuery."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_append(spark, index_dir, batch_df, batch_id=batch_id)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
