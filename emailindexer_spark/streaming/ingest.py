"""Incremental / streaming index ingest.

The reference is batch-only — its index rebuild is a full delete+rewrite
(EmailIndexGenerator.java:45-50).  Our engine adds an append path: new
transcript turns get docIDs continuing from the current max (exactly
Lucene's insertion-order docID semantics), and their postings are
written by the build's own pipeline — the map-side chunk tokenizer
(plans/builder._tokenize_to_chunk_rows, no heavy-term splits) and the
one posting writer (plans/builder.write_postings) — as NEW posting rows
with a fresh ``split_id`` per ingest batch, in the same format and
(term, split_id)-sorted file layout a build writes.
Because the query engine already handles multi-row posting lists whose
rows cover disjoint doc ranges (that is what skew splits are), appended
rows integrate with zero changes to the read path: per-term df sums over
rows, block decode is per-row, WAND shards see the union.

Corpus statistics (N, total_tokens → avgdl) are updated in the manifest
on every commit, so scores reflect the full corpus after each batch —
the same behavior as a Lucene commit making new segments visible.

The ``conv_offsets`` table (doc_id → conversation map that keeps the
query engine's driver-local tier engaged) is extended the same way: a
dense batch of NEW conversations lands as contiguous doc ranges at ids
≥ the current corpus size, so the batch adds one piece
``(conv_id, conv_offset, n_turns)`` that rides the same staged, hidden,
manifest-committed publish as every other table.  A batch that
continues an already-indexed conversation, is not dense, or has too
many conversations for the driver-side offsets path breaks the
one-range-per-conversation layout instead: its commit drops the
artifact and the engine falls back to the doc_stats join.

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

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emailindexer_spark.functions.smallfloat import norm_byte_expr
from emailindexer_spark.functions.tokenizer import dl_expr
from emailindexer_spark.plans.builder import (
    CHUNK_SCHEMA,
    _tokenize_to_chunk_rows,
    write_conv_offsets,
    write_postings,
)
from emailindexer_spark.sources.checkpoint import Manifest

_TABLES = ("doc_index", "doc_stats", "postings", "term_dict", "conv_offsets")


def _offsets_overlap(co_dir: str, conv_ids) -> bool:
    """True when any of ``conv_ids`` already has a range in the published
    conv_offsets pieces (hidden uncommitted pieces are not globbed)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    files = glob.glob(os.path.join(co_dir, "*.parquet"))
    if not files or not len(conv_ids):
        return False
    have = pa.concat_tables(
        papq.read_table(f, columns=["conv_id"]) for f in files
    ).column(0)
    batch_ids = pa.array(list(conv_ids), pa.string())
    return bool(pc.any(pc.is_in(have, value_set=batch_ids)).as_py())


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


def repair_ingest_visibility(man: Manifest) -> None:
    """Heal a crash between manifest commit and publish: un-hide files
    whose batch tag the manifest records as committed.  Hidden files
    with UNCOMMITTED tags are left alone — they belong to an in-flight
    or crashed-uncommitted append and stay invisible (the writer's
    retry deletes them).  Run at engine open and append entry; a no-op
    scan of the table directories when nothing is pending."""
    committed = {
        st["tag"]
        for name, st in man.stages.items()
        if name.startswith("ingest_") and st.get("complete") and st.get("tag")
    }
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
    no-op replay.
    """
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
    num_parts = int(man.params.get("num_parts", 32))
    simple = bool(man.params.get("simple_tokens", False))
    batch_seq = int(man.stats.get("ingest_batches", 0)) + 1
    tag = _tag_for(batch_seq, batch_id)

    # clean any partial files left by a crashed attempt of this batch
    for t in _TABLES:
        _remove_tagged(man.stage_path(t), tag)
    staging = os.path.join(index_dir, "_staging", tag)
    shutil.rmtree(staging, ignore_errors=True)

    # docIDs: insertion order within the batch (stable (conv_id, turn_idx)
    # inside the batch), offset by the current corpus size
    from emailindexer_spark.operators.docid import assign_doc_ids_with_total

    fields = tuple(man.params.get("fields", ["text"]))
    oo: dict = {}
    with_ids, _total = assign_doc_ids_with_total(
        batch, method="two_phase", offsets_out=oo
    )
    with_ids = with_ids.withColumn("doc_id", F.col("doc_id") + F.lit(base))
    # conv_offsets: appended turns land at the END of the doc_id space,
    # so a dense batch of NEW conversations keeps every conversation one
    # contiguous doc range — extend the artifact with the batch's piece
    # (offsets come from the driver-side prefix sum above, no extra
    # job).  Anything else drops it in this append's commit; compaction
    # never moves doc_ids, so it keeps whichever state it finds.
    co_dir = man.stage_path("conv_offsets")
    extend = (
        man.is_complete("conv_offsets")
        and bool(oo.get("dense"))
        and not _offsets_overlap(co_dir, oo["conv_ids"])
    )
    if extend and len(oo["conv_ids"]):
        os.makedirs(os.path.join(staging, "conv_offsets"))
        write_conv_offsets(
            os.path.join(staging, "conv_offsets", "part-00000.parquet"),
            oo["conv_ids"],
            oo["offsets"] + base,
            oo["n_turns"],
        )
    extra_cols: list[str] = []
    for fi, fld in enumerate(fields):
        dcol = "dl" if fi == 0 else f"dl_{fld}"
        ncol = "norm" if fi == 0 else f"norm_{fld}"
        with_ids = with_ids.withColumn(dcol, dl_expr(F.col(fld), simple))
        with_ids = with_ids.withColumn(ncol, norm_byte_expr(F.col(dcol)))
        if fi:
            extra_cols += [dcol, ncol]
    with_ids = with_ids.persist()
    try:
        with_ids.select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "text",
            "dl", "norm", *extra_cols,
        ).write.parquet(os.path.join(staging, "doc_index"))
        with_ids.select(
            "doc_id", "conv_id", "turn_idx", "dl", "norm", *extra_cols
        ).write.parquet(os.path.join(staging, "doc_stats"))

        positions = bool(man.params.get("positions", False))
        # the build's tokenizer and posting writer; no heavy map, and
        # every batch becomes one fresh split per term: doc ranges are
        # disjoint from all prior rows by construction (ids ≥ base)
        chunks = with_ids.select("doc_id", *fields).mapInPandas(
            _tokenize_to_chunk_rows(simple, positions, fields, None, 0),
            CHUNK_SCHEMA,
        ).withColumn("split_id", F.lit(batch_seq * 1_000_000))
        write_postings(
            chunks,
            os.path.join(staging, "postings"),
            int(man.params.get("block_size", 128)),
            num_parts,
        )
        # term_dict delta: df per (term, part) sums over rows at read time
        (
            spark.read.parquet(os.path.join(staging, "postings"))
            .groupBy("term", "part")
            .agg(F.sum("df_row").alias("df"))
            .write.parquet(os.path.join(staging, "term_dict"))
        )

        aggs = [F.count("*").alias("rows")]
        for fi, fld in enumerate(fields):
            dcol = "dl" if fi == 0 else f"dl_{fld}"
            aggs.append(F.count(F.when(F.col(dcol) > 0, 1)).alias(f"n_{fld}"))
            aggs.append(F.sum(dcol).alias(f"total_{fld}"))
        agg = with_ids.agg(*aggs).collect()[0]
        n_batch = int(agg["rows"])
    finally:
        with_ids.unpersist(blocking=False)

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
    if extend:
        co = man.stages["conv_offsets"]
        co["n_convs"] = int(co.get("n_convs", 0)) + len(oo["conv_ids"])
    else:
        man.stages.pop("conv_offsets", None)
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
            "n_docs": int(prev["n_docs"]) + int(agg[f"n_{fld}"] or 0),
            "total_tokens": int(prev["total_tokens"]) + int(agg[f"total_{fld}"] or 0),
        }
    man.commit_stage_with_stats(
        f"ingest_{batch_seq:06d}",
        {
            "n_rows": base + n_batch,
            "max_doc_id": base + n_batch - 1,
            "n_docs": int(man.stats["n_docs"]) + int(agg[f"n_{f0}"] or 0),
            "total_tokens": int(man.stats["total_tokens"])
            + int(agg[f"total_{f0}"] or 0),
            "ingest_batches": batch_seq,
            "committed_batch_ids": committed,
            "last_committed_batch_id": watermark,
            "field_stats": fstats,
        },
        rows=n_batch,
        tag=tag,
    )
    for t in _TABLES:
        _unhide_tagged(man.stage_path(t), tag)
    if not extend:
        # after the commit: a crash before it leaves the pre-append
        # artifact valid for the pre-append corpus
        shutil.rmtree(co_dir, ignore_errors=True)
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
