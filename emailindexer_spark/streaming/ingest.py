"""Incremental / streaming index ingest.

The reference is batch-only — its index rebuild is a full delete+rewrite
(EmailIndexGenerator.java:45-50).  Our engine adds an append path: new
transcript turns get docIDs continuing from the current max (exactly
Lucene's insertion-order docID semantics), and their postings are
written by the build's own kernels — the chunk tokenizer
(plans/builder._tokenize_to_chunk_rows, no heavy-term splits) and the
posting encoder (plans/builder._encode_chunk_table) — as NEW posting
rows with a fresh ``split_id`` per ingest batch, in the same format and
(term, split_id)-sorted file layout a build writes.

Two paths stage a batch, and write the same bytes (test-gated):

* a batch of at most ``DRIVER_APPEND_MAX_TURNS`` turns — every
  micro-batch of a live feed — is collected with ONE bounded Arrow
  collect and staged on the driver: docIDs from a stable (conv_id,
  turn_idx) sort, dl/norm from the build's token counter, the tokenizer
  and encoder called in-process, every table written with pyarrow.  No
  Spark job runs past the collect; the append costs milliseconds of
  numpy instead of a dozen jobs' scheduling (a small append is a cheap
  log commit, as in Delta Lake; heavy rewrites are compaction's job);
* a larger batch takes the build's Spark pipeline (docid assignment,
  mapInPandas tokenizer, plans/builder.write_postings).

Each ``ingest_*`` manifest stage records which ``path`` ran and its
``seconds``.

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
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emailindexer_spark.functions.smallfloat import encode_lengths, norm_byte_expr
from emailindexer_spark.functions.tokenizer import dl_expr, token_counts
from emailindexer_spark.operators.docid import (
    assign_doc_ids_with_total,
    conv_offsets,
)
from emailindexer_spark.plans.builder import (
    CHUNK_SCHEMA,
    POSTINGS_ARROW_SCHEMA,
    _encode_chunk_table,
    _tokenize_to_chunk_rows,
    write_conv_offsets,
    write_postings,
)
from emailindexer_spark.sources.checkpoint import Manifest

_TABLES = ("doc_index", "doc_stats", "postings", "term_dict", "conv_offsets")

#: batches of at most this many turns are appended on the driver.
#: Measured on local[4] against a 10k-turn index (append seconds,
#: driver / Spark path): 500 turns 0.26-0.36 / 4.2-5.9, 5k 0.6-0.7 /
#: 4.0-4.1, 20k 1.6-1.7 / 5.2-6.0, 50k 4.0-4.3 / 6.6-8.5, 100k 9.7 /
#: 18.5.  The Spark path's ~4 s of jobs only pay off once executors
#: outnumber those cores, so the cap is set by what the driver holds
#: instead: staging 20k turns peaks at ~210 MB of driver memory (50k:
#: ~520 MB), and the time stays under half the Spark path's.
DRIVER_APPEND_MAX_TURNS = 20_000


def _stat_cols(fields: tuple[str, ...]) -> list[tuple[str, str]]:
    """(dl column, norm column) per field: fields[0] owns ``dl``/``norm``."""
    return [
        ("dl", "norm") if fi == 0 else (f"dl_{f}", f"norm_{f}")
        for fi, f in enumerate(fields)
    ]


def _stage_on_driver(
    rows, staging, base, split_id, fields, simple, positions, block_size, num_parts
):
    """Stage a collected batch (a pyarrow Table, Spark's own Arrow
    types) with no Spark job: the build's tokenizer and posting encoder
    called in-process, every table written with pyarrow in the layout
    the Spark path writes.  Returns (rows, {field: (n_docs, tokens)},
    conv offsets)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    # docIDs: base + rank in the stable (conv_id, turn_idx) order —
    # what the Spark path's offsets + turn rank give
    rows = rows.take(
        pc.sort_indices(
            rows,
            sort_keys=[("conv_id", "ascending"), ("turn_idx", "ascending")],
            null_placement="at_start",
        )
    )
    n = rows.num_rows
    # the Spark path's per-conversation (count, density) aggregation;
    # a null turn_idx (as -1) makes its conversation sparse there too
    g = pd.DataFrame(
        {
            "conv_id": rows.column("conv_id").to_numpy(zero_copy_only=False),
            "t": pc.fill_null(rows.column("turn_idx"), -1).to_numpy(),
        }
    ).groupby("conv_id", sort=False, dropna=False)["t"]
    n_turns = g.size()
    sparse = (g.max() != n_turns - 1) | (g.min() != 0) | (g.nunique() != n_turns)
    oo = conv_offsets(
        pd.DataFrame({"n_turns": n_turns, "_sparse": sparse.astype(np.int64)}).reset_index()
    )
    doc_id = base + np.arange(n, dtype=np.int64)
    texts = {f: rows.column(f).to_pandas() for f in fields}
    stats, totals = [], {}
    for f, (dcol, ncol) in zip(fields, _stat_cols(fields)):
        dl = token_counts(texts[f], simple=simple)
        totals[f] = (int((dl > 0).sum()), int(dl.sum()))
        stats += [(dcol, dl.astype(np.int32)), (ncol, encode_lengths(dl).astype(np.int32))]

    def write(table: str, t, sub: str = "") -> None:
        d = os.path.join(staging, table, sub)
        os.makedirs(d, exist_ok=True)
        papq.write_table(t, os.path.join(d, "part-00000.parquet"))

    def table(*cols: str):
        return pa.table(
            {"doc_id": doc_id, **{c: rows.column(c) for c in cols}, **dict(stats)}
        )

    write("doc_index", table("conv_id", "turn_idx", "role", "tool", "ts", "text"))
    write("doc_stats", table("conv_id", "turn_idx"))

    chunk_frames = list(
        _tokenize_to_chunk_rows(simple, positions, fields, None, 0)(
            iter([pd.DataFrame({"doc_id": doc_id, **texts})])
        )
    )
    if chunk_frames:
        chunks = pd.concat(chunk_frames, ignore_index=True).assign(
            split_id=np.int32(split_id)
        )
        chunks = chunks.sort_values("term")  # one chunk row per term
        post = pa.Table.from_batches(
            _encode_chunk_table(
                pa.Table.from_pandas(chunks, preserve_index=False),
                block_size,
                num_parts,
            ),
            schema=POSTINGS_ARROW_SCHEMA,
        )
    else:
        post = POSTINGS_ARROW_SCHEMA.empty_table()
    # postings: one (term, split_id)-sorted file per part=K/, the part
    # in the directory name only — the layout Spark's partitionBy writes
    part = post.column("part").to_numpy()
    body = post.drop_columns(["part"])
    for k in np.unique(part):
        write("postings", body.take(np.flatnonzero(part == k)), f"part={k}")
    # term_dict delta: df per (term, part) sums over rows at read time
    if post.num_rows:
        td = post.group_by(["term", "part"]).aggregate([("df_row", "sum")])
        write(
            "term_dict",
            pa.table(
                {
                    "term": td.column("term"),
                    "part": td.column("part"),
                    "df": td.column("df_row_sum"),
                }
            ).sort_by("term"),
        )
    return n, totals, oo


def _stage_with_spark(
    spark, batch, staging, base, split_id, fields, simple, positions, block_size, num_parts
):
    """Stage a batch with the build's Spark pipeline: docid assignment,
    dl/norm column expressions, the map-side chunk tokenizer and the one
    posting writer.  Returns what _stage_on_driver returns."""
    oo: dict = {}
    with_ids, _total = assign_doc_ids_with_total(
        batch, method="two_phase", offsets_out=oo
    )
    with_ids = with_ids.withColumn("doc_id", F.col("doc_id") + F.lit(base))
    stat_cols = []
    for fld, (dcol, ncol) in zip(fields, _stat_cols(fields)):
        with_ids = with_ids.withColumn(dcol, dl_expr(F.col(fld), simple))
        with_ids = with_ids.withColumn(ncol, norm_byte_expr(F.col(dcol)))
        stat_cols += [dcol, ncol]
    with_ids = with_ids.persist()
    try:
        with_ids.select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "text", *stat_cols
        ).write.parquet(os.path.join(staging, "doc_index"))
        with_ids.select("doc_id", "conv_id", "turn_idx", *stat_cols).write.parquet(
            os.path.join(staging, "doc_stats")
        )
        # the build's tokenizer and posting writer, no heavy map
        chunks = with_ids.select("doc_id", *fields).mapInPandas(
            _tokenize_to_chunk_rows(simple, positions, fields, None, 0),
            CHUNK_SCHEMA,
        ).withColumn("split_id", F.lit(split_id))
        write_postings(chunks, os.path.join(staging, "postings"), block_size, num_parts)
        # term_dict delta: df per (term, part) sums over rows at read
        # time (a batch with no tokens has no postings files to read)
        if glob.glob(os.path.join(staging, "postings", "part=*", "*.parquet")):
            (
                spark.read.parquet(os.path.join(staging, "postings"))
                .groupBy("term", "part")
                .agg(F.sum("df_row").alias("df"))
                .write.parquet(os.path.join(staging, "term_dict"))
            )
        aggs = [F.count("*").alias("rows")]
        for fld, (dcol, _ncol) in zip(fields, _stat_cols(fields)):
            aggs.append(F.count(F.when(F.col(dcol) > 0, 1)).alias(f"n_{fld}"))
            aggs.append(F.sum(dcol).alias(f"total_{fld}"))
        agg = with_ids.agg(*aggs).collect()[0]
    finally:
        with_ids.unpersist(blocking=False)
    totals = {
        f: (int(agg[f"n_{f}"] or 0), int(agg[f"total_{f}"] or 0)) for f in fields
    }
    return int(agg["rows"]), totals, oo


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
    no-op replay.  A batch of at most DRIVER_APPEND_MAX_TURNS turns is
    staged on the driver, with no Spark job past its one collect; a
    larger one by the build's Spark pipeline.
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

    # every batch becomes one fresh split per term: doc ranges are
    # disjoint from all prior rows by construction (ids ≥ base)
    stage = dict(
        staging=staging,
        base=base,
        split_id=batch_seq * 1_000_000,
        fields=tuple(man.params.get("fields", ["text"])),
        simple=bool(man.params.get("simple_tokens", False)),
        positions=bool(man.params.get("positions", False)),
        block_size=int(man.params.get("block_size", 128)),
        num_parts=int(man.params.get("num_parts", 32)),
    )
    rows = batch.limit(DRIVER_APPEND_MAX_TURNS + 1).toArrow()
    if rows.num_rows <= DRIVER_APPEND_MAX_TURNS:
        path = "driver"
        n_batch, totals, oo = _stage_on_driver(rows, **stage)
    else:
        path = "spark"
        del rows
        n_batch, totals, oo = _stage_with_spark(spark, batch, **stage)
    fields = stage["fields"]

    # conv_offsets: appended turns land at the END of the doc_id space,
    # so a dense batch of NEW conversations keeps every conversation one
    # contiguous doc range — extend the artifact with the batch's piece
    # (offsets from the driver-side prefix sum of either path).
    # Anything else drops it in this append's commit; compaction never
    # moves doc_ids, so it keeps whichever state it finds.
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
        seconds=round(time.perf_counter() - t0, 3),
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
