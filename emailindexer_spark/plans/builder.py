"""Inverted-index build (SURVEY.md §2.10, §3.3).

Replaces the reference's sequential paged scan → Lucene IndexWriter loop
(EmailIndexGenerator.java:45-101) with ONE staging kernel,
``_stage_on_driver``: transcript rows (a pyarrow Table) → docIDs from
their stable (conv_id, turn_idx) order → per-doc lengths and SmallFloat
norms → the vectorized tokenizer → term-major postings cut into
(term, split) chunk rows (``_pack_chunk_rows``) → independently
decodable delta+varbyte blocks (``_encode_chunk_table``) → the index
tables, written with pyarrow as zstd Parquet (``write_index_table``,
the one writer of every index and staging file):

  doc_index      stored fields plus dl/norm per field, one row per turn
  doc_stats      skinny (doc_id, conv_id, turn_idx, dl, norm) projection
  postings       one row per (term, split), one (term, split_id)-sorted
                 file per part = md5(term) % P (query-side pruning)
  term_dict      (term, part, df) sorted by term (prefix expansion)
  conv_offsets   (conv_id, conv_offset, n_turns) of a dense build
  build_metrics  per-part lineage (FIXTURES.md §5)

Input size decides only WHERE the kernel runs:

* a fresh build of a bare local parquet input of at most
  ``DRIVER_MAX_TURNS`` rows and ``DRIVER_MAX_INPUT_BYTES`` bytes runs it
  once, in-process on the driver, reading the files with pyarrow
  (``read_bare_parquet``: the table Spark's Arrow collect would return;
  the collect where it cannot map them);
* any other input is cut into SHARDS of whole conversations, contiguous
  in (conv_id, turn_idx) order and within both caps (one Spark job
  plans them), and each shard runs the kernel at its base docID in one
  Spark task (a second job), writing its own files — Lucene's
  per-thread segment writers — which the same job merges into one
  postings file per part; the driver then merges the shards' term
  dictionaries and metrics.

Heavy terms (df > heavy_df_threshold within a shard) are cut into
doc-range splits of about split_target postings; each shard's split ids
start past every earlier shard's, so (term, split_id) is unique and a
term's rows in split order cover ascending, disjoint doc ranges.
Appends (streaming/ingest.py) stage with the same kernel, and compaction
(streaming/compact.py) re-cuts every term from its exact df.

Either route commits the manifest in ONE write (``Manifest.one_write``):
a crash commits nothing.  A shard marks itself done once its files are
written, so ``build(resume=True)`` after a crash stages only the
unmarked shards of the same plan.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as papq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emailindexer_spark.functions.codec import (
    BLOCK_SIZE,
    encode_runs_vec,
    varbyte_decode,
    varbyte_encode_offsets,
)
from emailindexer_spark.functions.sanitize import remove_quoted_replies
from emailindexer_spark.functions.smallfloat import encode_lengths
from emailindexer_spark.functions.tokenizer import (
    token_counts,
    tokenize_series_codes,
)
from emailindexer_spark.operators.docid import conv_offsets, validate_transcripts
from emailindexer_spark.sources.checkpoint import Manifest

#: the encoder's output; a postings file holds these columns but
#: ``part``, which its directory names
POSTINGS_ARROW_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("split_id", pa.int32()),
        ("part", pa.int32()),
        ("df_row", pa.int64()),
        ("first_doc", pa.int64()),
        ("last_doc", pa.int64()),
        ("b_first", pa.list_(pa.int64())),
        *((c, pa.list_(pa.binary())) for c in ("b_docs", "b_tfs", "b_norms", "b_pos")),
    ]
)


def write_index_table(t: pa.Table, path: str, row_group_size: int | None = None) -> None:
    """Write ``t`` as the Parquet file ``path`` with zstd at pyarrow's
    default level, the codec Iceberg writes by default.  Every Parquet
    file of an index or its staging is written here; readers take the
    codec from each column chunk, so files of any codec mix in one
    index."""
    papq.write_table(t, path, compression="zstd", row_group_size=row_group_size)


def write_conv_offsets(
    dest: str, conv_ids: np.ndarray, offsets: np.ndarray, n_turns: np.ndarray
) -> None:
    """Write one conv_offsets piece (conv_id, conv_offset, n_turns) with
    pyarrow.  tmp + atomic rename: a crash mid-write must never leave a
    truncated parquet at the published name."""
    tmp = dest + ".tmp"
    write_index_table(
        pa.table(
            {
                "conv_id": pa.array(list(conv_ids), type=pa.string()),
                "conv_offset": np.asarray(offsets, dtype=np.int64),
                "n_turns": np.asarray(n_turns, dtype=np.int64),
            }
        ),
        tmp,
    )
    os.replace(tmp, dest)


class BareParquet(NamedTuple):
    """A bare local parquet relation's files and their footer counts."""

    files: list[str]  # local paths, in the relation's listing order
    rows: int
    nbytes: int  # uncompressed column bytes


def bare_parquet(df: DataFrame) -> BareParquet | None:
    """The files of a BARE local parquet-relation DataFrame, with its
    exact row count and uncompressed column bytes read from the footers
    — no Spark job, ~ms.  None unless the analyzed plan is a plain
    ``LogicalRelation`` (any filter, union or projection on top would
    make the files and counts wrong) and every file is local with a
    readable parquet footer.  Builds and appends read it to choose the
    driver route; read_bare_parquet reads the rows."""
    from urllib.parse import unquote, urlparse

    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        uris = list(plan.relation().inputFiles())
    except Exception:
        return None
    if not uris:
        return None
    files = []
    rows = nbytes = 0
    for f in uris:
        pr = urlparse(f)
        if pr.scheme not in ("", "file"):
            return None
        files.append(unquote(pr.path))
        try:
            md = papq.ParquetFile(files[-1]).metadata
        except Exception:
            return None
        rows += md.num_rows
        nbytes += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return BareParquet(files, rows, nbytes)


def read_bare_parquet(df: DataFrame, bp: BareParquet) -> pa.Table | None:
    """The rows of ``df``, the relation ``bp`` describes, read with
    pyarrow: the table ``df.toArrow()`` returns (Spark's columns, Arrow
    types and row order), without a Spark job.  None for anything this
    cannot map — a column the files lack (a hive partition column), a
    type the cast refuses, files Spark would split — and the caller
    collects."""
    # the scan's row order: files by size, largest first (stable), each
    # whole unless it exceeds the smallest split size Spark may choose
    sizes = [os.path.getsize(f) for f in bp.files]
    files = [f for _s, f in sorted(zip(sizes, bp.files), key=lambda x: -x[0])]
    jconf = df.sparkSession._jconf
    if len(files) > 1 and max(sizes) > min(
        jconf.filesMaxPartitionBytes(), jconf.filesOpenCostInBytes()
    ):
        return None
    try:
        schema = _arrow_schema(df)
        # a column the files lack raises, as does a lossy cast
        return pa.concat_tables(
            papq.read_table(f, columns=schema.names).cast(schema) for f in files
        ).replace_schema_metadata(None)
    except Exception:
        return None


def _arrow_schema(df: DataFrame) -> pa.Schema:
    """The Arrow schema of ``df.toArrow()``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


def term_part_py(term: str, num_parts: int) -> int:
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % num_parts


def _pos_doc_bounds(pos_buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Byte offsets (length n + 1) of each posting's positions in a
    concatenation of segmented-varbyte position payloads: a posting
    ends with its tf-th value, whose continuation bit is clear."""
    vends = np.flatnonzero(np.frombuffer(pos_buf, dtype=np.uint8) < 0x80) + 1
    return np.concatenate(([0], vends[np.cumsum(tfs) - 1]))


def _pack_chunk_rows(
    terms: np.ndarray,
    tstarts: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    pos_buf: bytes,
    pos_bounds: np.ndarray | None,
    heavy_rule: tuple[int, int] | None,
    base: int,
    n_rows: int,
) -> pd.DataFrame:
    """Term-major postings → chunk rows (term, split_id, docs, tfs,
    norms, pos), one per (term, split).

    ``terms[i]`` owns postings ``tstarts[i]:tstarts[i + 1]``, docs
    strictly ascending within each term and inside ``[base, base +
    n_rows)``.  With ``heavy_rule`` = (heavy_df_threshold,
    split_target), a term of df > threshold is cut into n_splits =
    ceil(df / split_target) doc-range splits, split_id = (doc_id -
    base) // ceil(n_rows / n_splits): the exact-df map, as the
    postings hold every doc of that range.  Every other term (every
    term without ``heavy_rule``) is one split-0 row.  ``pos_bounds[j]``
    is the first byte of posting j's positions in ``pos_buf`` (length
    n + 1), or None without positions.

    ONE varbyte pass each for docs (delta-coded, absolute at every row
    start) and tfs, then per-row memoryview slices: no Python loop over
    postings."""
    n = docs.size
    tlens = np.diff(tstarts)
    sids = np.zeros(n, dtype=np.int64)
    if heavy_rule is not None:
        ns = np.where(tlens > heavy_rule[0], -(-tlens // heavy_rule[1]), 0)
        is_heavy = np.repeat(ns > 0, tlens)
        if is_heavy.any():
            span = np.repeat(-(-n_rows // np.maximum(ns, 1)), tlens)
            sids[is_heavy] = (docs[is_heavy] - base) // span[is_heavy]
    row_start = np.zeros(n, dtype=bool)
    row_start[tstarts[:-1]] = True
    row_start[1:] |= sids[1:] != sids[:-1]
    bs = np.flatnonzero(row_start)
    be = np.append(bs[1:], n)
    # negative cross-term deltas are always overwritten: rows never
    # span terms
    dd = np.diff(docs, prepend=0)
    dd[bs] = docs[bs]
    docs_buf, docs_offs = varbyte_encode_offsets(dd.astype(np.uint64))
    tfs_buf, tfs_offs = varbyte_encode_offsets(tfs.astype(np.uint64))
    norms_buf = norms.astype(np.uint8).tobytes()
    mv_d, mv_t = memoryview(docs_buf), memoryview(tfs_buf)
    if pos_bounds is None:
        pos_col = [b""] * bs.size
    else:
        mv_p = memoryview(pos_buf)
        pos_col = [bytes(mv_p[a:b]) for a, b in zip(pos_bounds[bs], pos_bounds[be])]
    return pd.DataFrame(
        {
            "term": terms[np.searchsorted(tstarts, bs, side="right") - 1],
            "split_id": sids[bs].astype(np.int32),
            "docs": [bytes(mv_d[docs_offs[a]:docs_offs[b]]) for a, b in zip(bs, be)],
            "tfs": [bytes(mv_t[tfs_offs[a]:tfs_offs[b]]) for a, b in zip(bs, be)],
            "norms": [norms_buf[a:b] for a, b in zip(bs, be)],
            "pos": pos_col,
        }
    )


def _tokenize_to_chunk_rows(
    doc_ids: np.ndarray,
    texts: dict[str, pd.Series],
    simple: bool,
    positions: bool,
    heavy_rule: tuple[int, int] | None,
    base: int,
) -> list[pd.DataFrame]:
    """Chunk rows (_pack_chunk_rows) of the docs ``doc_ids`` — every doc
    of ``[base, base + len(doc_ids))`` — one frame per field with
    tokens; ``texts`` maps each field to its column, fields[0] first.

    One lexsort puts a field's tokens in term-major (then doc, then
    position) order; per-(doc, term) tf, norm and segmented-delta
    positions come off it vectorized, and _pack_chunk_rows cuts the
    rows.  Non-default fields emit FIELD-PREFIXED term keys
    (``field:term``) with that field's own norm — one shared term space
    carrying per-field statistics (Lucene's per-field terms dicts
    flattened)."""
    frames = []
    for fi, (field, col) in enumerate(texts.items()):
        nlens, codes, uniques = tokenize_series_codes(col, simple=simple)
        if nlens.sum() == 0:
            continue
        flat_docs = np.repeat(doc_ids, nlens)
        if fi:
            uniques = (field + ":" + pd.Series(uniques)).to_numpy()
        starts = np.concatenate(([0], np.cumsum(nlens[:-1])))
        flat_pos = np.arange(int(nlens.sum()), dtype=np.int64) - np.repeat(starts, nlens)
        order = np.lexsort((flat_pos, flat_docs, codes))
        cv, dv, pv = codes[order], flat_docs[order], flat_pos[order]
        gb = np.nonzero((cv[1:] != cv[:-1]) | (dv[1:] != dv[:-1]))[0] + 1
        gstarts = np.concatenate(([0], gb))
        gstarts_ext = np.concatenate((gstarts, [dv.size]))
        gdocs = dv[gstarts]
        gcodes = cv[gstarts]
        pos_buf, pos_bounds = b"", None
        if positions:
            d = np.diff(pv, prepend=0)
            d[gstarts] = pv[gstarts]  # per-(doc,term) segment-first absolute
            pos_buf, pos_offs = varbyte_encode_offsets(d.astype(np.uint64))
            pos_bounds = pos_offs[gstarts_ext]
        tb = np.nonzero(gcodes[1:] != gcodes[:-1])[0] + 1
        tstarts = np.concatenate(([0], tb, [gstarts.size]))
        frames.append(
            _pack_chunk_rows(
                uniques[gcodes[tstarts[:-1]]],
                tstarts,
                gdocs,
                np.diff(gstarts_ext),
                encode_lengths(nlens[gdocs - base].astype(np.int64)),
                pos_buf,
                pos_bounds,
                heavy_rule,
                base,
                doc_ids.size,
            )
        )
    return frames


def _binary_cuts(buf, offs: np.ndarray) -> pa.Array:
    """``binary`` array whose value i is ``buf[offs[i]:offs[i + 1]]``,
    built on the buffer itself (no per-value ``bytes`` objects)."""
    rel = (offs - offs[0]).astype(np.int32)
    data = pa.py_buffer(buf).slice(int(offs[0]), int(rel[-1]))
    return pa.Array.from_buffers(pa.binary(), rel.size - 1, [None, pa.py_buffer(rel), data])


def _binary_values(col) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated bytes as uint8, per-value lengths) of a binary
    column: Arrow keeps the values back to back, so this is a view."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    otype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _validity, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, dtype=otype)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else np.empty(0, np.uint8)
    return data[offs[0] : offs[-1]], np.diff(offs).astype(np.int64)


def _encode_chunk_table(
    chunks: pa.Table, block_size: int, num_parts: int, max_rows: int = 2048
) -> Iterator[pa.RecordBatch]:
    """Chunk rows (_pack_chunk_rows) clustered by (term, split_id) →
    POSTINGS_ARROW_SCHEMA record batches of up to ``max_rows`` runs, one
    row per (term, split_id) run, in input order.

    Every pass covers the whole input: one varbyte decode per payload
    column (concatenated varbyte streams are self-delimiting), one
    lexsort putting each run's postings in doc order (skipped when the
    chunks already arrive that way), one functions/codec.encode_runs_vec
    call for all blocks of all runs (tests/test_functions.py gates it
    against the per-block reference encode_blocks), one position-byte
    gather; output columns are Arrow arrays cut from those buffers by
    offsets — no Python loop over runs, blocks or postings."""
    if not chunks.num_rows:
        return
    terms = chunks.column("term").to_numpy(zero_copy_only=False)
    splits = chunks.column("split_id").to_numpy(zero_copy_only=False).astype(np.int64)
    norms_all, ndocs = _binary_values(chunks.column("norms"))
    norms_all = norms_all.astype(np.int64)
    row_starts = np.concatenate(([0], np.cumsum(ndocs)))
    docs_raw, _ = _binary_values(chunks.column("docs"))
    docs_all = varbyte_decode(docs_raw).view(np.int64)
    # undo the per-row delta coding: cumsum, then subtract the prefix
    # that leaked across row boundaries (segment-cumsum trick)
    cs = np.cumsum(docs_all)
    docs_abs = cs - np.repeat(np.concatenate(([0], cs[row_starts[1:-1] - 1])), ndocs)
    tfs_raw, _ = _binary_values(chunks.column("tfs"))
    tfs_all = varbyte_decode(tfs_raw).view(np.int64)
    pb, _ = _binary_values(chunks.column("pos"))
    has_pos = pb.size > 0
    ch = np.flatnonzero((terms[1:] != terms[:-1]) | (splits[1:] != splits[:-1])) + 1
    rstarts = np.concatenate(([0], ch))  # chunk row of each run start
    post_rs = row_starts[rstarts]  # posting index of each run start
    n_post = int(row_starts[-1])
    rlen = np.diff(np.append(post_rs, n_post))
    bounds = _pos_doc_bounds(pb, tfs_all) if has_pos else None
    # a run's chunk rows carry disjoint doc sets in any order: sort
    # each run's postings by doc (one lexsort, only when needed)
    run_start = np.zeros(n_post, dtype=bool)
    run_start[post_rs] = True
    if not ((np.diff(docs_abs) > 0) | run_start[1:]).all():
        order = np.lexsort((docs_abs, np.cumsum(run_start)))
        docs_abs, tfs_all, norms_all = docs_abs[order], tfs_all[order], norms_all[order]
        if has_pos:
            s_ = bounds[:-1][order]
            lens = bounds[1:][order] - s_
            bounds = np.concatenate(([0], np.cumsum(lens)))
            pb = pb[np.repeat(s_ - bounds[:-1], lens) + np.arange(int(bounds[-1]), dtype=np.int64)]
    er = encode_runs_vec(docs_abs, tfs_all, norms_all, post_rs, block_size)
    if has_pos:
        pos_buf, pos_offs = pb, bounds[er.block_starts]
    else:
        pos_buf, pos_offs = b"", np.zeros(er.first_doc.size + 1, np.int64)
    rb = er.run_blocks
    first_doc = docs_abs[post_rs]
    last_doc = docs_abs[post_rs + rlen - 1]
    run_terms = terms[rstarts]
    parts = np.fromiter(
        (term_part_py(t, num_parts) for t in run_terms), np.int32, count=run_terms.size
    )
    for r0 in range(0, rstarts.size, max_rows):
        r1 = min(r0 + max_rows, rstarts.size)
        b0, b1 = int(rb[r0]), int(rb[r1])
        loffs = pa.py_buffer((rb[r0 : r1 + 1] - b0).astype(np.int32))

        def blocks(values: pa.Array) -> pa.Array:
            return pa.Array.from_buffers(
                pa.list_(values.type), r1 - r0, [None, loffs], children=[values]
            )

        yield pa.RecordBatch.from_arrays(
            [
                pa.array(run_terms[r0:r1], pa.string()),
                pa.array(splits[rstarts[r0:r1]], pa.int32()),
                pa.array(parts[r0:r1], pa.int32()),
                pa.array(rlen[r0:r1], pa.int64()),
                pa.array(first_doc[r0:r1], pa.int64()),
                pa.array(last_doc[r0:r1], pa.int64()),
                blocks(pa.array(er.first_doc[b0:b1], pa.int64())),
                blocks(_binary_cuts(er.doc_buf, er.doc_offs[b0 : b1 + 1])),
                blocks(_binary_cuts(er.tf_buf, er.tf_offs[b0 : b1 + 1])),
                blocks(_binary_cuts(er.norm_buf, er.block_starts[b0 : b1 + 1])),
                blocks(_binary_cuts(pos_buf, pos_offs[b0 : b1 + 1])),
            ],
            schema=POSTINGS_ARROW_SCHEMA,
        )


#: the tables of an index directory
INDEX_TABLES = ("doc_index", "doc_stats", "postings", "term_dict", "conv_offsets", "build_metrics")

#: builds and appends of at most this many turns are staged on the
#: driver (_stage_on_driver), larger ones in shards of at most this
#: many.  Measured on local[4] against a 10k-turn index (append
#: seconds, driver kernel / the former Spark pipeline): 500 turns
#: 0.26-0.36 / 4.2-5.9, 5k 0.6-0.7 / 4.0-4.1, 20k 1.6-1.7 / 5.2-6.0,
#: 50k 4.0-4.3 / 6.6-8.5, 100k 9.7 / 18.5; staging 20k turns peaks at
#: ~210 MB (50k: ~520 MB).
DRIVER_MAX_TURNS = 20_000

#: ...and of at most this many input bytes: the kernel holds ~32 bytes
#: per input byte (local[2] peak RSS: 20k fixture turns of 9.9 MB 303
#: MB, 4k turns of ten-fold bodies, 18.7 MB, 612 MB), so ~400 MB at
#: most.  A driver build counts its footers' uncompressed column bytes,
#: an append its collected Arrow bytes, a shard its ``text`` bytes.
DRIVER_MAX_INPUT_BYTES = 12 << 20


class Staged(NamedTuple):
    """What a staging (one kernel call, or every shard of a sharded
    one) hands its commit."""

    n_rows: int
    totals: dict  # {field: (docs with a token, tokens)}
    offsets: dict  # operators/docid.conv_offsets of the rows
    term_parts: pd.DataFrame  # the postings per (term, part): see _commit_build_metrics
    seconds: dict  # {table: seconds spent staging it, summed over shards}


def _stage_on_driver(
    rows,
    staging,
    base,
    split_id,
    fields,
    simple,
    positions,
    block_size,
    num_parts,
    heavy_rule: tuple[int, int] | None = None,
    name: str = "part-00000.parquet",
) -> Staged:
    """THE staging kernel: transcript rows (a pyarrow Table, Spark's own
    Arrow types) → the doc_index, doc_stats and postings tables, written
    with pyarrow under ``staging`` as files called ``name``, with no
    Spark job.  The postings' per-(term, part) aggregates come back in
    ``term_parts``, from which the caller writes term_dict.

    DocIDs are ``base`` + rank in the stable (conv_id, turn_idx) order,
    and ``split_id`` is added to every posting row's split.  A driver
    build stages its whole input at base 0 and split 0, a build shard
    its conversation range at the shard's base (IndexBuilder.build),
    both with ``heavy_rule`` (_pack_chunk_rows) cutting heavy terms into
    doc-range splits of the rows staged; an append stages a batch at
    base = the corpus size, every term one row of ``split_id``."""
    t0 = time.perf_counter()
    seconds = {}

    def write(table: str, t, sub: str = "") -> None:
        d = os.path.join(staging, table, sub)
        os.makedirs(d, exist_ok=True)
        write_index_table(t, os.path.join(d, name))

    def lap(table: str) -> None:
        nonlocal t0
        t1 = time.perf_counter()
        seconds[table] = round(t1 - t0, 3)
        t0 = t1

    rows = rows.take(
        pc.sort_indices(
            rows,
            sort_keys=[("conv_id", "ascending"), ("turn_idx", "ascending")],
            null_placement="at_start",
        )
    )
    n = rows.num_rows
    # per-conversation (count, density); a null turn_idx (as -1) makes
    # its conversation sparse
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
    for fi, f in enumerate(fields):  # fields[0] owns dl/norm
        dcol, ncol = ("dl", "norm") if fi == 0 else (f"dl_{f}", f"norm_{f}")
        dl = token_counts(texts[f], simple=simple)
        totals[f] = (int((dl > 0).sum()), int(dl.sum()))
        stats += [(dcol, dl.astype(np.int32)), (ncol, encode_lengths(dl).astype(np.int32))]

    def table(*cols: str):
        return pa.table(
            {"doc_id": doc_id, **{c: rows.column(c) for c in cols}, **dict(stats)}
        )

    write("doc_index", table("conv_id", "turn_idx", "role", "tool", "ts", "text"))
    lap("doc_index")
    write("doc_stats", table("conv_id", "turn_idx"))
    lap("doc_stats")

    chunk_frames = _tokenize_to_chunk_rows(doc_id, texts, simple, positions, heavy_rule, base)
    if chunk_frames:
        chunks = pd.concat(chunk_frames, ignore_index=True)
        chunks["split_id"] = (chunks["split_id"] + split_id).astype(np.int32)
        # clustered by (term, split_id): fields' chunk rows interleave
        chunks = chunks.sort_values(["term", "split_id"], kind="stable")
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
    # in the directory name only — Spark's partitionBy layout
    part = post.column("part").to_numpy()
    body = post.drop_columns(["part"])
    for k in np.unique(part):
        write("postings", body.take(np.flatnonzero(part == k)), f"part={k}")
    lap("postings")
    # per (term, part): df, posting rows, payload bytes (a row's b_docs,
    # b_tfs and b_norms blocks) and skew splits (rows of split_id > 0)
    payload = np.zeros(post.num_rows, np.int64)
    for c in ("b_docs", "b_tfs", "b_norms"):
        col = post.column(c).combine_chunks()
        cs = np.concatenate(([0], np.cumsum(pc.binary_length(col.values).to_numpy())))
        offs = col.offsets.to_numpy()
        payload += cs[offs[1:]] - cs[offs[:-1]]
    term_parts = (
        pd.DataFrame(
            {
                "term": post.column("term").to_numpy(zero_copy_only=False),
                "part": post.column("part").to_numpy(),
                "df_row": post.column("df_row").to_numpy(),
                "payload": payload,
                "split": post.column("split_id").to_numpy() > 0,
            }
        )
        .groupby(["term", "part"], sort=False)
        .agg(
            df=("df_row", "sum"),
            posting_rows=("df_row", "size"),
            payload_bytes=("payload", "sum"),
            skew_splits=("split", "sum"),
        )
        .reset_index()
    )
    lap("term_dict")
    return Staged(n, totals, oo, term_parts, seconds)


class Shard(NamedTuple):
    """The conversations from ``first_conv`` up to the next shard's:
    ``rows`` turns staged at docID ``base``, split ids from ``split_id``."""

    first_conv: str
    base: int
    rows: int
    split_id: int


def _conv_sizes(df: DataFrame) -> pd.DataFrame:
    """(conv_id, n_turns, nbytes) per conversation of ``df``, nbytes
    being its ``text`` bytes: ONE Spark job with no shuffle — each task
    sums its own rows per conversation (mapInArrow), and the driver
    adds up those partial counts."""

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if batches := list(batches):
            t = pa.Table.from_batches(batches)
            g = t.group_by("conv_id").aggregate([("nbytes", "count"), ("nbytes", "sum")])
            cols = [g["conv_id"], g["nbytes_count"], g["nbytes_sum"]]
            yield from pa.table(cols, names=["conv_id", "n_turns", "nbytes"]).to_batches()

    nbytes = F.coalesce(F.octet_length("text"), F.lit(0)).cast("long")
    t = (
        df.select("conv_id", nbytes.alias("nbytes"))
        .mapInArrow(partial, "conv_id string, n_turns long, nbytes long")
        .toArrow()
        .group_by("conv_id")
        .aggregate([("n_turns", "sum"), ("nbytes", "sum")])
    )
    return t.select(["conv_id", "n_turns_sum", "nbytes_sum"]).rename_columns(
        ["conv_id", "n_turns", "nbytes"]
    ).to_pandas()


def _shard_starts(rows: np.ndarray, nbytes: np.ndarray, parallelism: int) -> np.ndarray:
    """The index of each shard's first conversation (``rows``/``nbytes``
    per conversation, in conv_id order): cuts at conversation edges
    that balance rows, into at least ``parallelism`` shards and as many
    more as keep every shard within DRIVER_MAX_TURNS rows and
    DRIVER_MAX_INPUT_BYTES bytes — a cap below 1 bounds nothing, and a
    single larger conversation stays whole — and never into more shards
    than conversations."""
    n = rows.size
    if not n:
        return np.zeros(0, np.int64)
    caps = [
        (np.concatenate(([0], np.cumsum(x))), cap)
        for x, cap in ((rows, DRIVER_MAX_TURNS), (nbytes, DRIVER_MAX_INPUT_BYTES))
        if cap > 0
    ]
    cr = np.cumsum(rows)
    k = max([parallelism] + [-(-int(cum[-1]) // cap) for cum, cap in caps])
    while True:
        k = min(k, n)
        # cut at the conversation edge nearest each row quantile
        q = cr[-1] * np.arange(1, k) / k
        i = np.searchsorted(cr, q, side="right")
        i += cr[i] - q < q - (cr - rows)[i]
        starts = np.unique(np.concatenate(([0], i[i < n])))
        edges = np.append(starts, n)
        over = (np.diff(edges) > 1) & np.any([np.diff(cum[edges]) > cap for cum, cap in caps], axis=0)
        if not over.any() or k == n:
            return starts
        k += int(over.sum())


def _plan_shards(
    sizes: pd.DataFrame, parallelism: int, base: int, split_id: int, split_target: int | None
) -> tuple[dict, list[Shard]]:
    """The conv_offsets (operators/docid.conv_offsets, ``dense`` unset)
    and the shards of _conv_sizes' conversations.  A shard's split ids
    start past every split id an earlier shard can use: ceil(rows /
    split_target) per shard with heavy splits, one without."""
    sizes = sizes.sort_values("conv_id", kind="stable", ignore_index=True)
    oo = conv_offsets(sizes.assign(_sparse=0))  # raises on a null conv_id
    starts = _shard_starts(oo["n_turns"], sizes["nbytes"].to_numpy(np.int64), parallelism)
    srows = np.diff(np.append(oo["offsets"][starts], oo["total"]))
    width = -(-srows // split_target) if split_target else np.ones_like(srows)
    sids = split_id + np.concatenate(([0], np.cumsum(width)[:-1])).astype(np.int64)
    return oo, [
        Shard(str(oo["conv_ids"][a]), base + int(oo["offsets"][a]), int(r), int(s))
        for a, r, s in zip(starts, srows, sids)
    ]


def _shard_marks(marks: str, shards: list[Shard]) -> dict[int, dict] | None:
    """{shard: its done marker} for the shards of this plan marked done
    under ``marks``; None when a marker there belongs to another plan."""
    done = {}
    for fn in os.listdir(marks) if os.path.isdir(marks) else ():
        if fn.endswith(".json"):
            s = int(fn[: -len(".json")])
            with open(os.path.join(marks, fn)) as f:
                m = json.load(f)
            if s >= len(shards) or Shard(*m["shard"]) != shards[s]:
                return None
            done[s] = m
    return done


def _route_rows(first: np.ndarray, todo: set[int]):
    """mapInArrow: transcript batches → (shard, Arrow IPC stream of the
    batch's rows in that shard) for the shards in ``todo``; ``first``
    holds each shard's first conv_id."""

    def route(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            sid = np.searchsorted(first, b.column("conv_id").to_numpy(zero_copy_only=False), "right") - 1
            for s in np.unique(sid):
                if s in todo:
                    sink = pa.BufferOutputStream()
                    with pa.ipc.new_stream(sink, b.schema) as w:
                        w.write_batch(b.filter(pa.array(sid == s)))
                    yield pa.RecordBatch.from_pydict(
                        {"shard": [int(s)], "rows": [sink.getvalue().to_pybytes()]},
                        schema=pa.schema([("shard", pa.int32()), ("rows", pa.binary())]),
                    )

    return route


def _stage_shard(shards: list[Shard], staging: str, marks: str, sanitize: bool, kernel: dict):
    """RDD mapPartitionsWithIndex: stage partition s's routed rows (shard
    s) with the kernel into ``part-{s:05d}.parquet`` files (name order
    is doc order), then mark the shard done: term_parts, then a JSON
    marker, written last."""

    def run(s: int, pieces) -> Iterator:
        tables = [pa.ipc.open_stream(pa.py_buffer(blob)).read_all() for _s, blob in pieces]
        if not tables:
            return iter(())
        rows = pa.concat_tables(tables)
        if sanitize:
            rows = _sanitized(rows)
        sh, name = shards[s], f"part-{s:05d}.parquet"
        st = _stage_on_driver(rows, staging, sh.base, sh.split_id, name=name, **kernel)
        if st.n_rows != sh.rows:
            raise RuntimeError(f"shard {s} staged {st.n_rows} rows, planned {sh.rows}")
        dest = os.path.join(marks, f"{s:05d}")
        write_index_table(pa.Table.from_pandas(st.term_parts, preserve_index=False), dest + ".parquet")
        with open(dest + ".tmp", "w") as f:
            mark = {"shard": list(sh), "totals": st.totals, "seconds": st.seconds}
            json.dump({**mark, "dense": bool(st.offsets["dense"])}, f)
        os.replace(dest + ".tmp", dest + ".json")
        return iter(())

    return run


def _merge_part(staging: str):
    """RDD mapPartitionsWithIndex: partition k merges postings part k's
    shard files into ONE (term, split_id)-sorted file under
    ``postings.merged/`` — a file per shard made searches 1.2-5x slower
    at 600k turns (scale-trend, local[4])."""

    def run(k: int, _rows) -> Iterator:
        files = sorted(glob.glob(os.path.join(staging, "postings", f"part={k}", "*.parquet")))
        if files:
            t = pa.concat_tables(papq.read_table(f) for f in files)
            d = os.path.join(staging, "postings.merged", f"part={k}")
            os.makedirs(d, exist_ok=True)
            order = pc.sort_indices(t, [("term", "ascending"), ("split_id", "ascending")])
            write_index_table(t.take(order), os.path.join(d, "part-00000.parquet"))
        return iter(())

    return run


def _stage_sharded(
    df: DataFrame,
    staging: str,
    marks: str,
    base: int,
    split_id: int,
    sanitize: bool,
    kernel: dict,
) -> Staged:
    """Stage ``df`` shard by shard: plan the shards from
    per-conversation counts (one job), then route each unmarked shard's
    rows, as Arrow IPC blobs, to one task that runs _stage_on_driver,
    and merge each postings part's shard files (one job: RDD
    partitioners whose partition is the shard, then the part; AQE
    would split each DataFrame shuffle into two jobs).  ``kernel``
    holds the kernel's other arguments; shard s writes
    ``part-{s:05d}.parquet`` files under ``staging`` and its done
    marker under ``marks``, where an earlier call's markers of the same
    plan spare their shards.  The markers are dropped once read, before
    the merged postings replace the shards'.  Returns the merged
    Staged: conv_offsets from the plan, dense when every shard is."""
    t0 = time.perf_counter()
    heavy_rule = kernel.get("heavy_rule")
    oo, shards = _plan_shards(
        _conv_sizes(df),
        df.sparkSession.sparkContext.defaultParallelism,
        base,
        split_id,
        heavy_rule[1] if heavy_rule else None,
    )
    plan_s = time.perf_counter() - t0
    if not shards:  # no rows: the kernel writes the empty tables
        return _stage_on_driver(_arrow_schema(df).empty_table(), staging, base, split_id, **kernel)
    done = _shard_marks(marks, shards)
    if done is None:  # another plan's shards: start over
        for t in INDEX_TABLES:
            shutil.rmtree(os.path.join(staging, t), ignore_errors=True)
        shutil.rmtree(marks)
        done = {}
    todo = set(range(len(shards))) - set(done)
    merged = os.path.join(staging, "postings.merged")
    shutil.rmtree(merged, ignore_errors=True)
    os.makedirs(marks, exist_ok=True)
    first = np.array([sh.first_conv for sh in shards], dtype=object)
    parts = df.sparkSession.sparkContext.parallelize([(k, 0) for k in range(kernel["num_parts"])], 1)
    (
        df.mapInArrow(_route_rows(first, todo), "shard int, rows binary")
        .rdd.partitionBy(len(shards), lambda s: s)
        .mapPartitionsWithIndex(_stage_shard(shards, staging, marks, sanitize, kernel))
        .union(parts)  # every part merges once every shard is staged
        .partitionBy(kernel["num_parts"], lambda k: k)
        .mapPartitionsWithIndex(_merge_part(staging))
        .collect()
    )
    done = _shard_marks(marks, shards)
    if len(done) != len(shards):
        raise RuntimeError(f"{len(shards) - len(done)} of {len(shards)} shards were not staged")
    marked = [done[s] for s in range(len(shards))]
    oo["dense"] = all(m["dense"] for m in marked)
    term_parts = (
        pd.concat(
            [
                papq.read_table(os.path.join(marks, f"{s:05d}.parquet")).to_pandas()
                for s in range(len(shards))
            ],
            ignore_index=True,
        )
        .groupby(["term", "part"], sort=False)
        .sum()
        .reset_index()
    )
    seconds = {t: round(sum(m["seconds"][t] for m in marked), 3) for t in marked[0]["seconds"]}
    seconds["doc_index"] = round(seconds["doc_index"] + plan_s, 3)
    shutil.rmtree(marks)
    shutil.rmtree(os.path.join(staging, "postings"), ignore_errors=True)
    if os.path.isdir(merged):
        os.rename(merged, os.path.join(staging, "postings"))
    totals = {f: tuple(sum(m["totals"][f][i] for m in marked) for i in (0, 1)) for f in kernel["fields"]}
    return Staged(oo["total"], totals, oo, term_parts, seconds)


def _sanitized(rows: pa.Table) -> pa.Table:
    """``rows`` with quoted replies stripped from ``text``."""
    i = rows.schema.get_field_index("text")
    clean = remove_quoted_replies(rows.column(i).to_pandas())
    return rows.set_column(i, rows.schema.field(i), pa.array(clean, rows.schema.field(i).type))


def _write_term_dict(tdir: str, term_parts: pd.DataFrame) -> None:
    """The sorted term dictionary (term, part, df) of per-(term, part)
    postings aggregates as one pyarrow file, sorted by term with small
    row groups: min/max stats prune prefix and range scans like a
    range-partitioned layout."""
    td = pa.table(
        {
            "term": pa.array(term_parts["term"], pa.string()),
            "part": pa.array(term_parts["part"], pa.int32()),
            "df": pa.array(term_parts["df"], pa.int64()),
        }
    )
    os.makedirs(tdir, exist_ok=True)
    dest = os.path.join(tdir, "part-00000.parquet")
    write_index_table(td.sort_by("term"), dest + ".tmp", row_group_size=32768)
    os.replace(dest + ".tmp", dest)


#: build_metrics columns after ``part``, each summed over a part's
#: (term, part) rows
BUILD_METRIC_COLS = (
    "posting_rows",
    "postings_written",
    "bytes_compressed",
    "skew_splits",
    "n_terms",
)


def _commit_build_metrics(
    man: Manifest, term_parts: pd.DataFrame, t0: float, path: str
) -> None:
    """Write the per-part lineage table (one row per part: ``part`` and
    BUILD_METRIC_COLS) of the postings' per-(term, part) aggregates
    (Staged.term_parts) with pyarrow, set the manifest totals the
    benchmark and tests read, and commit the stage.  ``bytes_compressed``
    counts the varbyte payload bytes before Parquet compression, so it
    does not move with the file codec."""
    per_part = (
        term_parts.groupby("part")
        .agg(
            posting_rows=("posting_rows", "sum"),
            postings_written=("df", "sum"),
            bytes_compressed=("payload_bytes", "sum"),
            skew_splits=("skew_splits", "sum"),
            n_terms=("term", "size"),
        )
        .reset_index()
        .sort_values("part")
    )
    mdir = man.stage_path("build_metrics")
    shutil.rmtree(mdir, ignore_errors=True)
    os.makedirs(mdir, exist_ok=True)
    tbl = pa.table(
        {
            "part": pa.array(per_part["part"], pa.int32()),
            **{c: pa.array(per_part[c], pa.int64()) for c in BUILD_METRIC_COLS},
            "snapshot_id": pa.array([man.snapshot_id] * len(per_part), pa.string()),
        }
    )
    dest = os.path.join(mdir, "part-00000.parquet")
    write_index_table(tbl, dest + ".tmp")
    os.replace(dest + ".tmp", dest)
    man.set_stats(
        **{c: int(per_part[c].sum()) for c in ("postings_written", "bytes_compressed", "skew_splits")}
    )
    man.commit_stage("build_metrics", seconds=round(time.time() - t0, 2), path=path)


class IndexBuilder:
    """Build (or resume) an index directory from a transcripts DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        num_parts: int = 32,
        block_size: int = BLOCK_SIZE,
        heavy_df_threshold: int = 100_000,
        split_target: int = 50_000,
        simple_tokens: bool = False,
        sanitize: bool = False,
        validate: bool = False,
        positions: bool = True,
        fields: tuple[str, ...] = ("text",),
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.num_parts = num_parts
        self.block_size = block_size
        self.heavy_df_threshold = heavy_df_threshold
        self.split_target = split_target
        self.simple_tokens = simple_tokens
        self.sanitize = sanitize
        self.validate = validate
        # term positions (Lucene DOCS_AND_FREQS_AND_POSITIONS,
        # EmailIndexGenerator.java:85-88): phrases intersect them
        self.positions = positions
        # indexed fields, fields[0] the default (bare-term keys); per-field
        # stats as in EmailIndexSearcher.java:49-53, any input column
        self.fields = tuple(fields)

    def _params(self) -> dict:
        return {
            "num_parts": self.num_parts,
            "block_size": self.block_size,
            "heavy_df_threshold": self.heavy_df_threshold,
            "split_target": self.split_target,
            "simple_tokens": self.simple_tokens,
            "sanitize": self.sanitize,
            "positions": self.positions,
            "fields": list(self.fields),
        }

    def _kernel(self) -> dict:
        """_stage_on_driver's arguments past (rows, staging, base, split_id)."""
        return dict(
            fields=self.fields,
            simple=self.simple_tokens,
            positions=self.positions,
            block_size=self.block_size,
            num_parts=self.num_parts,
            heavy_rule=(self.heavy_df_threshold, self.split_target),
        )

    def build(self, transcripts: DataFrame, resume: bool = False) -> Manifest:
        """Build the index from ``transcripts`` (module docstring): a
        fresh build of a bare local parquet input within both caps
        (counted from its footers) on the driver, reading its files with
        pyarrow (read_bare_parquet; the Arrow collect where that cannot
        map them, e.g. hive partition columns); any other in shards
        (_stage_sharded).  One manifest write commits either; every
        stage records which ``path`` ran ("driver" or "spark") and its
        ``seconds``, a driver build's doc_index stage also which
        ``read`` ("files" or "collect").

        ``resume=True`` keeps the shards an interrupted sharded build
        marked done, when the input plans the same shards, and stages
        the rest; with no marked shards it is a fresh build, and on a
        complete index it does nothing."""
        man = Manifest.load_or_create(self.out_dir, self._params())
        marks = os.path.join(man.stage_path("_staging"), "build")
        if resume and all(man.is_complete(t) for t in ("doc_index", "postings", "build_metrics")):
            return man
        if not (resume and os.path.isdir(marks)):
            # a fresh build over an existing index restarts the ledger
            # and leaves none of the old tables (nor an append's or a
            # compaction's leftovers) behind
            if man.stages or man.stats:
                man.stages.clear()
                man.stats.clear()
                man._flush()
            for t in (*INDEX_TABLES, "postings.tmp", "postings.bak", "postings.merged", "_staging"):
                shutil.rmtree(man.stage_path(t), ignore_errors=True)
            bp = bare_parquet(transcripts)
            if (
                bp is not None
                and 0 < bp.rows <= DRIVER_MAX_TURNS
                and bp.nbytes <= DRIVER_MAX_INPUT_BYTES
            ):
                with man.one_write():
                    return self._build_on_driver(man, transcripts, bp)
        if self.validate:
            validate_transcripts(transcripts)  # one Spark job
        with man.one_write():
            st = _stage_sharded(
                transcripts, self.out_dir, marks, 0, 0, self.sanitize, self._kernel()
            )
            self._commit(man, st, "spark")
        shutil.rmtree(man.stage_path("_staging"), ignore_errors=True)
        return man

    def _build_on_driver(
        self, man: Manifest, transcripts: DataFrame, bp: BareParquet
    ) -> Manifest:
        """The fresh build of a small bare-parquet input (see build): the
        staging kernel straight into the index directory."""
        if self.validate:
            validate_transcripts(transcripts)  # one Spark job
        t0 = time.perf_counter()
        rows, read = read_bare_parquet(transcripts, bp), "files"
        if rows is None:
            rows, read = transcripts.toArrow(), "collect"
        if self.sanitize:
            rows = _sanitized(rows)
        read_s = time.perf_counter() - t0
        st = _stage_on_driver(rows, self.out_dir, 0, 0, **self._kernel())
        del rows
        st.seconds["doc_index"] = round(st.seconds["doc_index"] + read_s, 3)
        self._commit(man, st, "driver", read=read)
        return man

    def _commit(self, man: Manifest, st: Staged, path: str, **doc_index_info) -> None:
        """Record a staged build in the manifest: corpus stats, every
        stage, and the tables the driver writes from the staging's
        summaries — term_dict, conv_offsets (dense builds) and
        build_metrics."""
        f0 = self.fields[0]
        man.set_stats(
            n_docs=st.totals[f0][0],
            total_tokens=st.totals[f0][1],
            n_rows=st.n_rows,
            max_doc_id=st.n_rows - 1,
            field_stats={
                f: {"n_docs": st.totals[f][0], "total_tokens": st.totals[f][1]}
                for f in self.fields
            },
        )
        man.commit_stage(
            "doc_index", seconds=st.seconds["doc_index"], path=path, **doc_index_info
        )
        if st.offsets["dense"]:  # conv_offsets: doc_id → conversation, no join
            t0, oo, cdir = time.perf_counter(), st.offsets, man.stage_path("conv_offsets")
            os.makedirs(cdir, exist_ok=True)
            dest = os.path.join(cdir, "part-00000.parquet")
            write_conv_offsets(dest, oo["conv_ids"], oo["offsets"], oo["n_turns"])
            seconds = round(time.perf_counter() - t0, 3)
            man.commit_stage("conv_offsets", n_convs=len(oo["conv_ids"]), seconds=seconds, path=path)
        if len(st.term_parts):
            _write_term_dict(man.stage_path("term_dict"), st.term_parts)
        for t in ("doc_stats", "postings", "term_dict"):
            man.commit_stage(t, seconds=st.seconds[t], path=path)
        t0 = time.time()
        _commit_build_metrics(man, st.term_parts, t0, path)


def avgdl_from_stats(stats: dict) -> float:
    n = stats.get("n_docs", 0)
    return (stats["total_tokens"] / n) if n else 0.0
