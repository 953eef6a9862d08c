"""Distributed inverted-index build (SURVEY.md §2.10, §3.3).

Replaces the reference's sequential paged scan → Lucene IndexWriter loop
(EmailIndexGenerator.java:45-101) with a Spark-first pipeline:

  stage doc_index   sanitize (BodyReplyRemover parity, optional) →
                    docID assignment (two-phase, operators/docid.py —
                    verified-dense inputs take the broadcast-offsets
                    fast path: NO shuffle or sort of the wide per-turn
                    rows) → per-doc length + SmallFloat norm as PURE
                    COLUMN EXPRESSIONS in the same projection (Java
                    regex token count — functions/tokenizer.dl_expr —
                    and functions/smallfloat.norm_byte_expr: no Python
                    worker, no per-token rows) → stored-fields table
  stage doc_stats   skinny projection of doc_index (doc_id, conv_id,
                    turn_idx, dl, norm), map-side (source partitions are
                    already doc_id-sorted), written CONCURRENTLY with
                    the postings stage; global N/avgdl ride the
                    doc_index write via observe()
  stage postings    heavy-term detection from a DETERMINISTIC hash-of-
                    doc_id-sampled tokenize (exact full pass below the
                    sampling cutoff; hash, not modulo, so doc_id-
                    periodic terms cannot dodge the sample) → explicit
                    skew splitting: df > threshold terms are cut into
                    doc-range splits → ONE tokenize pass feeding the
                    wide (term, split) shuffle directly (no persist, no
                    token-stream round-trip through storage) →
                    mapInPandas encodes each sorted run into
                    independently decodable delta+varbyte blocks → one
                    cheap exchange of the ENCODED rows lays files out
                    by part = md5(term) % P (query-side pruning)
  stage term_dict   (term, part, df) table range-partitioned + sorted by
                    term — Lucene's sorted term dictionary: prefix
                    queries expand here (vocab-scale scan with row-group
                    min/max pruning) instead of scanning postings
  stage build_metrics  per-part lineage: postings rows written, payload
                    bytes, skew splits (FIXTURES.md §5)

Every stage commits a snapshot in the manifest (sources/checkpoint.py);
``build(resume=True)`` skips committed stages, reproducing byte-identical
postings after a mid-build kill.  (A driver build, below, commits all of
its stages in one manifest write.)

Small builds skip the pipeline: a fresh build of a bare local parquet
input of at most ``DRIVER_MAX_TURNS`` rows and ``DRIVER_MAX_INPUT_BYTES``
bytes reads its files with pyarrow (``read_bare_parquet``, the table
Spark's Arrow collect would return; the collect where it cannot map
them) and stages them on the driver with the append's kernel
(``_stage_on_driver``), which writes the same tables, stages and stats
(test-gated).  Spark's fixed per-job costs dominate an input that
small; the index's first write is then an ordinary commit — one
manifest write — like every small append after it.

Scale notes (the 100 TB story):
* the token stream is materialized exactly once, map-side, flowing
  straight into the ONE wide per-token shuffle (term, split); per-doc
  stats never touch per-token rows (they are column expressions over the
  text), so no second token-stream shuffle, persist, or storage bounce,
* heavy-term detection samples a fixed-size deterministic doc subset
  (xxhash64(doc_id) % mod == 0 — partition-invariant, exact when the
  corpus is small, immune to doc_id-periodic term placement); a
  binomial-tail mis-estimate only changes the physical split fan-out of
  a term near the threshold, never query results,
* skew: without splitting, a 40%-presence stopword's posting run lands in
  one task; with df-proportional splits each task gets ≤ split_target
  postings regardless of term skew,
* no driver-side loops over data; driver only handles P-sized summaries.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emailindexer_spark.functions.codec import (
    BLOCK_SIZE,
    encode_runs_vec,
    varbyte_decode,
    varbyte_encode_offsets,
)
from emailindexer_spark.functions.sanitize import remove_quoted_replies
from emailindexer_spark.functions.smallfloat import encode_lengths, norm_byte_expr
from emailindexer_spark.functions.tokenizer import (
    token_counts,
    tokenize_series_codes,
)
from emailindexer_spark.operators.docid import (
    assign_doc_ids_with_total,
    conv_offsets,
    validate_transcripts,
)
from emailindexer_spark.sources.checkpoint import Manifest

POSTINGS_SCHEMA = (
    "term string, split_id int, part int, df_row long, first_doc long, last_doc long, "
    "b_first array<long>, b_docs array<binary>, b_tfs array<binary>, b_norms array<binary>, "
    "b_pos array<binary>"
)
#: POSTINGS_SCHEMA as Arrow types: the encoder's output, and the file
#: schema of a postings part (without ``part``)
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

#: SPARK_GRAFT_BUILD_TRACE=1 prints per-phase wall times — the
#: scaling-diagnosis knob: run the same build at two parallelism levels
#: and diff the phases to find non-scaling constants
_TRACE = os.environ.get("SPARK_GRAFT_BUILD_TRACE") == "1"


def _tr(label: str, t0: float) -> None:
    if _TRACE:
        print(f"TRACE {label} {time.time() - t0:.2f}", flush=True)


def write_conv_offsets(
    dest: str, conv_ids: np.ndarray, offsets: np.ndarray, n_turns: np.ndarray
) -> None:
    """Write one conv_offsets piece (conv_id, conv_offset, n_turns) with
    pyarrow.  tmp + atomic rename: a crash mid-write must never leave a
    truncated parquet at the published name."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    tmp = dest + ".tmp"
    papq.write_table(
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
    readable parquet footer.  A build reads it at entry to choose the
    driver path (IndexBuilder.build) and to start the heavy-term sample
    before docid assignment finishes; callers must fall back to the
    exact post-docid count when this returns None.  read_bare_parquet
    reads the rows."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as papq

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
    import pyarrow.parquet as papq
    from pyspark.sql.pandas.types import to_arrow_schema

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
        schema = to_arrow_schema(
            df.schema,
            error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=jconf.arrowUseLargeVarTypes(),
        )
        # a column the files lack raises, as does a lossy cast
        return pa.concat_tables(
            papq.read_table(f, columns=schema.names).cast(schema) for f in files
        ).replace_schema_metadata(None)
    except Exception:
        return None


def ensure_parallelism(df: DataFrame, target: int) -> DataFrame:
    """Floor a DataFrame's partition count.

    The tokenize stage is map-side of whatever partitioning the scan
    produced; a small-but-dense parquet input (text compresses ~10x)
    otherwise serializes the most expensive stage of the build.  At real
    cluster scale inputs arrive in thousands of splits and this is a
    no-op."""
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def term_part_expr(term_col, num_parts: int):
    """part = int(md5(term)[:8], 16) % P — driver-computable (python
    hashlib gives the same value), so query planning prunes partitions
    without a Spark job."""
    return F.pmod(
        F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10).cast("long"),
        F.lit(num_parts),
    ).cast("int")


def term_part_py(term: str, num_parts: int) -> int:
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % num_parts


#: map-side pre-aggregated posting chunks: ONE row per (term, split,
#: map-batch) instead of one row per (doc, term).  docs ride as
#: delta+varbyte (first absolute), tfs as varbyte, norms raw, positions
#: as the tokenizer's segmented varbyte — the wide shuffle carries
#: ~100× fewer rows and ~5 bytes/posting instead of a 40+-byte Spark row
#: (guide §2.3 "aggregate before you shuffle" / §8 "move heavy bytes
#: once"), and the reduce-side JVM sort orders chunk rows, not postings.
CHUNK_SCHEMA = "term string, split_id int, docs binary, tfs binary, norms binary, pos binary"


def _tokenize_term_df_counts(simple: bool, fields: tuple[str, ...] = ("text",)):
    """mapInPandas for the heavy-term sample: batches → (term, df)
    partial counts (df = docs containing the term in this batch) —
    uniques-sized output instead of per-(doc, term) rows.  Rows are
    identified POSITIONALLY within the batch (batches partition the
    sample disjointly, so per-batch distinct-(term, row) counts sum to
    the sample df exactly) — the sample therefore needs no doc_id
    column and can run concurrently with docid assignment."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            frames = []
            for fi, f in enumerate(fields):
                prefix = "" if fi == 0 else f + ":"
                nlens, codes, uniques = tokenize_series_codes(pdf[f], simple=simple)
                if nlens.sum() == 0:
                    continue
                flat_docs = np.repeat(np.arange(len(pdf), dtype=np.int64), nlens)
                order = np.lexsort((flat_docs, codes))
                cv, dv = codes[order], flat_docs[order]
                gmask = np.concatenate(
                    ([True], (cv[1:] != cv[:-1]) | (dv[1:] != dv[:-1]))
                )
                cnt = np.bincount(cv[gmask], minlength=len(uniques))
                terms_out = (
                    (prefix + pd.Series(uniques)).to_numpy() if prefix else uniques
                )
                frames.append(
                    pd.DataFrame({"term": terms_out, "df": cnt.astype(np.int64)})
                )
            if frames:
                yield pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    return gen


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
    heavy: dict,
    n_rows: int,
    heavy_rule: tuple[int, int] | None = None,
) -> pd.DataFrame:
    """Term-major postings → CHUNK_SCHEMA rows, one per (term, split).

    ``terms[i]`` owns postings ``tstarts[i]:tstarts[i + 1]``, docs
    strictly ascending within each term.  A term in ``heavy`` ({term:
    n_splits}) is cut at doc-range edges, split_id = doc_id //
    ceil(n_rows / n_splits); any other term is one split-0 row.
    ``heavy_rule`` = (heavy_df_threshold, split_target) replaces
    ``heavy`` with the exact-df map when the postings hold the whole
    corpus: a term of df > threshold gets ceil(df / split_target)
    splits, the map the build's sample gives at sample mod 1.
    ``pos_bounds[j]`` is the first byte of posting j's positions in
    ``pos_buf`` (length n + 1), or None without positions.

    ONE varbyte pass each for docs (delta-coded, absolute at every row
    start) and tfs, then per-row memoryview slices: no Python loop over
    postings."""
    n = docs.size
    tlens = np.diff(tstarts)
    if heavy_rule is not None:
        ns = np.where(tlens > heavy_rule[0], -(-tlens // heavy_rule[1]), 0)
    else:
        ns = np.fromiter((heavy.get(t, 0) for t in terms), np.int64, count=len(terms))
    is_heavy = np.repeat(ns > 0, tlens)
    sids = np.zeros(n, dtype=np.int64)
    if is_heavy.any():
        span = np.repeat(-(-n_rows // np.maximum(ns, 1)), tlens)
        sids[is_heavy] = docs[is_heavy] // span[is_heavy]
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
    simple: bool,
    positions: bool,
    fields: tuple[str, ...],
    heavy_bc,
    n_rows: int,
    heavy_rule: tuple[int, int] | None = None,
):
    """mapInPandas: (doc_id, <fields...>) batches → packed CHUNK_SCHEMA
    rows, one per (term, split) per batch.

    One lexsort puts the batch's tokens in term-major (then doc, then
    position) order; per-(doc, term) tf, norm and segmented-delta
    positions come off it vectorized, and _pack_chunk_rows cuts the
    rows.  ``heavy_bc`` is a broadcast {term_key: n_splits} from the
    sample pass, or None (every term one split-0 row per batch);
    ``heavy_rule`` is _pack_chunk_rows' exact-df rule, for a single
    batch holding the whole corpus.
    Non-default fields emit FIELD-PREFIXED term keys (``field:term``)
    with that field's own norm — one shared term space carrying
    per-field statistics (Lucene's per-field terms dicts flattened)."""

    def one_field(pdf: pd.DataFrame, col: str, prefix: str, heavy: dict) -> pd.DataFrame | None:
        nlens, codes, uniques = tokenize_series_codes(pdf[col], simple=simple)
        if nlens.sum() == 0:
            return None
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        flat_docs = np.repeat(doc_ids, nlens)
        if prefix:
            uniques = (prefix + pd.Series(uniques)).to_numpy()
        dl_map = pd.Series(nlens, index=doc_ids)
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
        return _pack_chunk_rows(
            uniques[gcodes[tstarts[:-1]]],
            tstarts,
            gdocs,
            np.diff(gstarts_ext),
            encode_lengths(dl_map.reindex(gdocs).to_numpy(dtype=np.int64)),
            pos_buf,
            pos_bounds,
            heavy,
            n_rows,
            heavy_rule,
        )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        heavy = heavy_bc.value if heavy_bc is not None else {}
        for pdf in it:
            frames = []
            for fi, f in enumerate(fields):
                got = one_field(pdf, f, "" if fi == 0 else f + ":", heavy)
                if got is not None:
                    frames.append(got)
            if len(frames) == 1:
                yield frames[0]
            elif frames:
                yield pd.concat(frames, ignore_index=True)

    return gen


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
    """CHUNK_SCHEMA rows clustered by (term, split_id) → POSTINGS_SCHEMA
    record batches of up to ``max_rows`` runs, one row per (term,
    split_id) run, in input order.

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


def _encode_chunk_runs(block_size: int, num_parts: int):
    """mapInArrow over CHUNK_SCHEMA rows clustered by (term, split_id)
    → POSTINGS_SCHEMA rows, one per (term, split_id) run: the whole
    reduce partition goes through _encode_chunk_table at once (a run's
    chunk rows may span input batches).  Partition volume is bounded by
    the (term, split_id) shuffle width."""

    def enc(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = [b for b in it if b.num_rows]
        if batches:
            yield from _encode_chunk_table(
                pa.Table.from_batches(batches), block_size, num_parts
            )

    return enc


def write_postings(chunks: DataFrame, dest: str, block_size: int, num_parts: int) -> None:
    """The one posting writer — build, append and compaction all end
    here: CHUNK_SCHEMA rows → (term, split_id) shuffle → encoded runs
    (_encode_chunk_runs) → one cheap exchange of the ENCODED rows lays
    files out by part = md5(term) % P, each file (term, split_id)-
    sorted."""
    width = max(num_parts, 2 * chunks.sparkSession.sparkContext.defaultParallelism)
    (
        chunks.repartition(width, "term", "split_id")
        .sortWithinPartitions("term", "split_id")
        .mapInArrow(_encode_chunk_runs(block_size, num_parts), POSTINGS_SCHEMA)
        .repartition(num_parts, "part")
        # LEAD with the partition column: the dynamic-partition writer
        # requires rows ordered by "part" and otherwise inserts its own
        # (unstable) sort, which silently destroys the term order inside
        # each file — with it satisfied, rows really are (term, split)-
        # sorted on disk and row-group min/max pruning on `term` works
        .sortWithinPartitions("part", "term", "split_id")
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(dest)
    )


#: the tables of an index directory
INDEX_TABLES = ("doc_index", "doc_stats", "postings", "term_dict", "conv_offsets", "build_metrics")

#: builds and appends of at most this many turns are staged on the
#: driver (_stage_on_driver).  Measured on local[4] against a 10k-turn
#: index (append seconds, driver / Spark path): 500 turns 0.26-0.36 /
#: 4.2-5.9, 5k 0.6-0.7 / 4.0-4.1, 20k 1.6-1.7 / 5.2-6.0, 50k 4.0-4.3 /
#: 6.6-8.5, 100k 9.7 / 18.5.  The Spark path's ~4 s of jobs only pay
#: off once executors outnumber those cores, so the cap is set by what
#: the driver holds instead: staging 20k turns peaks at ~210 MB of
#: driver memory (50k: ~520 MB), and the time stays under half the
#: Spark path's.
DRIVER_MAX_TURNS = 20_000

#: ...and a build only if its input's footers count at most this many
#: uncompressed column bytes: the driver build's memory follows the
#: text, not the turn count.  Measured on local[2] (Python peak RSS over
#: the build, fixture corpora): 10k turns of 4.9 MB 163 MB, 20k turns
#: of 9.9 MB 303 MB, and 2k and 4k turns of ten-fold bodies (9.4 and
#: 18.7 MB) 317 and 612 MB — ~32 bytes held per input byte.  The cap
#: admits 20k turns of the fixture's bodies, and longer bodies only in
#: fewer turns, so the driver holds at most ~400 MB.  An append applies
#: it to its collected batch's Arrow bytes (streaming/ingest.py).
DRIVER_MAX_INPUT_BYTES = 12 << 20


def _stat_cols(fields: tuple[str, ...]) -> list[tuple[str, str]]:
    """(dl column, norm column) per field: fields[0] owns ``dl``/``norm``."""
    return [
        ("dl", "norm") if fi == 0 else (f"dl_{f}", f"norm_{f}")
        for fi, f in enumerate(fields)
    ]


class Staged(NamedTuple):
    """What _stage_on_driver hands its commit."""

    n_rows: int
    totals: dict  # {field: (docs with a token, tokens)}
    offsets: dict  # operators/docid.conv_offsets of the rows
    term_parts: pd.DataFrame  # the postings per (term, part): see _per_part_metrics
    seconds: dict  # {table: seconds spent staging it}


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
) -> Staged:
    """Stage collected transcript rows (a pyarrow Table, Spark's own
    Arrow types) with no Spark job: the build's tokenizer and posting
    encoder called in-process, the doc_index, doc_stats, postings and
    term_dict tables written with pyarrow under ``staging`` in the
    layout the Spark pipeline writes.

    An append stages a batch at ``base`` = the corpus size, every term
    one row of ``split_id``.  A build stages the whole corpus at base 0
    and split 0, with ``heavy_rule`` (_pack_chunk_rows) cutting its
    heavy terms into doc-range splits."""
    import pyarrow.parquet as papq

    t0 = time.perf_counter()
    seconds = {}

    def write(table: str, t, sub: str = "") -> None:
        d = os.path.join(staging, table, sub)
        os.makedirs(d, exist_ok=True)
        papq.write_table(t, os.path.join(d, "part-00000.parquet"))

    def lap(table: str) -> None:
        nonlocal t0
        t1 = time.perf_counter()
        seconds[table] = round(t1 - t0, 3)
        t0 = t1

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

    def table(*cols: str):
        return pa.table(
            {"doc_id": doc_id, **{c: rows.column(c) for c in cols}, **dict(stats)}
        )

    write("doc_index", table("conv_id", "turn_idx", "role", "tool", "ts", "text"))
    lap("doc_index")
    write("doc_stats", table("conv_id", "turn_idx"))
    lap("doc_stats")

    chunk_frames = list(
        _tokenize_to_chunk_rows(simple, positions, fields, None, base + n, heavy_rule)(
            iter([pd.DataFrame({"doc_id": doc_id, **texts})])
        )
    )
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
    # in the directory name only — the layout Spark's partitionBy writes
    part = post.column("part").to_numpy()
    body = post.drop_columns(["part"])
    for k in np.unique(part):
        write("postings", body.take(np.flatnonzero(part == k)), f"part={k}")
    lap("postings")
    # the Spark build's per-(term, part) aggregation, payload bytes
    # being the bytes of a row's b_docs, b_tfs and b_norms blocks
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
    # term_dict: an append's delta sums with the earlier rows at read time
    if len(term_parts):
        _write_term_dict(os.path.join(staging, "term_dict"), term_parts)
    lap("term_dict")
    return Staged(n, totals, oo, term_parts, seconds)


def _commit_conv_offsets(man: Manifest, oo: dict, path: str) -> None:
    """Write and commit the conv_offsets artifact of a DENSE build: the
    (conv_id, conv_offset, n_turns) table the query engine
    broadcast-searchsorteds to map doc_id → (conv_id, turn_idx) WITHOUT
    a doc_stats join, from operators/docid.conv_offsets arrays already
    on the driver — written via pyarrow, zero Spark jobs.  Appends of
    new conversations extend it with one piece per batch
    (streaming/ingest.py); other appends drop it.  Non-dense builds and
    builds past the docid fast path skip it; the engine falls back to
    the doc_stats join."""
    t0 = time.perf_counter()
    cdir = man.stage_path("conv_offsets")
    os.makedirs(cdir, exist_ok=True)
    write_conv_offsets(
        os.path.join(cdir, "part-00000.parquet"), oo["conv_ids"], oo["offsets"], oo["n_turns"]
    )
    man.commit_stage(
        "conv_offsets",
        n_convs=len(oo["conv_ids"]),
        seconds=round(time.perf_counter() - t0, 3),
        path=path,
    )


def _write_term_dict(tdir: str, term_parts: pd.DataFrame) -> None:
    """The sorted term dictionary (term, part, df) of per-(term, part)
    postings aggregates as one pyarrow file, sorted by term with small
    row groups: min/max stats prune prefix and range scans like a
    range-partitioned layout."""
    import pyarrow.parquet as papq

    td = pa.table(
        {
            "term": pa.array(term_parts["term"], pa.string()),
            "part": pa.array(term_parts["part"], pa.int32()),
            "df": pa.array(term_parts["df"], pa.int64()),
        }
    )
    os.makedirs(tdir, exist_ok=True)
    dest = os.path.join(tdir, "part-00000.parquet")
    papq.write_table(td.sort_by("term"), dest + ".tmp", row_group_size=32768)
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
    man: Manifest, per_part: pd.DataFrame, t0: float, path: str
) -> None:
    """Write the per-part lineage table (one row per part: ``part`` and
    BUILD_METRIC_COLS) with pyarrow, set the manifest totals the
    benchmark and tests read, and commit the stage."""
    import pyarrow.parquet as papq

    per_part = per_part.sort_values("part")
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
    papq.write_table(tbl, dest + ".tmp")
    os.replace(dest + ".tmp", dest)
    man.set_stats(
        **{c: int(per_part[c].sum()) for c in ("postings_written", "bytes_compressed", "skew_splits")}
    )
    man.commit_stage("build_metrics", seconds=round(time.time() - t0, 2), path=path)


def _per_part_metrics(term_parts: pd.DataFrame) -> pd.DataFrame:
    """BUILD_METRIC_COLS per part of the postings' per-(term, part)
    aggregates (columns term, part, df, posting_rows, payload_bytes,
    skew_splits; one row per (term, part))."""
    return (
        term_parts.groupby("part")
        .agg(
            posting_rows=("posting_rows", "sum"),
            postings_written=("df", "sum"),
            bytes_compressed=("payload_bytes", "sum"),
            skew_splits=("skew_splits", "sum"),
            n_terms=("term", "size"),
        )
        .reset_index()
    )


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
        docid_method: str = "two_phase",
        heavy_sample_docs: int = 50_000,
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
        self.docid_method = docid_method
        self.heavy_sample_docs = heavy_sample_docs
        # term positions in postings (Lucene DOCS_AND_FREQS_AND_POSITIONS,
        # EmailIndexGenerator.java:85-88): default on for parity; phrase
        # queries intersect indexed positions instead of re-tokenizing text
        self.positions = positions
        # indexed fields, fields[0] = default (owns the bare-term key
        # space).  The reference indexes subject+body with independent
        # per-field stats summed at query time (EmailIndexSearcher.java:
        # 49-53, EmailIndexGenerator.java:90-91); here any input column
        # can be a field, e.g. ("text", "role").
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

    def _sample_mod(self, n_rows: int) -> int:
        """The heavy-term sample keeps docs whose input-key hash is 0
        mod this (1: every doc, the exact df)."""
        return min(max(1, n_rows // self.heavy_sample_docs), 4096)

    def build(self, transcripts: DataFrame, resume: bool = False) -> Manifest:
        """Build the index from ``transcripts``; ``resume=True`` skips
        the stages the manifest records as committed.

        A fresh build whose input is a bare local parquet relation of at
        most DRIVER_MAX_TURNS rows and DRIVER_MAX_INPUT_BYTES uncompressed
        bytes (counted from the footers, no Spark job), whose heavy-term
        sample would be exact, is staged on the driver: its files read
        with pyarrow (read_bare_parquet; an Arrow collect where that
        cannot map them, e.g. hive partition columns), then the append's
        staging kernel (_stage_on_driver) at base 0 and split 0 with the
        exact-df heavy map, every table written with pyarrow, and every
        stage and stat committed in ONE manifest write
        (Manifest.one_write: a crash commits nothing, and a resume
        rebuilds on Spark).  Any other input — larger, filtered or
        remote — and every resume take the Spark pipeline below, which
        commits stage by stage so a resume can skip the finished ones.
        Both paths write the same tables, stages and stats; every stage
        records which ``path`` ran and its ``seconds``, and a driver
        build's doc_index stage which ``read`` ("files" or "collect")."""
        man = Manifest.load_or_create(self.out_dir, self._params())
        if not resume:
            # a fresh build over an existing index restarts the ledger
            # and leaves none of the old tables (nor an append's or a
            # compaction's leftovers) behind
            if man.stages or man.stats:
                man.stages.clear()
                man.stats.clear()
                man._flush()
            for t in (*INDEX_TABLES, "postings.tmp", "postings.bak", "_staging"):
                shutil.rmtree(man.stage_path(t), ignore_errors=True)
        bp = bare_parquet(transcripts)
        n_meta = bp.rows if bp is not None else None
        if (
            not resume
            and bp is not None
            and 0 < n_meta <= DRIVER_MAX_TURNS
            and bp.nbytes <= DRIVER_MAX_INPUT_BYTES
            and self._sample_mod(n_meta) == 1
        ):
            with man.one_write():
                return self._build_on_driver(man, transcripts, bp)

        # SCAN parallelism floors scale with the session's cores only
        # (the wide (term, split) shuffle in write_postings also floors
        # at num_parts for skew headroom): a num_parts floor here would
        # force a full-corpus exchange even when the input's natural
        # splits already feed every core (pure overhead, and its map
        # side is as serial as the input)
        scan_target = 2 * self.spark.sparkContext.defaultParallelism

        import threading

        # ---------------------------------------------------- doc_index
        # Fresh builds OVERLAP the doc_index write with the postings
        # pipeline (guide §2.6): both derive from the same docid-assigned
        # plan, the write runs in a driver thread while the main thread
        # tokenizes/shuffles/encodes — postings is the long pole and the
        # stored-fields write (plus doc_stats) hides under it entirely.
        # Resume paths (doc_index already committed) keep the serial
        # shape and read the committed parquet.
        ix_err: list[BaseException] = []
        ix_thread: threading.Thread | None = None
        pins: list = []
        n_total: int | None = None
        src_plan: DataFrame | None = None  # (doc_id, fields…) pre-write plan
        sample_plan: DataFrame | None = None  # (conv_id, turn_idx, fields…)

        # heavy-term sample, launched at BUILD ENTRY when the input is a
        # bare parquet relation (exact n_rows from the footers — no
        # job): the sample keys on xxhash64(conv_id, turn_idx) — the
        # STABLE input key, deterministic and partition-invariant like
        # the old doc_id hash but independent of docid assignment — so
        # its scan+tokenize+collect overlaps the docid round-trip and
        # the stored-fields write instead of serializing after them
        # (guide §2.6).  Estimates only steer physical split fan-out;
        # the filter/mod are identical on every path (fresh, fallback,
        # resume), preserving byte-identical rebuilds.
        heavy_res: dict = {}
        heavy_thread: threading.Thread | None = None
        if not man.is_complete("doc_index") and not man.is_complete("postings"):
            if n_meta is not None and n_meta > 0:
                early_mod = self._sample_mod(n_meta)
                s_src = transcripts
                if self.sanitize:
                    s_src = s_src.withColumn(
                        "text",
                        F.pandas_udf(remove_quoted_replies, "string")(F.col("text")),
                    )
                if early_mod > 1:
                    s_src = s_src.where(
                        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(early_mod)) == 0
                    )
                s_src = s_src.select(*self.fields)
                _counts_fn = _tokenize_term_df_counts(self.simple_tokens, self.fields)

                def _heavy_body() -> None:
                    try:
                        heavy_res["rows"] = (
                            s_src.mapInPandas(_counts_fn, "term string, df long")
                            .groupBy("term")
                            .agg(F.sum("df").alias("dfs"))
                            .where(
                                F.col("dfs") * early_mod > self.heavy_df_threshold
                            )
                            .collect()
                        )
                        heavy_res["mod"] = early_mod
                    except BaseException as e:  # re-raised on the main thread
                        heavy_res["err"] = e

                heavy_thread = threading.Thread(target=_heavy_body, daemon=True)
                heavy_thread.start()

        if not man.is_complete("doc_index"):
            t0 = time.time()
            df = transcripts
            if self.validate:
                validate_transcripts(df)
            offsets_out: dict = {}
            t1 = time.time()
            # docid runs on the RAW input: its conversation aggregation
            # then prunes columns at the scan instead of paying the
            # round-robin exchange (and its local sort) of the full rows
            df, n_total = assign_doc_ids_with_total(
                df,
                method=self.docid_method,
                checkpoint_offsets=False,
                pinned=pins,
                offsets_out=offsets_out,
            )
            _tr("docid_offsets", t1)
            if self.sanitize:
                clean = F.pandas_udf(remove_quoted_replies, "string")
                df = df.withColumn("text", clean(F.col("text")))
            # tokenize/sample read the PRE-exchange plan: the chunk
            # pipeline re-spreads at its own (term, split) shuffle, so a
            # round-robin exchange in front would only sort-and-move the
            # full text a second time (sortBeforeRepartition pays a
            # local sort of every row).  The stored-fields WRITE keeps
            # the exchange — its parallelism is the write itself.
            src_plan = df.select("doc_id", *self.fields)
            sample_plan = df.select("conv_id", "turn_idx", *self.fields)
            df_pre = df

            def _write_doc_index() -> None:
                # ALL of the write-plan construction lives here so a
                # fresh build's main thread reaches the postings
                # pipeline immediately (df.rdd partition probing and
                # py4j plan chatter cost ~1 s of serial driver time)
                t1w = time.time()
                # floor the write parallelism (a plain round-robin
                # exchange): the dense docid fast path broadcast-joins
                # conversation offsets map-side, so everything
                # downstream runs at this width.  At cluster scale
                # inputs arrive in thousands of splits — no-op.
                dfw = ensure_parallelism(df_pre, scan_target)
                extra_cols: list[str] = []
                # exact token counts from the vectorized Python
                # tokenizer (same values as the JVM dl_expr regex —
                # lock-step-tested — at ~1/5 the CPU: java.util.regex
                # with lookarounds costs ~40 core-seconds per 600k docs,
                # which dominates the single-thread scaling leg)
                _simple = self.simple_tokens
                dl_udf = F.pandas_udf(
                    lambda s: pd.Series(token_counts(s, simple=_simple)), "int"
                )
                for fi, fld in enumerate(self.fields):
                    dcol = "dl" if fi == 0 else f"dl_{fld}"
                    ncol = "norm" if fi == 0 else f"norm_{fld}"
                    dfw = dfw.withColumn(dcol, dl_udf(F.col(fld)))
                    dfw = dfw.withColumn(ncol, norm_byte_expr(F.col(dcol)))
                    if fi:
                        extra_cols += [dcol, ncol]
                # doc_ids correlate with conv order, so sorting within
                # partitions still yields tight per-row-group doc_id
                # min/max stats for lookup pruning.  Corpus scalars
                # (Lucene docCount/avgdl over docs with ≥1 token, §2.9)
                # ride the SAME action via observe() — no separate
                # aggregation job.
                from pyspark.sql import Observation

                obs = Observation()
                obs_aggs = [F.count(F.lit(1)).alias("rows")]
                for fi, fld in enumerate(self.fields):
                    dcol = "dl" if fi == 0 else f"dl_{fld}"
                    obs_aggs.append(
                        F.count(F.when(F.col(dcol) > 0, 1)).alias(f"n_{fld}")
                    )
                    obs_aggs.append(F.sum(dcol).alias(f"total_{fld}"))
                (
                    dfw.select(
                        "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
                        "text", "dl", "norm", *extra_cols,
                    )
                    .observe(obs, *obs_aggs)
                    .sortWithinPartitions("doc_id")
                    .write.mode("overwrite")
                    .parquet(man.stage_path("doc_index"))
                )
                _tr("doc_index_write", t1w)
                m = obs.get
                f0 = self.fields[0]
                man.set_stats(
                    n_docs=int(m[f"n_{f0}"] or 0),
                    total_tokens=int(m[f"total_{f0}"] or 0),
                    n_rows=int(m["rows"]),
                    max_doc_id=int(m["rows"]) - 1,
                    field_stats={
                        fld: {
                            "n_docs": int(m[f"n_{fld}"] or 0),
                            "total_tokens": int(m[f"total_{fld}"] or 0),
                        }
                        for fld in self.fields
                    },
                )
                man.commit_stage(
                    "doc_index", seconds=round(time.time() - t0, 2), path="spark"
                )
                # docid fast path only: the offsets are on the driver
                if offsets_out.get("dense"):
                    _commit_conv_offsets(man, offsets_out, "spark")

        # doc_stats: skinny projection of the COMMITTED doc_index (no
        # text column touched) — keeps the A6 norms-table contract at
        # ~1% of the doc_index bytes; map-side write (partitions are
        # already doc_id-sorted).  It always runs after the doc_index
        # write — in the same background thread on fresh builds, in a
        # doc_stats-only thread (overlapped with postings) on resumes.
        stats_err: list[BaseException] = []
        stats_thread = None

        def _write_doc_stats() -> None:
            try:
                t0s = time.time()
                stat_cols = ["doc_id", "conv_id", "turn_idx", "dl", "norm"] + [
                    c
                    for fld in self.fields[1:]
                    for c in (f"dl_{fld}", f"norm_{fld}")
                ]
                (
                    self.spark.read.parquet(man.stage_path("doc_index"))
                    .select(*stat_cols)
                    .sortWithinPartitions("doc_id")
                    .write.mode("overwrite")
                    .parquet(man.stage_path("doc_stats"))
                )
                man.commit_stage(
                    "doc_stats", seconds=round(time.time() - t0s, 2), path="spark"
                )
            except BaseException as e:  # re-raised on the main thread
                stats_err.append(e)

        if src_plan is not None and not man.is_complete("postings") and n_total is not None:
            # fresh build: doc_index (+ doc_stats) in the background,
            # postings pipeline on this thread
            def _ix_body() -> None:
                try:
                    _write_doc_index()
                    if not man.is_complete("doc_stats"):
                        _write_doc_stats()
                        if stats_err:
                            raise stats_err.pop()
                except BaseException as e:
                    ix_err.append(e)

            ix_thread = threading.Thread(target=_ix_body, daemon=True)
            ix_thread.start()
        elif src_plan is not None:
            _write_doc_index()
            src_plan = None  # postings complete; nothing to overlap
            if not man.is_complete("doc_stats"):
                _write_doc_stats()
                if stats_err:
                    raise stats_err[0]
        elif not man.is_complete("doc_stats"):
            if not man.is_complete("postings") and "n_rows" in man.stats:
                stats_thread = threading.Thread(target=_write_doc_stats, daemon=True)
                stats_thread.start()
            else:
                _write_doc_stats()
                if stats_err:
                    raise stats_err[0]
        if ix_thread is None and "n_docs" not in man.stats:
            # resume fallback (manifest predates the observe()-based
            # stats): one aggregation over the skinny doc_stats table —
            # guaranteed on disk here (the threaded overlap requires
            # n_rows, so this path always took the synchronous write)
            agg = self.spark.read.parquet(man.stage_path("doc_stats")).agg(
                F.count("*").alias("rows"),
                F.count(F.when(F.col("dl") > 0, 1)).alias("n"),
                F.sum("dl").alias("total"),
            ).collect()[0]
            man.set_stats(
                n_docs=int(agg["n"] or 0),
                total_tokens=int(agg["total"] or 0),
                n_rows=int(agg["rows"]),
                max_doc_id=int(agg["rows"]) - 1,
            )

        # ---------------------------------------------------- postings
        try:
            if not man.is_complete("postings"):
                t0 = time.time()
                n_rows = (
                    int(n_total) if ix_thread is not None else int(man.stats["n_rows"])
                )
                # heavy-term detection over a deterministic sample,
                # keyed on xxhash64(conv_id, turn_idx) — the stable
                # input key (mod == 1 → exact full pass): a HASH, not a
                # raw modulo, so term occurrence periodic in input
                # order cannot dodge the sample; deterministic and
                # partition-invariant; independent of docid assignment
                # so the build-entry thread above could overlap it.
                sample_mod = self._sample_mod(n_rows)
                if src_plan is not None:
                    src = src_plan  # pre-write plan: overlaps the write
                else:
                    src = ensure_parallelism(
                        self.spark.read.parquet(man.stage_path("doc_index")).select(
                            "doc_id", *self.fields
                        ),
                        scan_target,
                    )
                t1 = time.time()
                hrows = None
                if heavy_thread is not None:
                    heavy_thread.join()
                    heavy_thread = None
                    if "err" in heavy_res:
                        raise heavy_res["err"]
                    if heavy_res.get("mod") == sample_mod:
                        hrows = heavy_res["rows"]
                    # a mod mismatch means the footer count disagreed
                    # with the exact post-docid count (it cannot for a
                    # bare relation, but correctness beats trust):
                    # recompute below with the authoritative mod
                if hrows is None:
                    # per-batch (term, df) partial counts → one small
                    # agg → driver rows: bounded by total_postings /
                    # heavy_df_threshold regardless of corpus size
                    s2 = (
                        sample_plan
                        if sample_plan is not None
                        else self.spark.read.parquet(
                            man.stage_path("doc_index")
                        ).select("conv_id", "turn_idx", *self.fields)
                    )
                    if sample_mod > 1:
                        s2 = s2.where(
                            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(sample_mod))
                            == 0
                        )
                    hrows = (
                        s2.select(*self.fields)
                        .mapInPandas(
                            _tokenize_term_df_counts(self.simple_tokens, self.fields),
                            "term string, df long",
                        )
                        .groupBy("term")
                        .agg(F.sum("df").alias("dfs"))
                        .where(F.col("dfs") * sample_mod > self.heavy_df_threshold)
                        .collect()
                    )
                heavy_map = {
                    r["term"]: int(
                        -(-(int(r["dfs"]) * sample_mod) // self.split_target)
                    )
                    for r in hrows
                }
                heavy_bc = (
                    self.spark.sparkContext.broadcast(heavy_map) if heavy_map else None
                )
                _tr("heavy_plan", t1)
                # ONE full tokenize pass, pre-aggregated MAP-SIDE into
                # packed per-(term, split, batch) chunk rows (CHUNK_SCHEMA
                # docstring): the wide shuffle carries ~batch-vocabulary
                # rows with ~5 B/posting varbyte payloads instead of one
                # 40+-byte row per (doc, term), and the reduce-side sort
                # orders chunk rows, not postings.  The SECOND exchange
                # moves only the ENCODED payload (~1% of the token
                # stream) to lay files out one-part-per-task.
                chunks = src.mapInPandas(
                    _tokenize_to_chunk_rows(
                        self.simple_tokens,
                        self.positions,
                        self.fields,
                        heavy_bc,
                        n_rows,
                    ),
                    CHUNK_SCHEMA,
                )
                t1 = time.time()
                write_postings(
                    chunks, man.stage_path("postings"), self.block_size, self.num_parts
                )
                _tr("postings_write", t1)
                man.commit_stage(
                    "postings", seconds=round(time.time() - t0, 2), path="spark"
                )
        finally:
            # barrier for the overlapped doc_index/doc_stats/sample work
            if heavy_thread is not None:
                heavy_thread.join()
            if ix_thread is not None:
                ix_thread.join()
            if stats_thread is not None:
                stats_thread.join()
            for p in pins:
                p.unpersist(blocking=False)
        if ix_err:
            raise ix_err[0]
        if stats_err:
            raise stats_err[0]

        # --------------------------------------- term_dict + build_metrics
        # ONE pass over the postings feeds both: a per-(term, part)
        # pre-aggregation (persisted — vocabulary-sized, tiny) becomes the
        # sorted term dictionary directly and rolls up into the per-part
        # lineage metrics.
        if not (man.is_complete("term_dict") and man.is_complete("build_metrics")):
            p = self.spark.read.parquet(man.stage_path("postings"))
            payload_bytes = (
                F.aggregate(
                    F.transform(
                        F.col("b_docs"), lambda x: F.octet_length(x)
                    ),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
                + F.aggregate(
                    F.transform(F.col("b_tfs"), lambda x: F.octet_length(x)),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
                + F.aggregate(
                    F.transform(F.col("b_norms"), lambda x: F.octet_length(x)),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
            )
            aug_plan = (
                p.withColumn("payload_bytes", payload_bytes)
                .groupBy("term", "part")
                .agg(
                    F.sum("df_row").alias("df"),
                    F.count("*").alias("posting_rows"),
                    F.sum("payload_bytes").alias("payload_bytes"),
                    F.sum(F.when(F.col("split_id") > 0, 1).otherwise(0)).alias("skew_splits"),
                )
            )
            # bounded-vocabulary fast path: ONE collect (capped — the
            # limit guarantees a bounded driver transfer at any corpus
            # scale) feeds BOTH artifacts driver-side, replacing the
            # persist + distributed-write + second-collect shape (three
            # serial jobs → one).  The cap mirrors the query engine's
            # VOCAB_DRIVER_MAX_ROWS: indexes it cannot driver-load fall
            # back to the distributed path below.
            _VOCAB_CAP = 5_000_000
            vrows = aug_plan.limit(_VOCAB_CAP + 1).collect()
            if len(vrows) <= _VOCAB_CAP:
                aug = pd.DataFrame(vrows, columns=aug_plan.columns)
                if not man.is_complete("term_dict"):
                    t0 = time.time()
                    _write_term_dict(man.stage_path("term_dict"), aug)
                    man.commit_stage(
                        "term_dict", seconds=round(time.time() - t0, 2), path="spark"
                    )
                if not man.is_complete("build_metrics"):
                    t0 = time.time()
                    _commit_build_metrics(man, _per_part_metrics(aug), t0, "spark")
                return man
            aug = aug_plan.persist()
            # Lucene's sorted term dictionary: (term, part, df) range-
            # partitioned and sorted by term, so prefix expansion scans
            # the vocabulary (row-group pruned), never the postings
            if not man.is_complete("term_dict"):
                t0 = time.time()
                (
                    aug.select("term", "part", "df")
                    .repartitionByRange(max(1, self.num_parts // 4), "term")
                    .sortWithinPartitions("term")
                    .write.mode("overwrite")
                    .parquet(man.stage_path("term_dict"))
                )
                man.commit_stage(
                    "term_dict", seconds=round(time.time() - t0, 2), path="spark"
                )
            if not man.is_complete("build_metrics"):
                t0 = time.time()
                # the per-part rollup is P-sized (bounded by num_parts
                # regardless of corpus scale) — collect it and write the
                # lineage parquet driver-side: ONE job where the previous
                # shape spent three (write, re-read, total-aggregate),
                # and the manifest totals fall out of the same P rows
                rows = (
                    aug.groupBy("part")
                    .agg(
                        F.sum("posting_rows").alias("posting_rows"),
                        F.sum("df").alias("postings_written"),
                        F.sum("payload_bytes").alias("bytes_compressed"),
                        F.sum("skew_splits").alias("skew_splits"),
                        F.count("*").alias("n_terms"),  # aug is unique per (term, part)
                    )
                    .collect()
                )
                _commit_build_metrics(
                    man,
                    pd.DataFrame(rows, columns=["part", *BUILD_METRIC_COLS]),
                    t0,
                    "spark",
                )
            aug.unpersist(blocking=False)
        return man

    def _build_on_driver(
        self, man: Manifest, transcripts: DataFrame, bp: BareParquet
    ) -> Manifest:
        """The fresh build of a small bare-parquet input (see build): its
        files read with pyarrow (an Arrow collect when read_bare_parquet
        cannot map them), _stage_on_driver straight into the index
        directory, then the conv_offsets and build_metrics tables and
        the manifest commits of the Spark pipeline, which build() holds
        back into one manifest write."""
        if self.validate:
            validate_transcripts(transcripts)  # one Spark job
        t0 = time.perf_counter()
        rows, read = read_bare_parquet(transcripts, bp), "files"
        if rows is None:
            rows, read = transcripts.toArrow(), "collect"
        if self.sanitize:
            i = rows.schema.get_field_index("text")
            clean = remove_quoted_replies(rows.column(i).to_pandas())
            rows = rows.set_column(
                i, rows.schema.field(i), pa.array(clean, rows.schema.field(i).type)
            )
        read_s = time.perf_counter() - t0
        st = _stage_on_driver(
            rows,
            self.out_dir,
            0,
            0,
            self.fields,
            self.simple_tokens,
            self.positions,
            self.block_size,
            self.num_parts,
            heavy_rule=(self.heavy_df_threshold, self.split_target),
        )
        del rows
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
            "doc_index",
            seconds=round(st.seconds["doc_index"] + read_s, 3),
            path="driver",
            read=read,
        )
        if st.offsets["dense"]:
            _commit_conv_offsets(man, st.offsets, "driver")
        for t in ("doc_stats", "postings", "term_dict"):
            man.commit_stage(t, seconds=st.seconds[t], path="driver")
        t0 = time.time()
        _commit_build_metrics(man, _per_part_metrics(st.term_parts), t0, "driver")
        return man


def avgdl_from_stats(stats: dict) -> float:
    n = stats.get("n_docs", 0)
    return (stats["total_tokens"] / n) if n else 0.0


def n_shards_for(n_rows: int, target_per_shard: int = 262_144) -> int:
    return max(1, math.ceil(n_rows / target_per_shard))
