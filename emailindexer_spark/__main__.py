"""CLI entry point — the spark-submit surface.

Packaged usage on a cluster (north-rule packaging requirement)::

    python -m emailindexer_spark package --out dist/   # build the zip
    spark-submit --py-files dist/emailindexer_spark.zip \\
        dist/main.py build --input s3://.../transcripts --out s3://.../index
    spark-submit --py-files dist/emailindexer_spark.zip \\
        dist/main.py search --index s3://.../index --query "error -timeout" -k 20

Local usage (this sandbox)::

    python -m emailindexer_spark build --input <parquet> --out <dir>
    python -m emailindexer_spark search --index <dir> --query "..." -k 10
    python -m emailindexer_spark ingest --index <dir> --batch <parquet>
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from emailindexer_spark import get_spark
    from emailindexer_spark.config import SERVING_CONF

    # search commands run under the serving profile (AQE off, bigger
    # Arrow batches); build/ingest/compact keep the analytics defaults
    extra = SERVING_CONF if args.cmd in ("search", "search-batch") else None
    return get_spark(
        app_name=f"emailindexer-{args.cmd}", master=args.master, extra_conf=extra
    )


def cmd_build(args) -> int:
    from emailindexer_spark.plans.builder import IndexBuilder
    from emailindexer_spark.sources.transcripts import load_transcripts

    spark = _spark(args)
    df = load_transcripts(spark, args.input, format=args.format)
    man = IndexBuilder(
        spark,
        args.out,
        num_parts=args.num_parts,
        heavy_df_threshold=args.heavy_df_threshold,
        split_target=args.split_target,
        simple_tokens=args.simple_tokens,
        sanitize=args.sanitize,
        validate=args.validate,
        positions=not args.no_positions,
        fields=tuple(args.fields.split(",")) if args.fields else ("text",),
    ).build(df, resume=args.resume)
    print(json.dumps({"snapshot_id": man.snapshot_id, "stats": man.stats}))
    return 0


def cmd_search(args) -> int:
    from emailindexer_spark.plans.planner import SearchEngine

    spark = _spark(args)
    eng = SearchEngine(
        spark,
        args.index,
        fuzzy_transpositions=args.fuzzy_transpositions,
        slop_order_tolerant=args.slop_order_tolerant,
    )
    rows = eng.search(args.query, k=args.k, mode=args.mode, with_text=args.text).collect()
    for r in rows:
        d = r.asDict()
        if "text" in d and d["text"]:
            d["text"] = d["text"][:120]
        print(json.dumps(d, default=str))
    return 0


def cmd_search_batch(args) -> int:
    """Run a JSON file of queries {qid: [query, k, mode]} in ONE job —
    flat queries share a single postings scan (planner.search_many)."""
    from emailindexer_spark.plans.planner import SearchEngine

    spark = _spark(args)
    eng = SearchEngine(
        spark,
        args.index,
        fuzzy_transpositions=args.fuzzy_transpositions,
        slop_order_tolerant=args.slop_order_tolerant,
    )
    with open(args.queries) as f:
        raw = json.load(f)
    batch = {qid: (q[0], int(q[1]), q[2] if len(q) > 2 else "turns") for qid, q in raw.items()}
    for r in eng.search_many(batch).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_ingest(args) -> int:
    from emailindexer_spark.streaming.ingest import incremental_append

    spark = _spark(args)
    batch = spark.read.parquet(args.batch)
    man = incremental_append(spark, args.index, batch)
    print(json.dumps({"snapshot_id": man.snapshot_id, "stats": man.stats}))
    return 0


def cmd_compact(args) -> int:
    """Merge ingested per-batch posting splits back into minimal runs
    (the Lucene segment-merge analogue) — no re-tokenize, no text IO."""
    from emailindexer_spark.streaming.compact import compact_index

    spark = _spark(args)
    man = compact_index(spark, args.index)
    print(json.dumps({"snapshot_id": man.snapshot_id, "compactions": man.stats["compactions"]}))
    return 0


def cmd_package(args) -> int:
    """Zip the package for spark-submit --py-files + a thin main.py."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(args.out, exist_ok=True)
    zpath = os.path.join(args.out, "emailindexer_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "emailindexer_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
    main_py = os.path.join(args.out, "main.py")
    with open(main_py, "w") as f:
        f.write(
            "# spark-submit driver shim: the --py-files zip provides the package\n"
            "from emailindexer_spark.__main__ import main\n\n"
            'if __name__ == "__main__":\n    raise SystemExit(main())\n'
        )
    print(json.dumps({"zip": zpath, "main": main_py}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="emailindexer_spark")
    p.add_argument("--master", default=None, help="spark master (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build an index from a transcripts table")
    b.add_argument("--input", required=True)
    b.add_argument(
        "--format", default=None, choices=["parquet", "json", "jsonl", "csv"],
        help="input format (default: inferred from the path suffix)",
    )
    b.add_argument("--out", required=True)
    b.add_argument("--num-parts", type=int, default=32)
    b.add_argument("--heavy-df-threshold", type=int, default=100_000)
    b.add_argument("--split-target", type=int, default=50_000)
    b.add_argument("--simple-tokens", action="store_true")
    b.add_argument("--sanitize", action="store_true")
    b.add_argument("--validate", action="store_true")
    b.add_argument("--resume", action="store_true")
    b.add_argument(
        "--no-positions", action="store_true",
        help="skip term-position payloads (phrases fall back to re-tokenize)",
    )
    b.add_argument(
        "--fields", default=None,
        help="comma-separated indexed fields, first = default (e.g. text,role)",
    )
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search", help="top-k BM25 search")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--mode", choices=["turns", "conversations"], default="turns")
    s.add_argument("--text", action="store_true")
    s.add_argument(
        "--fuzzy-transpositions",
        action="store_true",
        help="Lucene-exact fuzzy metric (OSA: adjacent-transposition credit); "
        "default is classic Levenshtein (SQL-oracle-verifiable)",
    )
    s.add_argument(
        "--slop-order-tolerant",
        action="store_true",
        help="unordered sloppy phrases (minimal-covering-window semantics); "
        "default is exact-order (SQL-oracle-verifiable)",
    )
    s.set_defaults(fn=cmd_search)

    sb = sub.add_parser(
        "search-batch", help="run a JSON batch of queries in one shared-scan job"
    )
    sb.add_argument("--index", required=True)
    sb.add_argument("--queries", required=True, help='JSON: {"qid": ["query", k, "mode"], ...}')
    sb.add_argument("--fuzzy-transpositions", action="store_true")
    sb.add_argument("--slop-order-tolerant", action="store_true")
    sb.set_defaults(fn=cmd_search_batch)

    i = sub.add_parser("ingest", help="append a transcript batch to an index")
    i.add_argument("--index", required=True)
    i.add_argument("--batch", required=True)
    i.set_defaults(fn=cmd_ingest)

    cp = sub.add_parser("compact", help="merge ingested posting splits (segment merge)")
    cp.add_argument("--index", required=True)
    cp.set_defaults(fn=cmd_compact)

    pk = sub.add_parser("package", help="emit --py-files zip + driver shim")
    pk.add_argument("--out", default="dist")
    pk.set_defaults(fn=cmd_package)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
