"""Relational surface: filters F1-F11, pagination O1, counts A1-A5,
tag joins, mutations F12/F13, exports S8/S9 (SURVEY.md §2.2-§2.8)."""

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from emailindexer_spark.operators import filters as FL
from emailindexer_spark.operators import relational as R
from emailindexer_spark.sources.fixtures import make_tags


@pytest.fixture(scope="module")
def tdf(spark, corpus_sdf):
    return corpus_sdf.cache()


@pytest.fixture(scope="module")
def tags_sdf(spark, corpus_pdf):
    return spark.createDataFrame(make_tags(corpus_pdf))


def test_root_and_parent_filters(tdf):
    roots = tdf.where(FL.root_filter(True))
    assert roots.count() == tdf.select("conv_id").distinct().count()
    some = tdf.where(FL.root_filter(False)).first()
    replies = tdf.where(FL.parent_filter(some["conv_id"], some["turn_idx"] - 1))
    assert replies.count() == 1 and replies.first()["turn_idx"] == some["turn_idx"]


def test_id_in_filter_empty_is_noop(tdf):
    from pyspark.sql import Window

    d = tdf.withColumn("doc_id", F.row_number().over(Window.orderBy("conv_id", "turn_idx")) - 1)
    assert d.where(FL.id_in_filter([])).count() == d.count()
    assert d.where(FL.id_in_filter([0, 1, 5])).count() == 3


def test_date_filter_closed_interval(tdf):
    lo, hi = tdf.agg(F.min("ts"), F.max("ts")).first()
    assert tdf.where(FL.date_filter(lo, hi)).count() == tdf.count()
    assert tdf.where(FL.date_filter(lo, lo)).count() == 1


def test_like_filter_case_insensitive(spark):
    df = spark.createDataFrame([("Hello World",), ("bye",)], "text string")
    assert df.where(FL.text_like_filter("WORLD")).count() == 1


def test_or_filter_intended_semantics(tdf):
    # reference OrFilter.java:22 always no-ops; ours is a real disjunction
    p = FL.or_filters(FL.root_filter(True), FL.text_like_filter("qojema"))
    n_or = tdf.where(p).count()
    n_root = tdf.where(FL.root_filter(True)).count()
    assert n_or > n_root


def test_tag_joins(tdf, tags_sdf):
    inc = FL.tag_filter_include_any(tdf, tags_sdf, ["alpha"])
    exc = FL.tag_filter_exclude_any(tdf, tags_sdf, ["alpha"])
    unt = FL.tag_filter_untagged(tdf, tags_sdf)
    n = tdf.count()
    assert inc.count() + exc.count() == n
    assert unt.count() == n - R.count_tagged(tdf, tags_sdf)


def test_pagination_envelope(tdf):
    p1 = R.find_all(tdf, page=1, size=25)
    p2 = R.find_all(tdf, page=2, size=25)
    assert p1.total == tdf.count() and p1.page_count == -(-p1.total // 25)
    r1 = p1.rows.collect()
    r2 = p2.rows.collect()
    assert len(r1) == len(r2) == 25
    assert {(r["conv_id"], r["turn_idx"]) for r in r1}.isdisjoint(
        {(r["conv_id"], r["turn_idx"]) for r in r2}
    )
    # total order: ts desc then conv/turn asc
    keys = [(r["ts"], r["conv_id"], r["turn_idx"]) for r in r1]
    assert keys == sorted(keys, key=lambda t: (-t[0].timestamp(), t[1], t[2]))


def test_thread_sizes_and_reply_counts(tdf):
    ts = {r["conv_id"]: r["thread_size"] for r in R.thread_sizes(tdf).collect()}
    rc = R.reply_counts(tdf).where(F.col("turn_idx") == 0).collect()
    for r in rc[:50]:
        assert r["reply_count"] == ts[r["conv_id"]] - 1


def test_previews_by_tag_ordering(tdf, tags_sdf):
    rows = R.previews_by_tag(tdf, tags_sdf, "alpha").collect()
    assert rows
    ts = [r["max_ts"] for r in rows]
    assert ts == sorted(ts, reverse=True)


def test_with_tag_list(tdf, tags_sdf):
    out = R.with_tag_list(tdf, tags_sdf)
    tagged = out.where(F.col("tags") != "").count()
    assert tagged == R.count_tagged(tdf, tags_sdf)


def test_mutations_hide_delete_audit(spark, tdf):
    with tempfile.TemporaryDirectory() as d:
        log = R.MutationLog(d)
        cur = log.hide_where(spark, tdf, FL.text_like_filter("qojema"), "hide qojema")
        hidden = cur.where(F.col("hidden")).count()
        assert hidden > 0
        cur2 = log.delete_hidden(spark, tdf)
        assert cur2.count() == tdf.count() - hidden
        hist = log.history(spark).collect()
        assert len(hist) == 2 and hist[0]["description"] == "delete hidden"
        assert hist[1]["affected_count"] == hidden


def test_exports_csv_txt(spark, tdf):
    sample = tdf.limit(50)
    with tempfile.TemporaryDirectory() as d:
        R.export_csv(sample.select("conv_id", "turn_idx", "role"), os.path.join(d, "csv"))
        assert glob.glob(os.path.join(d, "csv", "*.csv"))
        back = spark.read.option("header", True).csv(os.path.join(d, "csv"))
        assert back.count() == 50
        R.export_txt(sample, os.path.join(d, "txt"))
        txt = spark.read.text(os.path.join(d, "txt"))
        assert txt.count() == 50
        R.export_parquet(sample, os.path.join(d, "pq"))
        assert spark.read.parquet(os.path.join(d, "pq")).count() == 50
        R.export_jsonl(sample, os.path.join(d, "jl"))
        # round-trips through the jsonl transcript source
        from emailindexer_spark.sources.transcripts import load_transcripts

        back_jl = load_transcripts(spark, os.path.join(d, "jl"), format="jsonl")
        assert back_jl.count() == 50
