"""docID assignment: the staging kernel's doc ids are the dense rank over
(conv_id, turn_idx), in one shard or many, for any input partitioning
(FIXTURES.md §6.2)."""

import os

import pandas as pd
import pytest

from emailindexer_spark.operators.docid import validate_transcripts
from emailindexer_spark.plans.builder import IndexBuilder


@pytest.fixture(scope="module")
def small(corpus_pdf):
    return corpus_pdf.head(1200)


def _ids(spark, d):
    return {
        (r["conv_id"], r["turn_idx"]): r["doc_id"]
        for r in spark.read.parquet(os.path.join(d, "doc_index"))
        .select("conv_id", "turn_idx", "doc_id")
        .collect()
    }


def _rank(pdf):
    keys = sorted(pdf[["conv_id", "turn_idx"]].itertuples(index=False, name=None))
    return {k: i for i, k in enumerate(keys)}


def _build(spark, d, sdf):
    """A sharded build (a createDataFrame input is never bare parquet)."""
    IndexBuilder(spark, str(d), num_parts=4).build(sdf)
    return len(os.listdir(os.path.join(d, "doc_index")))


def test_sharded_ids_equal_the_rank(spark, tmp_path, small):
    assert _build(spark, tmp_path / "ix", spark.createDataFrame(small)) > 1
    assert _ids(spark, tmp_path / "ix") == _rank(small)


@pytest.mark.parametrize("nparts", [2, 8, 32])
def test_invariant_to_partitioning(spark, tmp_path, small, nparts):
    _build(spark, tmp_path / "ix", spark.createDataFrame(small.sample(frac=1, random_state=nparts)).repartition(nparts))
    assert _ids(spark, tmp_path / "ix") == _rank(small)


def test_dense_zero_based(spark, tmp_path, small):
    _build(spark, tmp_path / "ix", spark.createDataFrame(small))
    assert sorted(_ids(spark, tmp_path / "ix").values()) == list(range(len(small)))


def test_partial_conversations_no_collisions(spark, tmp_path, small):
    # a streaming batch may hold only turns 5..9 of a conversation;
    # doc_ids must stay dense and unique (rank within conv, not turn_idx)
    proto = small.iloc[0]
    pdf = pd.DataFrame(
        [proto.to_dict() | {"conv_id": "c1", "turn_idx": i} for i in range(5, 10)]
        + [proto.to_dict() | {"conv_id": "c2", "turn_idx": i} for i in range(3)]
    )
    _build(spark, tmp_path / "ix", spark.createDataFrame(pdf))
    got = _ids(spark, tmp_path / "ix")
    assert sorted(got.values()) == list(range(8))
    assert got[("c1", 5)] == 0 and got[("c1", 9)] == 4 and got[("c2", 0)] == 5


def test_validate_rejects_sparse_turns(spark):
    bad = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 2, "y")], "conv_id string, turn_idx int, text string"
    )
    with pytest.raises(ValueError):
        validate_transcripts(bad)
    ok = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 1, "y")], "conv_id string, turn_idx int, text string"
    )
    validate_transcripts(ok)


def test_many_shards_match_one_shard(spark, monkeypatch, tmp_path, small):
    # one shard per ~100 turns (the cap bounds a shard) against the
    # driver build's single kernel call over the same rows
    import emailindexer_spark.plans.builder as B

    src = str(tmp_path / "t.parquet")
    small.to_parquet(src, index=False)
    IndexBuilder(spark, str(tmp_path / "one"), num_parts=4).build(spark.read.parquet(src))
    assert len(os.listdir(tmp_path / "one" / "doc_index")) == 1
    monkeypatch.setattr(B, "DRIVER_MAX_TURNS", 100)
    assert _build(spark, tmp_path / "many", spark.read.parquet(src)) >= len(small) // 100
    assert _ids(spark, tmp_path / "many") == _ids(spark, tmp_path / "one") == _rank(small)
