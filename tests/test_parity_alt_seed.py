"""Second-seed end-to-end parity: a different corpus (different vocab,
sizes, skew realization) through build → search vs the oracle, so the
golden suite isn't specific to the seed-42 fixture."""

import shutil
import tempfile

import pytest

from emailindexer_spark.oracle import build_oracle_index, search as osearch
from emailindexer_spark.plans.builder import IndexBuilder
from emailindexer_spark.plans.planner import SearchEngine
from emailindexer_spark.sources.fixtures import make_transcripts, reference_queries


@pytest.mark.slow
def test_alt_seed_parity(spark):
    pdf = make_transcripts(1500, seed=1234)
    d = tempfile.mkdtemp(prefix="ix_alt_")
    try:
        IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=400, split_target=300).build(
            spark.createDataFrame(pdf)
        )
        eng = SearchEngine(spark, d)
        ix = build_oracle_index(
            list(pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
        )
        qs = reference_queries(pdf)
        # a representative slice incl. flat OR, boolean, phrase, collapse
        keep = {"q_rare", "q_or3", "q_and", "q_not", "q_phrase", "q_conv", "q_prefix"}
        ran = 0
        for q in qs:
            if q["query_id"] not in keep:
                continue
            ran += 1
            exp = osearch(ix, q["query"], k=q["k"], mode=q["mode"])
            got = [
                (r["doc_id"], r["score"])
                for r in eng.search(q["query"], k=q["k"], mode=q["mode"]).collect()
            ]
            assert [x[0] for x in got] == [x[0] for x in exp], q["query_id"]
            for (_, a), (_, b) in zip(got, exp):
                assert abs(a - b) <= 1e-4 * max(1.0, abs(b)), q["query_id"]
        assert ran == len(keep)
    finally:
        shutil.rmtree(d, ignore_errors=True)
