import shutil
import tempfile

import pytest

from emailindexer_spark import get_spark
from emailindexer_spark.sources.fixtures import make_transcripts


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)``: the Spark job ids started while ``fn`` runs."""
    sc = spark.sparkContext

    def jobs(fn):
        sc.setJobGroup("job_probe", "job_probe")
        try:
            fn()
            return list(sc.statusTracker().getJobIdsForGroup("job_probe"))
        finally:
            sc.setJobGroup(None, None)

    return jobs


@pytest.fixture(scope="session")
def corpus_pdf():
    return make_transcripts(3000, seed=42)


@pytest.fixture(scope="session")
def corpus_sdf(spark, corpus_pdf):
    return spark.createDataFrame(corpus_pdf)


@pytest.fixture(scope="session")
def index_dir(spark, corpus_sdf):
    """One shared built index (heavy thresholds low → skew path exercised)."""
    from emailindexer_spark.plans.builder import IndexBuilder

    d = tempfile.mkdtemp(prefix="ix_shared_")
    IndexBuilder(
        spark, d, num_parts=8, heavy_df_threshold=500, split_target=400
    ).build(corpus_sdf)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def oracle_ix(corpus_pdf):
    from emailindexer_spark.oracle import build_oracle_index

    return build_oracle_index(
        list(corpus_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    )
