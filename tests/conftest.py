import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line("markers", "spark: runs jobs on the session's local Spark")
    config.addinivalue_line("markers", "slow: runs a spark-submit job of its own")


@pytest.fixture(scope="session")
def spark():
    from koncorde_spark.spark import get_spark

    s = get_spark(app_name="koncorde-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus_pdf():
    from koncorde_spark.sources import synthetic_corpus_pandas

    return synthetic_corpus_pandas(n_rows=300, seed=42)


@pytest.fixture(scope="session")
def bm25_index_dir(spark, small_corpus_pdf, tmp_path_factory):
    """Build a small index once for the whole session."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index

    out = str(tmp_path_factory.mktemp("bm25idx"))
    corpus = spark.createDataFrame(small_corpus_pdf).repartition(4)
    build_index(spark, corpus, out, IndexConfig(n_shards=4))
    return out


@pytest.fixture(scope="session")
def bm25_pos_index_dir(spark, small_corpus_pdf, tmp_path_factory):
    """Positional twin of bm25_index_dir (same corpus, positions=True)."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index

    out = str(tmp_path_factory.mktemp("bm25posidx"))
    corpus = spark.createDataFrame(small_corpus_pdf).repartition(4)
    build_index(spark, corpus, out, IndexConfig(n_shards=4, positions=True))
    return out
