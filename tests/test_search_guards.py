"""Guard rails on the search engine's configuration seams."""

import pytest

from search_engine_spark.config import EngineConfig


@pytest.fixture(scope="module")
def plain_index(spark, tiny_corpus_path, tmp_path_factory):
    from search_engine_spark.operators.index_build import build_index

    index_path = str(tmp_path_factory.mktemp("guards") / "idx")
    cfg = EngineConfig(num_buckets=2, shuffle_partitions=4)
    build_index(spark, spark.read.parquet(tiny_corpus_path), index_path, cfg,
                resume_batches=1)
    return index_path


def test_glove_config_against_plain_index_rejected(spark, plain_index, tmp_path):
    from search_engine_spark.functions.glove import fixture_glove, save_glove
    from search_engine_spark.operators.search import BM25SearchEngine

    gp = str(tmp_path / "g.txt")
    save_glove(gp, fixture_glove(["term0001"]))
    with pytest.raises(ValueError, match="without doc vectors"):
        BM25SearchEngine(spark, plain_index, EngineConfig(glove_path=gp))
