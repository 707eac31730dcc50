"""Undersized-buckets fallback: full sort parallelism, identical postings.

When num_buckets < shuffle_partitions, whole-bucket placement would cap
the posting-sort stage at num_buckets tasks. sorted_posting_rows falls
back to explode-first + (bucket, term) hash partitioning: every group
still lands wholly in one partition (blobs stay byte-identical to the
whole-bucket plan), but all partitions carry work.
"""

import pyspark.sql.functions as F
import pytest

from search_engine_spark.config import EngineConfig


@pytest.fixture(scope="module")
def spark():
    from search_engine_spark.session import get_spark

    s = get_spark("test-bucket-fallback", master="local[4]",
                  config=EngineConfig(num_buckets=8, shuffle_partitions=32))
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    import pyarrow.parquet as pq

    from search_engine_spark.sources.fixtures import generate_web_pages

    p = str(tmp_path_factory.mktemp("corpus") / "pages.parquet")
    pq.write_table(generate_web_pages(400), p)
    return p


def test_fallback_uses_more_partitions_than_buckets(spark, corpus):
    from search_engine_spark.operators.index_build import sorted_posting_rows
    from search_engine_spark.operators.parse import parse_corpus

    cfg = EngineConfig(num_buckets=8, shuffle_partitions=32)
    rows = sorted_posting_rows(parse_corpus(spark.read.parquet(corpus), cfg),
                               cfg)
    per_part = (
        rows.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    assert len(per_part) > 8, f"only {len(per_part)} non-empty partitions"
    # and every (bucket, term) group is wholly in one partition
    split_groups = (
        rows.withColumn("pid", F.spark_partition_id())
        .groupBy("bucket", "term")
        .agg(F.countDistinct("pid").alias("p"))
        .filter(F.col("p") > 1)
        .count()
    )
    assert split_groups == 0


def test_fallback_postings_byte_identical(spark, corpus, tmp_path):
    from search_engine_spark.operators.index_build import build_index

    rows = {}
    for nb, sp in ((8, 32), (8, 8)):
        cfg = EngineConfig(num_buckets=nb, shuffle_partitions=sp)
        idx = str(tmp_path / f"idx_{nb}_{sp}")
        build_index(spark, spark.read.parquet(corpus), idx, cfg,
                    resume_batches=1)
        rows[(nb, sp)] = sorted(
            (r.bucket, r.term, r.local_df, bytes(r.blob))
            for r in spark.read.parquet(f"{idx}/postings").collect()
        )
    assert rows[(8, 32)] == rows[(8, 8)]
