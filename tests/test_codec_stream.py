"""Streaming group encoder: batch-boundary carry + layout invariants.

encode_sorted_postings walks Arrow batches of range-partitioned sorted
posting rows; a (bucket, term) group larger than one Arrow batch
(spark.sql.execution.arrow.maxRecordsPerBatch = 10,000 in the session)
must be carried across batch boundaries and emitted once. These tests
force that path with a 25k-posting hot term.
"""

import numpy as np
import pytest

from search_engine_spark.config import EngineConfig


@pytest.fixture(scope="module")
def encoded(spark):
    from search_engine_spark.operators.codec import encode_sorted_postings

    cfg = EngineConfig(block_size=128, shuffle_partitions=4)
    rows = []
    # hot term: 25,000 postings in bucket 0 (spans 3 Arrow batches)
    for d in range(25_000):
        rows.append((0, "hot", d * 3, 50 + d % 100, 1 + d % 7))
    # several small terms across buckets, including a 1-posting group
    for b in range(2):
        for t in ("alpha", "beta", "gamma"):
            for d in range(5):
                rows.append((b, t, d * 11 + b, 40, 2))
    rows.append((1, "zz_single", 999, 10, 1))

    df = spark.createDataFrame(
        rows, "bucket int, term string, doc_id long, doc_length int, tf int"
    )
    sorted_rows = df.repartitionByRange(
        cfg.shuffle_partitions, "bucket", "term"
    ).sortWithinPartitions("bucket", "term", "doc_id")
    out = encode_sorted_postings(sorted_rows, cfg).collect()
    return {(r["bucket"], r["term"]): r for r in out}, out


def test_one_row_per_group(encoded):
    by_key, out = encoded
    assert len(out) == len(by_key) == 2 * 3 + 2  # 6 small + hot + zz_single


def test_hot_group_carried_across_batches(encoded):
    from search_engine_spark.operators.codec import decode_blobs

    by_key, _ = encoded
    r = by_key[(0, "hot")]
    assert r["local_df"] == 25_000
    blob = bytes(r["blob"])
    ids, dls, tfs, _ = decode_blobs([blob])
    assert len(ids) == 25_000
    assert (ids == np.arange(25_000) * 3).all()
    assert (tfs == 1 + np.arange(25_000) % 7).all()
    # header word 2: the block count
    assert np.frombuffer(blob[8:12], "<u4")[0] == (25_000 + 127) // 128


def test_single_posting_group(encoded):
    from search_engine_spark.operators.codec import decode_blobs

    by_key, _ = encoded
    r = by_key[(1, "zz_single")]
    assert r["local_df"] == 1
    ids, dls, tfs, _ = decode_blobs([bytes(r["blob"])])
    assert list(ids) == [999] and list(dls) == [10] and list(tfs) == [1]
