"""Sample-trained IVF quantizer (VERDICT r4 Next-round #5).

At 100 TB the coarse quantizer trains on a bounded deterministic sample
(vec_id stride) while cell ASSIGNMENT covers the full table. These tests
force a small ``max_train`` so the sampled path actually runs at fixture
scale, and cross-check the full pipeline against the DuckDB replay, which
derives the same stride from the table's row count.
"""

import duckdb
import pyspark.sql.functions as F

from search_engine_spark.pipelines.similarity import (
    _assign_cells, _centroid_df, _train_kmeans, _train_stride,
    sim_ivf_kmeans_topk, sql_sim_ivf_kmeans_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def test_train_stride_bounds():
    assert _train_stride(500, 100) == 5
    assert _train_stride(500, 500) == 1
    assert _train_stride(500, 1000) == 1
    assert _train_stride(10**12, 65_536) == -(-10**12 // 65_536)
    # the resulting sample size is always <= max_train
    for n, cap in [(500, 100), (999, 100), (1001, 100), (12345, 64)]:
        s = _train_stride(n, cap)
        assert -(-n // s) <= cap + 1  # stride sampling: ceil(n/s) rows


def test_sampled_training_bounded_assignment_full(spark):
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    n = emb.count()
    stride = _train_stride(n, 100)
    assert stride > 1  # the sampled path actually runs
    train_rows = emb.filter(F.col("vec_id") % stride == 0).count()
    assert train_rows <= 100

    cents = _train_kmeans(spark, emb, dim=64, max_train=100)
    members = _assign_cells(emb, _centroid_df(spark, cents))
    assert members.count() == n  # assignment covers ALL vectors


def test_sampled_ivf_matches_duckdb_replay(spark):
    sdf = sim_ivf_kmeans_topk(spark, SF_DIR, max_train=100)
    got = sorted(
        (r.probe_id, r.rank, r.vec_id, round(r.cosine, 6))
        for r in sdf.collect()
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS "
            f"SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    want = sorted(
        (r[0], r[1], r[2], round(r[3], 6))
        for r in con.sql(sql_sim_ivf_kmeans_topk(max_train=100)).fetchall()
    )
    assert got == want and len(got) > 0
