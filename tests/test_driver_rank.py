"""Driver-side ranking keeps the tie-break of a Spark window rank.

``search_batch`` prunes each query's per-bucket candidates to its global
top-k (``_global_topk``) and ranks them on the driver (``_rank``). These
hand-built candidates tie at the kth score across two buckets; the driver
must return what a ``row_number`` window over (score desc, warc_ts desc,
url desc) returns over ALL candidates — Spark's ``desc`` puts a null
``warc_ts`` last.
"""

from datetime import datetime, timezone

import numpy as np
import pytest


def _frames(rows):
    """rows: (qid, bucket, doc_id, score, url, warc_ts, glove_vec) →
    (scored candidates, doc rows with warc_ts as epoch µs)."""
    def micros(ts):
        return None if ts is None else int(ts.replace(
            tzinfo=timezone.utc).timestamp()) * 1_000_000

    return ([r[:4] for r in rows],
            [(r[2], r[4], micros(r[5]), r[6]) for r in rows])


def _window_rank(spark, rows, k, w_glove=0.0, qvecs=None):
    """The ranking ``search_batch`` did before: every candidate joined to
    its doc row, the embedding cosine added, then a ``row_number`` window."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    data = []
    for qid, _bucket, _doc, score, url, ts, vec in rows:
        cos = 0.0
        if qvecs is not None:
            qv, dv = qvecs[qid], np.asarray(vec, np.float64)
            num = float(dv @ qv)
            den = float(np.linalg.norm(dv) * np.linalg.norm(qv))
            cos = num / den if den != 0 and num != 0 else 0.0
        data.append((qid, url, ts, score, cos))
    df = spark.createDataFrame(
        data, "qid long, url string, warc_ts timestamp, score double, "
              "cos double")
    w = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.desc("warc_ts"), F.desc("url"))
    return sorted(
        (r["qid"], r["rank"], r["url"], r["score"])
        for r in df.withColumn("score", F.col("score") + w_glove * F.col("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    )


def _driver_rank(rows, k, w_glove=0.0, qvecs=None):
    from search_engine_spark.operators.search import _global_topk, _rank

    scored, docs = _frames(rows)
    margin = 2.0 * abs(w_glove) if qvecs is not None else 0.0
    got = _rank(_global_topk(scored, k, margin), docs, k, w_glove, qvecs)
    return [(q, r, u, s) for q, r, u, s, _ts in got]


D1, D2, D3 = datetime(2020, 1, 1), datetime(2020, 1, 2), datetime(2020, 1, 3)
V0 = [0.0, 0.0]

#: qid 0: five docs tie at the kth (3rd) score 3.0 across both buckets;
#: warc_ts and then url break the tie, and the null warc_ts ranks last.
#: qid 1: every tie has a null warc_ts, so url alone decides.
#: qid 2: fewer than k candidates.
TIES = [
    (0, 0, 1, 5.0, "u/a", D2, V0),
    (0, 0, 2, 3.0, "u/b", D1, V0),
    (0, 0, 3, 3.0, "u/z", None, V0),
    (0, 1, 4, 3.0, "u/c", D1, V0),
    (0, 1, 5, 3.0, "u/a2", D3, V0),
    (0, 1, 6, 3.0, "u/y", D1, V0),
    (0, 1, 7, 1.0, "u/zz", D3, V0),
    (1, 0, 11, 2.0, "v/a", None, V0),
    (1, 1, 12, 2.0, "v/c", None, V0),
    (1, 0, 13, 2.0, "v/b", None, V0),
    (1, 1, 14, 2.0, "v/d", D1, V0),
    (2, 1, 21, 0.5, "w/a", None, V0),
]


@pytest.mark.parametrize("k", [1, 2, 3, 4, 6])
def test_ties_across_buckets_rank_as_window(spark, k):
    got = _driver_rank(TIES, k)
    assert got == _window_rank(spark, TIES, k)
    if k == 3:
        assert [u for q, _, u, _ in got if q == 0] == ["u/a", "u/a2", "u/y"]
        assert [u for q, _, u, _ in got if q == 1] == ["v/d", "v/c", "v/b"]


#: w_glove = 0.5, so the margin is 1.0 below the kth (2nd) partial score
#: 3.0. Doc 33 sits exactly at the margin (2.0): its cosine +1 lifts it to
#: 2.5, tying doc 32 (3.0, cosine −1), and its later warc_ts wins the tie.
#: Doc 34 sits just below the margin and is pruned; it could not rank.
#: Doc 35 (null warc_ts) ties at 2.5 too and ranks after both.
QV = {0: np.array([1.0, 0.0])}
GLOVE = [
    (0, 0, 31, 4.0, "g/a", D1, [0.0, 1.0]),
    (0, 1, 32, 3.0, "g/b", D1, [-1.0, 0.0]),
    (0, 1, 33, 2.0, "g/c", D2, [2.0, 0.0]),
    (0, 0, 34, 1.999, "g/d", D3, [1.0, 0.0]),
    (0, 0, 35, 3.0, "g/e", None, [-3.0, 0.0]),
]


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_glove_margin_tie_ranks_as_window(spark, k):
    from search_engine_spark.operators.search import _global_topk

    got = _driver_rank(GLOVE, k, w_glove=0.5, qvecs=QV)
    assert got == _window_rank(spark, GLOVE, k, w_glove=0.5, qvecs=QV)
    if k == 3:
        assert [u for _, _, u, _ in got] == ["g/a", "g/c", "g/b"]
        kept = _global_topk(_frames(GLOVE)[0], 2, 1.0)
        assert sorted(r[2] for r in kept) == [31, 32, 33, 35]
