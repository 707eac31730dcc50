"""Block-max WAND: rank-identity vs exhaustive scoring + real pruning.

The north_star requires query-side block-max WAND over the compressed
postings. BMW is only score-safe for decomposable ranking, i.e. the
pure-BM25 mode (w_cosine = w_glove = 0); these tests assert that

1. on the fixture corpus, the BMW path returns the same (rank, url,
   score) lists as the exhaustive path for every fixture query, scores
   bit for bit;
2. on an adversarial synthetic shard (one hot + one rare term), BMW decodes
   a small fraction of the blocks while producing the exact exhaustive
   top-k.
"""

import math

import numpy as np
import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.sources.fixtures import FIXTURE_QUERIES

PURE_BM25 = dict(w_cosine=0.0, w_bm25=1.0, w_glove=0.0)


@pytest.fixture(scope="module")
def bm25_index(spark, tiny_corpus_path, tmp_path_factory):
    from search_engine_spark.operators.index_build import build_index

    index_path = str(tmp_path_factory.mktemp("index") / "wand")
    pages = spark.read.parquet(tiny_corpus_path)
    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8, **PURE_BM25)
    build_index(spark, pages, index_path, cfg)
    return index_path, cfg


def _collect(df):
    got = {}
    for r in df.collect():
        got.setdefault(r["qid"], []).append(
            (r["rank"], r["url"], r["score"])
        )
    for qid in got:
        got[qid].sort()
    return got


def test_wand_rank_identity(spark, bm25_index):
    from search_engine_spark.operators.search import BM25SearchEngine

    index_path, cfg = bm25_index
    engine = BM25SearchEngine(spark, index_path, cfg)
    exhaustive = _collect(engine.search_batch(FIXTURE_QUERIES, k=10, use_wand=False))
    wand = _collect(engine.search_batch(FIXTURE_QUERIES, k=10, use_wand=True))
    assert wand == exhaustive


def test_wand_auto_enabled_in_pure_bm25_mode(spark, bm25_index):
    from search_engine_spark.operators.search import BM25SearchEngine

    index_path, cfg = bm25_index
    engine = BM25SearchEngine(spark, index_path, cfg)
    auto = _collect(engine.search_batch(FIXTURE_QUERIES[:5], k=10))
    wand = _collect(engine.search_batch(FIXTURE_QUERIES[:5], k=10, use_wand=True))
    assert auto == wand


def _make_qmeta(terms_df: dict, n_docs: int, tokens: list,
                cfg: EngineConfig) -> dict:
    n = len(tokens)
    positions = {}
    for i, t in enumerate(tokens):
        positions.setdefault(t, []).append(i)
    idf_row = np.zeros(n)
    q_row0 = np.zeros(n)
    for t, pos in positions.items():
        idf = math.log10(n_docs / terms_df[t]) if t in terms_df else 0.0
        for p in pos:
            idf_row[p] = idf
            q_row0[p] = len(pos) / n
    return {
        "n": n,
        "threshold": int(n * cfg.min_match_ratio),
        "positions": positions,
        "idf_row": idf_row,
        "q_row0": q_row0,
        "terms": sorted(positions),
        "tokens": tokens,
    }


def test_wand_prunes_hot_term_blocks():
    """Hot term (10k docs) + rare term (50 docs), k=10: the rare-matching
    docs dominate the top-k, so most hot-term blocks must never decode."""
    from search_engine_spark.operators.codec import encode_posting_list
    from search_engine_spark.operators.wand import bmw_score_lists, score_decoded

    cfg = EngineConfig(block_size=128, **PURE_BM25)
    rng = np.random.RandomState(1234)
    n_docs, avg_dl = 20_000, 100.0

    hot_ids = np.arange(0, 10_000, dtype=np.int64)
    hot_dl = rng.randint(50, 200, size=len(hot_ids)).astype(np.int64)
    hot_tf = rng.randint(1, 4, size=len(hot_ids)).astype(np.int64)

    rare_ids = np.sort(rng.choice(10_000, size=50, replace=False)).astype(np.int64)
    take = np.searchsorted(hot_ids, rare_ids)
    rare_dl = hot_dl[take]
    rare_tf = rng.randint(1, 6, size=50).astype(np.int64)

    df = {"hot": len(hot_ids), "rare": len(rare_ids)}
    idf = {t: math.log10(n_docs / d) for t, d in df.items()}
    blobs, lasts, maxes = {}, {}, {}
    for t, ids, dls, tfs in [
        ("hot", hot_ids, hot_dl, hot_tf),
        ("rare", rare_ids, rare_dl, rare_tf),
    ]:
        # the index stores block_max idf-free; WAND multiplies idf in
        blob, last, bmax = encode_posting_list(
            ids, dls, tfs, cfg.block_size, avg_dl, cfg.bm25_k, cfg.bm25_b
        )
        blobs[t], lasts[t], maxes[t] = blob, last, bmax

    qmeta = _make_qmeta(df, n_docs, ["hot", "rare"], cfg)
    k = 10
    cand, score, matched, stats = bmw_score_lists(
        ["hot", "rare"], [blobs["hot"], blobs["rare"]],
        [lasts["hot"], lasts["rare"]], [maxes["hot"], maxes["rare"]],
        qmeta, avg_dl, cfg, k,
    )

    # exact vs exhaustive on the top-k (ties kept on both sides)
    e_cand, e_score, _e_matched = score_decoded(
        [hot_ids, rare_ids], [hot_dl, rare_dl], [hot_tf, rare_tf],
        ["hot", "rare"], qmeta, avg_dl, cfg,
    )
    e_kth = np.partition(e_score, -k)[-k]
    expected = {
        (int(c), round(float(s), 12))
        for c, s in zip(e_cand[e_score >= e_kth], e_score[e_score >= e_kth])
    }
    kth = np.partition(score, -k)[-k]
    got = {
        (int(c), round(float(s), 12))
        for c, s in zip(cand[score >= kth], score[score >= kth])
    }
    assert got == expected
    assert stats["decoded_blocks"] < 0.5 * stats["total_blocks"], stats


def test_shared_cache_dedups_block_decodes():
    """Two queries sharing the hot term must not decode its blocks twice
    when scored through a shared _ListCache (the multi-query batch path)."""
    from search_engine_spark.operators.codec import encode_posting_list
    from search_engine_spark.operators.wand import _ListCache, bmw_score_lists

    cfg = EngineConfig(block_size=64, **PURE_BM25)
    rng = np.random.RandomState(7)
    n_docs, avg_dl = 5000, 80.0
    ids = np.arange(0, 3000, dtype=np.int64)
    dls = rng.randint(40, 160, size=len(ids)).astype(np.int64)
    tfs = rng.randint(1, 5, size=len(ids)).astype(np.int64)
    blob, last, bmax = encode_posting_list(
        ids, dls, tfs, cfg.block_size, avg_dl, cfg.bm25_k, cfg.bm25_b
    )
    df = {"hot": len(ids)}
    shared = _ListCache([blob], [last])
    for tokens in (["hot"], ["hot", "hot"]):
        qmeta = _make_qmeta(df, n_docs, tokens, cfg)
        cand, score, matched, stats = bmw_score_lists(
            ["hot"], [blob], [last], [bmax], qmeta, avg_dl, cfg, 5,
            cache=shared, cache_rows=[0],
        )
        assert len(cand) >= 5
    n_blocks = len(last)
    # both queries decode everything (single-list → no pruning), but the
    # shared cache holds each block once
    assert shared.decoded_blocks <= n_blocks


@pytest.mark.parametrize("seed", range(6))
def test_bmw_scores_bit_identical_to_exhaustive(seed):
    """On random lists, bmw_score_lists returns exactly the tie-keeping
    top-k of score_decoded: the same doc set, bit-identical scores and
    match counts. Small tf/dl ranges make exact score ties common, and a
    repeated query term weighs one list twice."""
    from search_engine_spark.operators.codec import encode_posting_list
    from search_engine_spark.operators.wand import bmw_score_lists, score_decoded

    cfg = EngineConfig(block_size=16, **PURE_BM25)
    rng = np.random.RandomState(seed)
    n_docs, avg_dl = 3000, 97.3
    doc_dl = rng.choice([40, 70, 100, 130], size=n_docs).astype(np.int64)
    terms = ["t0", "t1", "t2", "t3", "t4"]
    lists = {}
    for t, df in zip(terms, (900, 400, 250, 120, 60)):
        ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(
            np.int64)
        lists[t] = (ids, doc_dl[ids], rng.randint(1, 4, size=df).astype(
            np.int64))
    tokens = ["t0", "t1", "t2", "t1", "t3", "t4"]
    qmeta = _make_qmeta({t: len(v[0]) for t, v in lists.items()}, n_docs,
                        tokens, cfg)
    enc = {t: encode_posting_list(ids, dls, tfs, cfg.block_size, avg_dl,
                                  cfg.bm25_k, cfg.bm25_b)
           for t, (ids, dls, tfs) in lists.items()}

    e_cand, e_score, e_matched = score_decoded(
        [lists[t][0] for t in terms], [lists[t][1] for t in terms],
        [lists[t][2] for t in terms], terms, qmeta, avg_dl, cfg,
    )
    for k in (1, 5, 10, 40):
        kth = np.partition(e_score, -k)[-k]
        top = e_score >= kth
        expected = set(zip(e_cand[top].tolist(), e_score[top].tolist(),
                           e_matched[top].tolist()))
        cand, score, matched, _ = bmw_score_lists(
            terms, [enc[t][0] for t in terms], [enc[t][1] for t in terms],
            [enc[t][2] for t in terms], qmeta, avg_dl, cfg, k,
        )
        got = set(zip(cand.tolist(), score.tolist(), matched.tolist()))
        assert got == expected, (k, sorted(got ^ expected)[:6])
