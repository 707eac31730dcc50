"""End-to-end rank-identity: Spark engine vs single-process oracle.

Builds the index over the sf-tiny fixture corpus with both engines and
asserts, for the 25-query fixture set (FIXTURES.md §2), that top-10
(url, score) lists are rank-identical (ranks exact, scores to 1e-9 — the
north_rule correctness gate).
"""

import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.sources.fixtures import FIXTURE_QUERIES


@pytest.fixture(scope="module")
def built_index(spark, tiny_corpus_path, tmp_path_factory):
    from search_engine_spark.operators.index_build import build_index

    index_path = str(tmp_path_factory.mktemp("index") / "tiny")
    pages = spark.read.parquet(tiny_corpus_path)
    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    metrics = build_index(spark, pages, index_path, cfg)
    return index_path, cfg, metrics


@pytest.fixture(scope="module")
def oracle(tiny_corpus_rows):
    from tests.oracle import build_oracle

    return build_oracle(tiny_corpus_rows)


def test_corpus_stats_parity(spark, built_index, oracle):
    index_path, cfg, metrics = built_index
    from search_engine_spark.sources.catalog import CatalogAdapter

    stats = CatalogAdapter(index_path).read_table(spark, "corpus_stats").collect()[0]
    assert stats["n_docs"] == oracle.n_docs
    assert stats["avg_doc_length"] == pytest.approx(oracle.avg_dl, abs=1e-12)


def test_vocabulary_parity(spark, built_index, oracle):
    index_path, cfg, _ = built_index
    from search_engine_spark.sources.catalog import CatalogAdapter

    rows = CatalogAdapter(index_path).read_table(spark, "term_stats").collect()
    spark_vocab = {r["term"]: r["df"] for r in rows}
    assert spark_vocab == oracle.inverted_idx


def test_pruning_quirks(spark, built_index, oracle):
    index_path, cfg, _ = built_index
    from search_engine_spark.sources.catalog import CatalogAdapter

    vocab = {
        r["term"]
        for r in CatalogAdapter(index_path).read_table(spark, "term_stats").collect()
    }
    assert "atlantis" not in vocab             # M5 df==1 prune (single doc)
    # M7: always-capitalized 'Nasdaq' stored uppercased → lowercase missing
    assert "NASDAQ" in vocab and "nasdaq" not in vocab


def _rank_mismatches(engine, oracle, k=10):
    """Top-k of every fixture query, engine vs oracle: ranks and urls
    exact, scores to 1e-9. Returns (mismatches, non-empty answers)."""
    result = engine.search_batch(FIXTURE_QUERIES, k=k).collect()
    got = {}
    for r in result:
        got.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    for qid in got:
        got[qid].sort()

    n_nonempty = 0
    mismatches = []
    for qid, text in FIXTURE_QUERIES:
        expected = oracle.search(text, k=k)
        actual = got.get(qid, [])
        n_nonempty += bool(expected)
        if len(expected) != len(actual):
            mismatches.append((qid, "len", len(expected), len(actual)))
            continue
        for (er, eu, es, _ets), (ar, au, asc) in zip(expected, actual):
            if er != ar or eu != au or abs(es - asc) > 1e-9:
                mismatches.append((qid, er, (eu, es), (au, asc)))
    return mismatches, n_nonempty


def test_rank_identity(spark, built_index, oracle):
    from search_engine_spark.operators.search import BM25SearchEngine

    index_path, cfg, _ = built_index
    engine = BM25SearchEngine(spark, index_path, cfg)
    mismatches, _ = _rank_mismatches(engine, oracle)
    assert not mismatches, f"rank-identity failures: {mismatches[:10]}"


def test_pure_bm25_rank_identity(spark, built_index, tiny_corpus_rows):
    """Pure-BM25 ranking (w_cosine = w_glove = 0), engine in auto mode —
    which scores with block-max WAND — against the oracle."""
    from search_engine_spark.operators.search import BM25SearchEngine
    from tests.oracle import build_oracle

    index_path, cfg, _ = built_index
    bm25_cfg = EngineConfig(
        num_buckets=cfg.num_buckets, shuffle_partitions=cfg.shuffle_partitions,
        w_cosine=0.0, w_bm25=1.0, w_glove=0.0,
    )
    oracle = build_oracle(tiny_corpus_rows, config=bm25_cfg)
    engine = BM25SearchEngine(spark, index_path, bm25_cfg)
    mismatches, n_nonempty = _rank_mismatches(engine, oracle)
    assert not mismatches, f"pure-BM25 rank-identity failures: {mismatches[:10]}"
    assert n_nonempty > 0


def test_unknown_term_empty(spark, built_index):
    from search_engine_spark.operators.search import BM25SearchEngine

    index_path, cfg, _ = built_index
    engine = BM25SearchEngine(spark, index_path, cfg)
    assert engine.search("qqqqunknownterm", k=5).count() == 0


# --- stemmed mode (P18): end-to-end rank identity + format guards -----------

@pytest.fixture(scope="module")
def built_index_stemmed(spark, tiny_corpus_path, tmp_path_factory):
    from search_engine_spark.operators.index_build import build_index

    index_path = str(tmp_path_factory.mktemp("index") / "tiny_stemmed")
    pages = spark.read.parquet(tiny_corpus_path)
    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8, stemming=True)
    build_index(spark, pages, index_path, cfg)
    return index_path, cfg


def test_stemmed_rank_identity(spark, built_index_stemmed, tiny_corpus_rows):
    from search_engine_spark.operators.search import BM25SearchEngine
    from tests.oracle import build_oracle

    index_path, cfg = built_index_stemmed
    oracle = build_oracle(tiny_corpus_rows, config=cfg)
    engine = BM25SearchEngine(spark, index_path, cfg)
    mismatches, n_nonempty = _rank_mismatches(engine, oracle)
    assert not mismatches, f"stemmed rank-identity failures: {mismatches[:10]}"
    assert n_nonempty > 0, "stemmed gate vacuous: every query returned empty"


def test_stemmed_vocab_differs(spark, built_index, built_index_stemmed):
    """The stemmed index must actually contain stemmed vocabulary."""
    from search_engine_spark.sources.catalog import CatalogAdapter

    plain = {
        r["term"]
        for r in CatalogAdapter(built_index[0]).read_table(spark, "term_stats").collect()
    }
    stemmed = {
        r["term"]
        for r in CatalogAdapter(built_index_stemmed[0])
        .read_table(spark, "term_stats")
        .collect()
    }
    assert plain != stemmed


def test_stemming_mode_mismatch_refused(spark, built_index_stemmed):
    from search_engine_spark.operators.search import BM25SearchEngine

    index_path, _ = built_index_stemmed
    with pytest.raises(ValueError, match="stemming"):
        BM25SearchEngine(spark, index_path, EngineConfig(stemming=False))


def test_legacy_codec_format_disables_wand(spark, built_index, tmp_path):
    """An index without the codec_format stamp (or with an older one) must
    not be scored with block-max WAND (bounds would apply idf twice)."""
    import json
    import shutil

    from search_engine_spark.operators.search import BM25SearchEngine

    index_path, cfg, _ = built_index
    legacy = str(tmp_path / "legacy_index")
    shutil.copytree(index_path, legacy)
    mpath = f"{legacy}/_manifest.json"
    with open(mpath) as f:
        manifest = json.load(f)
    manifest.get("properties", {}).pop("codec_format", None)
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    bm25_cfg = EngineConfig(
        num_buckets=cfg.num_buckets, shuffle_partitions=cfg.shuffle_partitions,
        w_cosine=0.0, w_bm25=1.0, w_glove=0.0,
    )
    engine = BM25SearchEngine(spark, legacy, bm25_cfg)
    assert not engine.wand_capable
    with pytest.raises(ValueError, match="codec_format"):
        engine.search_batch([(0, "term0000 term0003")], k=5, use_wand=True)
    # auto mode silently falls back to exhaustive scoring and still answers
    assert engine.search_batch([(0, "term0000 term0003")], k=5).count() >= 0

    # the freshly built index IS wand-capable
    fresh = BM25SearchEngine(spark, index_path, bm25_cfg)
    assert fresh.wand_capable
