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
    """Pure-BM25 ranking (w_cosine = w_glove = 0) against the oracle."""
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


def _add_legacy_side_columns(postings_dir: str, avg_dl: float,
                             cfg: EngineConfig) -> None:
    """Rewrite every postings file with the per-row side columns an older
    writer stored beside each blob: ``block_last`` (each block's last doc
    id), ``block_max`` (each block's largest idf-free BM25 term factor)
    and ``enc_avgdl`` (the avg_dl those maxima used)."""
    import glob
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.operators.codec import decode_blobs

    k1, b, bs = cfg.bm25_k, cfg.bm25_b, cfg.block_size
    files = glob.glob(f"{postings_dir}/**/*.parquet", recursive=True)
    assert files
    for path in files:
        table = pq.read_table(path)
        lasts, maxes = [], []
        for blob in table.column("blob").to_pylist():
            ids, dls, tfs, _ = decode_blobs([blob])
            tfn = tfs / dls
            factor = tfn * (k1 + 1) / (tfn + k1 * (1 - b + b * dls / avg_dl))
            starts = np.arange(0, len(ids), bs)
            lasts.append(ids[np.minimum(starts + bs, len(ids)) - 1].tolist())
            maxes.append(np.maximum.reduceat(factor, starts).tolist())
        table = (
            table.append_column("block_last", pa.array(lasts,
                                                       pa.list_(pa.int64())))
            .append_column("block_max", pa.array(maxes,
                                                 pa.list_(pa.float64())))
            .append_column("enc_avgdl",
                           pa.array([avg_dl] * table.num_rows, pa.float64()))
        )
        # drop Spark's footer schema (it lists only the current columns)
        pq.write_table(table.replace_schema_metadata(None), path)
        # the local filesystem's checksum would no longer match
        crc = os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_pre_upgrade_index_with_side_columns(spark, built_index, tmp_path,
                                             tiny_corpus_path):
    """An index written before the side columns and the ``codec_format``
    stamp were dropped still answers, folds and resumes: the scorer reads
    only (bucket, term, blob), a fold rewrites postings without the old
    columns, and a re-run build checks the old stamps instead of
    re-stamping them."""
    import json
    import shutil

    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.search import BM25SearchEngine
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    index_path, cfg, _ = built_index
    legacy = str(tmp_path / "legacy_index")
    shutil.copytree(index_path, legacy)
    cat = CatalogAdapter(legacy)
    avg_dl = float(cat.read_table(spark, "corpus_stats")
                   .collect()[0]["avg_doc_length"])
    _add_legacy_side_columns(cat.table_path("postings"), avg_dl, cfg)
    mpath = f"{legacy}/_manifest.json"
    with open(mpath) as f:
        manifest = json.load(f)
    manifest["properties"]["codec_format"] = 2
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    assert "block_max" in spark.read.parquet(
        cat.table_path("postings")).columns

    # 1. same answers as the original, in both ranking modes
    bm25_cfg = EngineConfig(
        num_buckets=cfg.num_buckets, shuffle_partitions=cfg.shuffle_partitions,
        w_cosine=0.0, w_bm25=1.0, w_glove=0.0,
    )
    for mode_cfg in (cfg, bm25_cfg):
        answers = [
            sorted(BM25SearchEngine(spark, path, mode_cfg)
                   .search_batch(FIXTURE_QUERIES, k=10)
                   .select("qid", "rank", "url", "score").collect())
            for path in (index_path, legacy)
        ]
        assert answers[0] == answers[1] and answers[0]

    # 2. a re-run build checks the old stamps and does not re-stamp them
    props = cat.properties()
    pages = spark.read.parquet(tiny_corpus_path)
    with pytest.raises(ValueError, match="num_buckets"):
        build_index(spark, pages, legacy,
                    EngineConfig(num_buckets=cfg.num_buckets + 1,
                                 shuffle_partitions=cfg.shuffle_partitions))
    build_index(spark, pages, legacy, cfg)
    assert cat.properties() == props
    assert props["codec_format"] == 2

    # 3. a fold rewrites postings with the current columns only
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    pq.write_table(generate_web_pages(1060).slice(1000, 60),
                   str(incoming / "part-000.parquet"))
    staging = str(tmp_path / "staging")
    incremental_index_update(spark, str(incoming), staging,
                             str(tmp_path / "ckpt"), cfg)
    out = compact_staging(spark, legacy, staging, cfg)
    assert out["incremental"] is True
    cols = spark.read.parquet(cat.table_path("postings")).columns
    assert sorted(cols) == ["blob", "bucket", "local_df", "term"]
