"""Batch-monotone doc ids (parse.assign_doc_ids).

End-to-end invariants of the tail-append compaction design:

- rankings are doc_id-independent — the fixture query set returns identical
  (qid, rank, url, score) on a rebuilt index and on an index grown by
  streaming compaction;
- term_stats (term, df) is identical across both;
- compaction takes the incremental path and the spliced hot-term groups
  really are multi-block (the splice-eligible shape);
- re-crawls dedup by URL (ids are not content-addressed);
- the id layout: every compaction batch lands in its own 2^48 slot above
  all earlier ids;
- an index built before ids became batch-monotone refuses compaction but
  still answers queries.

Splice byte-correctness itself is pinned by tests/test_codec_append.py.
"""

import os

import pytest

import pyspark.sql.functions as F

from search_engine_spark.config import EngineConfig

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def spark():
    from search_engine_spark.session import get_spark

    cfg = EngineConfig(num_buckets=2, shuffle_partitions=4)
    s = get_spark("test-monotone", master="local[4]", config=cfg)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _cfg(**kw):
    return EngineConfig(num_buckets=2, shuffle_partitions=4, block_size=8,
                        **kw)


def _results(spark, idx, cfg):
    from search_engine_spark.operators.search import BM25SearchEngine
    from search_engine_spark.sources.fixtures import FIXTURE_QUERIES

    eng = BM25SearchEngine(spark, idx, cfg)
    rows = eng.search_batch(FIXTURE_QUERIES[:12], k=10).collect()
    return sorted((r.qid, r.rank, r.url, round(r.score, 9)) for r in rows)


def _term_stats(spark, idx):
    return sorted(map(tuple,
                      spark.read.parquet(f"{idx}/term_stats").collect()))


def test_monotone_mode_end_to_end(spark, tmp_path):
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    full = generate_web_pages(480)
    base = str(tmp_path / "base.parquet")
    pq.write_table(full.slice(0, 400), base)
    inc_dir = tmp_path / "incoming"
    inc_dir.mkdir()
    pq.write_table(full.slice(400, 80), str(inc_dir / "wave.parquet"))
    all_path = str(tmp_path / "all.parquet")
    pq.write_table(full, all_path)

    # two 480-doc indexes: a rebuild, and a base index grown by compaction
    mcfg = _cfg()
    mono_rebuild = str(tmp_path / "mono_rebuild")
    build_index(spark, spark.read.parquet(all_path), mono_rebuild, mcfg,
                resume_batches=2)

    mono_idx = str(tmp_path / "mono_idx")
    build_index(spark, spark.read.parquet(base), mono_idx, mcfg,
                resume_batches=1)
    incremental_index_update(spark, str(inc_dir), str(tmp_path / "staging"),
                             str(tmp_path / "ckpt"), mcfg)
    out = compact_staging(spark, mono_idx, str(tmp_path / "staging"), mcfg)
    assert out["incremental"] is True
    assert out["n_docs"] == 480 - _dropped(full)

    # grown == rebuild: term_stats and ranks
    assert _term_stats(spark, mono_idx) == _term_stats(spark, mono_rebuild)
    res = _results(spark, mono_idx, mcfg)
    assert res == _results(spark, mono_rebuild, mcfg)
    assert len(res) > 50  # non-vacuous

    post = spark.read.parquet(f"{mono_idx}/postings")
    # splice-eligible shape existed: hot terms span multiple blocks
    assert post.filter(F.col("local_df") > mcfg.block_size).count() > 10
    # id layout: the compaction batch landed in its own 2^48 slot
    parsed = spark.read.parquet(f"{mono_idx}/parsed")
    slots = sorted(
        r[0] for r in parsed.select(
            F.shiftrightunsigned("doc_id", 48).alias("s")).distinct()
        .collect()
    )
    assert len(slots) == 2 and slots[1] > slots[0]

    # re-crawl of an ALREADY-INDEXED url: dedup is by url now, not id —
    # compacting it again must be a no-op append (0 new docs)
    recrawl = tmp_path / "incoming2"
    recrawl.mkdir()
    pq.write_table(full.slice(10, 5), str(recrawl / "again.parquet"))
    incremental_index_update(spark, str(recrawl), str(tmp_path / "staging2"),
                             str(tmp_path / "ckpt2"), mcfg)
    out2 = compact_staging(spark, mono_idx, str(tmp_path / "staging2"), mcfg)
    assert out2["batch_id"] is None  # nothing new appended
    assert out2["n_docs"] == out["n_docs"]


def _dropped(tbl) -> int:
    """Rows whose text cleans to nothing (fixtures EMPTY_SNIPPET stride)."""
    n = tbl.num_rows
    return sum(1 for i in range(n) if i % 613 == 7)


def test_monotone_batch_seq_envelope():
    from search_engine_spark.operators.parse import assign_doc_ids

    with pytest.raises(ValueError, match="slot"):
        assign_doc_ids(None, EngineConfig(), slot=1 << 15)


def test_pre_upgrade_index_refuses_compaction(spark, tmp_path):
    """An index without the batch-monotone stamp was built with url-hash
    ids: compaction must refuse it with the rebuild error, search must
    still answer."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.parse import parse_corpus
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import compact_staging

    full = generate_web_pages(160)
    base = str(tmp_path / "base.parquet")
    pq.write_table(full.slice(0, 120), base)
    idx = str(tmp_path / "old_idx")
    cfg = _cfg()
    build_index(spark, spark.read.parquet(base), idx, cfg, resume_batches=1)
    before = _results(spark, idx, cfg)
    assert before

    staging = str(tmp_path / "staging")
    more = str(tmp_path / "more.parquet")
    pq.write_table(full.slice(120, 40), more)
    parse_corpus(spark.read.parquet(more), cfg).write.parquet(staging)

    cat = CatalogAdapter(idx)
    cat.set_properties({"doc_id_mode": "hash"})
    with pytest.raises(ValueError, match="rebuild"):
        compact_staging(spark, idx, staging, cfg)
    # a missing stamp is refused the same way
    manifest = cat._load()
    del manifest["properties"]["doc_id_mode"]
    cat._commit(manifest, "set_properties")
    with pytest.raises(ValueError, match="rebuild"):
        compact_staging(spark, idx, staging, cfg)
    # nothing was appended, and search is unchanged
    assert len(cat.completed_batches("parsed")) == 1
    assert _results(spark, idx, cfg) == before
