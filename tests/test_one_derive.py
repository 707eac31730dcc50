"""One derive path: a fold equals a full re-derive, table for table.

``derive_index_tables`` folds the parsed rows each table has not absorbed
into it. Folding one compaction batch into a built index must leave every
derived table holding exactly the rows a from-scratch derive of the same
``parsed`` relation writes — postings byte for byte — and a derive that
would count a batch twice must refuse to stamp the index.
"""

import shutil

import pytest

from search_engine_spark.config import EngineConfig

#: small blocks make the fold's spliced lists multi-block
CFG = EngineConfig(num_buckets=4, shuffle_partitions=8, block_size=8,
                   topical_terms=("covid", "term0000"))

DERIVED = ("corpus_stats", "doc_stats", "doc_stats_topical", "postings",
           "term_stats", "vocab_capitals", "vocab_entities")


@pytest.fixture(scope="module")
def folded(spark, tmp_path_factory):
    """An index over 200 docs in two parse batches, grown by one 90-doc
    compaction batch through the incremental fold."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.parse import parse_corpus
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import compact_staging

    work = tmp_path_factory.mktemp("one_derive")
    full = generate_web_pages(290)
    base, more = str(work / "base.parquet"), str(work / "more.parquet")
    pq.write_table(full.slice(0, 200), base)
    pq.write_table(full.slice(200, 90), more)

    idx = str(work / "idx")
    build_index(spark, spark.read.parquet(base), idx, CFG, resume_batches=2)
    staging = str(work / "staging")
    parse_corpus(spark.read.parquet(more), CFG).write.parquet(staging)
    out = compact_staging(spark, idx, staging, CFG)
    assert out["batch_id"] == "compact-1"
    assert out["incremental"] is True
    return idx


def _copy(idx: str, dest: str):
    from search_engine_spark.sources.catalog import CatalogAdapter

    shutil.copytree(idx, dest)
    return CatalogAdapter(dest)


def _rows(spark, cat, table: str, cols: list[str]) -> list:
    return cat.read_table(spark, table).select(*cols).orderBy(*cols).collect()


def test_fold_equals_full_rederive(spark, folded, tmp_path):
    from search_engine_spark.operators.index_build import derive_index_tables
    from search_engine_spark.sources.catalog import CatalogAdapter

    grown = CatalogAdapter(folded)
    rederived = _copy(folded, str(tmp_path / "rederived"))
    for table in DERIVED:
        rederived.drop_table(table)
    _, n_docs, _ = derive_index_tables(spark, rederived, CFG)
    assert n_docs == sum(e["rows"] for e in grown.batch_entries("parsed"))

    tables = {
        "postings": ["bucket", "term", "local_df", "blob"],
        "corpus_stats": ["n_docs", "avg_doc_length", "total_tokens"],
        "doc_stats": ["bucket", "doc_id", "url", "warc_ts", "doc_length",
                      "max_tf", "unique_terms"],
        "doc_stats_topical": ["topic", "doc_id", "url", "doc_length"],
        "vocab_capitals": ["term", "always_cap"],
        "vocab_entities": ["entity", "entity_count"],
        "term_stats": ["term", "df", "source_term"],
    }
    for table, cols in tables.items():
        a = _rows(spark, grown, table, cols)
        b = _rows(spark, rederived, table, cols)
        assert a, table
        assert a == b, table
    # the fold really spliced: some grown list spans several blocks
    assert max(r["local_df"] for r in _rows(
        spark, grown, "postings", ["local_df"])) > CFG.block_size


def test_double_fold_raises_and_keeps_stamp(spark, folded, tmp_path):
    """Folding an absorbed batch again must not stamp the index. The
    postings splice refuses ids that are not above the old lists'; with
    postings re-derived instead, the corpus_stats count check refuses."""
    from search_engine_spark.operators.index_build import derive_index_tables

    for name, drop in (("twice", ()), ("twice_no_postings", ("postings",))):
        cat = _copy(folded, str(tmp_path / name))
        stamp = cat.properties()["derived_from_batches"]
        assert "compact-1" in stamp
        for table in drop:
            cat.drop_table(table)
        with pytest.raises(Exception) as err:
            derive_index_tables(spark, cat, CFG, batch_id="compact-1")
        if drop:
            assert err.type is ValueError
            assert "corpus_stats" in str(err.value)
        assert cat.properties()["derived_from_batches"] == stamp
