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


#: every derived table, with the columns its rows are compared on
TABLE_COLS = {
    "postings": ["bucket", "term", "local_df", "blob"],
    "corpus_stats": ["n_docs", "avg_doc_length", "total_tokens"],
    "doc_stats": ["bucket", "doc_id", "url", "warc_ts", "doc_length",
                  "max_tf", "unique_terms"],
    "doc_stats_topical": ["topic", "doc_id", "url", "doc_length"],
    "vocab_capitals": ["term", "always_cap"],
    "vocab_entities": ["entity", "entity_count"],
    "term_stats": ["term", "df", "source_term"],
}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """An index over 200 docs in two parse batches, and a staged 90-doc
    increment."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.parse import parse_corpus
    from search_engine_spark.sources.fixtures import generate_web_pages

    work = tmp_path_factory.mktemp("one_derive")
    full = generate_web_pages(290)
    base, more = str(work / "base.parquet"), str(work / "more.parquet")
    pq.write_table(full.slice(0, 200), base)
    pq.write_table(full.slice(200, 90), more)

    idx = str(work / "idx")
    build_index(spark, spark.read.parquet(base), idx, CFG, resume_batches=2)
    staging = str(work / "staging")
    parse_corpus(spark.read.parquet(more), CFG).write.parquet(staging)
    return idx, staging


@pytest.fixture(scope="module")
def folded(spark, built, tmp_path_factory):
    """The built index grown by the staged increment through the
    incremental fold."""
    from search_engine_spark.streaming.incremental import compact_staging

    idx, staging = built
    grown = str(tmp_path_factory.mktemp("folded") / "idx")
    shutil.copytree(idx, grown)
    out = compact_staging(spark, grown, staging, CFG)
    assert out["batch_id"] == "compact-1"
    assert out["incremental"] is True
    return grown


def _copy(idx: str, dest: str):
    from search_engine_spark.sources.catalog import CatalogAdapter

    shutil.copytree(idx, dest)
    return CatalogAdapter(dest)


def _rows(spark, cat, table: str, cols: list[str]) -> list:
    return cat.read_table(spark, table).select(*cols).orderBy(*cols).collect()


def _assert_same_tables(spark, a, b) -> None:
    for table, cols in TABLE_COLS.items():
        rows = _rows(spark, a, table, cols)
        assert rows, table
        assert rows == _rows(spark, b, table, cols), table


def test_fold_equals_full_rederive(spark, folded, tmp_path):
    from search_engine_spark.operators.index_build import derive_index_tables
    from search_engine_spark.sources.catalog import CatalogAdapter

    grown = CatalogAdapter(folded)
    rederived = _copy(folded, str(tmp_path / "rederived"))
    for table in DERIVED:
        rederived.drop_table(table)
    _, n_docs, _ = derive_index_tables(spark, rederived, CFG)
    assert n_docs == sum(e["rows"] for e in grown.batch_entries("parsed"))

    _assert_same_tables(spark, grown, rederived)
    # the fold really spliced: some grown list spans several blocks
    assert max(r["local_df"] for r in _rows(
        spark, grown, "postings", ["local_df"])) > CFG.block_size


def _file_digests(cat) -> dict:
    """sha256 of every data file under the index, by relative path."""
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(cat.root):
        for fn in files:
            if fn.endswith(".parquet"):
                path = os.path.join(dirpath, fn)
                with open(path, "rb") as f:
                    out[os.path.relpath(path, cat.root)] = hashlib.sha256(
                        f.read()).hexdigest()
    return out


def test_double_fold_raises_and_keeps_stamp(spark, folded, tmp_path):
    """Folding an absorbed batch again must not stamp the index. A batch
    the stamp lists is refused before any table is written. With the
    batch left out of the stamp (postings dropped, so the splice's own id
    check cannot fire first), the corpus_stats count check refuses."""
    import json

    from search_engine_spark.operators.index_build import derive_index_tables

    for name, drop in (("twice", ()), ("twice_no_postings", ("postings",))):
        cat = _copy(folded, str(tmp_path / name))
        stamp = cat.properties()["derived_from_batches"]
        assert "compact-1" in stamp
        for table in drop:
            cat.drop_table(table)
        before = _file_digests(cat)
        assert any(p.startswith("corpus_stats") for p in before)
        with pytest.raises(ValueError, match="already in derived_from"):
            derive_index_tables(spark, cat, CFG, batch_id="compact-1")
        assert cat.properties()["derived_from_batches"] == stamp
        assert _file_digests(cat) == before

    cat = _copy(folded, str(tmp_path / "twice_unstamped"))
    cat.drop_table("postings")
    mpath = f"{cat.root}/{cat.MANIFEST}"
    with open(mpath) as f:
        manifest = json.load(f)
    stamp = [b for b in manifest["properties"]["derived_from_batches"]
             if b != "compact-1"]
    manifest["properties"]["derived_from_batches"] = stamp
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(Exception) as err:
        derive_index_tables(spark, cat, CFG, batch_id="compact-1")
    assert err.type is ValueError
    assert "corpus_stats" in str(err.value)
    assert cat.properties()["derived_from_batches"] == stamp


def _to_pre_upgrade_layout(parsed_dir: str) -> None:
    """Rewrite every ``parsed`` file in the layout written before
    ``terms`` carried the capital flag: ``terms`` as (term, tf) and every
    flag of the doc in ``capitals``."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = glob.glob(f"{parsed_dir}/**/*.parquet", recursive=True)
    assert files
    for path in files:
        table = pq.read_table(path)
        terms = table.column("terms").to_pylist()
        caps = table.column("capitals").to_pylist()
        old_terms = [[{"term": t["term"], "tf": t["tf"]} for t in doc]
                     for doc in terms]
        old_caps = [[{"term": t["term"], "cap": t["cap"]} for t in doc
                     if t["cap"] is not None] + extra
                    for doc, extra in zip(terms, caps)]
        term_type = pa.list_(pa.struct([("term", pa.string()),
                                        ("tf", pa.int32())]))
        for name, values, typ in (
                ("terms", old_terms, term_type),
                ("capitals", old_caps, table.schema.field("capitals").type)):
            i = table.schema.get_field_index(name)
            table = table.set_column(i, name, pa.array(values, typ))
        # drop Spark's footer schema (it lists ``cap``); warc_ts stays
        # INT96, as Spark writes it
        pq.write_table(table.replace_schema_metadata(None), path,
                       use_deprecated_int96_timestamps=True)
        # the local filesystem's checksum would no longer match
        crc = os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_fold_into_pre_upgrade_parsed(spark, built, folded, tmp_path):
    """A ``parsed`` table staged before ``terms`` carried ``cap`` (every
    flag in ``capitals``) takes a new-layout batch: the fold gives the
    tables the same fold on an all-new-layout index gives, and so does a
    full re-derive over the mixed batches."""
    import glob

    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import derive_index_tables
    from search_engine_spark.streaming.incremental import compact_staging

    idx, staging = built
    legacy = _copy(idx, str(tmp_path / "legacy"))
    _to_pre_upgrade_layout(legacy.table_path("parsed"))
    out = compact_staging(spark, legacy.root, staging, CFG)
    assert out["batch_id"] == "compact-1"
    assert out["incremental"] is True
    has_cap = {
        path.split("batch=")[1].split("/")[0]:
            pq.read_schema(path).field("terms").type.value_type
            .get_field_index("cap") >= 0
        for path in glob.glob(f"{legacy.table_path('parsed')}/**/*.parquet",
                              recursive=True)
    }
    assert has_cap == {"0": False, "1": False, "compact-1": True}
    _assert_same_tables(spark, legacy, _copy(folded, str(tmp_path / "new")))

    rederived = _copy(legacy.root, str(tmp_path / "rederived"))
    for table in DERIVED:
        rederived.drop_table(table)
    derive_index_tables(spark, rederived, CFG)
    _assert_same_tables(spark, rederived, legacy)
