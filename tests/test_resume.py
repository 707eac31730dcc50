"""Checkpoint/resume: a killed build resumes without recomputing finished
partitions (north_rule per-partition lineage)."""

import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.sources.catalog import CatalogAdapter


class _Boom(RuntimeError):
    pass


def test_killed_build_resumes(spark, tiny_corpus_path, tmp_path, monkeypatch):
    from search_engine_spark.operators import index_build

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    pages = spark.read.parquet(tiny_corpus_path)
    index_path = str(tmp_path / "idx")

    # kill the build after 2 committed parse batches
    real_append = CatalogAdapter.append_batch
    calls = []

    def crashing_append(self, df, name, batch_id, **kw):
        if len(calls) == 2:
            raise _Boom("simulated kill")
        calls.append(batch_id)
        return real_append(self, df, name, batch_id, **kw)

    monkeypatch.setattr(CatalogAdapter, "append_batch", crashing_append)
    with pytest.raises(_Boom):
        index_build.build_index(spark, pages, index_path, cfg, resume_batches=4)

    cat = CatalogAdapter(index_path)
    assert set(cat.completed_batches("parsed")) == {"0", "1"}
    assert not cat.is_complete("parsed")
    assert not cat.has_table("postings")

    # resume: only the two remaining batches may be computed
    resumed_calls = []

    def tracking_append(self, df, name, batch_id, **kw):
        resumed_calls.append(batch_id)
        return real_append(self, df, name, batch_id, **kw)

    monkeypatch.setattr(CatalogAdapter, "append_batch", tracking_append)
    metrics = index_build.build_index(
        spark, pages, index_path, cfg, resume_batches=4
    )
    assert sorted(resumed_calls) == ["2", "3"], (
        f"resume recomputed finished partitions: {resumed_calls}"
    )

    # resumed index must equal a fresh uninterrupted build
    monkeypatch.setattr(CatalogAdapter, "append_batch", real_append)
    fresh_path = str(tmp_path / "fresh")
    fresh_metrics = index_build.build_index(
        spark, pages, fresh_path, cfg, resume_batches=4
    )
    assert metrics["n_docs"] == fresh_metrics["n_docs"]

    def table_set(path, name, cols):
        cat = CatalogAdapter(path)
        return {
            tuple(r[c] for c in cols)
            for r in cat.read_table(spark, name).select(*cols).collect()
        }

    assert table_set(index_path, "term_stats", ["term", "df"]) == table_set(
        fresh_path, "term_stats", ["term", "df"]
    )
    assert table_set(index_path, "doc_stats", ["doc_id", "doc_length"]) == (
        table_set(fresh_path, "doc_stats", ["doc_id", "doc_length"])
    )

    # manifest carries per-batch lineage metrics
    entries = CatalogAdapter(index_path)._load()["tables"]["parsed"]["batches"]
    assert len(entries) == 4
    assert all(e["rows"] > 0 and e["wall_sec"] > 0 for e in entries)


def test_table_level_resume_skips_finished_stages(spark, tiny_corpus_path, tmp_path):
    """A build killed between table commits resumes at the first missing
    table — the staged parse and every committed table are not recomputed."""
    import json
    import os
    import shutil

    from search_engine_spark.operators import index_build

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    pages = spark.read.parquet(tiny_corpus_path)
    index_path = str(tmp_path / "idx2")
    index_build.build_index(spark, pages, index_path, cfg, resume_batches=2)

    # simulate a crash right before the postings commit
    cat = CatalogAdapter(index_path)
    manifest = cat._load()
    del manifest["tables"]["postings"]
    with open(cat._manifest_path(), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(os.path.join(index_path, "postings"))

    before = os.path.getmtime(os.path.join(index_path, "term_stats"))
    metrics = index_build.build_index(
        spark, pages, index_path, cfg, resume_batches=2
    )
    assert metrics["stage_sec"]["term_stats"] < 0.5  # skipped, not rebuilt
    assert os.path.getmtime(os.path.join(index_path, "term_stats")) == before
    assert cat.has_table("postings")

    from search_engine_spark.operators.search import BM25SearchEngine
    from search_engine_spark.sources.fixtures import FIXTURE_QUERIES

    engine = BM25SearchEngine(spark, index_path, cfg)
    assert engine.search_batch(FIXTURE_QUERIES[:3], k=5).count() > 0


def test_rerun_on_complete_index_leaves_manifest(spark, tiny_corpus_path,
                                                 tmp_path):
    """Re-running build_index on a complete index derives nothing, so it
    must not overwrite the build record with its own (no-op) numbers nor
    commit snapshots."""
    from search_engine_spark.operators import index_build

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    pages = spark.read.parquet(tiny_corpus_path)
    index_path = str(tmp_path / "idx")
    index_build.build_index(spark, pages, index_path, cfg, resume_batches=1)
    before = CatalogAdapter(index_path)._load()

    again = index_build.build_index(spark, pages, index_path, cfg,
                                    resume_batches=1)
    after = CatalogAdapter(index_path)._load()
    assert again["n_docs"] == before["build"]["n_docs"]
    assert after["build"] == before["build"]
    assert len(after["snapshots"]) == len(before["snapshots"])
    assert after["properties"] == before["properties"]


def test_file_level_resume_lineage(spark, tiny_corpus_path, tmp_path):
    """With a multi-file corpus and a bare scan, resume batches are input-
    FILE groups: the manifest records each batch's exact file list, every
    input file appears in exactly one batch (single-scan-equivalent reads —
    no batch re-scans the whole input), and the built index equals the
    single-file build."""
    from search_engine_spark.operators import index_build

    # re-lay the fixture as 6 parquet files
    multi = str(tmp_path / "pages_multi")
    spark.read.parquet(tiny_corpus_path).repartition(6).write.parquet(multi)
    pages = spark.read.parquet(multi)
    n_files = len(pages.inputFiles())
    assert n_files >= 3

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    index_path = str(tmp_path / "idx_files")
    index_build.build_index(spark, pages, index_path, cfg, resume_batches=3)

    entries = CatalogAdapter(index_path)._load()["tables"]["parsed"]["batches"]
    assert len(entries) == 3
    assert all(e["strategy"] == "files" for e in entries)
    all_files = [f for e in entries for f in e["input_files"]]
    assert len(all_files) == n_files, "some input file scanned 0 or 2+ times"
    assert len(set(all_files)) == n_files
    assert all(e["input_bytes"] > 0 and e["rows"] > 0 for e in entries)

    # same index as a single-file hash-sliced build
    single_path = str(tmp_path / "idx_single")
    index_build.build_index(
        spark, spark.read.parquet(tiny_corpus_path), single_path, cfg,
        resume_batches=3,
    )
    single_entries = (
        CatalogAdapter(single_path)._load()["tables"]["parsed"]["batches"]
    )
    assert all(e["strategy"] == "hash_slice" for e in single_entries)

    def vocab(path):
        return {
            (r["term"], r["df"])
            for r in CatalogAdapter(path)
            .read_table(spark, "term_stats")
            .collect()
        }

    assert vocab(index_path) == vocab(single_path)


def test_transformed_input_falls_back_to_hash_slices(
    spark, tiny_corpus_path, tmp_path
):
    """A filtered/transformed pages relation must NOT be re-read at the
    file level (that would silently drop the transformation)."""
    import pyspark.sql.functions as F

    from search_engine_spark.operators import index_build

    pages = spark.read.parquet(tiny_corpus_path).filter(F.col("lang") == "en")
    index_path = str(tmp_path / "idx_filtered")
    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    metrics = index_build.build_index(
        spark, pages, index_path, cfg, resume_batches=2
    )
    entries = CatalogAdapter(index_path)._load()["tables"]["parsed"]["batches"]
    assert all(e["strategy"] == "hash_slice" for e in entries)
    # the filter was honored: fewer docs than the full corpus
    full = index_build.build_index(
        spark, spark.read.parquet(tiny_corpus_path),
        str(tmp_path / "idx_full"), cfg, resume_batches=1,
    )
    assert metrics["n_docs"] < full["n_docs"]


def _crash_after(monkeypatch, n_batches):
    """Patch append_batch to die after n successful parse-batch commits."""
    real_append = CatalogAdapter.append_batch
    calls = []

    def crashing_append(self, df, name, batch_id, **kw):
        if len(calls) == n_batches:
            raise _Boom("simulated kill")
        calls.append(batch_id)
        return real_append(self, df, name, batch_id, **kw)

    return crashing_append, real_append


def test_resume_processes_files_added_after_crash(
    spark, tiny_corpus_path, tmp_path, monkeypatch
):
    """Files that land between the crash and the resume must be parsed:
    completed file batches are kept (their recorded inputs unchanged) and
    the remaining+new files are regrouped under fresh batch ids."""
    from search_engine_spark.operators import index_build

    multi = str(tmp_path / "pages_grow")
    base = spark.read.parquet(tiny_corpus_path)
    base.limit(800).repartition(4).write.parquet(multi)

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    index_path = str(tmp_path / "idx_grow")

    crashing, real_append = _crash_after(monkeypatch, 2)
    monkeypatch.setattr(CatalogAdapter, "append_batch", crashing)
    with pytest.raises(_Boom):
        index_build.build_index(
            spark, spark.read.parquet(multi), index_path, cfg,
            resume_batches=4,
        )
    monkeypatch.setattr(CatalogAdapter, "append_batch", real_append)
    done_before = set(CatalogAdapter(index_path).completed_batches("parsed"))
    assert len(done_before) == 2

    # a new file lands before the resume
    base.limit(100).coalesce(1).write.mode("append").parquet(multi)

    index_build.build_index(
        spark, spark.read.parquet(multi), index_path, cfg, resume_batches=4
    )
    cat = CatalogAdapter(index_path)
    entries = cat._load()["tables"]["parsed"]["batches"]
    # completed batches kept; new batches under fresh resume ids
    kept = {e["batch_id"] for e in entries} & done_before
    assert kept == done_before
    fresh_ids = [e["batch_id"] for e in entries
                 if e["batch_id"] not in done_before]
    assert fresh_ids and all(b.startswith("resume") for b in fresh_ids)
    # every current input file parsed exactly once
    current = sorted(spark.read.parquet(multi).inputFiles())
    recorded = sorted(f for e in entries for f in e["input_files"])
    assert recorded == current
    # the regrouped resume batches got fresh id slots: no doc_id repeats
    parsed = cat.read_table(spark, "parsed")
    assert parsed.count() == parsed.select("doc_id").distinct().count()

    # index equals a fresh build over the grown corpus
    fresh_path = str(tmp_path / "idx_grow_fresh")
    index_build.build_index(
        spark, spark.read.parquet(multi), fresh_path, cfg, resume_batches=1
    )

    def vocab(path):
        return {
            (r["term"], r["df"])
            for r in CatalogAdapter(path).read_table(spark, "term_stats").collect()
        }

    assert vocab(index_path) == vocab(fresh_path)


def test_resume_rebuilds_when_recorded_file_vanished(
    spark, tiny_corpus_path, tmp_path, monkeypatch
):
    """A completed batch whose recorded input file no longer exists means
    the staged parse covers docs outside the current corpus — resume must
    drop the stale parse and rebuild, not silently keep it."""
    import os

    from search_engine_spark.operators import index_build

    multi = str(tmp_path / "pages_shrink")
    spark.read.parquet(tiny_corpus_path).repartition(4).write.parquet(multi)

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    index_path = str(tmp_path / "idx_shrink")

    crashing, real_append = _crash_after(monkeypatch, 2)
    monkeypatch.setattr(CatalogAdapter, "append_batch", crashing)
    with pytest.raises(_Boom):
        index_build.build_index(
            spark, spark.read.parquet(multi), index_path, cfg,
            resume_batches=4,
        )
    monkeypatch.setattr(CatalogAdapter, "append_batch", real_append)

    # delete one file that a COMPLETED batch recorded
    entries = CatalogAdapter(index_path)._load()["tables"]["parsed"]["batches"]
    victim = entries[0]["input_files"][0]
    os.remove(victim[7:] if victim.startswith("file://") else victim)

    index_build.build_index(
        spark, spark.read.parquet(multi), index_path, cfg, resume_batches=4
    )

    # the index reflects ONLY the surviving files
    fresh_path = str(tmp_path / "idx_shrink_fresh")
    index_build.build_index(
        spark, spark.read.parquet(multi), fresh_path, cfg, resume_batches=1
    )
    n_a = CatalogAdapter(index_path).read_table(spark, "doc_stats").count()
    n_b = CatalogAdapter(fresh_path).read_table(spark, "doc_stats").count()
    assert n_a == n_b


def test_hash_slice_resume_rejects_changed_slice_count(
    spark, tiny_corpus_path, tmp_path, monkeypatch
):
    """Resuming a hash-sliced build with a DIFFERENT resume_batches value
    remaps batch ids onto different doc sets — the engine must detect the
    parameter change and rebuild instead of skipping mismatched slices."""
    from search_engine_spark.operators import index_build

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    index_path = str(tmp_path / "idx_resl")

    crashing, real_append = _crash_after(monkeypatch, 2)
    monkeypatch.setattr(CatalogAdapter, "append_batch", crashing)
    with pytest.raises(_Boom):
        index_build.build_index(
            spark, spark.read.parquet(tiny_corpus_path), index_path, cfg,
            resume_batches=4,
        )
    monkeypatch.setattr(CatalogAdapter, "append_batch", real_append)

    # resume with resume_batches=2 (different slicing)
    index_build.build_index(
        spark, spark.read.parquet(tiny_corpus_path), index_path, cfg,
        resume_batches=2,
    )
    fresh = str(tmp_path / "idx_resl_fresh")
    index_build.build_index(
        spark, spark.read.parquet(tiny_corpus_path), fresh, cfg,
        resume_batches=1,
    )
    n_a = CatalogAdapter(index_path).read_table(spark, "doc_stats").count()
    n_b = CatalogAdapter(fresh).read_table(spark, "doc_stats").count()
    assert n_a == n_b  # no doc parsed 0 or 2 times


def test_append_batch_rejects_unsafe_batch_ids(tmp_path):
    """batch ids name directories and (Iceberg mode) SQL predicates —
    the API boundary must reject anything outside [A-Za-z0-9_.-]."""
    cat = CatalogAdapter(str(tmp_path / "cat"))
    for bad in ("it's", "a b", "x;drop", ""):
        with pytest.raises(ValueError):
            cat.append_batch(None, "t", bad)
