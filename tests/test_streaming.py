"""Structured Streaming: incremental index staging (SURVEY.md §7 M7).

The reference has no incremental maintenance — a new corpus file means a
full rebuild (indexer.py is one-shot). The Spark-native extension streams a
landing directory with exactly-once micro-batches (checkpointed
foreachBatch) into a staging postings table; compaction folds staging into
the main index. These tests assert:

1. files landing across two micro-batch rounds each get parsed exactly once
   (checkpoint replay safety — re-running the stream adds nothing);
2. staging rows agree with a batch parse of the same corpus.
"""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from search_engine_spark.config import EngineConfig


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "incoming": str(tmp_path / "incoming"),
        "staging": str(tmp_path / "staging"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }
    os.makedirs(d["incoming"])
    return d


def _land(incoming: str, name: str, n_rows: int, offset: int) -> None:
    """Write a slice of the fixture corpus as one landing file."""
    import pyarrow.parquet as pq

    from search_engine_spark.sources.fixtures import generate_web_pages

    table = generate_web_pages(offset + n_rows).slice(offset, n_rows)
    pq.write_table(table, os.path.join(incoming, name))


def test_incremental_staging_exactly_once(spark, dirs):
    from search_engine_spark.streaming.incremental import incremental_index_update

    cfg = EngineConfig(num_buckets=4)

    _land(dirs["incoming"], "part-000.parquet", 120, 0)
    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )
    n1 = spark.read.parquet(dirs["staging"]).count()
    assert n1 > 0

    # second round: a new file lands; only its rows are appended
    _land(dirs["incoming"], "part-001.parquet", 80, 120)
    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )
    n2 = spark.read.parquet(dirs["staging"]).count()
    assert n2 > n1

    # replay with nothing new: checkpoint makes it a no-op
    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )
    assert spark.read.parquet(dirs["staging"]).count() == n2


def test_incremental_staging_matches_batch_parse(spark, dirs):
    from search_engine_spark.operators.parse import parse_corpus
    from search_engine_spark.streaming.incremental import incremental_index_update

    cfg = EngineConfig(num_buckets=4)
    _land(dirs["incoming"], "part-000.parquet", 150, 0)
    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )

    def stats(df):
        return df.select(
            "doc_id", "doc_length", F.explode("terms").alias("kv")
        ).groupBy().agg(
            F.count("*").alias("rows"),
            F.countDistinct("doc_id").alias("docs"),
            F.sum(F.col("kv.tf")).alias("tf_sum"),
            F.sum("doc_length").alias("dl_sum"),
        ).collect()[0]

    staged = stats(spark.read.parquet(dirs["staging"]))
    batch = stats(parse_corpus(spark.read.parquet(dirs["incoming"]), cfg))

    assert staged == batch


def test_compaction_into_main_index(spark, dirs, tmp_path):
    """Real compaction: stream-staged parsed rows fold into an EXISTING
    index (no re-parse, no full rebuild) and the result answers queries
    identically to a from-scratch build over the union corpus."""
    shutil.rmtree(dirs["staging"], ignore_errors=True)
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.search import BM25SearchEngine
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    import pyarrow.parquet as pq

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    full = generate_web_pages(300)
    base_path = str(tmp_path / "base.parquet")
    more_path = os.path.join(dirs["incoming"], "more.parquet")
    pq.write_table(full.slice(0, 200), base_path)
    pq.write_table(full.slice(200, 100), more_path)

    # 1. main index over the base corpus
    idx = str(tmp_path / "main_idx")
    build_index(spark, spark.read.parquet(base_path), idx, cfg,
                resume_batches=1)

    # 2. new pages land; streaming stages their PARSE exactly-once
    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )

    # 3. compaction folds staging into the main index — via the
    # incremental merge path (all derived tables present and fresh)
    out = compact_staging(spark, idx, dirs["staging"], cfg)
    assert out["batch_id"] == "compact-1"
    assert out["incremental"] is True

    # reference: from-scratch build over the union corpus
    ref_idx = str(tmp_path / "ref_idx")
    all_path = str(tmp_path / "all.parquet")
    pq.write_table(full, all_path)
    build_index(spark, spark.read.parquet(all_path), ref_idx, cfg,
                resume_batches=1)

    q = [(1, "term0000 term0003"), (2, "term0001")]
    a = BM25SearchEngine(spark, idx, cfg).search_batch(q, k=5).collect()
    b = BM25SearchEngine(spark, ref_idx, cfg).search_batch(q, k=5).collect()
    key = lambda r: (r["qid"], r["rank"], r["url"], round(r["score"], 10))  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert len(a) == 10

    # term_stats (df incl. M5/M7 pruning) must agree exactly
    ts_a = sorted(map(tuple, spark.read.parquet(f"{idx}/term_stats").collect()))
    ts_b = sorted(map(tuple, spark.read.parquet(f"{ref_idx}/term_stats").collect()))
    assert ts_a == ts_b

    # replay: compacting the already-consumed staging again is a no-op
    out2 = compact_staging(spark, idx, dirs["staging"], cfg)
    assert out2["batch_id"] is None
    a2 = BM25SearchEngine(spark, idx, cfg).search_batch(q, k=5).collect()
    assert sorted(map(key, a2)) == sorted(map(key, a))


def test_stream_event_counts_to_table(spark, dirs, tmp_path):
    """Update-mode parquet-upsert sink: incremental micro-batches converge
    to the batch aggregation, and a second round updates in place."""
    import pyarrow.parquet as pq

    events_dir = str(tmp_path / "events_landing")
    out_dir = str(tmp_path / "counts")
    ckpt = str(tmp_path / "counts_ckpt")
    os.makedirs(events_dir)

    src = "/root/testdata/sf0.001/events.parquet"
    t = pq.read_table(src)
    pq.write_table(t.slice(0, t.num_rows // 2),
                   os.path.join(events_dir, "part-000.parquet"))

    from search_engine_spark.streaming.incremental import (
        stream_event_counts_to_table,
    )

    def batch_agg(paths):
        import pyspark.sql.functions as F
        df = spark.read.parquet(*paths)
        return sorted(
            map(tuple,
                df.withColumn("ts", F.col("ts").cast("timestamp"))
                .groupBy(
                    F.floor(F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
                    .cast("long").alias("hour_bucket"),
                    "event_type",
                )
                .agg(F.count("*").cast("long").alias("n_events"),
                     F.round(F.sum("value"), 6).alias("sum_value"))
                .collect())
        )

    stream_event_counts_to_table(spark, events_dir, out_dir, ckpt)
    got1 = sorted(map(tuple, spark.read.parquet(out_dir)
                      .select("hour_bucket", "event_type",
                              "n_events", "sum_value").collect()))
    assert got1 == batch_agg([events_dir])

    # second round: more events land; changed groups are upserted in place
    pq.write_table(t.slice(t.num_rows // 2),
                   os.path.join(events_dir, "part-001.parquet"))
    stream_event_counts_to_table(spark, events_dir, out_dir, ckpt)
    got2 = sorted(map(tuple, spark.read.parquet(out_dir)
                      .select("hour_bucket", "event_type",
                              "n_events", "sum_value").collect()))
    assert got2 == batch_agg([events_dir])
    assert got2 != got1


def test_compaction_crash_before_derive_replays_safely(spark, dirs, tmp_path,
                                                       monkeypatch):
    """Keep-old-until-swap crash-safety: a crash AFTER the parsed append
    but BEFORE the incremental merge leaves the OLD derived tables intact
    (still serving queries) with a stale ``derived_from_batches`` stamp;
    the replay detects the stale stamp, drops them, and re-derives the
    complete index from the (always-complete) parsed relation."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators import index_build
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming import incremental
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    full = generate_web_pages(260)
    base_path = str(tmp_path / "base.parquet")
    pq.write_table(full.slice(0, 180), base_path)
    pq.write_table(full.slice(180, 80),
                   os.path.join(dirs["incoming"], "more.parquet"))

    idx = str(tmp_path / "crash_idx")
    build_index(spark, spark.read.parquet(base_path), idx, cfg,
                resume_batches=1)
    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )

    real_derive = index_build.derive_index_tables

    def boom(spark, cat, cfg, batch_id=None):
        if batch_id is not None:  # the incremental fold
            raise RuntimeError("simulated crash before derive")
        return real_derive(spark, cat, cfg, batch_id)

    monkeypatch.setattr(index_build, "derive_index_tables", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_staging(spark, idx, dirs["staging"], cfg)

    cat = CatalogAdapter(idx)
    # keep-old-until-swap: the pre-compaction tables still serve
    for t in ("postings", "term_stats", "corpus_stats", "doc_stats"):
        assert cat.has_table(t), f"{t} was mutated before the crash point"
    # the parsed append DID commit — replay must not duplicate it —
    # and the staleness stamp now disagrees with the batch list
    assert "compact-1" in cat.completed_batches("parsed")
    assert cat.properties()["derived_from_batches"] != sorted(
        map(str, cat.completed_batches("parsed"))
    )

    monkeypatch.setattr(index_build, "derive_index_tables", real_derive)
    out = compact_staging(spark, idx, dirs["staging"], cfg)
    assert out["batch_id"] is None  # replay appended nothing new
    assert out["incremental"] is False  # stale stamp → full re-derive

    # result equals a from-scratch build over the union corpus
    ref_idx = str(tmp_path / "crash_ref")
    all_path = str(tmp_path / "all.parquet")
    pq.write_table(full, all_path)
    build_index(spark, spark.read.parquet(all_path), ref_idx, cfg,
                resume_batches=1)
    ts_a = sorted(map(tuple, spark.read.parquet(f"{idx}/term_stats").collect()))
    ts_b = sorted(map(tuple,
                      spark.read.parquet(f"{ref_idx}/term_stats").collect()))
    assert ts_a == ts_b


def test_crash_then_new_docs_staged_forces_full_rederive(spark, dirs,
                                                         tmp_path,
                                                         monkeypatch):
    """The staleness stamp must gate the NON-empty staging branch too.

    Scenario (ADVICE round 4, high): a compaction crashes AFTER its
    parsed append (compact-1 committed, derived tables never absorbed
    it), then NEW docs are staged BEFORE the replay runs. The replay's
    staging is non-empty, so the empty-branch stale check never fires;
    without the pre-append stamp gate the replay would append compact-2
    and take the incremental path over derived tables missing compact-1,
    then re-stamp with the full batch list — silently losing compact-1's
    docs from the index forever. The gate must force the full re-derive
    instead, and the result must equal a from-scratch build."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators import index_build
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    full = generate_web_pages(300)
    base_path = str(tmp_path / "base.parquet")
    pq.write_table(full.slice(0, 180), base_path)
    pq.write_table(full.slice(180, 60),
                   os.path.join(dirs["incoming"], "wave1.parquet"))

    idx = str(tmp_path / "crash2_idx")
    build_index(spark, spark.read.parquet(base_path), idx, cfg,
                resume_batches=1)
    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )

    real_derive = index_build.derive_index_tables

    def boom(spark, cat, cfg, batch_id=None):
        if batch_id is not None:  # the incremental fold
            raise RuntimeError("simulated crash before derive")
        return real_derive(spark, cat, cfg, batch_id)

    monkeypatch.setattr(index_build, "derive_index_tables", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_staging(spark, idx, dirs["staging"], cfg)
    monkeypatch.setattr(index_build, "derive_index_tables", real_derive)

    # NEW docs land in staging before the replay — the non-empty branch
    pq.write_table(full.slice(240, 60),
                   os.path.join(dirs["incoming"], "wave2.parquet"))
    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )

    out = compact_staging(spark, idx, dirs["staging"], cfg)
    assert out["batch_id"] == "compact-2"  # the new docs did append
    assert out["incremental"] is False  # stale stamp → full re-derive

    cat = CatalogAdapter(idx)
    assert cat.properties()["derived_from_batches"] == sorted(
        map(str, cat.completed_batches("parsed"))
    )

    # the index now equals a from-scratch build over ALL 300 docs —
    # including compact-1's docs the buggy path would have dropped
    ref_idx = str(tmp_path / "crash2_ref")
    all_path = str(tmp_path / "all.parquet")
    pq.write_table(full, all_path)
    build_index(spark, spark.read.parquet(all_path), ref_idx, cfg,
                resume_batches=1)
    ts_a = sorted(map(tuple, spark.read.parquet(f"{idx}/term_stats").collect()))
    ts_b = sorted(map(tuple,
                      spark.read.parquet(f"{ref_idx}/term_stats").collect()))
    assert ts_a == ts_b


def test_compaction_adopts_stamped_config(spark, dirs, tmp_path):
    """Compacting WITHOUT the original config must adopt the build-time
    stamps (stemming mode preserved); a contradicting explicit config
    raises instead of silently rebuilding different semantics."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    stem_cfg = EngineConfig(num_buckets=4, shuffle_partitions=8,
                            stemming=True)
    full = generate_web_pages(200)
    base_path = str(tmp_path / "stem_base.parquet")
    pq.write_table(full.slice(0, 150), base_path)
    pq.write_table(full.slice(150, 50),
                   os.path.join(dirs["incoming"], "more.parquet"))

    idx = str(tmp_path / "stem_idx")
    build_index(spark, spark.read.parquet(base_path), idx, stem_cfg,
                resume_batches=1)
    assert CatalogAdapter(idx).properties()["stemming"] is True

    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"],
        stem_cfg,
    )

    # contradicting config → refuse
    with pytest.raises(ValueError, match="stemming"):
        compact_staging(spark, idx, dirs["staging"],
                        EngineConfig(num_buckets=4, stemming=False))

    # no config → adopt the stamps; the stamp must survive compaction
    out = compact_staging(spark, idx, dirs["staging"], config=None)
    assert out["batch_id"] == "compact-1"
    props = CatalogAdapter(idx).properties()
    assert props["stemming"] is True
    assert props["num_buckets"] == 4


def test_compaction_dedupes_within_staging(spark, dirs, tmp_path):
    """The same doc staged twice (foreachBatch retry / double-crawl) must
    appear once in the compacted parsed table."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.parse import parse_corpus
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import compact_staging

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    full = generate_web_pages(220)
    base_path = str(tmp_path / "dup_base.parquet")
    pq.write_table(full.slice(0, 160), base_path)
    idx = str(tmp_path / "dup_idx")
    build_index(spark, spark.read.parquet(base_path), idx, cfg,
                resume_batches=1)

    # stage the same 60-doc slice TWICE (simulated retry re-append)
    more = str(tmp_path / "more.parquet")
    pq.write_table(full.slice(160, 60), more)
    staged = parse_corpus(spark.read.parquet(more), cfg)
    os.makedirs(dirs["staging"], exist_ok=True)
    staged.write.mode("append").parquet(dirs["staging"])
    staged.write.mode("append").parquet(dirs["staging"])
    assert spark.read.parquet(dirs["staging"]).count() == 120

    base_docs = spark.read.parquet(f"{idx}/parsed").count()
    new_docs = staged.select("doc_id").distinct().count()
    compact_staging(spark, idx, dirs["staging"], cfg)
    parsed = spark.read.parquet(f"{idx}/parsed")
    assert parsed.count() == parsed.select("doc_id").distinct().count()
    assert parsed.count() == base_docs + new_docs


def test_compaction_avgdl_drift_matches_oracle(spark, dirs, tmp_path):
    """Incremental compaction passes untouched posting rows through as
    they were written before the fold. When fresh docs RAISE the corpus
    avg_dl, the BM25 length factor of every old doc changes, so scoring
    must take avg_dl from the folded corpus, never from the posting rows.
    Build short docs, compact in docs ~8x longer, and pin pure-BM25 ranks
    and scores to the single-process oracle over the union corpus, on
    queries that hit untouched terms."""
    shutil.rmtree(dirs["staging"], ignore_errors=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.search import BM25SearchEngine
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )
    from tests.oracle import build_oracle

    def pages(texts, start):
        n = len(texts)
        return pa.table({
            "url": pa.array(
                [f"https://drift.example/p{start + i}" for i in range(n)],
                pa.string()),
            "warc_ts": pa.array([1_600_000_000_000_000 + i
                                 for i in range(n)],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([t.encode() for t in texts], pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
        })

    # base: short docs over terms alpha..golf (these stay untouched)
    base_words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
                  "golf"]
    base_texts = [
        " ".join(base_words[i % 7] for _ in range(5 + i % 7)) + " common"
        for i in range(60)
    ]
    # fresh: much longer docs over DIFFERENT terms (plus one shared term so
    # the merge path runs too) — corpus avg_dl rises ~8x
    fresh_texts = [
        " ".join(f"zulu{i % 5}" for _ in range(400)) + " common"
        for i in range(20)
    ]

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8,
                       w_cosine=0.0, w_bm25=1.0, w_glove=0.0)
    base_path = str(tmp_path / "short.parquet")
    pq.write_table(pages(base_texts, 0), base_path)
    pq.write_table(pages(fresh_texts, 1000),
                   os.path.join(dirs["incoming"], "long.parquet"))

    idx = str(tmp_path / "drift_idx")
    build_index(spark, spark.read.parquet(base_path), idx, cfg,
                resume_batches=1)
    old_avg = float(spark.read.parquet(f"{idx}/corpus_stats")
                    .collect()[0]["avg_doc_length"])

    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )
    out = compact_staging(spark, idx, dirs["staging"], cfg)
    assert out["incremental"] is True
    assert out["avg_dl"] > 3 * old_avg  # the drift is material

    oracle = build_oracle(
        [(r["url"], r["warc_ts"], r["text"])
         for t in (pages(base_texts, 0), pages(fresh_texts, 1000))
         for r in t.to_pylist()],
        config=cfg,
    )
    assert out["avg_dl"] == pytest.approx(oracle.avg_dl, abs=1e-12)

    engine = BM25SearchEngine(spark, idx, cfg)
    queries = [(1, "alpha bravo"), (2, "charlie common"),
               (3, "delta echo foxtrot"), (4, "golf alpha common")]
    got = {}
    for r in engine.search_batch(queries, k=10).collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    for qid, text in queries:
        expected = oracle.search(text, k=10)
        actual = sorted(got.get(qid, []))
        assert len(actual) == len(expected) > 0, qid
        for (er, eu, es, _ts), (ar, au, asc) in zip(expected, actual):
            assert (ar, au) == (er, eu), qid
            assert asc == pytest.approx(es, abs=1e-9), qid


def _table_counts(spark, idx):
    from search_engine_spark.sources.catalog import CatalogAdapter

    cat = CatalogAdapter(idx)
    n_docs = cat.read_table(spark, "corpus_stats").collect()[0]["n_docs"]
    return (n_docs, cat.read_table(spark, "parsed").count(),
            cat.read_table(spark, "doc_stats").count())


def test_compaction_fallback_keeps_fresh_docs(spark, dirs, tmp_path):
    """A fresh batch the incremental path cannot take (here a missing
    vocab_capitals table, as on an index from before the vocabulary
    states were persisted) must reach every derived table: the full
    re-derive drops them all and rebuilds from ``parsed`` instead of
    skipping the tables that exist."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import generate_web_pages
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    full = generate_web_pages(260)
    base_path = str(tmp_path / "base.parquet")
    pq.write_table(full.slice(0, 200), base_path)
    pq.write_table(full.slice(200, 60),
                   os.path.join(dirs["incoming"], "more.parquet"))
    idx = str(tmp_path / "fallback_idx")
    build_index(spark, spark.read.parquet(base_path), idx, cfg,
                resume_batches=1)
    n_before = _table_counts(spark, idx)[0]
    CatalogAdapter(idx).drop_table("vocab_capitals")

    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )
    out = compact_staging(spark, idx, dirs["staging"], cfg)
    assert out["batch_id"] == "compact-1"
    assert out["incremental"] is False
    n_docs, n_parsed, n_doc_stats = _table_counts(spark, idx)
    assert n_docs == n_parsed == n_doc_stats == out["n_docs"]
    assert n_docs > n_before


def test_compaction_into_empty_index(spark, dirs, tmp_path):
    """An index whose ``parsed`` table is empty (every page cleaned to
    nothing) cannot be built or compacted into: both raise a ValueError
    that names the cause, never a TypeError from null corpus stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.catalog import CatalogAdapter
    from search_engine_spark.sources.fixtures import (
        EMPTY_SNIPPET, generate_web_pages,
    )
    from search_engine_spark.streaming.incremental import (
        compact_staging, incremental_index_update,
    )

    cfg = EngineConfig(num_buckets=4, shuffle_partitions=8)
    full = generate_web_pages(100)
    blank = full.slice(0, 40)
    blank = blank.set_column(
        blank.schema.get_field_index("text"), "text",
        pa.array([EMPTY_SNIPPET] * blank.num_rows, pa.string()),
    )
    blank_path = str(tmp_path / "blank.parquet")
    pq.write_table(blank, blank_path)
    pq.write_table(full.slice(40, 60),
                   os.path.join(dirs["incoming"], "new.parquet"))

    idx = str(tmp_path / "empty_idx")
    with pytest.raises(ValueError, match="no parsed documents"):
        build_index(spark, spark.read.parquet(blank_path), idx, cfg,
                    resume_batches=1)
    cat = CatalogAdapter(idx)
    assert cat.is_complete("parsed")
    assert cat.read_table(spark, "parsed").count() == 0

    incremental_index_update(
        spark, dirs["incoming"], dirs["staging"], dirs["checkpoint"], cfg
    )
    with pytest.raises(ValueError, match="no parsed documents"):
        compact_staging(spark, idx, dirs["staging"], cfg)
    assert len(cat.completed_batches("parsed")) == 1  # nothing appended
