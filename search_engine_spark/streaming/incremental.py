"""Structured Streaming operators.

Two roles:

1. ``stream_event_counts`` — driver-gate entry: a real ``readStream`` over
   the events parquet with an availableNow trigger, tumbling-window counts
   into a memory sink; the result equals the batch (DuckDB-checkable)
   aggregation, demonstrating the streaming surface deterministically.

2. ``incremental_index_update`` — incremental index maintenance analog of
   the reference's one-shot build (it had none): new web-page files landing
   in a directory are parsed in micro-batches and their parsed rows are
   appended to a staging table; ``compact_staging`` folds staging into the
   main index. Used by tests/test_streaming.py.
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def stream_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: the PRODUCTION streaming path, end to end.

    Runs the update-mode watermarked windowed aggregation with the
    parquet dynamic-partition-overwrite upsert sink
    (``stream_event_counts_to_table``) against a fresh checkpoint, then
    returns the sink table read back from disk — so the driver-gate hash
    certifies the production-shape sink, not a driver-resident memory
    sink. availableNow + a fresh checkpoint makes the read-back
    deterministic (every event processed exactly once, each partition
    holding its final aggregate)."""
    import tempfile

    work = tempfile.mkdtemp(prefix=f"stream_gate_{uuid.uuid4().hex[:8]}_")
    out_dir = f"{work}/counts"
    stream_event_counts_to_table(
        spark, sf_dir, out_dir, f"{work}/ckpt",
        path_glob="events.parquet",
    )
    return spark.read.parquet(out_dir).select(
        F.col("hour_bucket").cast("long"),
        F.col("event_type").cast("string"),
        F.col("n_events").cast("long"),
        "sum_value",
    )


def stream_event_counts_to_table(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    path_glob: str | None = None,
) -> None:
    """Production-shape variant of ``stream_event_counts``.

    The gate entry above uses complete-mode + a memory sink, which is
    driver-resident — fine for a deterministic check, wrong at scale. This
    path runs the same watermarked windowed aggregation in UPDATE mode and
    upserts each micro-batch's changed groups into a parquet table via
    dynamic partition overwrite (the parquet-only analog of an Iceberg
    MERGE). Update mode emits only the (window, event_type) groups whose
    aggregate changed, carrying the full current value — so the sink
    partitions by exactly (hour_bucket, event_type) and each batch
    replaces precisely the partitions it has new values for. State is
    bounded by the 1-hour watermark; nothing lives on the driver.
    """
    reader = spark.read
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    batch_schema = reader.parquet(events_dir).schema
    sreader = spark.readStream.schema(batch_schema)
    if path_glob:
        sreader = sreader.option("pathGlobFilter", path_glob)
    stream = sreader.parquet(events_dir)
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.floor(F.unix_timestamp(F.col("win.start")) / 3600)
            .cast("long")
            .alias("hour_bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("hour_bucket", "event_type")
            .parquet(out_dir)
        )

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SQL_STREAM_EVENT_COUNTS = """
SELECT floor(epoch(ts) / 3600)::BIGINT AS hour_bucket, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
"""


def incremental_index_update(
    spark: SparkSession,
    incoming_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    config=None,
) -> None:
    """Micro-batch incremental index staging over a landing directory.

    readStream(web_pages dir) → parse (same Arrow-batched tokenizer) →
    append the PARSED rows (the index's own staged-parse schema) to a
    staging table. Exactly-once via the streaming checkpoint.
    ``compact_staging`` then folds staging into the main index without
    re-parsing anything — the Spark-native analog of incremental index
    maintenance (the reference is one-shot: a new corpus file means a full
    rebuild, indexer.py).
    """
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.parse import parse_corpus

    cfg = config or EngineConfig()
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    stream = spark.readStream.schema(schema).parquet(incoming_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        parse_corpus(batch_df, cfg).write.mode("append").parquet(staging_dir)

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def compact_staging(
    spark: SparkSession,
    index_path: str,
    staging_dir: str,
    config=None,
) -> dict:
    """Fold staged parsed rows into the main index (real compaction).

    The scorer requires exactly ONE encoded row per (bucket, term)
    (operators/search.py builds a term→row map per bucket), so appending
    staged postings as extra rows would silently shadow existing lists.
    Compaction exploits the build's own checkpoint structure:

    1. append the staged parse rows (minus already-indexed urls —
       idempotence under replay/re-crawl, and minus duplicates WITHIN
       staging from foreachBatch retries or re-crawls of the same url)
       as a new batch of the ``parsed`` table, with lineage in the
       manifest; its doc ids are re-assigned in the batch's slot
       (``index_build.next_parsed_slot``), above every existing id;
    2. INCREMENTAL derive (``derive_index_tables`` with the new
       ``batch_id``): posting rows whose (bucket, term) group gained no
       new docs pass through byte-identical (no decode, no exchange);
       touched groups tail-append the fresh postings; doc_stats appends
       the fresh rows; corpus_stats folds the increment. The expensive
       parse is never recomputed, and neither is the untouched bulk of
       the postings table.
    3. fall back to the full re-derive (``derive_index_tables`` with no
       batch, over the whole parsed relation, after dropping every
       derived table) when the incremental preconditions fail — a table
       is missing, the index is Iceberg-backed, or the
       ``derived_from_batches`` stamp says the derived tables are stale
       (a previous compaction crashed mid-swap).

    An index without the ``doc_id_mode: "monotone"`` manifest stamp was
    built with url-hash doc ids; compacting into it raises ``ValueError``
    (rebuild it). Search on such an index is unaffected.

    Crash-safety is keep-old-until-swap: every table write is atomic
    (_tmp + rename) and the ``derived_from_batches`` manifest stamp is
    committed LAST, so a crash at any point leaves either the complete
    old derived state or the complete new one plus possibly-newer tables
    that the stale stamp flags for the replay to rebuild from ``parsed``
    (which is always complete).

    The engine config is reconstructed from the manifest's build-time
    property stamps (stemming, topical_terms, glove, buckets), so
    compacting a stemmed or topical index without the original config
    object cannot silently flip its semantics; an explicitly passed
    ``config`` that contradicts the stamps raises.
    """
    from pyspark.sql import Window

    from search_engine_spark.operators.index_build import (
        config_from_properties, derive_index_tables, next_parsed_slot,
        require_parsed_docs,
    )
    from search_engine_spark.operators.parse import (
        STAGED_SCHEMA, assign_doc_ids, read_parsed,
    )
    from search_engine_spark.sources.catalog import CatalogAdapter

    cat = CatalogAdapter(index_path)
    require_parsed_docs(cat)
    props = cat.properties()
    if props.get("doc_id_mode") != "monotone":
        # url-hash ids: fresh postings would interleave with old ones
        raise ValueError(
            f"index {index_path} lacks the batch-monotone doc-id stamp "
            f"(doc_id_mode={props.get('doc_id_mode')!r}): it was built with "
            "url-hash ids, or its build never finished; rebuild it "
            "(build_index into a fresh path) before compacting into it"
        )
    cfg = config_from_properties(props, explicit=config)

    # Staleness gate, computed BEFORE this invocation appends anything:
    # the derived tables are trustworthy only if they absorbed every batch
    # already in ``parsed``. A crash after a previous append_batch (or mid
    # fold) leaves the stamp pointing at an older batch list. If NEW docs
    # were staged before the replay, the empty-staging branch never runs —
    # so this check must also gate the incremental path below, or it would
    # fold compact-2 into tables that never absorbed compact-1 (possibly
    # half-updated: corpus_stats folded but postings not) and then
    # re-stamp with the FULL batch list, permanently masking the gap. A
    # missing stamp is treated as stale: it means no derive ever completed
    # its final commit.
    stamp_ok = props.get("derived_from_batches") == sorted(
        map(str, cat.completed_batches("parsed"))
    )

    # one explicit schema: staging files written before ``terms`` carried
    # ``cap`` read it as null (their ``capitals`` hold every flag) instead
    # of one file's footer deciding the layout of all
    staged = spark.read.schema(STAGED_SCHEMA).parquet(staging_dir)

    # Doc identity is the url: ids are batch-sequential, so re-crawl dedup
    # joins on the url itself. read_parsed goes through the catalog (not a
    # direct parquet read) so an Iceberg-routed index compacts the table it
    # actually wrote (catalog dispatches on ident).
    existing = read_parsed(spark, cat).select("url")
    # latest-wins within staging: the same doc can appear twice in the
    # staging dir (foreachBatch retry re-appending after a partial write,
    # or the same url crawled twice before compaction ran)
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc_nulls_last())
    fresh = (
        staged.join(existing, "url", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # staging ids are provisional: re-assign them in this batch's slot
    fresh = assign_doc_ids(fresh.drop("doc_id", "bucket"), cfg,
                           next_parsed_slot(cat))
    fresh = fresh.persist()  # evaluated twice: the isEmpty probe + append

    batch_id = "compact-%d" % (
        sum(1 for b in cat.completed_batches("parsed")
            if str(b).startswith("compact-")) + 1
    )
    if fresh.isEmpty():
        # replay after a completed (or crashed) compaction: nothing to
        # append. If the stale stamp says the derived tables predate the
        # last parsed append, rebuild them from parsed; otherwise only
        # re-derive whatever is missing.
        batch_id = None
    else:
        cat.append_batch(fresh, "parsed", batch_id,
                         metrics={"strategy": "stream_compact",
                                  "staging_dir": staging_dir})
    fresh.unpersist()  # appended (or empty); all later reads go via parsed

    # Iceberg routing: the fold overwrites doc_stats/postings with plans
    # that READ the same table. The parquet branch is safe
    # (write to _tmp, rename last); in Iceberg mode that write becomes a
    # self-referential REPLACE TABLE AS SELECT, which no test in this
    # jar-less sandbox can exercise — so Iceberg-backed indexes take the
    # full re-derive (reads only ``parsed``) until a runtime covers RTAS
    # (ADVICE r4; see tests/test_iceberg_branch.py's skipif e2e).
    iceberg_mode = cat._iceberg_ident(spark, "postings") is not None
    incremental_ok = (
        batch_id is not None
        and stamp_ok
        and not iceberg_mode
        and all(cat.has_table(t)
                for t in ("corpus_stats", "doc_stats", "postings",
                          "term_stats", "vocab_capitals", "vocab_entities"))
    )
    if not stamp_ok or (batch_id is not None and not incremental_ok):
        # the full re-derive skips every table that exists: whenever it must
        # absorb batches the tables have not seen (stale stamp, or a fresh
        # batch the incremental path cannot take), drop them all so it
        # re-derives the whole index from ``parsed``
        for table in ("corpus_stats", "doc_stats", "doc_stats_topical",
                      "postings", "term_stats", "vocab_capitals",
                      "vocab_entities"):
            cat.drop_table(table)

    stage_sec, n_docs, avg_dl = derive_index_tables(
        spark, cat, cfg, batch_id if incremental_ok else None
    )
    return {"n_docs": int(n_docs), "avg_dl": avg_dl,
            "batch_id": batch_id, "stage_sec": stage_sec,
            "incremental": incremental_ok}
