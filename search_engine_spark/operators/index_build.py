"""Inverted-index construction (the build job).

Spark re-expression of the reference's indexer (reference indexer.py:33-253):
the manual 200k-term spill files + external k-way merge collapse into one
wide aggregation — Spark's sort-merge shuffle IS the k-way merge. Layout is
**document-partitioned**: postings are grouped by ``(bucket, term)`` where
``bucket = doc_id % num_buckets``, so

- a hot term (stopword-adjacent high-DF token) is split across all buckets —
  the two-stage (term, bucket) → term aggregation is the skew salting the
  north_star calls for, with bucket as the salt;
- each bucket is a self-contained shard over its doc range: query-time
  scoring runs partition-parallel with a local top-k per shard, and the
  driver merges the shards' candidates into the global top-k;
- global df/idf comes from a second, small aggregation over the per-bucket
  ``local_df`` of the encoded postings.

Index finalization semantics replicate the reference merge loop
(indexer.py:156-173, SURVEY.md §2.5 M5-M7):

- named-entity prune: literal case-sensitive membership of the posting term
  in the entity counter — which, as in the reference, can never match
  (entity keys keep original capitalization, posting terms are lowercase),
  so it is carried as a faithful no-op;
- always-capitalized terms are stored UPPERCASED (making them unreachable
  by lowercase query terms — quirk kept, SURVEY.md §3.4.5);
- df == 1 terms are dropped from the vocabulary.

Tables written under ``index_path`` (parquet + manifest, Iceberg-shaped):
``parsed`` (staged parse output, the resume checkpoint), ``postings``,
``term_stats``, ``doc_stats``, ``corpus_stats``, the vocabulary states
``vocab_capitals`` / ``vocab_entities`` and, with topical terms,
``doc_stats_topical``. One function derives them all
(``derive_index_tables``): the build folds the whole parse into empty
tables, streaming compaction folds one new parse batch into the committed
ones.
"""

from __future__ import annotations

import functools
import math
import operator
import time

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.parse import parse_corpus, read_parsed
from search_engine_spark.sources.catalog import CatalogAdapter


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of a 32-bit int — Spark's hash() for IntegerType.

    Pure-Python replica of the published MurmurHash3 finalization for a
    single 4-byte block (the path Spark's ``Murmur3_x86_32.hashInt`` takes
    with its default seed 42). Pinned against ``F.hash`` in
    tests/test_plans.py so a Spark hash change can't silently desync.
    """
    m = 0xFFFFFFFF

    def rotl(v: int, n: int) -> int:
        return ((v << n) | (v >> (32 - n))) & m

    k1 = rotl((x & m) * 0xCC9E2D51 & m, 15) * 0x1B873593 & m
    h1 = (rotl((seed & m) ^ k1, 13) * 5 + 0xE6546B64) & m
    h1 ^= 4  # total byte length
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & m
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


@functools.lru_cache(maxsize=None)
def _bucket_partition_keys(num_buckets: int, partitions: int) -> tuple[int, ...]:
    """Per-bucket int keys that hash-partition each bucket to ONE chosen
    partition: ``pmod(murmur3(key[b]), partitions) == b * partitions //
    num_buckets``.

    ``repartitionByRange`` on the bucket column picks boundaries by
    SAMPLING; with num_buckets ≈ partitions a one-off boundary puts two
    whole buckets in one task and zero in another (measured max/mean skew
    1.99 at 32/32 — the stage wall doubles). Deterministic keys make the
    exchange exact at any buckets:partitions ratio, keep buckets in
    contiguous blocks (``b*P//B`` is monotonic, so the partitioned write
    still emits one file run per bucket), and drop the range-sampling
    pass over the parsed relation entirely.
    """
    targets = {b * partitions // num_buckets for b in range(num_buckets)}
    found: dict[int, int] = {}
    k = 0
    while len(found) < len(targets):
        pid = _murmur3_int32(k) % partitions
        if pid in targets and pid not in found:
            found[pid] = k
        k += 1
    return tuple(
        found[b * partitions // num_buckets] for b in range(num_buckets)
    )


def bucket_exchange(df: DataFrame, config: EngineConfig) -> DataFrame:
    """Exchange ``df`` so each ``bucket`` lands wholly in one partition,
    evenly and deterministically (see _bucket_partition_keys).

    Parallelism note: whole-bucket placement caps this exchange's useful
    parallelism at ``num_buckets`` — with num_buckets < shuffle_partitions
    the excess partitions stay empty. That is inherent for frames where the
    term column is still packed inside the ``terms`` array (nothing finer
    than ``bucket`` exists to partition on); callers whose rows DO carry a
    term column fall back to (bucket, term) hash partitioning when
    undersized instead — see ``sorted_posting_rows`` and
    ``encoded_rows_exchange``. At 100 TB scale num_buckets ≈ n_docs/2M ≫
    cores, so the cap never binds there.
    """
    keys = _bucket_partition_keys(
        config.num_buckets, config.shuffle_partitions
    )
    keycol = F.element_at(
        F.array(*[F.lit(k) for k in keys]),
        F.col("bucket").cast("int") + 1,
    )
    return df.repartition(config.shuffle_partitions, keycol)


def encoded_rows_exchange(df: DataFrame, config: EngineConfig) -> DataFrame:
    """Exchange rows that carry a ``term`` column (encoded posting rows).

    Whole-bucket placement when the bucket count can use every partition;
    (bucket, term) hash partitioning otherwise — each (bucket, term) group
    still lands wholly in one partition (the scorer's one-row-per-group
    invariant), but the exchange uses ALL partitions at any bucket count.
    """
    if config.num_buckets < config.shuffle_partitions:
        return df.repartition(config.shuffle_partitions, "bucket", "term")
    return bucket_exchange(df, config)


def _explode_terms(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "bucket",
        "doc_id",
        "doc_length",
        F.explode("terms").alias("kv"),
    ).select(
        "bucket",
        "doc_id",
        "doc_length",
        F.col("kv.term").alias("term"),
        F.col("kv.tf").alias("tf"),
    )


def sorted_posting_rows(parsed: DataFrame, config: EngineConfig) -> DataFrame:
    """THE wide shuffle — shuffle compact DOC rows, explode after.

    Every (bucket, term) posting group lives wholly inside one bucket, so
    partitioning by ``bucket`` alone already co-locates whole groups; the
    explode to posting rows and the ``sortWithinPartitions(bucket, term,
    doc_id)`` external sort then run shuffle-free on the receiving side.
    Shuffling the slim parsed rows (bucket, doc_id, doc_length, terms
    array) instead of pre-exploded posting rows moves ~4× fewer bytes —
    no per-posting repetition of doc_id/doc_length/bucket and no
    per-posting row overhead — which matters because the posting shuffle
    is the build's bandwidth-bound stage (measured 2→8-core scaling 0.57
    for the exploded-row shuffle vs 0.90 for the CPU-bound parse).

    Spark's sort-merge machinery replaces the reference's manual spill +
    external k-way merge (indexer.py:110-253). Grouping on (bucket, term)
    rather than term alone is the hot-term salting (bucket = doc-hash
    salt): a stopword-adjacent high-DF term's rows spread across all
    buckets instead of one reducer. The exchange maps each bucket to one
    partition with deterministic hash keys (bucket_exchange) — exact even
    splits at any buckets:partitions ratio, whole contiguous buckets per
    partition (one file run per bucket in the partitioned write), and no
    range-sampling pass. No collect_list buffers, no wide-row
    materialization — the downstream encoder streams over the sorted rows.
    """
    if config.num_buckets < config.shuffle_partitions:
        # Undersized-buckets fallback (small local configs; at 100 TB
        # num_buckets ≫ cores and this branch never runs): whole-bucket
        # placement would cap the sort stage at num_buckets tasks, so
        # explode FIRST and hash-partition on (bucket, term) — every
        # (bucket, term) posting group still lands wholly in one partition
        # (the scorer's one-row-per-group invariant holds, blobs are
        # byte-identical), but groups spread across ALL partitions. Costs
        # the fat posting-row shuffle the slim path avoids — the price of
        # full parallelism when the bucket count can't provide it.
        rows = _explode_terms(parsed)
        return (
            rows.repartition(config.shuffle_partitions, "bucket", "term")
            .sortWithinPartitions("bucket", "term", "doc_id")
        )
    slim = parsed.select("bucket", "doc_id", "doc_length", "terms")
    return (
        _explode_terms(bucket_exchange(slim, config))
        .sortWithinPartitions("bucket", "term", "doc_id")
    )


def _union(old: DataFrame | None, new: DataFrame) -> DataFrame:
    """``new`` appended to ``old`` (just ``new`` when there is no old)."""
    return new if old is None else old.unionByName(new)


def capitals_state(rows: DataFrame) -> DataFrame:
    """A5 raw state: bool AND across docs of the per-doc capital flag
    (min ≡ AND). Associative — two corpora's states fold with another min,
    which is what lets a fold skip the full parsed scan.

    A doc's flags are its terms' non-null ``cap`` plus its ``capitals``
    (the keys that are not terms); a batch staged before ``terms`` carried
    ``cap`` reads it as null and holds every flag in ``capitals``."""
    flags = F.concat(F.arrays_zip("terms.term", "terms.cap"),
                     F.col("capitals"))
    return (
        rows.select(F.explode(flags).alias("kv"))
        .where(F.col("kv.cap").isNotNull())
        .select(F.col("kv.term").alias("term"), F.col("kv.cap").alias("cap"))
        .groupBy("term")
        .agg(F.min("cap").alias("always_cap"))
    )


def entity_state(rows: DataFrame) -> DataFrame:
    """A4 raw state: per-doc-distinct entity counts (entities is a set per
    doc). Additive across corpora."""
    return (
        rows.select(F.explode("entities").alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("entity_count"))
    )


def _fold_state(old: DataFrame | None, new: DataFrame, key: str,
                value: str, combine, empty) -> DataFrame:
    """Per-``key`` state ``new`` folded into ``old`` (just ``new`` when
    there is no old): a full outer join, ``combine`` of both sides'
    ``value``, a side without the key counting as ``empty``."""
    if old is None:
        return new
    o, n = (F.coalesce(F.col(f"{side}.{value}"), F.lit(empty))
            for side in ("o", "n"))
    return old.alias("o").join(new.alias("n"), key, "full_outer").select(
        key, combine(o, n).alias(value))


def build_vocabulary(
    df_raw: DataFrame, capitals: DataFrame, entity_counts: DataFrame,
) -> DataFrame:
    """Vocabulary with final (possibly uppercased) term and global df.

    Returns (term, final_term, df) for surviving terms only. ``df_raw``
    (term, df) comes from the encoded postings table — ``sum(local_df)``
    over the per-(bucket, term) rows, a |vocab|·buckets aggregation
    instead of re-exploding the full (doc, term) relation; ``capitals``
    and ``entity_counts`` are the persisted ``vocab_capitals`` /
    ``vocab_entities`` states.
    """
    vocab = (
        df_raw
        # M6 (faithful no-op): drop term if it IS an entity key with count<2
        .join(entity_counts, df_raw["term"] == entity_counts["entity"], "left")
        .filter(~((F.col("entity_count").isNotNull()) & (F.col("entity_count") < 2)))
        .drop("entity", "entity_count")
        # M7: uppercase rewrite for always-capitalized terms
        .join(capitals, "term", "left")
        .withColumn(
            "final_term",
            F.when(F.col("always_cap") == True, F.upper("term")).otherwise(  # noqa: E712
                F.col("term")
            ),
        )
        .drop("always_cap")
        # M5: df == 1 prune
        .filter(F.col("df") > 1)
    )
    return vocab


def _with_glove_vec(spark: SparkSession, parsed: DataFrame,
                    cfg: EngineConfig) -> DataFrame:
    """doc_stats with a per-doc mean embedding column (A6, indexer.py:54-61).

    The embedding dict is broadcast once; vectors are accumulated in the
    doc's distinct-term insertion order (float64) so scores stay
    rank-identical with the oracle.
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StringType,
        StructField, StructType, TimestampType,
    )

    from search_engine_spark.functions.glove import doc_vector, load_glove

    glove_b = spark.sparkContext.broadcast(load_glove(cfg.glove_path))
    dim = cfg.glove_dim
    schema = StructType(
        [
            StructField("bucket", IntegerType(), True),
            StructField("doc_id", LongType(), True),
            StructField("url", StringType(), True),
            StructField("warc_ts", TimestampType(), True),
            StructField("doc_length", IntegerType(), True),
            StructField("max_tf", IntegerType(), True),
            StructField("unique_terms", IntegerType(), True),
            StructField("glove_vec", ArrayType(DoubleType()), True),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        glove = glove_b.value
        for pdf in batches:
            vecs = [doc_vector(terms, glove, dim) for terms in pdf["terms"]]
            out = pdf.drop(columns=["terms"])
            out["glove_vec"] = [np.asarray(v) for v in vecs]
            yield out

    return parsed.select(
        "bucket", "doc_id", "url", "warc_ts", "doc_length",
        "max_tf", "unique_terms",
        F.col("terms.term").alias("terms"),
    ).mapInPandas(fn, schema=schema)


def _estimate_scan_splits(pages: DataFrame, cfg: EngineConfig,
                          fallback: int) -> int:
    """Estimate the scan's split count from file metadata alone.

    Avoids ``pages.rdd.getNumPartitions()`` which forces a DataFrame→RDD
    conversion just to read a number. Splits ≈ max(n_files,
    total_bytes / maxPartitionBytes) — exact enough for the small-corpus
    parallelism guard (the only consumer); errs low for local files, which
    at worst triggers a harmless repartition of a tiny input.
    """
    import os

    try:
        files = pages.inputFiles()
    except Exception:
        return fallback
    if not files:
        return fallback
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return len(files)
    import math as _math

    return max(len(files),
               _math.ceil(total / max(cfg.files_max_partition_bytes, 1)))


def _plan_parse_batches(
    spark: SparkSession, pages: DataFrame, resume_batches: int,
    cfg: EngineConfig,
) -> list[tuple[str, DataFrame, dict]]:
    """Slice the corpus into resume batches with per-batch input lineage.

    Preferred strategy — **file-level slicing**: when ``pages`` is a bare
    table scan, the input files are partitioned into ``resume_batches``
    contiguous groups (sorted order) and each batch reads ONLY its own
    files. Every input file is scanned exactly once across the whole build
    (single-scan-equivalent I/O), and the manifest entry records the
    batch's exact file list + bytes — the per-partition lineage the
    north_rule asks for (the Iceberg analog: one snapshot per completed
    file group).

    Fallback — **hash slicing**: if ``pages`` carries transformations (so
    re-reading files would drop them) or exposes no file list, fall back to
    filtering the full relation by a hash slice per batch. Correct, but
    re-scans the input once per batch; callers should pass a bare scan.
    """
    bare_scan = False
    try:
        analyzed = pages._jdf.queryExecution().analyzed().toString()
        # the file-level path re-reads each group with spark.read.parquet,
        # so it is only valid for an untransformed PARQUET relation
        bare_scan = (
            analyzed.strip().startswith("Relation")
            and "parquet" in analyzed.lower()
            and ("\n+" not in analyzed and "\n:" not in analyzed)
        )
    except Exception:
        bare_scan = False
    files: list[str] = []
    if bare_scan:
        try:
            files = sorted(pages.inputFiles())
        except Exception:
            files = []

    if files and len(files) >= resume_batches:
        return _file_groups(spark, pages.schema, files, resume_batches, "")

    out: list[tuple[str, DataFrame, dict]] = []
    for i in range(resume_batches):
        subset = pages.filter(
            F.pmod(
                F.pmod(F.xxhash64("url"), F.lit(cfg.num_buckets)),
                F.lit(resume_batches),
            )
            == i
        )
        out.append((str(i), subset,
                    {"strategy": "hash_slice", "n_slices": resume_batches,
                     "slice_buckets": cfg.num_buckets}))
    return out


def _file_groups(
    spark: SparkSession, schema, files: list[str], n_groups: int, id_prefix: str
) -> list[tuple[str, DataFrame, dict]]:
    """Partition ``files`` into ``n_groups`` contiguous batches with lineage."""
    import os

    out: list[tuple[str, DataFrame, dict]] = []
    n = len(files)
    n_groups = max(1, min(n_groups, n))
    base, rem = divmod(n, n_groups)
    start = 0
    for i in range(n_groups):
        size = base + (1 if i < rem else 0)
        group = files[start:start + size]
        start += size
        nbytes = 0
        for f in group:
            p = f[7:] if f.startswith("file://") else f
            try:
                nbytes += os.path.getsize(p)
            except OSError:
                pass
        subset = spark.read.schema(schema).parquet(*group)
        out.append(
            (f"{id_prefix}{i}", subset,
             {"strategy": "files", "input_files": group,
              "input_bytes": nbytes})
        )
    return out


def _reconcile_resume_plan(
    spark: SparkSession,
    cat: CatalogAdapter,
    plan: list[tuple[str, DataFrame, dict]],
    entries: list[dict],
    resume_batches: int,
    schema,
) -> list[tuple[str, DataFrame, dict]]:
    """Validate recorded resume lineage against the freshly planned batches.

    File-level resume is only sound when every file a completed batch
    recorded is still part of the CURRENT input listing — files added or
    removed between the crash and the resume would otherwise remap batch
    ids onto different file groups (docs silently skipped or parsed twice).

    - all recorded inputs still present → process only the not-yet-covered
      files, regrouped under fresh batch ids (completed work is kept);
    - a recorded input vanished, or the slicing strategy changed between
      runs → the staged parse no longer matches the input: drop it and
      rebuild from scratch (correctness over resume savings);
    - hash-slice on both sides → slices are content-addressed (url hash),
      stable across runs: keep the plan as-is.
    """
    if not entries:
        return plan
    file_plan = bool(plan) and plan[0][2].get("strategy") == "files"
    file_entries = all(e.get("strategy") == "files" and e.get("input_files")
                      for e in entries)
    if file_plan and file_entries:
        current = [f for _bid, _df, lin in plan for f in lin["input_files"]]
        current_set = set(current)
        covered: set[str] = set()
        for e in entries:
            covered.update(e["input_files"])
        if covered - current_set:
            cat.drop_table("parsed")
            return plan
        remaining = [f for f in current if f not in covered]
        if not remaining:
            return []
        return _file_groups(spark, schema, remaining, resume_batches,
                            f"resume{len(entries)}-")
    if file_plan != file_entries:
        cat.drop_table("parsed")
        return plan
    # hash-slice on both sides: slices are content-addressed (url hash) and
    # stable across runs ONLY under identical slicing parameters — a changed
    # resume_batches/num_buckets remaps batch ids onto different doc sets
    params = {(e.get("n_slices"), e.get("slice_buckets")) for e in entries}
    current_params = {(lin.get("n_slices"), lin.get("slice_buckets"))
                      for _bid, _df, lin in plan}
    if params != current_params:
        cat.drop_table("parsed")
    return plan


def next_parsed_slot(cat: CatalogAdapter) -> int:
    """Doc-id slot of the next ``parsed`` batch (``parse.assign_doc_ids``):
    the number of batches already committed, read just before the append.
    The one rule for build, resume and compaction; unlike a plan position
    it never repeats after a file-level resume regroups the plan."""
    return len(cat.completed_batches("parsed"))


def require_parsed_docs(cat: CatalogAdapter) -> None:
    """Raise if ``parsed`` holds no document (per the manifest's batch row
    counts): there is nothing to index or to fold into."""
    if not any(e.get("rows") for e in cat.batch_entries("parsed")):
        raise ValueError(
            f"index {cat.root} has no parsed documents: every input page "
            "cleaned to nothing. Build the index from pages that parse."
        )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_path: str,
    config: EngineConfig | None = None,
    resume_batches: int = 4,
) -> dict:
    """Run the full index build; returns build metrics.

    Stage A parses the corpus (narrow, no shuffle) and stages the result —
    the checkpoint boundary for resume. Stage B derives every index table
    from the staged parse (``derive_index_tables``): the postings take one
    exchange of the parsed rows (whole buckets, or a (bucket, term) hash
    when buckets are fewer than shuffle partitions) plus a sort within
    partitions; the stats and vocabulary states are small aggregations.
    """
    cfg = config or EngineConfig()
    cat = CatalogAdapter(index_path)
    t0 = time.time()
    snapshots = cat.snapshot_count()

    # ---- stage A: parse + stage (resume checkpoint) -----------------------
    # The expensive narrow stage is committed in `resume_batches` slices,
    # each with its own manifest entry (rows + wall time + input lineage):
    # a killed build resumes by skipping committed batches (north_rule
    # per-partition lineage; tested in tests/test_resume.py). Batches are
    # input-FILE groups when pages is a bare scan — every file is read
    # exactly once across the build — with a hash-slice fallback for
    # transformed inputs (see _plan_parse_batches).
    #
    # Parallelism guard: a production table has >> cores input splits, but a
    # small local corpus can land in a single 128 MB split, serializing the
    # (CPU-bound) tokenizer. If the scan has fewer partitions than cores,
    # spread it — the repartition shuffle is a no-op at real scale because
    # the guard never fires there.
    target_par = cfg.parse_partitions or spark.sparkContext.defaultParallelism
    scan_par = _estimate_scan_splits(pages, cfg, target_par)
    if not cat.is_complete("parsed"):
        plan = _plan_parse_batches(spark, pages, resume_batches, cfg)
        plan = _reconcile_resume_plan(
            spark, cat, plan, cat.batch_entries("parsed"), resume_batches,
            pages.schema,
        )
        done = set(cat.completed_batches("parsed"))
        for batch_id, subset, lineage in plan:
            if batch_id in done:
                continue
            if scan_par < target_par:
                subset = subset.repartition(target_par)
            cat.append_batch(
                parse_corpus(subset, cfg, slot=next_parsed_slot(cat)),
                "parsed", batch_id, metrics=lineage,
            )
        cat.finalize_batched_table("parsed")
    require_parsed_docs(cat)
    t_parse = time.time()
    stage_sec, n_docs, _avg_dl = derive_index_tables(spark, cat, cfg)

    wall = time.time() - t0
    metrics = {
        "n_docs": int(n_docs),
        "wall_sec": wall,
        "parse_sec": t_parse - t0,
        "docs_per_sec": (int(n_docs) / wall) if wall > 0 else math.inf,
        "num_buckets": cfg.num_buckets,
        "stage_sec": stage_sec,
    }
    # a re-run on a complete index commits nothing: keep the build record
    if cat.snapshot_count() > snapshots:
        cat.finish_build(metrics)
    return metrics


def derive_index_tables(
    spark: SparkSession, cat: CatalogAdapter, cfg: EngineConfig,
    batch_id: str | None = None,
) -> tuple[dict, int, float]:
    """Stages B1-B3: fold the parsed rows each index table has not yet
    absorbed into that table. Returns ``(stage_sec, n_docs, avg_dl)``.

    - ``batch_id=None`` (build, table-level resume, compaction's full
      re-derive): a missing table is derived from all of ``parsed``; a
      committed table has absorbed every row and is skipped.
    - ``batch_id`` given (streaming compaction): every committed table
      folds in that one ``parsed`` batch. A batch the
      ``derived_from_batches`` stamp already lists raises ``ValueError``
      before any write.

    Each table is ``write(combine(old, new(rows)))``, with ``old`` None
    when there is nothing to fold into. Per table:

    - ``corpus_stats`` — the rows' counts plus the old row's (avg =
      total / n).
    - ``doc_stats`` (+ ``doc_stats_topical``) — per-doc rows have no
      global dependencies: old rows pass through, new rows are appended
      (glove vectors included).
    - ``postings`` — the new rows' streaming encode. Folded into old
      postings, the (bucket, term) groups that gained no docs pass through
      BYTE-IDENTICAL (no decode, no shuffle: a broadcast anti-join against
      the new group keys), new-only groups are written as encoded, and
      groups on both sides append the new postings (``splice_pairs``);
      batch-monotone doc ids put every new id above every old one. A blob
      depends only on its (doc_id, doc_length, tf) rows, never on avg_dl,
      so untouched rows stay valid however far the corpus stats move.
    - ``vocab_capitals`` (AND) / ``vocab_entities`` (sum) — the new
      rows' per-term state outer-joined to the old one, so the full parse
      is never re-scanned.
    - ``term_stats`` — df from the postings (a (term, local_df) column
      scan) and the vocabulary states.

    All writes are atomic per table (catalog _tmp + rename). After the
    last one, ``corpus_stats.n_docs`` must equal the rows the manifest
    records for ``parsed``; only then is the ``derived_from_batches``
    staleness stamp committed, so a crash or a mismatch leaves it stale
    and a compaction replay re-derives.
    """
    from search_engine_spark.operators.codec import encode_sorted_postings

    if batch_id is not None and batch_id in cat.properties().get(
            "derived_from_batches", ()):
        raise ValueError(
            f"batch {batch_id!r} of {cat.root} is already in "
            "derived_from_batches: folding it again would count it twice; "
            "no table was written"
        )
    stage_sec, mark = _stage_timer()
    # read_table (not a direct parquet read) so Iceberg-routed builds read
    # the table they actually wrote; `batch` is the lineage column in both
    # modes (partition-discovered on parquet, explicit on Iceberg).
    # Read-side parallelism comes from split sizing
    # (EngineConfig.files_max_partition_bytes / files_open_cost_bytes),
    # not a repartition, which would re-shuffle the parse in every job.
    parsed = read_parsed(spark, cat)
    batch = (None if batch_id is None
             else parsed.filter(F.col("batch") == batch_id).drop("batch"))
    parsed = parsed.drop("batch")

    def pending(table: str) -> tuple[DataFrame | None, DataFrame | None]:
        """``(old, rows)``: the committed ``table`` (None if missing) and
        the parsed rows it has not absorbed (None if none)."""
        if not cat.has_table(table):
            return None, parsed
        if batch is None:
            return None, None
        return cat.read_table(spark, table), batch

    # ---- stage B1: corpus + doc stats -------------------------------------
    old, rows = pending("corpus_stats")
    if rows is None:  # absorbed every row: only read its counts
        old = cat.read_table(spark, "corpus_stats")
    n_docs = total = 0
    if old is not None:
        row = old.collect()[0]
        n_docs, total = int(row["n_docs"]), int(row["total_tokens"])
    if rows is not None:
        n, s = rows.agg(F.count("*"), F.sum("doc_length")).collect()[0]
        n_docs, total = n_docs + n, total + (s or 0)
        # one JVM-side row (a local list would start Python workers);
        # total / n_docs rounds once, as Spark's avg(doc_length) does
        cat.write_table(
            spark.range(1, numPartitions=1).select(
                F.lit(n_docs).cast("long").alias("n_docs"),
                F.lit(total / n_docs).alias("avg_doc_length"),
                F.lit(total).cast("long").alias("total_tokens"),
            ),
            "corpus_stats",
        )
    avg_dl = total / n_docs

    old, rows = pending("doc_stats")
    if rows is not None:
        doc_stats = rows.select(
            "bucket", "doc_id", "url", "warc_ts", "doc_length",
            "max_tf", "unique_terms",
        )
        if cfg.glove_path:
            doc_stats = _with_glove_vec(spark, rows, cfg)
        # cluster whole buckets per task before the partitioned write —
        # without this every input split writes a file into every bucket
        # directory (splits × buckets tiny files)
        cat.write_table(
            _union(old, bucket_exchange(doc_stats, cfg)),
            "doc_stats", partition_by=["bucket"],
        )
    if cfg.topical_terms:
        old, rows = pending("doc_stats_topical")
        if rows is not None:
            cat.write_table(
                _union(old, _topical_rows(spark, cat, rows, cfg)),
                "doc_stats_topical", partition_by=["topic"],
            )
    mark("stats")

    # ---- stage B2: postings — ONE exchange + streaming encode -------------
    old, rows = pending("postings")
    if rows is not None:
        # sorted_posting_rows already clusters whole (bucket, term) groups
        # per partition, so the partitioned write needs no repartition
        encoded = encode_sorted_postings(sorted_posting_rows(rows, cfg), cfg)
        out = (encoded if old is None
               else _spliced_postings(old, encoded.persist(), cfg))
        try:
            cat.write_table(
                out, "postings", partition_by=["bucket"],
                max_records_per_file=cfg.max_records_per_file,
            )
        finally:
            encoded.unpersist()
    mark("postings")

    # ---- stage B3: vocabulary (prune + rewrite) + term stats --------------
    # Postings carry the RAW lowercase vocabulary; pruning (df==1) and the
    # uppercase rewrite (M5-M7) live in term_stats only, and the query
    # engine gates every query term through term_stats before touching
    # postings — semantically identical to pruning the postings themselves
    # (a pruned/rewritten term simply never reaches the posting lookup),
    # but it keeps the build free of any vocabulary join.
    #
    # Global df rides the encoded postings (sum of per-(bucket, term)
    # local_df — a |vocab|·buckets-row aggregation) instead of a second
    # full explode+shuffle of the (doc, term) relation.
    # The raw A4/A5 per-term states are persisted alongside term_stats so
    # a fold combines the new rows' states with them (min / sum) instead
    # of re-scanning the whole parsed relation for the vocabulary quirks.
    old, rows = pending("vocab_capitals")
    if rows is not None:
        cat.write_table(
            _fold_state(old, capitals_state(rows), "term", "always_cap",
                        F.least, True),
            "vocab_capitals",
        )
    old, rows = pending("vocab_entities")
    if rows is not None:
        cat.write_table(
            _fold_state(old, entity_state(rows), "entity", "entity_count",
                        operator.add, 0),
            "vocab_entities",
        )
    if batch is not None or not cat.has_table("term_stats"):
        _write_term_stats(spark, cat)
    mark("term_stats")

    # Stamp the build semantics so readers can validate compatibility
    # (query-side tokenization must match the build's stemming mode).
    # Stamped ONCE, on the initial build (no ``num_buckets`` stamp yet): a
    # re-derive (streaming compaction) must run under the stamped
    # semantics, never re-stamp — re-stamping from a default config would
    # silently flip e.g. the stemming flag and make queries tokenize
    # against the wrong vocabulary.
    props = cat.properties()
    if "num_buckets" not in props:
        cat.set_properties({
            "stemming": bool(cfg.stemming),
            "topical_terms": list(cfg.topical_terms),
            "glove_path": cfg.glove_path,
            "glove_dim": cfg.glove_dim,
            "num_buckets": cfg.num_buckets,
            # compaction refuses an index without it (url-hash ids)
            "doc_id_mode": "monotone",
        })
    else:
        _check_config_vs_properties(cfg, props)
    n_parsed = sum(e["rows"] for e in cat.batch_entries("parsed"))
    if n_docs != n_parsed:
        raise ValueError(
            f"corpus_stats of {cat.root} counts {n_docs} docs but the "
            f"manifest records {n_parsed} parsed rows: the derived tables "
            "did not absorb the parse exactly once; derived_from_batches "
            "is not stamped"
        )
    _stamp_derived(cat)
    return stage_sec, n_docs, avg_dl


def _spliced_postings(old: DataFrame, fresh: DataFrame,
                      cfg: EngineConfig) -> DataFrame:
    """The postings ``old`` with the encoded ``fresh`` lists folded in:
    untouched old rows pass through, fresh-only rows are taken as they
    are, and lists on both sides are spliced (``splice_pairs``).
    ``fresh`` is read three times; the caller persists it."""
    from search_engine_spark.operators.codec import POSTINGS_SCHEMA

    cols = POSTINGS_SCHEMA.names
    # broadcast the fresh group keys: the blob-carrying old table must
    # not shuffle just to find out which rows pass through untouched
    # (at cluster scale AQE demotes this to a shuffled hash join when
    # the increment outgrows the broadcast threshold)
    keys = F.broadcast(fresh.select("bucket", "term"))
    untouched = old.join(keys, ["bucket", "term"], "left_anti")
    pair = (
        old.join(keys, ["bucket", "term"], "left_semi").alias("o")
        .join(fresh.alias("f"), ["bucket", "term"])
        .select(
            "bucket", "term",
            F.col("o.blob").alias("old_blob"),
            F.col("f.blob").alias("new_blob"),
        )
    )
    merged_both = pair.mapInArrow(splice_pairs(cfg), schema=POSTINGS_SCHEMA)
    fresh_only = fresh.join(
        old.select("bucket", "term"), ["bucket", "term"], "left_anti",
    )
    # Only the CHANGED rows exchange: merged/fresh-only rows come out
    # clustered by join key, so they take one increment-sized bucket
    # exchange + sort. The untouched bulk is read from a table already
    # partitioned by bucket dirs and term-sorted within files — it flows
    # scan → broadcast anti-join → write with NO shuffle and no sort
    # (the blob bytes never leave the task that read them). Cost: the
    # table's file count grows by ~(changed tasks) per fold instead of
    # being re-packed; a periodic full rebuild (or any full re-derive)
    # re-compacts it. At 100 TB this is the difference between shuffling
    # the whole postings table per fold and shuffling the increment.
    changed = encoded_rows_exchange(
        merged_both.select(*cols).unionByName(fresh_only.select(*cols)),
        cfg,
    ).sortWithinPartitions("bucket", "term")
    return untouched.select(*cols).unionByName(changed)


def _stage_timer():
    """``(stage_sec, mark)``: ``mark(name)`` records under ``name`` the
    seconds since the previous mark (or since this call)."""
    stage_sec: dict[str, float] = {}
    last = [time.time()]

    def mark(name: str) -> None:
        now = time.time()
        stage_sec[name] = round(now - last[0], 3)
        last[0] = now

    return stage_sec, mark


def _topical_rows(spark: SparkSession, cat: CatalogAdapter,
                  parsed: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Topical doc-stats shard rows of ``parsed`` (reference
    doc_posting_covid analog, indexer.py:56-66,265-268, generalized to
    configured terms): each doc's matched topics (array_intersect,
    JVM-side) joined to its ``doc_stats`` row. The table is partitioned by
    topic, so a topical query prunes to its own files."""
    terms_arr = F.array(*[F.lit(t) for t in cfg.topical_terms])
    matched = parsed.select(
        "doc_id",
        F.explode(
            F.array_intersect(
                F.transform("terms", lambda kv: kv["term"]), terms_arr
            )
        ).alias("topic"),
    )
    return matched.join(cat.read_table(spark, "doc_stats"), "doc_id")


def _write_term_stats(spark: SparkSession, cat: CatalogAdapter) -> None:
    """Write ``term_stats`` from the committed ``postings`` (df = sum of
    per-(bucket, term) local_df, a (term, local_df) column scan with no
    blob bytes read) and the persisted vocabulary states
    (``vocab_capitals``, ``vocab_entities``)."""
    df_from_postings = (
        cat.read_table(spark, "postings")
        .groupBy("term")
        .agg(F.sum("local_df").alias("df"))
    )
    vocab = build_vocabulary(
        df_from_postings,
        cat.read_table(spark, "vocab_capitals"),
        cat.read_table(spark, "vocab_entities"),
    )
    cat.write_table(
        vocab.select(F.col("final_term").alias("term"), "df",
                     F.col("term").alias("source_term")),
        "term_stats",
    )


def _stamp_derived(cat: CatalogAdapter) -> None:
    """Stamped LAST: the derived tables now reflect exactly the committed
    parsed batches. A compaction replay compares this stamp against the
    batch list to detect tables left half-swapped by a crash
    (streaming/incremental.py::compact_staging); committed only if new."""
    batches = sorted(map(str, cat.completed_batches("parsed")))
    if cat.properties().get("derived_from_batches") != batches:
        cat.set_properties({"derived_from_batches": batches})


def splice_pairs(cfg: EngineConfig):
    """``mapInArrow`` kernel of the fold: extend each old posting list
    (``old_blob``) by the fresh postings in ``new_blob``, rows typed
    ``codec.POSTINGS_SCHEMA``.

    The fresh blobs decode in one batched pass; the batch encoder splices
    each tail onto the old list's kept blocks (codec._encode_group_batch).
    The result is byte-identical to a from-scratch encode of the
    concatenated list.
    """
    block_size = cfg.block_size

    def _merge(batches):
        from search_engine_spark.operators.codec import (
            _encode_group_batch, decode_blobs,
        )

        for batch in batches:
            if not batch.num_rows:
                continue
            ids, dls, tfs, n_new = decode_blobs(
                batch.column("new_blob").to_pylist())
            ends = np.cumsum(n_new)
            yield _encode_group_batch(
                batch.column("bucket").to_numpy(),
                batch.column("term").to_pylist(),
                ids, dls, tfs, ends - n_new, ends, block_size,
                old=batch.column("old_blob").to_pylist(),
            )

    return _merge


def _check_config_vs_properties(cfg: EngineConfig, props: dict) -> None:
    """Raise if a config contradicts the index's build-time stamps."""
    mismatches = []
    for key, val in (
        ("stemming", bool(cfg.stemming)),
        ("topical_terms", list(cfg.topical_terms)),
        ("glove_path", cfg.glove_path),
        ("glove_dim", cfg.glove_dim),
        ("num_buckets", cfg.num_buckets),
    ):
        if key in props and props[key] != val:
            mismatches.append(f"{key}: index={props[key]!r} config={val!r}")
    if mismatches:
        raise ValueError(
            "config contradicts the index's build-time property stamps "
            "(pass no config to adopt the stamped one): "
            + "; ".join(mismatches)
        )


def config_from_properties(
    props: dict, explicit: EngineConfig | None = None
) -> EngineConfig:
    """EngineConfig reconstructed from an index's manifest property stamps.

    Used by streaming compaction so a re-derive adopts the ORIGINAL build
    semantics (stemming mode, topical shards, glove, bucket count) instead
    of a fresh default config. An ``explicit`` config is validated against
    the stamps and returned (it may carry non-semantic tuning knobs); a
    contradiction raises rather than silently rebuilding a different index.
    """
    if explicit is not None:
        _check_config_vs_properties(explicit, props)
        return explicit
    defaults = EngineConfig()
    return EngineConfig(
        stemming=bool(props.get("stemming", defaults.stemming)),
        topical_terms=tuple(props.get("topical_terms") or ()),
        glove_path=props.get("glove_path", defaults.glove_path),
        glove_dim=int(props.get("glove_dim", defaults.glove_dim)),
        num_buckets=int(props.get("num_buckets", defaults.num_buckets)),
    )
