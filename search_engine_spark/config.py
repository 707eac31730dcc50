"""Engine configuration.

Replaces the reference's ConfigClass (reference configuration.py:5-16) with a
dataclass that also carries the scale knobs the reference hard-coded:
spill threshold 200k terms (indexer.py:23), 4M-posting output files
(indexer.py:21), 100k-doc metadata batches (indexer.py:71-74). Under Spark
those become shuffle/partition sizing parameters.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    # --- index layout -------------------------------------------------------
    #: number of document buckets (doc-partitioned index shards). Each bucket
    #: holds postings of *all* terms for its doc_id range, so one query fans
    #: out to every bucket and each bucket runs an independent DAAT pass.
    #: This is also what defuses hot-term skew: a stopword-adjacent high-DF
    #: term's posting list is split across all buckets instead of landing on
    #: one reducer (two-stage agg: (term,bucket) partials, then global df).
    #: At 100 TB scale set ~ n_docs / 2M; for local tests a small number.
    num_buckets: int = 8

    #: docs per compressed posting block. Every block restarts its id
    #: deltas, so a fold decodes and re-encodes only each touched list's
    #: last block: this bounds the fold's splice work per list.
    block_size: int = 128

    #: cap on rows per output file, the Spark analog of the reference's 4M
    #: postings-per-file cap (indexer.py:21,181-187).
    max_records_per_file: int = 4_000_000

    # --- text processing ----------------------------------------------------
    #: apply stemming (reference stemmer.py; ConfigClass.toStem
    #: configuration.py:16). Default off, like the reference's main.py.
    stemming: bool = False

    #: topical doc-stats shards (the generic analog of the reference's
    #: hard-coded ``doc_posting_covid`` files, indexer.py:56-66,265-268):
    #: for each configured term, docs whose parsed vocabulary contains it
    #: are written to the ``doc_stats_topical`` table under
    #: ``topic=<term>``. Empty tuple (default) disables the shard.
    topical_terms: tuple = ()

    # --- scoring (reference constants, see BASELINE.md) ---------------------
    bm25_k: float = 1.2            # ranker.py:94
    bm25_b: float = 0.75           # ranker.py:95
    w_cosine: float = 0.9          # ranker.py:76
    w_bm25: float = 0.05           # ranker.py:77
    w_glove: float = 0.05          # ranker.py:78
    min_match_ratio: float = 0.35  # searcher.py:67

    #: embedding dimension when glove scoring is enabled (search_engine.py:13)
    glove_dim: int = 25
    #: path to a GloVe-format text file; None disables the embedding component
    #: (the reference crashed at import without it — we make it optional).
    glove_path: str | None = None

    # --- spark tuning -------------------------------------------------------
    shuffle_partitions: int = 32
    #: minimum parse-stage parallelism; None → defaultParallelism. Only used
    #: when the input scan has fewer splits (small local corpora) — a
    #: production-size table always has enough file splits already.
    parse_partitions: int | None = None
    #: file-split sizing (spark.sql.files.*). Defaults match Spark; local
    #: benches set these small so a few-hundred-MB staged table still fans
    #: out across all cores instead of bin-packing into 2-3 splits.
    files_max_partition_bytes: int = 134_217_728
    files_open_cost_bytes: int = 4_194_304
    extra_spark_conf: dict = field(default_factory=dict)
