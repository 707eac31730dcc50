"""search_engine_spark — a PySpark-native full-text indexing + BM25 retrieval engine.

A from-scratch rebuild of the capabilities of the reference IR engine
(JonatanMilver/Search_Engine, studied at /root/reference — see SURVEY.md),
re-expressed for Spark's execution model:

- corpus parsing/tokenization as an Arrow-batched ``mapInArrow`` stage
  (vectorized transport; the token-level rules are pure Python for
  byte-identical parity with the reference semantics),
- inverted-index construction as a document-partitioned (bucketed) wide
  aggregation — Spark's sort-merge shuffle replaces the reference's manual
  spill + external k-way merge (reference indexer.py:110-253),
- posting lists delta+varbyte compressed with per-block max-score metadata,
- query answering as partition-parallel document-at-a-time scoring with
  min-match pruning and global top-k (TakeOrderedAndProject),
- checkpoint/resume via a parquet + JSON-manifest catalog adapter
  (Iceberg-compatible semantics without the Iceberg runtime jar).
"""

__version__ = "0.1.0"

from search_engine_spark.config import EngineConfig  # noqa: F401
