"""Corpus parse stage: web_pages → per-doc index inputs.

Spark mapping of the reference's reader+parser stages (reference
reader.py:9-43, parser_module.py:104-191): one narrow Arrow-batched
``mapInPandas`` pipeline — scan → column-pruned projection → tokenize.
No shuffle; Catalyst pushes the column pruning into the parquet scan
(only ``url, warc_ts, text`` are read, not ``html``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, StringType, StructField, StructType,
    TimestampType,
)

from search_engine_spark.config import EngineConfig

PARSED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("doc_length", IntegerType(), False),
        StructField("max_tf", IntegerType(), False),
        StructField("unique_terms", IntegerType(), False),
        StructField(
            "terms",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType(), False),
                        StructField("tf", IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
        StructField(
            "capitals",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType(), False),
                        StructField("cap", BooleanType(), False),
                    ]
                )
            ),
            False,
        ),
        StructField("entities", ArrayType(StringType()), False),
    ]
)


def _parse_batches(stemming: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # worker-side imports: keep the closure picklable and cheap
        from search_engine_spark.functions.textproc import parse_web_doc

        stemmer = None
        if stemming:
            from search_engine_spark.functions.stemmer import Stemmer

            stemmer = Stemmer()

        for pdf in batches:
            # clean_text is intentionally NOT staged: no downstream index
            # table consumes it (the byte-identity invariant is enforced at
            # the function level, tests/test_textproc.py), and carrying the
            # full cleaned body would double the staged table's write volume
            rows = {k: [] for k in (
                "url", "warc_ts", "doc_length", "max_tf",
                "unique_terms", "terms", "capitals", "entities")}
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"]):
                doc = parse_web_doc(url, text, stemmer=stemmer)
                if doc is None:
                    continue
                rows["url"].append(doc.url)
                rows["warc_ts"].append(ts)
                rows["doc_length"].append(doc.doc_length)
                rows["max_tf"].append(doc.max_tf)
                rows["unique_terms"].append(doc.unique_terms)
                rows["terms"].append(
                    [{"term": t, "tf": c} for t, c in doc.term_tf.items()]
                )
                rows["capitals"].append(
                    [{"term": t, "cap": c} for t, c in doc.capitals.items()]
                )
                rows["entities"].append(sorted(doc.entities))
            if rows["url"]:  # an all-dropped batch has no column dtypes
                yield pd.DataFrame(rows)

    return fn


#: doc_id layout: the ids of the batch in slot k live in [k·2^48, (k+1)·2^48)
DOC_ID_BATCH_SHIFT = 48


def assign_doc_ids(parsed: DataFrame, cfg: EngineConfig, slot: int = 0
                   ) -> DataFrame:
    """Attach a batch-monotone ``doc_id`` and its ``bucket``.

    doc_id = slot·2^48 + monotonically_increasing_id(), with ``slot`` from
    ``index_build.next_parsed_slot``: every id of a later batch exceeds
    every id of an earlier one, so incremental posting merges are
    tail splices (codec._encode_group_batch). Ranking never reads the id
    (ties break on (score, warc_ts, url), like the reference's date
    tie-break, ranker.py:51-63). The in-batch id (partition << 33 | row) is
    assigned on a narrow, deterministically-partitioned chain and persisted
    at once by the caller's append, so a task retry regenerates identical
    values. Envelope: < 2^15 batches per index and < 2^48 ids per batch;
    exceeding either raises. ``bucket`` = pmod(doc_id, num_buckets), so
    sequential in-batch ids round-robin across buckets.
    """
    if not 0 <= slot < (1 << 15):
        raise ValueError(f"doc_id batch slot {slot} outside [0, 2^15)")
    mid = F.monotonically_increasing_id()
    base = F.lit(slot << DOC_ID_BATCH_SHIFT).cast("long")
    doc_id = F.when(mid < F.lit(1 << DOC_ID_BATCH_SHIFT), base + mid
                    ).otherwise(
        F.raise_error(
            F.lit("doc_id overflow: > 2^48 ids in one batch "
                  "(coalesce the ingest batch or split it)")
        ).cast("long")
    )
    return parsed.withColumn("doc_id", doc_id).withColumn(
        "bucket", F.pmod(F.col("doc_id"), F.lit(cfg.num_buckets)).cast("int")
    )


def parse_corpus(
    pages: DataFrame, config: EngineConfig | None = None, slot: int = 0
) -> DataFrame:
    """web_pages DataFrame → parsed docs with doc_id + bucket columns.

    ``doc_id`` is batch-monotone: the batch's ``slot`` times 2^48 plus an
    in-batch id (see ``assign_doc_ids``). ``bucket`` doc-partitions the
    index so every term's postings are spread across all shards (hot-term
    skew never lands on one reducer).
    """
    cfg = config or EngineConfig()
    parsed = pages.select("url", "warc_ts", "text").mapInPandas(
        _parse_batches(cfg.stemming), schema=PARSED_SCHEMA
    )
    return assign_doc_ids(parsed, cfg, slot)
