"""Corpus parse stage: web_pages → per-doc index inputs.

Spark mapping of the reference's reader+parser stages (reference
reader.py:9-43, parser_module.py:104-191): one narrow ``mapInArrow``
pipeline — scan → column-pruned projection → tokenize. No shuffle;
Catalyst pushes the column pruning into the parquet scan (only
``url, warc_ts, text`` are read, not ``html``).

One term list per doc: the reference keeps term → tf and term → capital
flag as two dicts over the same tokens (parser_module.py:448-462); a
``parsed`` row stores each term once, as (term, tf, cap) in ``terms``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from search_engine_spark.config import EngineConfig
from search_engine_spark.sources.catalog import CatalogAdapter

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
                        # the doc's capital flag (A5); null: none tracked
                        StructField("cap", BooleanType(), True),
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

#: a ``parsed`` table's rows as written (``parse_corpus``): the parse
#: plus the ids ``assign_doc_ids`` attaches
STAGED_SCHEMA = StructType(
    PARSED_SCHEMA.fields + [StructField("doc_id", LongType(), False),
                            StructField("bucket", IntegerType(), False)]
)


def read_parsed(spark: SparkSession, cat: CatalogAdapter) -> DataFrame:
    """The committed ``parsed`` table (with its ``batch`` column), read
    through ``STAGED_SCHEMA``. A batch written before ``terms`` carried
    ``cap`` (its ``capitals`` list holds every flag) reads with that field
    null, so old and new batches mix in one relation."""
    return cat.read_table(spark, "parsed", schema=StructType(
        STAGED_SCHEMA.fields + [StructField("batch", StringType())]))


def _parse_batches(stemming: bool):
    """``mapInArrow`` kernel: (url, warc_ts, text) batches → parsed rows,
    list columns built from flat values and offsets (no pandas, no
    per-term Python objects). ``terms`` keeps the tokenizer's dict order,
    which the glove vector follows; ``capitals`` keeps only the flags of
    keys that are not terms (a stemmed token that stems to a stop word).
    """
    def fn(batches):
        # worker-side imports: keep the closure picklable and cheap
        import pyarrow as pa

        from search_engine_spark.functions.textproc import parse_web_doc

        stemmer = None
        if stemming:
            from search_engine_spark.functions.stemmer import Stemmer

            stemmer = Stemmer()

        def lists(offsets, values):
            return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                            values)

        for batch in batches:
            # clean_text is intentionally NOT staged: no downstream index
            # table consumes it (the byte-identity invariant is enforced at
            # the function level, tests/test_textproc.py), and carrying the
            # full cleaned body would double the staged table's write volume
            keep, urls, doc_length, max_tf, unique = [], [], [], [], []
            terms, tfs, caps, t_off = [], [], [], [0]
            c_terms, c_caps, c_off = [], [], [0]
            ents, e_off = [], [0]
            for i, (url, text) in enumerate(zip(
                    batch.column("url").to_pylist(),
                    batch.column("text").to_pylist())):
                doc = parse_web_doc(url, text, stemmer=stemmer)
                if doc is None:
                    continue
                keep.append(i)
                urls.append(doc.url)
                doc_length.append(doc.doc_length)
                max_tf.append(doc.max_tf)
                unique.append(doc.unique_terms)
                tf, cap = doc.term_tf, doc.capitals
                terms.extend(tf)
                tfs.extend(tf.values())
                caps.extend(map(cap.get, tf))
                t_off.append(len(terms))
                if cap.keys() - tf.keys():  # rare: keep the dict order
                    only = [t for t in cap if t not in tf]
                    c_terms.extend(only)
                    c_caps.extend(map(cap.get, only))
                c_off.append(len(c_terms))
                ents.extend(sorted(doc.entities))
                e_off.append(len(ents))
            if not keep:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(urls, pa.string()),
                    batch.column("warc_ts").take(pa.array(keep, pa.int32())),
                    pa.array(doc_length, pa.int32()),
                    pa.array(max_tf, pa.int32()),
                    pa.array(unique, pa.int32()),
                    lists(t_off, pa.StructArray.from_arrays(
                        [pa.array(terms, pa.string()),
                         pa.array(tfs, pa.int32()),
                         pa.array(caps, pa.bool_())],
                        names=["term", "tf", "cap"])),
                    lists(c_off, pa.StructArray.from_arrays(
                        [pa.array(c_terms, pa.string()),
                         pa.array(c_caps, pa.bool_())],
                        names=["term", "cap"])),
                    lists(e_off, pa.array(ents, pa.string())),
                ],
                names=PARSED_SCHEMA.names,
            )

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
    parsed = pages.select("url", "warc_ts", "text").mapInArrow(
        _parse_batches(cfg.stemming), schema=PARSED_SCHEMA
    )
    return assign_doc_ids(parsed, cfg, slot)
