#!/usr/bin/env python
"""spark-submit entrypoint: build the inverted index (north_rule lifecycle).

    spark-submit --master <cluster> --py-files engine.zip \
        scripts/build_index.py --pages /path/to/web_pages_parquet \
        --index-path /path/to/index [--buckets 32] [--stemming] \
        [--glove /path/to/glove.txt] [--resume-batches 4]

Re-running after a kill resumes from the per-batch manifest (no completed
partition batch is recomputed — see sources/catalog.py). Prints one JSON
line of build metrics on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="web_pages parquet path")
    ap.add_argument("--index-path", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--resume-batches", type=int, default=4)
    ap.add_argument("--stemming", action="store_true")
    ap.add_argument("--glove", default=None)
    ap.add_argument(
        "--topical-terms", default=None,
        help="comma-separated terms for the doc_stats_topical shard "
             "(reference doc_posting_covid analog)",
    )
    args = ap.parse_args()

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.session import get_spark

    cfg = EngineConfig(
        num_buckets=args.buckets,
        shuffle_partitions=args.shuffle_partitions or args.buckets,
        stemming=args.stemming,
        glove_path=args.glove,
        topical_terms=tuple(
            t for t in (args.topical_terms or "").split(",") if t
        ),
    )
    spark = get_spark("build_index", config=cfg)
    spark.sparkContext.setLogLevel("WARN")
    pages = spark.read.option("recursiveFileLookup", "true").parquet(args.pages)
    metrics = build_index(
        spark, pages, args.index_path, cfg,
        resume_batches=args.resume_batches,
    )
    print(json.dumps({"status": "ok", **metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
