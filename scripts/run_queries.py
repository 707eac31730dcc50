#!/usr/bin/env python
"""spark-submit entrypoint: answer top-k queries over a built index.

    spark-submit --master <cluster> --py-files engine.zip \
        scripts/run_queries.py --index-path /path/to/index \
        [--queries queries.txt] [--k 10] [--csv results.csv] [--bm25-only]

``--queries`` is a newline-delimited file (reference
search_engine.py:121-133 semantics); without it the 25-query fixture set
runs. Results print as JSON lines (qid, rank, url, score) and optionally
write a CSV like the reference's results.csv (search_engine.py:115-118).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-path", required=True)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--csv", default=None)
    ap.add_argument(
        "--bm25-only", action="store_true",
        help="pure-BM25 ranking (w_cosine=0, w_bm25=1)",
    )
    ap.add_argument("--glove", default=None)
    args = ap.parse_args()

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.search import BM25SearchEngine
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.catalog import CatalogAdapter

    # query tokenization must match the build: adopt the index's stamped
    # stemming mode (BM25SearchEngine refuses a mismatch anyway)
    stemming = bool(CatalogAdapter(args.index_path).properties().get(
        "stemming", False))
    if args.bm25_only:
        cfg = EngineConfig(w_cosine=0.0, w_bm25=1.0, w_glove=0.0,
                           glove_path=args.glove, stemming=stemming)
    else:
        cfg = EngineConfig(glove_path=args.glove, stemming=stemming)
    spark = get_spark("run_queries", config=cfg)
    spark.sparkContext.setLogLevel("WARN")

    if args.queries:
        with open(args.queries, encoding="utf-8") as f:
            queries = [
                (i + 1, line.strip()) for i, line in enumerate(f) if line.strip()
            ]
    else:
        from search_engine_spark.sources.fixtures import FIXTURE_QUERIES

        queries = FIXTURE_QUERIES

    engine = BM25SearchEngine(spark, args.index_path, cfg)
    rows = engine.search_batch(queries, k=args.k).collect()  # (qid, rank) order
    for r in rows:
        print(json.dumps(
            {"qid": r["qid"], "rank": r["rank"], "url": r["url"],
             "score": r["score"]}
        ))
    if args.csv:
        import csv

        with open(args.csv, "w", newline="", encoding="utf-8") as f:
            wr = csv.writer(f)
            for r in rows:
                wr.writerow([r["qid"], r["url"], r["score"]])
    spark.stop()


if __name__ == "__main__":
    main()
