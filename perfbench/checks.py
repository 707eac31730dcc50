"""Answer checking against the single-process oracle, index invariants, and
the percentile rule the benchmark reports timings by."""

from __future__ import annotations

import copy
import math
import os
import statistics
from dataclasses import replace

import pyarrow.parquet as pq

from tests.oracle import OracleEngine

REL_TOL = 1e-9
K = 10

EXACT, TIE_FLIP, WRONG = "exact", "tie_flip", "wrong"


class Oracle:
    """The single-process oracle over a corpus that grows by ``add``."""

    def __init__(self, config, rows=()):
        self.config = config
        self.raw = OracleEngine(config)
        self.add(rows)

    def add(self, rows) -> None:
        for url, ts, text in rows:
            self.raw.add_doc(url, ts, text)

    def engines(self) -> dict[str, OracleEngine]:
        """The current corpus scored two ways: the engine's default combined
        score (``search``) and pure BM25 (``search_bm25``). ``finalize``
        replaces the copies' dicts and leaves ``raw`` open for ``add``."""
        combined = copy.copy(self.raw)
        combined.finalize()
        bm25 = copy.copy(combined)
        bm25.cfg = replace(self.config, w_cosine=0.0, w_glove=0.0)
        return {"search": combined, "search_bm25": bm25}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def compare(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> str:
    """Grade one top-k answer, both lists as ``(url, score)`` in rank order.

    ``EXACT``: same urls at the same ranks, scores within 1e-9 relative.
    ``TIE_FLIP``: scores match rank by rank, but urls differ inside runs of
    equal scores (an ulp-level difference flipped the ``warc_ts``
    tie-break). Anything else is ``WRONG``.
    """
    if len(got) != len(want):
        return WRONG
    if not all(_close(g[1], w[1]) for g, w in zip(got, want)):
        return WRONG
    if [g[0] for g in got] == [w[0] for w in want]:
        return EXACT
    # split into runs of equal scores; a run that ends at rank k may have
    # been cut, so only its size is comparable
    start = 0
    for i in range(1, len(want) + 1):
        if i == len(want) or not _close(want[i][1], want[i - 1][1]):
            if i < len(want) or len(want) < K:
                if ({u for u, _ in got[start:i]}
                        != {u for u, _ in want[start:i]}):
                    return WRONG
            start = i
    return TIE_FLIP


def grade_batch(rows, texts: list[str], oracle: OracleEngine,
                memo: dict) -> list[str]:
    """Grade the collected rows of one ``search_batch`` (qid = position in
    ``texts``). ``memo`` caches this oracle's answers by query text."""
    by_qid: dict[int, list] = {}
    for r in rows:
        by_qid.setdefault(int(r["qid"]), []).append(
            (r["rank"], r["url"], r["score"]))
    grades = []
    for qid, text in enumerate(texts):
        if text not in memo:
            memo[text] = [(u, s) for _, u, s, _ in oracle.search(text, k=K)]
        got = [(u, s) for _, u, s in sorted(by_qid.get(qid, []))]
        grades.append(compare(got, memo[text]))
    return grades


def percentiles(samples: list[float]) -> dict:
    """Median, sample count, and the highest of p99/p90/p75 (nearest rank)
    with at least ten samples beyond it; none when no percentile has."""
    out = {"n": len(samples)}
    if not samples:
        return out
    ordered = sorted(samples)
    out["p50"] = statistics.median(ordered)
    for p in (99, 90, 75):
        rank = math.ceil(p / 100 * len(ordered))
        if len(ordered) - rank >= 10:
            out[f"p{p}"] = ordered[rank - 1]
            break
    return out


# -- on-disk index state ---------------------------------------------------

def _parquet_files(path: str):
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                yield os.path.join(dirpath, fn)


def table_rows(index_path: str, table: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in _parquet_files(os.path.join(index_path, table)))


def table_bytes(index_path: str, table: str) -> int:
    return sum(os.path.getsize(f)
               for f in _parquet_files(os.path.join(index_path, table)))


def table_files(index_path: str, table: str) -> int:
    return sum(1 for _ in _parquet_files(os.path.join(index_path, table)))


def index_bytes(index_path: str) -> int:
    """Parquet bytes of every table directory of the index."""
    return sum(table_bytes(index_path, t) for t in os.listdir(index_path)
               if not t.startswith("_")
               and os.path.isdir(os.path.join(index_path, t)))


def index_invariants(index_path: str, catalog, expected_docs: int) -> list[str]:
    """Broken invariants after a build or fold (empty when all hold):
    ``corpus_stats.n_docs`` equals the rows of ``parsed`` and ``doc_stats``
    and the oracle's kept-doc count, and the staleness stamp names every
    parsed batch."""
    n_docs = int(pq.read_table(os.path.join(index_path, "corpus_stats"))
                 .column("n_docs")[0].as_py())
    counts = {
        "corpus_stats.n_docs": n_docs,
        "parsed": table_rows(index_path, "parsed"),
        "doc_stats": table_rows(index_path, "doc_stats"),
        "expected": expected_docs,
    }
    broken = [f"{k}={v} != {n_docs}" for k, v in counts.items() if v != n_docs]
    stamp = catalog.properties().get("derived_from_batches")
    batches = sorted(map(str, catalog.completed_batches("parsed")))
    if stamp != batches:
        broken.append(f"stamp {stamp} != batches {batches}")
    return broken
