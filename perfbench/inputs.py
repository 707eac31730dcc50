"""Seeded inputs for the benchmark: corpora, increments and query streams.

Everything here is a pure function of the ``--seed`` argument, so two runs
with the same seed feed the engine byte-identical inputs. The document
shape follows the engine's ``web_pages`` fixture (Zipf bag-of-words over a
synthetic vocabulary, the tokenizer special snippets on a stride, rows that
clean to nothing), but the seed is the caller's, and every document gets a
globally unique url and ``warc_ts`` so rank ties never depend on order.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from search_engine_spark.sources.fixtures import (
    ATLANTIS_SNIPPET, CATEGORIES, EMPTY_SNIPPET, EPOCH, FIXTURE_QUERIES,
    SPECIAL_SNIPPETS,
)

ZIPF_S = 1.1
#: documents of the query workload's index, of the fold workload's base
#: index and of each fold increment. Small, because a run has about a
#: minute and Spark start-up and the first build in a fresh JVM take most
#: of it
QUERY_DOCS = 2000
FOLD_BASE_DOCS = 500
FOLD_INCREMENT_DOCS = 300
BATCH_SIZE = 25
#: op kinds per cycle of the query workload's op stream, and of the probes
#: that follow each fold: each kind gets a third of the samples
OP_CYCLE = ("search", "search_bm25", "search_batch")
#: generated queries added to the fixture queries to form the query pool
GENERATED_QUERIES = 20

# independent random streams per input kind, so e.g. the query stream does
# not shift when a corpus size changes
_CORPUS, _QUERIES, _OPS = 1, 2, 3


@dataclass(frozen=True)
class Vocabulary:
    """A Zipf-weighted synthetic vocabulary."""

    size: int
    fmt: str

    def term(self, rank: int) -> str:
        return self.fmt % rank

    def probs(self) -> np.ndarray:
        p = np.arange(1, self.size + 1, dtype=np.float64) ** -ZIPF_S
        return p / p.sum()


#: the fixture's dense 5k-term vocabulary: every increment touches most
#: (bucket, term) groups
DENSE = Vocabulary(5000, "term%04d")
#: web-shaped 2M-term vocabulary: most terms have df < 10, head terms still
#: cover most tokens
WEB = Vocabulary(2_000_000, "t%07d")


def corpus(seed: int, vocab: Vocabulary, n_docs: int, first: int = 0,
           part: int = 0) -> pa.Table:
    """``n_docs`` pages numbered ``first..first+n_docs-1`` (numbers make the
    url and timestamp, so disjoint ranges give fresh urls). ``part`` picks
    an independent random stream for each piece of one run's input."""
    rng = np.random.default_rng([seed, _CORPUS, part])
    lengths = rng.integers(5, 201, size=n_docs)
    flat = rng.choice(vocab.size, size=int(lengths.sum()), p=vocab.probs())
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    urls, stamps, texts = [], [], []
    for i in range(n_docs):
        g = first + i
        body = " ".join(vocab.term(r) for r in flat[offsets[i]:offsets[i + 1]])
        if g % 17 == 3:
            snip = SPECIAL_SNIPPETS[(g // 17) % len(SPECIAL_SNIPPETS)]
            half = len(body) // 2
            body = f"{body[:half]} {snip} {body[half:]}"
        if g == 41:
            body += f" {ATLANTIS_SNIPPET} indeed"
        if g % 613 == 7:
            body = EMPTY_SNIPPET  # cleans to nothing, so the parser drops it
        urls.append(f"https://site{g % 997}.example/{CATEGORIES[g % 23]}/"
                    f"s{seed}-doc-{g}")
        stamps.append(EPOCH + _dt.timedelta(seconds=37 * g))
        texts.append(body)
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(stamps, pa.timestamp("us", tz="UTC")),
        "html": pa.array([b"<html><body>" + t.encode() + b"</body></html>"
                          for t in texts], pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
    })


def text_bytes(table: pa.Table) -> int:
    return sum(len(t.encode()) for t in table["text"].to_pylist())


def oracle_rows(table: pa.Table) -> list[tuple]:
    return list(zip(table["url"].to_pylist(), table["warc_ts"].to_pylist(),
                    table["text"].to_pylist()))


def query_pool(seed: int, vocab: Vocabulary, docs: pa.Table) -> list[str]:
    """The fixture queries plus 1-6 term queries mixing head, torso, tail
    and unknown terms. The shape of each query is the same for every seed:
    its length, the kind of each term, and the Zipf rank of each head and
    torso term, which sets how long its postings are. The seed picks the
    tail and unknown terms. So runs with different seeds time queries of
    the same cost. Tail terms are drawn from the corpus itself, so they
    exist but are rare."""
    shapes = np.random.default_rng([_QUERIES])
    rng = np.random.default_rng([seed, _QUERIES])
    texts = docs["text"].to_pylist()
    pool = [q for _, q in FIXTURE_QUERIES]
    for _ in range(GENERATED_QUERIES):
        terms = []
        for _ in range(int(shapes.integers(1, 7))):
            kind = shapes.choice(["head", "torso", "tail", "unknown"],
                                 p=[0.3, 0.35, 0.25, 0.1])
            if kind == "head":
                terms.append(vocab.term(int(shapes.integers(0, 20))))
            elif kind == "torso":
                terms.append(vocab.term(int(shapes.integers(20, 500))))
            elif kind == "tail":
                words = texts[int(rng.integers(len(texts)))].split()
                terms.append(words[int(rng.integers(len(words)))])
            else:
                terms.append("qq" + "".join(
                    rng.choice(list("bcdfghjkmnpz"), size=6)))
        pool.append(" ".join(terms))
    return pool


def op_stream(pool: list[str], kinds: tuple[str, ...], part: int = 0):
    """Endless stream of query ops ``(kind, [texts])``: ``kinds`` over and
    over, each op drawing from a fixed sequence of pool positions. A
    ``search_batch`` op holds ``BATCH_SIZE`` distinct queries. The sequence
    is the same for every seed (the pool's terms are not), so every run
    times the same mix; ``part`` picks another sequence (e.g. for the
    warm-up)."""
    rng = np.random.default_rng([_OPS, part])
    while True:
        for kind in kinds:
            if kind == "search_batch":
                picks = rng.choice(len(pool), size=BATCH_SIZE, replace=False)
            else:
                picks = [rng.integers(len(pool))]
            yield kind, [pool[int(i)] for i in picks]
