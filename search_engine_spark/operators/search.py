"""Query engine: top-k BM25+cosine retrieval over the bucketed index.

Spark re-expression of the reference's searcher/ranker (reference
searcher.py:22-136, ranker.py:17-109):

- query parsing runs driver-side with the *same* tokenizer as documents
  (search_engine.py:87-90 parity);
- the query terms reach the postings scan as one pushed ``term IN (…)``;
- scoring runs per bucket: the matched blobs decode in byte-bounded
  slices, then per query a document-at-a-time merge, min-match prune
  (int(0.35·|q|), searcher.py:67-68) and vectorized scoring of every
  candidate with the reference's exact formulas (nonstandard BM25
  ranker.py:91-102, weighted tf-idf cosine ranker.py:80) keep a tie-exact
  local top-k. Pure-BM25 mode (w_cosine = w_glove = 0) is the same path;
- join-late ranking: the driver prunes each query to its global top-k,
  reads ONLY those docs' ``doc_stats`` rows (``bucket IN (…) AND doc_id IN
  (…)``) and ranks them: score desc, timestamp desc (nulls last), doc key
  desc (ranker.py:51-63 takes the *last* k of an ascending (score, date)
  sort). The result is a local relation;
- optional GloVe-style embedding (reference ranker.py:78, made optional):
  the cosine of the looked-up ``glove_vec`` and the query vector is added
  on the driver; the top-k boundary widens by 2·|w_glove|, which bounds
  the score shift, so every global top-k candidate is kept.

Scoring quirks kept (SURVEY.md §3.4): duplicate query terms score once per
position; unknown query terms occupy a position with idf 0 (shrinking the
cosine via the query norm); uppercase-rewritten vocabulary terms are
unreachable by lowercase query terms.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.glove import query_vector
from search_engine_spark.functions.textproc import parse_sentence
from search_engine_spark.sources.catalog import CatalogAdapter

_SCORED_SCHEMA = "qid long, bucket int, doc_id long, score double"
_RESULT = pa.schema([("qid", pa.int64()), ("rank", pa.int32()),
                     ("url", pa.string()), ("score", pa.float64()),
                     ("warc_ts", pa.timestamp("us", tz="UTC"))])
#: the scorer decodes a bucket's blobs in slices of about this many bytes:
#: larger passes cost more per byte (BASELINE.md, "Join-late ranking")
_DECODE_SLICE_BYTES = 1 << 18


def _sql_in(col: str, values) -> Column:
    """``col IN (v, …)`` as ONE parsed SQL expression: ``Column.isin`` pays
    about three py4j round trips per literal, and both plan to the same
    pushed ``In``. Strings are quoted with ``\\`` and ``'`` escaped;
    anything else must be an integer."""
    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return str(int(v))

    return F.expr(f"{col} IN ({', '.join(map(lit, values))})")


def _local_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """(qid, rank, url, score, warc_ts µs) rows → a ``LocalRelation`` over
    an Arrow table: collecting it starts no job (a row list would not)."""
    cols = list(zip(*rows)) or [()] * len(_RESULT)
    return spark.createDataFrame(pa.table(
        [pa.array(c, f.type) for c, f in zip(cols, _RESULT)], schema=_RESULT))


def _build_query_meta(queries, cfg: EngineConfig, term_df: dict[str, int],
                      n_docs: int, stemmer=None) -> dict:
    """Per-query scoring metadata (driver-side; queries are tiny).

    idf = log10(N/df) for known terms else 0 (searcher.py:56-60,126-136);
    query tf row = |positions(term)|/|q| (searcher.py:100-102).
    """
    meta = {}
    for qid, text in queries:
        tokens = parse_sentence(text, stemmer=stemmer).tokens
        n = len(tokens)
        positions: dict[str, list[int]] = {}
        for i, t in enumerate(tokens):
            positions.setdefault(t, []).append(i)
        idf_row = np.zeros(n)
        q_row0 = np.zeros(n)
        for t, pos in positions.items():
            idf = math.log10(n_docs / term_df[t]) if t in term_df else 0.0
            for p in pos:
                idf_row[p] = idf
                q_row0[p] = len(pos) / n
        meta[qid] = {
            "n": n,
            "threshold": int(n * cfg.min_match_ratio),
            "positions": positions,
            "idf_row": idf_row,
            "q_row0": q_row0,
            "terms": sorted(positions),
            "tokens": tokens,
        }
    return meta


def score_decoded(
    ids_parts: list[np.ndarray],
    dl_parts: list[np.ndarray],
    tf_parts: list[np.ndarray],
    term_parts: list[str],
    qmeta_entry: dict,
    avg_dl: float,
    cfg: EngineConfig,
) -> tuple[np.ndarray, np.ndarray]:
    """Exhaustively score decoded postings → (doc_ids, score).

    The scoring replicates the reference ranker exactly (SURVEY.md §2.6):
    per-position tf-idf matrix, weighted cosine + nonstandard BM25, with
    duplicate query terms scoring once per position (ranker.py:96-100).
    """
    m = qmeta_entry
    n_q, threshold = m["n"], m["threshold"]
    idf_row, q_row0, positions = m["idf_row"], m["q_row0"], m["positions"]
    empty = (np.zeros(0, np.int64), np.zeros(0))
    all_ids = np.concatenate(ids_parts)
    if len(all_ids) == 0:
        return empty
    unique_ids, inverse = np.unique(all_ids, return_inverse=True)
    matched = np.bincount(inverse, minlength=len(unique_ids))
    keep = matched >= threshold
    if not keep.any():
        return empty

    n_u = len(unique_ids)
    M = np.zeros((n_u, n_q))        # tf = tf_count/doc_length per position
    dl_u = np.zeros(n_u)
    off = 0
    for t_i, term in enumerate(term_parts):
        ids = ids_parts[t_i]
        rows = inverse[off:off + len(ids)]
        off += len(ids)
        if len(ids) == 0:
            continue
        tfn = tf_parts[t_i] / dl_parts[t_i]
        for p in positions[term]:
            M[rows, p] = tfn
        dl_u[rows] = dl_parts[t_i]

    M = M[keep]
    dl_u = dl_u[keep]
    cand_ids = unique_ids[keep]

    # nonstandard BM25 summed over query positions (ranker.py:91-102)
    bm = (
        (idf_row * M * (cfg.bm25_k + 1))
        / (M + cfg.bm25_k * (1 - cfg.bm25_b + cfg.bm25_b * (dl_u[:, None] / avg_dl)))
    ).sum(axis=1)
    score = cfg.w_bm25 * bm

    if cfg.w_cosine != 0.0:
        # weighted tf-idf cosine (ranker.py:80,104-109)
        doc_w = M * idf_row
        q_w = q_row0 * idf_row
        dots = doc_w @ q_w
        denom = np.sqrt((doc_w * doc_w).sum(axis=1)) * np.sqrt((q_w * q_w).sum())
        cos = np.where(
            (denom == 0) | (dots == 0),
            0.0,
            np.divide(dots, denom, out=np.zeros_like(dots), where=denom != 0),
        )
        score = score + cfg.w_cosine * cos

    return cand_ids, score


def _make_scorer(qmeta: dict, avg_dl: float, cfg: EngineConfig, k: int,
                 margin: float):
    """applyInPandas scorer for one bucket's matched posting rows.

    The group key is the BUCKET alone: every query in the batch scores
    against the same decoded rows, and the job schedules |buckets| groups
    instead of |queries|·|buckets|. Its blobs decode once, in slices of
    about ``_DECODE_SLICE_BYTES``; ``score_decoded`` then runs per query,
    which keeps its bucket-local ``_global_topk`` candidates (one pruned
    here has k bucket-mates that beat it after any embedding shift)."""

    def score_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from search_engine_spark.operators.codec import decode_blobs

        frames = []
        terms = pdf["term"].tolist()
        blobs = pdf["blob"].tolist()
        sizes = np.fromiter(map(len, blobs), np.int64, len(blobs))
        # a blob joins the slice its first byte falls in
        slice_of = (np.cumsum(sizes) - sizes) // _DECODE_SLICE_BYTES
        bounds = np.append(np.flatnonzero(np.diff(slice_of, prepend=-1)),
                           len(blobs))
        span = {}
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            ids, dls, tfs, counts = decode_blobs(blobs[lo:hi])
            ends = np.cumsum(counts)
            for t, e, n in zip(terms[lo:hi], ends, counts):
                span[t] = (ids[e - n:e], dls[e - n:e], tfs[e - n:e])
        for qid, m in qmeta.items():
            sel = [t for t in m["terms"] if t in span]
            if not sel:
                continue
            cand_ids, score = score_decoded(
                [span[t][0] for t in sel], [span[t][1] for t in sel],
                [span[t][2] for t in sel], sel, m, avg_dl, cfg,
            )
            if len(score) > k:
                keep = score >= np.partition(score, -k)[-k] - margin
                cand_ids, score = cand_ids[keep], score[keep]
            frames.append(pd.DataFrame(
                {"qid": qid, "bucket": key[0], "doc_id": cand_ids,
                 "score": score}
            ))
        return pd.concat(frames or [pd.DataFrame(
            columns=["qid", "bucket", "doc_id", "score"])])

    return score_group


def _global_topk(scored: list[tuple], k: int, margin: float) -> list[tuple]:
    """(qid, bucket, doc_id, score) rows → per qid, the rows that can still
    rank in the top k: score >= the kth best score − ``margin``, every tie
    kept. ``margin`` is 2·|w_glove| with the embedding on (the final score
    moves by at most ±w_glove), else 0."""
    by_qid: dict[int, list[tuple]] = {}
    for row in scored:
        by_qid.setdefault(row[0], []).append(row)
    out = []
    for rows in by_qid.values():
        if len(rows) > k:
            kth = sorted((r[3] for r in rows), reverse=True)[k - 1]
            rows = [r for r in rows if r[3] >= kth - margin]
        out += rows
    return out


def _cosine(v, q: np.ndarray) -> float:
    """cosine(doc vector, query vector), 0 where either side is zero
    (ranker.py:85-88)."""
    num, den = np.dot(v, q), np.linalg.norm(v) * np.linalg.norm(q)
    return float(num / den) if den != 0 and num != 0 else 0.0


def _rank(cands: list[tuple], docs: list[tuple], k: int,
          w_glove: float = 0.0, qvecs: dict | None = None) -> list[tuple]:
    """Join candidates (qid, bucket, doc_id, score) to doc rows (doc_id, url,
    warc_ts µs[, glove_vec]), add w_glove · cosine to ``qvecs[qid]`` if
    given, and keep per qid the top k by (score desc, warc_ts desc, url
    desc), null warc_ts last as Spark's ``desc`` does (ranker.py:51-63)."""
    doc = {d[0]: d[1:] for d in docs}
    by_qid: dict[int, list[tuple]] = {}
    for qid, _bucket, doc_id, score in cands:
        if doc_id not in doc:
            continue
        url, ts, *vec = doc[doc_id]
        if qvecs is not None:
            score = score + w_glove * _cosine(vec[0], qvecs[qid])
        by_qid.setdefault(qid, []).append((score, ts is not None, ts, url))
    return [
        (qid, rank, url, score, ts)
        for qid in sorted(by_qid)
        for rank, (score, _, ts, url) in enumerate(
            sorted(by_qid[qid], reverse=True)[:k], 1)
    ]


class BM25SearchEngine:
    """Loads a built index and answers batched top-k queries."""

    def __init__(self, spark: SparkSession, index_path: str,
                 config: EngineConfig | None = None):
        self.spark = spark
        self.cfg = config or EngineConfig()
        self.cat = CatalogAdapter(index_path)
        props = self.cat.properties()
        # stemming is baked into the index vocabulary: querying a stemmed
        # index unstemmed (or vice versa) silently matches nothing — refuse.
        if "stemming" in props and bool(props["stemming"]) != self.cfg.stemming:
            raise ValueError(
                f"index at {index_path} was built with "
                f"stemming={props['stemming']} but config has "
                f"stemming={self.cfg.stemming}; query tokenization must "
                "match the build"
            )
        self.stemmer = None
        if self.cfg.stemming:
            from search_engine_spark.functions.stemmer import Stemmer

            self.stemmer = Stemmer()
        stats = self.cat.read_table(spark, "corpus_stats").collect()[0]
        self.n_docs = int(stats["n_docs"])
        self.avg_dl = float(stats["avg_doc_length"])
        self.postings = self.cat.read_table(spark, "postings")
        self.doc_stats = self.cat.read_table(spark, "doc_stats")
        self.term_stats = self.cat.read_table(spark, "term_stats")
        self.glove: dict[str, np.ndarray] | None = None
        if self.cfg.glove_path:
            if "glove_vec" not in self.doc_stats.columns:
                raise ValueError(
                    "config enables the embedding component (glove_path set) "
                    "but this index was built without doc vectors — rebuild "
                    "with EngineConfig(glove_path=...) or unset glove_path"
                )
            from search_engine_spark.functions.glove import load_glove

            self.glove = load_glove(self.cfg.glove_path)

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        if not terms:
            return {}
        rows = self.term_stats.filter(_sql_in("term", terms)).select(
            "term", "df").collect()
        return {r["term"]: int(r["df"]) for r in rows}

    @property
    def _glove_enabled(self) -> bool:
        return self.glove is not None and self.cfg.w_glove != 0.0

    def search_batch(
        self, queries: list[tuple[int, str]], k: int = 10,
    ) -> DataFrame:
        """queries: [(qid, text)] → DataFrame(qid, rank, url, score, warc_ts),
        a local relation ordered by (qid, rank)."""
        cfg = self.cfg
        term_df = self._term_dfs(sorted({
            t for _, text in queries
            for t in parse_sentence(text, stemmer=self.stemmer).tokens}))
        qmeta = _build_query_meta(queries, cfg, term_df, self.n_docs,
                                  stemmer=self.stemmer)

        known = sorted({t for m in qmeta.values() for t in m["terms"]
                        if t in term_df})
        if not known:
            return _local_frame(self.spark, [])

        # 1. per-bucket scorer: each matched posting row ships to it ONCE
        # for the whole batch. abs(): the margin must *widen* the boundary
        # for any sign of w_glove.
        margin = 2.0 * abs(cfg.w_glove) if self._glove_enabled else 0.0
        scored = (
            self.postings.filter(_sql_in("term", known))
            .select("bucket", "term", "blob")
            .groupBy("bucket")
            .applyInPandas(_make_scorer(qmeta, self.avg_dl, cfg, k, margin),
                           schema=_SCORED_SCHEMA)
            .collect()
        )
        # 2. global top-k per query (ties and the embedding margin kept)
        cands = _global_topk(scored, k, margin)
        if not cands:
            return _local_frame(self.spark, [])

        # 3. only the candidates' doc rows (bucket partitions pruned). Ids
        # padded past 10 with unused negative ones plan as InSet: an In's
        # literals compile into new code per query. warc_ts as epoch µs:
        # no time-zone round trip through Python datetimes.
        ids = sorted({r[2] for r in cands})
        ids += range(-1, len(ids) - 12, -1)
        doc_cols = ["doc_id", "url", F.unix_micros("warc_ts")]
        if self._glove_enabled:
            doc_cols.append("glove_vec")
        docs = (
            self.doc_stats.filter(
                _sql_in("bucket", sorted({r[1] for r in cands}))
                & _sql_in("doc_id", ids)
            )
            .select(*doc_cols)
            .collect()
        )
        # 4. rank on the driver
        qvecs = {qid: query_vector(m["tokens"], self.glove, cfg.glove_dim)
                 for qid, m in qmeta.items()} if self._glove_enabled else None
        return _local_frame(self.spark,
                            _rank(cands, docs, k, cfg.w_glove, qvecs))

    def search(self, text: str, k: int = 10) -> DataFrame:
        return self.search_batch([(0, text)], k=k).drop("qid")
