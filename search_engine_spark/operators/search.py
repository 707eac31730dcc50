"""Query engine: top-k BM25+cosine retrieval over the bucketed index.

Spark re-expression of the reference's searcher/ranker (reference
searcher.py:22-136, ranker.py:17-109):

- query parsing runs driver-side with the *same* tokenizer as documents
  (search_engine.py:87-90 parity);
- the tiny query-term relation is broadcast against the postings table
  (J1/J2 as a broadcast hash join — posting row-group pruning on the sorted
  ``term`` column skips non-matching parquet pages);
- candidate generation + scoring run partition-parallel per bucket: one
  vectorized decode of every matched blob of the bucket, then per query a
  document-at-a-time merge, min-match prune (int(0.35·|q|),
  searcher.py:67-68) and vectorized scoring of every candidate with the
  reference's exact formulas (nonstandard BM25 ranker.py:91-102, weighted
  tf-idf cosine ranker.py:80). Like the reference, the scorer ranks every
  candidate it loads: the pure-BM25 mode (w_cosine = w_glove = 0) takes
  the same path with zero weights;
- optional GloVe-style embedding component (reference ranker.py:78,
  search_engine.py:13-23 — made optional here): per-doc mean vector from
  ``doc_stats.glove_vec``, query vector driver-side, cosine added after the
  shard pass with a widened local top-k margin (±w_glove bounds the
  post-hoc score shift, so the widened boundary provably keeps every global
  top-k candidate);
- one global TakeOrderedAndProject equivalent (window row_number ≤ k) with
  the reference tie-break: score desc, timestamp desc, doc key desc
  (ranker.py:51-63 takes the *last* k of an ascending (score, date) sort).

Scoring quirks kept (SURVEY.md §3.4): duplicate query terms score once per
position; unknown query terms occupy a position with idf 0 (shrinking the
cosine via the query norm); uppercase-rewritten vocabulary terms are
unreachable by lowercase query terms.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.textproc import parse_sentence
from search_engine_spark.sources.catalog import CatalogAdapter

_SCORED_SCHEMA = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
        StructField("matched", IntegerType(), False),
    ]
)


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
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exhaustively score decoded postings → (doc_ids, score, matched).

    The scoring replicates the reference ranker exactly (SURVEY.md §2.6):
    per-position tf-idf matrix, weighted cosine + nonstandard BM25, with
    duplicate query terms scoring once per position (ranker.py:96-100).
    """
    m = qmeta_entry
    n_q, threshold = m["n"], m["threshold"]
    idf_row, q_row0, positions = m["idf_row"], m["q_row0"], m["positions"]
    empty = (np.zeros(0, np.int64), np.zeros(0), np.zeros(0, np.int64))
    if not ids_parts:
        return empty

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
    cand_matched = matched[keep]

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

    return cand_ids, score, cand_matched


def _make_scorer(qmeta: dict, avg_dl: float, cfg: EngineConfig, k: int,
                 topk_margin: float):
    """applyInPandas scorer for one bucket's matched posting rows.

    The group key is the BUCKET alone: every query in the batch scores
    against the same decoded rows, and the job schedules |buckets| groups
    instead of |queries|·|buckets|. The group's blobs decode in ONE
    ``codec.decode_blobs`` pass; every row belongs to some query's terms
    (the scan keeps only the batch's known terms), so nothing decodes for
    nothing, and a list matched by several queries decodes once.
    ``score_decoded`` then runs once per query over its terms' slices.

    ``topk_margin`` widens the tie-keeping local top-k boundary: with the
    embedding component enabled the final score shifts by at most ±w_glove,
    so keeping everything with partial score >= kth - 2·w_glove keeps every
    possible global top-k member.
    """

    def score_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from search_engine_spark.operators.codec import decode_blobs

        empty = pd.DataFrame(columns=["qid", "doc_id", "score", "matched"])
        if not len(pdf):
            return empty

        terms = pdf["term"].tolist()
        ids, dls, tfs, counts = decode_blobs(pdf["blob"].tolist())
        ends = np.cumsum(counts)
        span = {t: slice(e - n, e) for t, e, n in zip(terms, ends, counts)}
        frames = []
        for qid, m in qmeta.items():
            sel = [t for t in m["terms"] if t in span]
            if not sel:
                continue
            cand_ids, score, cand_matched = score_decoded(
                [ids[span[t]] for t in sel], [dls[span[t]] for t in sel],
                [tfs[span[t]] for t in sel], sel, m, avg_dl, cfg,
            )
            if len(cand_ids) == 0:
                continue
            # local top-k, keeping score ties (and the embedding margin) at
            # the boundary so the global tie-break stays exact across buckets
            if len(score) > k:
                kth = np.partition(score, -k)[-k]
                sel_m = score >= kth - topk_margin
            else:
                sel_m = np.ones(len(score), bool)
            frames.append(pd.DataFrame(
                {
                    "qid": qid,
                    "doc_id": cand_ids[sel_m],
                    "score": score[sel_m],
                    "matched": cand_matched[sel_m].astype(np.int32),
                }
            ))
        return pd.concat(frames, ignore_index=True) if frames else empty

    return score_group


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
        rows = (
            self.term_stats.filter(F.col("term").isin(terms))
            .select("term", "df")
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    @property
    def _glove_enabled(self) -> bool:
        return self.glove is not None and self.cfg.w_glove != 0.0

    def search_batch(
        self, queries: list[tuple[int, str]], k: int = 10,
    ) -> DataFrame:
        """queries: [(qid, text)] → DataFrame(qid, rank, url, score, warc_ts)."""
        cfg = self.cfg
        all_terms = sorted(
            {
                t
                for _, text in queries
                for t in parse_sentence(text, stemmer=self.stemmer).tokens
            }
        )
        term_df = self._term_dfs(all_terms)
        qmeta = _build_query_meta(queries, cfg, term_df, self.n_docs,
                                  stemmer=self.stemmer)

        known = sorted(
            {t for m in qmeta.values() for t in m["terms"] if t in term_df}
        )
        empty = self.spark.createDataFrame(
            [], "qid long, rank int, url string, score double, warc_ts timestamp"
        )
        if not known:
            return empty

        # Literal isin predicate (not a join): pushes into the parquet scan
        # (row-group min/max + dictionary pruning on the sorted `term`
        # column) — .explain shows PushedFilters: [In(term, ...)]. Each
        # matched posting row ships to the scorer ONCE for the whole query
        # batch; the per-bucket scorer fans it out to every query that
        # contains the term (one decode per bucket).
        matched = self.postings.filter(F.col("term").isin(known)).select(
            "bucket", "term", "blob")

        # abs(): the margin must *widen* the boundary for any sign of w_glove
        # (a negative weight still shifts scores by at most |w_glove|).
        margin = 2.0 * abs(cfg.w_glove) if self._glove_enabled else 0.0
        scored = matched.groupBy("bucket").applyInPandas(
            _make_scorer(qmeta, self.avg_dl, cfg, k, margin),
            schema=_SCORED_SCHEMA,
        )

        doc_cols = ["doc_id", "url", "warc_ts"]
        if self._glove_enabled:
            doc_cols.append("glove_vec")
        with_docs = scored.join(self.doc_stats.select(*doc_cols), "doc_id")

        if self._glove_enabled:
            with_docs = self._add_glove_score(with_docs, qmeta)

        w = Window.partitionBy("qid").orderBy(
            F.desc("score"), F.desc("warc_ts"), F.desc("url")
        )
        return (
            with_docs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "url", "score", "warc_ts")
        )

    def _add_glove_score(self, with_docs: DataFrame, qmeta: dict) -> DataFrame:
        """score += w_glove · cosine(doc_vec, query_vec) (ranker.py:78,85-88).

        Query vectors are tiny (one per query) and ride the UDF closure;
        the cosine runs Arrow-batched over (qid, glove_vec) pairs.
        """
        from search_engine_spark.functions.glove import query_vector

        w_glove = float(self.cfg.w_glove)
        dim = self.cfg.glove_dim
        qvecs = {
            qid: query_vector(m["tokens"], self.glove, dim)
            for qid, m in qmeta.items()
        }

        @F.pandas_udf(DoubleType())
        def glove_cos(qid: pd.Series, vec: pd.Series) -> pd.Series:
            n = len(qid)
            if n == 0:
                return pd.Series(np.zeros(0))
            # vectorized: stack the 25-d doc vectors into an (n, dim) matrix
            # and batch the dot products per qid group (no per-row Python).
            dv = np.stack([np.asarray(v, np.float64) for v in vec])
            dnorm = np.linalg.norm(dv, axis=1)
            out = np.zeros(n)
            qids = qid.to_numpy()
            for q in np.unique(qids):
                qv = qvecs[int(q)]
                qn = np.linalg.norm(qv)
                m = qids == q
                num = dv[m] @ qv
                den = dnorm[m] * qn
                ok = (den != 0) & (num != 0)
                vals = np.zeros(m.sum())
                vals[ok] = num[ok] / den[ok]
                out[m] = vals
            return pd.Series(out)

        return with_docs.withColumn(
            "score",
            F.col("score") + w_glove * glove_cos(F.col("qid"), F.col("glove_vec")),
        ).drop("glove_vec")

    def search(self, text: str, k: int = 10) -> DataFrame:
        return self.search_batch([(0, text)], k=k).drop("qid")
