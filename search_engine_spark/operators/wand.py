"""Block-max pruned top-k scoring for the DAAT scorer (north_star).

The compressed postings carry two side columns per list (codec.py):
``block_last`` (last docID of each block — skip pointers) and ``block_max``
(upper bound of the term's BM25 contribution for any doc in the block, with
the reference's nonstandard tf = tf/dl and idf = log10(N/df),
reference searcher.py:113-136, ranker.py:91-102).

:func:`bmw_score_lists` implements **block-max MaxScore** (the batched
variant of block-max WAND used by PISA/Lucene-style engines), fully
vectorized over docID chunks:

1. Lists get term-level upper bounds ``UB_t = w·|positions(t)|·max(block_max)``.
   Given the running kth score θ, the *non-essential* set is the largest
   group of lists (ascending UB) with ΣUB < θ: a doc appearing only in
   those lists can never reach the top-k, so candidates come from essential
   lists alone.
2. DocID space is processed in chunks (union block boundaries). Per chunk:
   decode essential blocks, accumulate exact essential scores, add
   block-granular upper bounds for non-essential lists (one ``searchsorted``
   into each list's skip pointers — no decode), drop candidates whose bound
   is < θ, then refine survivors against each non-essential list by
   decoding only the blocks that contain a surviving candidate.
3. θ rises as chunks complete, demoting more lists to non-essential.
   The running scores sum per term, not in the reference's order, so
   they may differ from it by a few ulps: every comparison that
   *excludes* a doc tests against θ·(1 − ``_SLACK``), so a doc whose
   reference score ties the kth one always survives.
4. The surviving docs are rescored by :func:`score_decoded` itself, over
   their (cached) postings, and cut to the tie-keeping top-k: WAND returns
   the exhaustive path's doc set and bit-identical scores.

Safe only for decomposable scores, i.e. the pure-BM25 ranking mode
(w_cosine = w_glove = 0): the reference's 0.9-weighted tf-idf cosine does
not decompose over terms, so the combined parity mode always scores
exhaustively. Identity of BMW with exhaustive scoring is asserted in
tests/test_wand.py.
"""

from __future__ import annotations

import numpy as np

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.codec import decode_posting_list

#: relative pruning slack: the running scores' rounding differs from the
#: reference order by ≲ 1e-15 relative, far inside this
_SLACK = 1e-9


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


class _ListCache:
    """Per-list block decode cache: decode each block at most once."""

    def __init__(self, blobs: list[bytes], block_lasts: list[np.ndarray]):
        self.blobs = blobs
        self.lasts = block_lasts
        self.cache: list[dict[int, tuple]] = [dict() for _ in blobs]
        self.decoded_blocks = 0

    def get(self, t: int, blocks: np.ndarray) -> tuple:
        """Decode (cached) the given sorted block indices of list ``t`` and
        return their concatenated (ids, dls, tfs) in ascending docID order."""
        missing = [int(b) for b in blocks if int(b) not in self.cache[t]]
        if missing:
            ids, dls, tfs = decode_posting_list(
                self.blobs[t], np.asarray(missing, np.int64)
            )
            off = 0
            for b in missing:
                j = np.searchsorted(ids[off:], self.lasts[t][b], side="right")
                self.cache[t][b] = (
                    ids[off:off + j], dls[off:off + j], tfs[off:off + j]
                )
                off += j
            self.decoded_blocks += len(missing)
        parts = [self.cache[t][int(b)] for b in blocks]
        if not parts:
            z = np.zeros(0, np.int64)
            return z, z, z
        return tuple(np.concatenate([p[i] for p in parts]) for i in range(3))


def bmw_score_lists(
    terms: list[str],
    blobs: list[bytes],
    block_lasts: list[np.ndarray],
    block_maxes: list[np.ndarray],
    qmeta_entry: dict,
    avg_dl: float,
    cfg: EngineConfig,
    k: int,
    n_chunks: int = 16,
    cache: "_ListCache | None" = None,
    cache_rows: list[int] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Block-max MaxScore top-k over one shard's posting lists.

    Returns (doc_ids, score, matched, stats); the result set is every
    qualifying doc whose score ≥ the kth best qualifying score (ties
    kept), scored by ``score_decoded`` — exactly what exhaustive scoring +
    tie-keeping local top-k produces, bit for bit. ``stats`` reports
    decoded vs total blocks.

    ``cache``/``cache_rows``: an optional shared :class:`_ListCache` over a
    larger row set (multi-query batch scoring); ``cache_rows[i]`` is the
    shared cache's row index for this call's list ``i``, so block decodes
    are reused across the queries of a batch.
    """
    m = qmeta_entry
    positions, threshold = m["positions"], m["threshold"]
    n_lists = len(terms)
    k1, b = cfg.bm25_k, cfg.bm25_b
    w = cfg.w_bm25
    mult = np.array([len(positions[t]) for t in terms], np.float64)
    # per-term idf (same value at every query position of the term)
    idf = np.array(
        [m["idf_row"][positions[t][0]] for t in terms], np.float64
    )
    nb = np.array([len(x) for x in block_lasts], np.int64)
    total_blocks = int(nb.sum())
    # block_max is stored idf-free (codec.encode_sorted_postings); the
    # per-term idf multiplies in here
    ub = w * mult * idf * np.array(
        [bm.max() if len(bm) else 0.0 for bm in block_maxes]
    )

    asc = np.argsort(ub, kind="stable")
    cum_ub = np.cumsum(ub[asc])

    def nonessential_mask(cut: float) -> np.ndarray:
        mask = np.zeros(n_lists, bool)
        if np.isfinite(cut):
            cnt = int(np.searchsorted(cum_ub, cut, side="left"))
            mask[asc[:cnt]] = True
        return mask

    def contrib(t: int, tfs: np.ndarray, dls: np.ndarray) -> np.ndarray:
        tfn = tfs / dls
        return (idf[t] * tfn * (k1 + 1)) / (
            tfn + k1 * (1 - b + b * (dls / avg_dl))
        )

    if cache is not None:
        shared, row_map = cache, list(cache_rows)
        base_decoded = shared.decoded_blocks

        class _View:
            def get(self, t, blocks):
                return shared.get(row_map[t], blocks)

            @property
            def decoded_blocks(self):
                return shared.decoded_blocks - base_decoded

        cachev = _View()
    else:
        cachev = _ListCache(blobs, block_lasts)
    all_last = np.unique(np.concatenate(block_lasts))
    step = max(2, -(-len(all_last) // n_chunks))
    uppers = np.concatenate((all_last[step - 1::step], all_last[-1:]))
    uppers = np.unique(uppers)

    cut = -np.inf       # θ·(1 − _SLACK): a doc below it cannot reach θ
    top_docs = np.zeros(0, np.int64)
    top_scores = np.zeros(0)
    lo = np.iinfo(np.int64).min

    for hi in uppers:
        n_mask = nonessential_mask(cut)

        # --- essential candidates + exact essential scores -----------------
        ess_parts = []
        for t in range(n_lists):
            if n_mask[t]:
                continue
            lasts = block_lasts[t]
            j0 = int(np.searchsorted(lasts, lo, side="right"))
            j1 = min(int(np.searchsorted(lasts, hi, side="left")), nb[t] - 1)
            if j0 > j1:
                continue
            ids, dls, tfs = cachev.get(t, np.arange(j0, j1 + 1))
            sel = (ids > lo) & (ids <= hi)
            ess_parts.append((t, ids[sel], dls[sel], tfs[sel]))
        if not ess_parts:
            lo = hi
            continue
        cand = np.unique(np.concatenate([p[1] for p in ess_parts]))
        exact = np.zeros(len(cand))
        presence = np.zeros(len(cand), np.int64)
        for t, ids, dls, tfs in ess_parts:
            if len(ids) == 0:
                continue
            pos = np.searchsorted(cand, ids)
            exact[pos] += w * mult[t] * contrib(t, tfs.astype(np.float64),
                                                dls.astype(np.float64))
            presence[pos] += 1

        # --- block-granular bounds for non-essential lists (no decode) -----
        bound = exact.copy()
        adds: dict[int, np.ndarray] = {}
        n_list_idx = [t for t in range(n_lists) if n_mask[t]]
        for t in n_list_idx:
            idx = np.searchsorted(block_lasts[t], cand, side="left")
            valid = idx < nb[t]
            add = np.zeros(len(cand))
            add[valid] = w * mult[t] * idf[t] * block_maxes[t][idx[valid]]
            adds[t] = add
            bound += add
        surv = bound >= cut

        # --- refine survivors against non-essential lists (targeted decode)
        for t in sorted(n_list_idx, key=lambda t: -ub[t]):
            s_idx = np.flatnonzero(surv)
            if len(s_idx) == 0:
                break
            d = cand[s_idx]
            idx = np.searchsorted(block_lasts[t], d, side="left")
            valid = idx < nb[t]
            exact_t = np.zeros(len(d))
            if valid.any():
                blocks = np.unique(idx[valid])
                ids_cat, dls_cat, tfs_cat = cachev.get(t, blocks)
                pos = np.searchsorted(ids_cat, d[valid])
                pos = np.minimum(pos, max(len(ids_cat) - 1, 0))
                present = (len(ids_cat) > 0) & (ids_cat[pos] == d[valid])
                vi = np.flatnonzero(valid)
                hit = vi[present]
                exact_t[hit] = w * mult[t] * contrib(
                    t,
                    tfs_cat[pos[present]].astype(np.float64),
                    dls_cat[pos[present]].astype(np.float64),
                )
                presence[s_idx[hit]] += 1
            bound[s_idx] += exact_t - adds[t][s_idx]
            surv[s_idx] = bound[s_idx] >= cut

        # --- fold qualifying docs into the running top-k -------------------
        qual = surv & (presence >= threshold)
        if qual.any():
            top_docs = np.concatenate((top_docs, cand[qual]))
            top_scores = np.concatenate((top_scores, bound[qual]))
            if len(top_scores) >= k:
                cut = np.partition(top_scores, -k)[-k] * (1 - _SLACK)
                if len(top_scores) > 4 * k:
                    keep = top_scores >= cut
                    top_docs, top_scores = top_docs[keep], top_scores[keep]
        lo = hi

    if len(top_scores) > k:
        top_docs = top_docs[top_scores >= cut]
    top_docs = np.sort(top_docs)
    # final scores: the exhaustive scorer over the survivors' postings
    ids_p, dl_p, tf_p = [], [], []
    for t in range(n_lists):
        idx = np.searchsorted(block_lasts[t], top_docs, side="left")
        ids, dls, tfs = cachev.get(t, np.unique(idx[idx < nb[t]]))
        hit = np.isin(ids, top_docs)
        ids_p.append(ids[hit])
        dl_p.append(dls[hit])
        tf_p.append(tfs[hit])
    top_docs, top_scores, top_matched = score_decoded(
        ids_p, dl_p, tf_p, terms, m, avg_dl, cfg)
    if len(top_scores) > k:
        keep = top_scores >= np.partition(top_scores, -k)[-k]
        top_docs, top_scores, top_matched = (
            top_docs[keep], top_scores[keep], top_matched[keep]
        )
    stats = {
        "decoded_blocks": cachev.decoded_blocks,
        "total_blocks": total_blocks,
    }
    return top_docs, top_scores, top_matched, stats
