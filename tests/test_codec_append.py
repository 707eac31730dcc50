"""The fold's tail splice must equal a from-scratch encode.

The monotone-doc_id incremental merge (operators/index_build.py::
merge_derive_tables) extends an encoded blob through the batch encoder
(codec._encode_group_batch with ``old=``): it decodes only the old list's
last block, re-encodes it with the new postings, and keeps the earlier
blocks byte for byte. Because every block restarts with an absolute doc
id, the splice reproduces the exact layout a full encode of the
concatenated list would produce — these tests pin byte-identity (blob) and
value-identity (block_last/block_max) across split points, block
alignments, and id magnitudes.
"""

import numpy as np
import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.codec import (
    _encode_group_batch, decode_posting_list, encode_posting_list,
)

K, B = 1.2, 0.75


def _make_list(rng, n, id_lo=0, id_hi=2**50):
    ids = np.unique(rng.integers(id_lo, id_hi, size=3 * n).astype(np.int64))
    ids = np.sort(rng.choice(ids, size=n, replace=False))
    dls = rng.integers(5, 400, size=n).astype(np.int64)
    tfs = rng.integers(1, 40, size=n).astype(np.int64)
    return ids, dls, tfs


def _append(old, new_ids, new_dls, new_tfs, block_size, avg_dl):
    """Splice one group's new postings onto ``old`` = (blob, last, max)."""
    n = len(new_ids)
    rb = _encode_group_batch(
        np.zeros(1, np.int64), ["t"], new_ids, new_dls, new_tfs,
        np.array([0]), np.array([n]), block_size, avg_dl, K, B,
        old=([old[0]], [old[1]], [old[2]], np.array([avg_dl])),
    )
    return (
        rb.column("blob")[0].as_py(),
        rb.column("block_last")[0].values.to_numpy(),
        rb.column("block_max")[0].values.to_numpy(),
    )


@pytest.mark.parametrize("n_total,split,block_size", [
    (1000, 900, 128),    # old ends mid-block (partial final block)
    (1024, 512, 128),    # old ends exactly on a block boundary
    (1000, 999, 128),    # single new posting
    (300, 100, 128),     # old is a single partial block (P == 0)
    (50, 20, 128),       # both sides inside one block
    (513, 256, 64),      # non-default block size
    (2000, 1, 128),      # old is a single posting
])
def test_append_byte_identical_to_full_encode(n_total, split, block_size):
    rng = np.random.default_rng(n_total * 7 + split)
    ids, dls, tfs = _make_list(rng, n_total)
    avg_dl = 180.0

    full_blob, full_last, full_max = encode_posting_list(
        ids, dls, tfs, block_size, avg_dl, K, B)

    old = encode_posting_list(
        ids[:split], dls[:split], tfs[:split], block_size, avg_dl, K, B)
    blob, last, bmax = _append(
        old, ids[split:], dls[split:], tfs[split:], block_size, avg_dl)

    assert blob == full_blob
    np.testing.assert_array_equal(last, full_last)
    np.testing.assert_allclose(bmax, full_max, rtol=0, atol=0)

    got = decode_posting_list(blob)
    np.testing.assert_array_equal(got[0], ids)
    np.testing.assert_array_equal(got[1], dls)
    np.testing.assert_array_equal(got[2], tfs)


def test_append_monotone_id_layout():
    """The actual id layout monotone mode produces: batch k in its 2^48
    slot — big absolute restarts, small in-batch gaps."""
    rng = np.random.default_rng(11)
    bs = 128
    old_ids = np.sort(rng.choice(2**33, size=700, replace=False)).astype(
        np.int64)  # batch 0
    new_ids = (1 << 48) + np.sort(
        rng.choice(2**33, size=90, replace=False)).astype(np.int64)  # batch 1
    ids = np.concatenate([old_ids, new_ids])
    dls = rng.integers(5, 300, size=len(ids)).astype(np.int64)
    tfs = rng.integers(1, 20, size=len(ids)).astype(np.int64)

    full = encode_posting_list(ids, dls, tfs, bs, 150.0, K, B)
    old = encode_posting_list(ids[:700], dls[:700], tfs[:700], bs, 150.0,
                              K, B)
    got = _append(old, new_ids, dls[700:], tfs[700:], bs, 150.0)
    assert got[0] == full[0]


def test_append_rejects_interleaved_ids():
    rng = np.random.default_rng(3)
    ids, dls, tfs = _make_list(rng, 400)
    bs = 128
    old = encode_posting_list(ids[100:], dls[100:], tfs[100:], bs, 100.0,
                              K, B)
    with pytest.raises(ValueError, match="monotone"):
        _append(old, ids[:100], dls[:100], tfs[:100], bs, 100.0)


def test_append_rejects_block_size_mismatch():
    rng = np.random.default_rng(4)
    ids, dls, tfs = _make_list(rng, 200)
    old = encode_posting_list(ids[:100], dls[:100], tfs[:100], 128, 100.0,
                              K, B)
    with pytest.raises(ValueError, match="block_size"):
        _append(old, ids[100:], dls[100:], tfs[100:], 64, 100.0)


def test_append_under_avg_dl_drift_bounds_stay_valid():
    """Prefix block_max computed at the OLD avg_dl, tail at the new one:
    with row enc_avgdl = min(old, new), scaling by
    max(1, avg_dl_q/enc_avgdl) upper-bounds the true per-block max at any
    query-time avg_dl_q >= both."""
    from search_engine_spark.operators.codec import _bm25_contribution

    rng = np.random.default_rng(5)
    ids, dls, tfs = _make_list(rng, 1500)
    bs = 128
    old_avg, new_avg = 120.0, 170.0
    split = 1300
    old = encode_posting_list(ids[:split], dls[:split], tfs[:split], bs,
                              old_avg, K, B)
    blob, last, bmax = _append(
        old, ids[split:], dls[split:], tfs[split:], bs, new_avg)
    enc_avgdl = min(old_avg, new_avg)

    for avg_q in (new_avg, 200.0, 260.0):
        scale = max(1.0, avg_q / enc_avgdl)
        true = _bm25_contribution(tfs.astype(float), dls.astype(float), 1.0,
                                  avg_q, K, B)
        n_blocks = (len(ids) + bs - 1) // bs
        for blk in range(n_blocks):
            t = true[blk * bs:(blk + 1) * bs].max()
            assert bmax[blk] * scale >= t - 1e-12, (blk, avg_q)


def test_fold_batch_mixes_single_and_multi_block_lists(spark):
    """One mapInPandas batch of the fold's kernel (index_build.splice_pairs)
    holding single-block and multi-block old lists, partial and full last
    blocks alike: every output blob equals a from-scratch encode, and
    enc_avgdl is min(old, new) exactly when old blocks are kept."""
    from search_engine_spark.operators.index_build import (
        _POSTING_MERGE_SCHEMA, splice_pairs,
    )

    cfg = EngineConfig(block_size=16)
    old_avg, new_avg = 90.0, 110.0
    rng = np.random.default_rng(21)
    shapes = [(5, 3), (16, 1), (16, 20), (40, 7), (48, 16), (100, 33),
              (1, 1), (9, 60)]                       # (old, new) postings
    rows, full = [], {}
    for g, (n_old, n_new) in enumerate(shapes):
        ids, dls, tfs = _make_list(rng, n_old + n_new)
        old = encode_posting_list(ids[:n_old], dls[:n_old], tfs[:n_old],
                                  cfg.block_size, old_avg, K, B)
        new = encode_posting_list(ids[n_old:], dls[n_old:], tfs[n_old:],
                                  cfg.block_size, new_avg, K, B)
        rows.append((g % 2, f"t{g}", old[0], old[1].tolist(),
                     old[2].tolist(), old_avg, new[0]))
        full[f"t{g}"] = (len(old[1]) > 1, len(ids), encode_posting_list(
            ids, dls, tfs, cfg.block_size, new_avg, K, B)[0])
    pairs = spark.createDataFrame(
        rows, "bucket int, term string, old_blob binary, "
              "old_last array<bigint>, old_max array<double>, "
              "old_enc double, new_blob binary",
    ).coalesce(1)
    out = pairs.mapInPandas(
        splice_pairs(cfg, new_avg), schema=_POSTING_MERGE_SCHEMA
    ).collect()

    assert sorted(r["term"] for r in out) == sorted(full)
    assert {multi for multi, _, _ in full.values()} == {True, False}
    for r in out:
        multi, n, blob = full[r["term"]]
        assert bytes(r["blob"]) == blob, r["term"]
        assert r["local_df"] == n, r["term"]
        assert r["enc_avgdl"] == (old_avg if multi else new_avg), r["term"]
