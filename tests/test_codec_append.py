"""The fold's tail splice must equal a from-scratch encode.

The monotone-doc_id incremental merge (operators/index_build.py::
derive_index_tables) extends an encoded blob through the batch encoder
(codec._encode_group_batch with ``old=``): it decodes only the old list's
last block, re-encodes it with the new postings, and keeps the earlier
blocks byte for byte. Because every block restarts with an absolute doc
id, the splice reproduces the exact layout a full encode of the
concatenated list would produce — these tests pin byte-identity of the
blob across split points, block alignments, and id magnitudes.
"""

import numpy as np
import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.codec import (
    _encode_group_batch, decode_blobs, encode_posting_list,
)


def _make_list(rng, n, id_lo=0, id_hi=2**50):
    ids = np.unique(rng.integers(id_lo, id_hi, size=3 * n).astype(np.int64))
    ids = np.sort(rng.choice(ids, size=n, replace=False))
    dls = rng.integers(5, 400, size=n).astype(np.int64)
    tfs = rng.integers(1, 40, size=n).astype(np.int64)
    return ids, dls, tfs


def _append(old_blob, new_ids, new_dls, new_tfs, block_size):
    """Splice one group's new postings onto the blob ``old_blob``."""
    n = len(new_ids)
    rb = _encode_group_batch(
        np.zeros(1, np.int64), ["t"], new_ids, new_dls, new_tfs,
        np.array([0]), np.array([n]), block_size, old=[old_blob],
    )
    return rb.column("blob")[0].as_py()


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

    full_blob = encode_posting_list(ids, dls, tfs, block_size)
    old = encode_posting_list(ids[:split], dls[:split], tfs[:split],
                              block_size)
    blob = _append(old, ids[split:], dls[split:], tfs[split:], block_size)

    assert blob == full_blob
    got = decode_blobs([blob])
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

    full = encode_posting_list(ids, dls, tfs, bs)
    old = encode_posting_list(ids[:700], dls[:700], tfs[:700], bs)
    assert _append(old, new_ids, dls[700:], tfs[700:], bs) == full


def test_append_rejects_interleaved_ids():
    rng = np.random.default_rng(3)
    ids, dls, tfs = _make_list(rng, 400)
    bs = 128
    old = encode_posting_list(ids[100:], dls[100:], tfs[100:], bs)
    with pytest.raises(ValueError, match="monotone"):
        _append(old, ids[:100], dls[:100], tfs[:100], bs)


def test_append_rejects_block_size_mismatch():
    rng = np.random.default_rng(4)
    ids, dls, tfs = _make_list(rng, 200)
    old = encode_posting_list(ids[:100], dls[:100], tfs[:100], 128)
    with pytest.raises(ValueError, match="block_size"):
        _append(old, ids[100:], dls[100:], tfs[100:], 64)


def test_fold_batch_mixes_single_and_multi_block_lists(spark):
    """One mapInArrow batch of the fold's kernel (index_build.splice_pairs)
    holding single-block and multi-block old lists, partial and full last
    blocks alike: every output blob equals a from-scratch encode, and the
    rows carry exactly the postings table's columns."""
    from search_engine_spark.operators.codec import POSTINGS_SCHEMA
    from search_engine_spark.operators.index_build import splice_pairs

    cfg = EngineConfig(block_size=16)
    rng = np.random.default_rng(21)
    shapes = [(5, 3), (16, 1), (16, 20), (40, 7), (48, 16), (100, 33),
              (1, 1), (9, 60)]                       # (old, new) postings
    rows, full = [], {}
    for g, (n_old, n_new) in enumerate(shapes):
        ids, dls, tfs = _make_list(rng, n_old + n_new)
        old = encode_posting_list(ids[:n_old], dls[:n_old], tfs[:n_old],
                                  cfg.block_size)
        new = encode_posting_list(ids[n_old:], dls[n_old:], tfs[n_old:],
                                  cfg.block_size)
        rows.append((g % 2, f"t{g}", old, new))
        full[f"t{g}"] = (n_old > cfg.block_size, len(ids),
                         encode_posting_list(ids, dls, tfs, cfg.block_size))
    pairs = spark.createDataFrame(
        rows, "bucket int, term string, old_blob binary, new_blob binary",
    ).coalesce(1)
    out = pairs.mapInArrow(
        splice_pairs(cfg), schema=POSTINGS_SCHEMA
    ).collect()

    assert sorted(r["term"] for r in out) == sorted(full)
    assert {multi for multi, _, _ in full.values()} == {True, False}
    for r in out:
        multi, n, blob = full[r["term"]]
        assert bytes(r["blob"]) == blob, r["term"]
        assert r["local_df"] == n, r["term"]
        assert list(r.asDict()) == ["bucket", "term", "local_df", "blob"]
