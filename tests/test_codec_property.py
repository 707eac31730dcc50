"""Property-based codec tests (hypothesis): the varbyte/delta block codec
must round-trip ANY sorted posting list, and selected-block decode must
equal the corresponding slice of a full decode."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Determinism: lists capped at 200 elements so the strategy never trips
# hypothesis's example-size budget (data_too_large); the suppression is a
# belt-and-braces guard for the 3-parallel-list draw. Large posting lists
# are covered by the pinned (non-random) cases in test_large_pinned_*.
_SETTINGS = dict(
    deadline=None,
    suppress_health_check=[HealthCheck.data_too_large, HealthCheck.too_slow],
)


def _posting_list(draw):
    n = draw(st.integers(1, 200))
    # docIDs: sorted, distinct, full signed-64 range (xxhash64 is signed)
    start = draw(st.integers(-(2**62), 2**62 - 2_000_000))
    gaps = draw(
        st.lists(st.integers(1, 1_000_000), min_size=n, max_size=n)
    )
    ids = start + np.cumsum(np.asarray(gaps, np.int64))
    dls = np.asarray(
        draw(st.lists(st.integers(1, 10_000), min_size=n, max_size=n)),
        np.int64,
    )
    tfs = np.asarray(
        draw(st.lists(st.integers(1, 5_000), min_size=n, max_size=n)),
        np.int64,
    )
    return ids, dls, tfs


posting_lists = st.composite(_posting_list)()
block_sizes = st.sampled_from([1, 3, 64, 128, 1024])


@settings(max_examples=60, **_SETTINGS)
@given(pl=posting_lists, block_size=block_sizes)
def test_roundtrip(pl, block_size):
    from search_engine_spark.operators.codec import (
        decode_posting_list, encode_posting_list,
    )

    ids, dls, tfs = pl
    blob, last, bmax = encode_posting_list(
        ids, dls, tfs, block_size, avg_dl=100.0
    )
    out_ids, out_dl, out_tf = decode_posting_list(blob)
    assert np.array_equal(out_ids, ids)
    assert np.array_equal(out_dl, dls)
    assert np.array_equal(out_tf, tfs)
    n_blocks = (len(ids) + block_size - 1) // block_size
    assert len(last) == len(bmax) == n_blocks
    assert last[-1] == ids[-1]
    assert (bmax > 0).all()


@settings(max_examples=30, **_SETTINGS)
@given(pl=posting_lists, block_size=block_sizes, data=st.data())
def test_selected_blocks_match_slices(pl, block_size, data):
    from search_engine_spark.operators.codec import (
        decode_posting_list, encode_posting_list,
    )

    ids, dls, tfs = pl
    blob, last, _ = encode_posting_list(
        ids, dls, tfs, block_size, avg_dl=50.0
    )
    n_blocks = len(last)
    picks = sorted(
        data.draw(
            st.sets(st.integers(0, n_blocks - 1), min_size=1,
                    max_size=min(5, n_blocks))
        )
    )
    got_ids, got_dl, got_tf = decode_posting_list(
        blob, blocks=np.asarray(picks, np.int64)
    )
    exp = np.concatenate([
        np.arange(b * block_size, min((b + 1) * block_size, len(ids)))
        for b in picks
    ])
    assert np.array_equal(got_ids, ids[exp])
    assert np.array_equal(got_dl, dls[exp])
    assert np.array_equal(got_tf, tfs[exp])


@settings(max_examples=40, **_SETTINGS)
@given(pl=posting_lists)
def test_block_max_bounds_every_contribution(pl):
    """block_max must upper-bound the true BM25 contribution of every doc
    in its block (WAND safety depends on this)."""
    from search_engine_spark.operators.codec import (
        _bm25_contribution, encode_posting_list,
    )

    ids, dls, tfs = pl
    block_size = 64
    _, _, bmax = encode_posting_list(
        ids, dls, tfs, block_size, avg_dl=123.0
    )
    contrib = _bm25_contribution(
        tfs.astype(np.float64), dls.astype(np.float64), 1.0, 123.0, 1.2, 0.75
    )
    for b in range(len(bmax)):
        lo, hi = b * block_size, min((b + 1) * block_size, len(ids))
        assert (contrib[lo:hi] <= bmax[b] + 1e-15).all()


# --- pinned large examples (deterministic; replace the oversized random
# draws that made the suite flaky) -----------------------------------------

def _pinned_large(n=5_000, seed=7):
    rng = np.random.default_rng(seed)
    ids = np.cumsum(rng.integers(1, 1_000_000, n).astype(np.int64)) - 2**61
    dls = rng.integers(1, 10_000, n).astype(np.int64)
    tfs = rng.integers(1, 5_000, n).astype(np.int64)
    return ids, dls, tfs


def test_large_pinned_roundtrip():
    from search_engine_spark.operators.codec import (
        decode_posting_list, encode_posting_list,
    )

    ids, dls, tfs = _pinned_large()
    for block_size in (1, 64, 128, 1024):
        blob, last, bmax = encode_posting_list(
            ids, dls, tfs, block_size, avg_dl=100.0
        )
        out_ids, out_dl, out_tf = decode_posting_list(blob)
        assert np.array_equal(out_ids, ids)
        assert np.array_equal(out_dl, dls)
        assert np.array_equal(out_tf, tfs)
        n_blocks = (len(ids) + block_size - 1) // block_size
        assert len(last) == len(bmax) == n_blocks
        assert last[-1] == ids[-1]


def test_large_pinned_block_max_bounds():
    from search_engine_spark.operators.codec import (
        _bm25_contribution, encode_posting_list,
    )

    ids, dls, tfs = _pinned_large(seed=13)
    block_size = 64
    _, _, bmax = encode_posting_list(
        ids, dls, tfs, block_size, avg_dl=123.0
    )
    contrib = _bm25_contribution(
        tfs.astype(np.float64), dls.astype(np.float64), 1.0, 123.0, 1.2, 0.75
    )
    for b in range(len(bmax)):
        lo, hi = b * block_size, min((b + 1) * block_size, len(ids))
        assert (contrib[lo:hi] <= bmax[b] + 1e-15).all()
