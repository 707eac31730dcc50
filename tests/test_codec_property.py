"""Property-based codec tests (hypothesis): the varbyte/delta block codec
must round-trip ANY sorted posting list, with the block count its header
declares."""

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


def _assert_roundtrip(ids, dls, tfs, block_size):
    from search_engine_spark.operators.codec import (
        decode_blobs, encode_posting_list,
    )

    blob = encode_posting_list(ids, dls, tfs, block_size)
    out_ids, out_dl, out_tf, counts = decode_blobs([blob])
    assert np.array_equal(out_ids, ids)
    assert np.array_equal(out_dl, dls)
    assert np.array_equal(out_tf, tfs)
    assert counts.tolist() == [len(ids)]
    # header words: n_postings, block_size, n_blocks
    n_blocks = (len(ids) + block_size - 1) // block_size
    assert np.frombuffer(blob[:12], "<u4").tolist() == [
        len(ids), block_size, n_blocks]


@settings(max_examples=60, **_SETTINGS)
@given(pl=posting_lists, block_size=block_sizes)
def test_roundtrip(pl, block_size):
    _assert_roundtrip(*pl, block_size)


# --- pinned large examples (deterministic; replace the oversized random
# draws that made the suite flaky) -----------------------------------------

def _pinned_large(n=5_000, seed=7):
    rng = np.random.default_rng(seed)
    ids = np.cumsum(rng.integers(1, 1_000_000, n).astype(np.int64)) - 2**61
    dls = rng.integers(1, 10_000, n).astype(np.int64)
    tfs = rng.integers(1, 5_000, n).astype(np.int64)
    return ids, dls, tfs


def test_large_pinned_roundtrip():
    ids, dls, tfs = _pinned_large()
    for block_size in (1, 64, 128, 1024):
        _assert_roundtrip(ids, dls, tfs, block_size)
