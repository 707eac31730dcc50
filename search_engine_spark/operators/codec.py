"""Posting-list compression: delta + variable-byte, block-structured.

Each posting list is stored as one binary blob of fixed-size blocks
(``EngineConfig.block_size`` docs). Within a block, doc ids are encoded as a
zigzag-encoded absolute first value followed by positive gaps; doc lengths
and term frequencies are plain varbyte streams. Every block is independently
decodable (its byte offsets are in the blob header), and two side columns —
``block_last`` (skip pointers) and ``block_max`` (upper bound of this term's
BM25 contribution for any doc in the block, with the reference's nonstandard
tf = tf/dl normalization and idf = log10(N/df), searcher.py:113-136,
ranker.py:91-102) — enable block-max WAND pruning without decoding.

Replaces the reference's pickle posting files (utils.py:14-51,
indexer.py:89-116); the varbyte/delta layout follows the standard IR
literature (e.g. Manning et al., IIR ch.5).

Everything is vectorized numpy — no per-int Python in the hot path.

Blob layout (little-endian uint32 header):
    [0]  n_postings
    [1]  block_size
    [2]  n_blocks
    [3]  len(gap_stream)   [4] len(dl_stream)   [5] len(tf_stream)
    then 3 * n_blocks uint32: per-block byte offsets into each stream
    then the three varbyte streams, concatenated.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from search_engine_spark.config import EngineConfig

#: On-disk posting format version, stamped into the index manifest at build
#: time. Version 2 = idf-FREE ``block_max`` (tf-side factor only; the query
#: side multiplies idf in when computing WAND bounds) and no per-row df
#: column. An index whose manifest predates this layout (or lacks the stamp)
#: must NOT be used with block-max WAND — the bounds would get idf applied
#: twice, silently under-estimating for idf < 1 and pruning valid top-k
#: docs. ``BM25SearchEngine`` enforces this (falls back to exhaustive
#: scoring / refuses an explicit use_wand=True).
CODEC_FORMAT_VERSION = 2

_HDR = np.dtype("<u4")

#: values >= 2^(7k) need k+1 varbyte groups; 9 thresholds cover uint64
_VB_THRESHOLDS = np.left_shift(
    np.uint64(1), np.arange(7, 64, 7, dtype=np.uint64)
)


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))).astype(
        np.int64
    )


def vb_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte-encode uint64 values; returns (stream, bytes_per_value).

    MSB set marks the LAST byte of each value (little-endian 7-bit groups).
    """
    v = values.astype(np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, np.int64)
    # bytes needed per value: ceil(bit_length / 7), min 1 — one searchsorted
    # against the 7-bit-group thresholds instead of a shift loop
    nbytes = np.searchsorted(_VB_THRESHOLDS, v, side="right").astype(np.int64) + 1
    total = int(nbytes.sum())
    out = np.zeros(total, np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # fill byte position j (0-based within each value) for all values with
    # nbytes > j — at most 10 iterations, each fully vectorized
    maxb = int(nbytes.max())
    for j in range(maxb):
        sel = nbytes > j
        pos = starts[sel] + j
        byte = ((v[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        last = (nbytes[sel] == j + 1)
        out[pos] = byte | (last.astype(np.uint8) << 7)
    return out.tobytes(), nbytes


def vb_decode(stream: np.ndarray) -> np.ndarray:
    """Decode a uint8 varbyte stream → uint64 values (fully vectorized)."""
    b = stream
    if len(b) == 0:
        return np.zeros(0, np.uint64)
    is_last = (b & 0x80) > 0
    # group id per byte: 0-based index of the value this byte belongs to
    group = np.zeros(len(b), np.int64)
    group[1:] = np.cumsum(is_last)[:-1]
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    pos_in_group = np.arange(len(b)) - starts[group]
    contrib = (b & 0x7F).astype(np.uint64) << (
        np.uint64(7) * pos_in_group.astype(np.uint64)
    )
    return np.add.reduceat(contrib, starts).astype(np.uint64)


def _bm25_contribution(
    tf: np.ndarray, dl: np.ndarray, idf: float, avg_dl: float, k: float, b: float
) -> np.ndarray:
    """The reference's per-position BM25 term contribution (ranker.py:96-100)
    with its nonstandard tf = tf_count/doc_length (searcher.py:113-124)."""
    tfn = tf / dl
    return (idf * tfn * (k + 1)) / (tfn + k * (1 - b + b * (dl / avg_dl)))


def encode_posting_list(
    doc_ids: np.ndarray,
    doc_lengths: np.ndarray,
    tfs: np.ndarray,
    block_size: int,
    idf: float,
    avg_dl: float,
    k: float = 1.2,
    b: float = 0.75,
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Encode one sorted posting list.

    Returns (blob, block_last_docid[int64], block_max_score[float64]).
    """
    n = len(doc_ids)
    doc_ids = doc_ids.astype(np.int64)
    n_blocks = (n + block_size - 1) // block_size
    bounds = np.arange(0, n_blocks + 1) * block_size
    bounds[-1] = n
    block_starts = bounds[:-1]

    # per-block restart: first value absolute (zigzag), rest are gaps
    gaps = np.empty(n, np.uint64)
    diffs = np.diff(doc_ids).astype(np.int64)
    if n > 1:
        gaps[1:] = diffs.astype(np.uint64)
    firsts = zigzag_encode(doc_ids[block_starts])
    gaps[block_starts] = firsts

    gap_stream, gap_len = vb_encode(gaps)
    dl_stream, dl_len = vb_encode(doc_lengths.astype(np.uint64))
    tf_stream, tf_len = vb_encode(tfs.astype(np.uint64))

    def _offsets(lens: np.ndarray) -> np.ndarray:
        csum = np.concatenate(([0], np.cumsum(lens)))
        return csum[block_starts].astype(np.uint32)

    header = np.array(
        [n, block_size, n_blocks, len(gap_stream), len(dl_stream), len(tf_stream)],
        dtype=_HDR,
    )
    blob = (
        header.tobytes()
        + _offsets(gap_len).tobytes()
        + _offsets(dl_len).tobytes()
        + _offsets(tf_len).tobytes()
        + gap_stream
        + dl_stream
        + tf_stream
    )

    block_last = doc_ids[bounds[1:] - 1]
    contrib = _bm25_contribution(
        tfs.astype(np.float64), doc_lengths.astype(np.float64), idf, avg_dl, k, b
    )
    block_max = np.maximum.reduceat(contrib, block_starts)
    return blob, block_last, block_max


def decode_posting_list(
    blob: bytes, blocks: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode (all or selected blocks of) a blob → (doc_ids, dls, tfs).

    ``blocks``: sorted block indices to decode (None → all). Selected-block
    decode reads only those byte ranges — this is what WAND skipping uses.
    """
    buf = np.frombuffer(blob, np.uint8)
    hdr = np.frombuffer(blob, _HDR, count=6)
    n, block_size, n_blocks = int(hdr[0]), int(hdr[1]), int(hdr[2])
    lens = hdr[3:6].astype(np.int64)
    off0 = 24 + 4 * 3 * n_blocks
    offs = np.frombuffer(blob, _HDR, count=3 * n_blocks, offset=24).reshape(3, n_blocks)
    stream_starts = off0 + np.concatenate(([0], np.cumsum(lens)))[:3]

    def _block_bytes(s: int, blk: int) -> np.ndarray:
        lo = stream_starts[s] + int(offs[s, blk])
        hi = (
            stream_starts[s] + int(offs[s, blk + 1])
            if blk + 1 < n_blocks
            else stream_starts[s] + int(lens[s])
        )
        return buf[lo:hi]

    if blocks is None:
        blocks = np.arange(n_blocks)

    out_ids, out_dl, out_tf = [], [], []
    for blk in blocks:
        g = vb_decode(_block_bytes(0, int(blk)))
        ids = np.empty(len(g), np.int64)
        if len(g):
            ids[0] = zigzag_decode(g[:1])[0]
            if len(g) > 1:
                ids[1:] = g[1:].astype(np.int64)
            ids = np.cumsum(ids)
        out_ids.append(ids)
        out_dl.append(vb_decode(_block_bytes(1, int(blk))).astype(np.int64))
        out_tf.append(vb_decode(_block_bytes(2, int(blk))).astype(np.int64))

    return (
        np.concatenate(out_ids) if out_ids else np.zeros(0, np.int64),
        np.concatenate(out_dl) if out_dl else np.zeros(0, np.int64),
        np.concatenate(out_tf) if out_tf else np.zeros(0, np.int64),
    )


def append_posting_blob(
    old_blob: bytes,
    old_block_last: np.ndarray,
    old_block_max: np.ndarray,
    new_ids: np.ndarray,
    new_dls: np.ndarray,
    new_tfs: np.ndarray,
    block_size: int,
    avg_dl: float,
    k: float = 1.2,
    b: float = 0.75,
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Tail-append new postings to an encoded blob WITHOUT decoding its bulk.

    Precondition (batch-monotone doc ids, parse.assign_doc_ids): every
    ``new_ids`` value exceeds the blob's last doc id — asserted against
    ``old_block_last[-1]``. Because every block restarts with an absolute
    first value, the old blob's full blocks are byte-reusable as-is: only
    its final PARTIAL block (< block_size postings) is decoded, merged with
    the new postings, and re-encoded as the tail; the prefix is a
    header-adjusted memcpy. Work is O(block_size + len(new_ids)) regardless
    of how long the existing list is — this is what makes incremental
    compaction increment-proportional for hot terms.

    Splicing at a block boundary reproduces the exact block layout a
    from-scratch encode of the concatenated list would produce, so (at
    equal ``avg_dl``) the result is BYTE-IDENTICAL to
    ``encode_posting_list(concat(...))`` — pinned by
    tests/test_codec_append.py. The caller keeps the old row's
    ``enc_avgdl`` bookkeeping: prefix block_max values were computed at the
    OLD encode-time avg_dl, tail values at ``avg_dl``, so the merged row's
    enc_avgdl must be min(old_enc_avgdl, avg_dl) for the query-side
    max(1, avg_dl_now/enc_avgdl) scaling to remain an upper bound for every
    block.

    Returns (blob, block_last, block_max) like ``encode_posting_list``.
    """
    hdr = np.frombuffer(old_blob, _HDR, count=6)
    n1, bs, nb1 = int(hdr[0]), int(hdr[1]), int(hdr[2])
    if bs != block_size:
        raise ValueError(f"block_size mismatch: blob={bs} config={block_size}")
    if int(old_block_last[-1]) >= int(new_ids[0]):
        raise ValueError(
            "append_posting_blob precondition violated: new doc ids must "
            f"all exceed the blob's last id ({int(old_block_last[-1])} >= "
            f"{int(new_ids[0])}) — not a monotone-id index?"
        )
    lens = hdr[3:6].astype(np.int64)
    offs = np.frombuffer(old_blob, _HDR, count=3 * nb1, offset=24
                         ).reshape(3, nb1)
    streams_at = 24 + 4 * 3 * nb1
    stream_start = streams_at + np.concatenate(([0], np.cumsum(lens)))[:3]

    # prefix = the old blob's FULL blocks; a partial final block re-encodes
    # together with the new postings so every merged block except the last
    # stays exactly block_size long (the decoder's implicit-length layout)
    tail_old = n1 % bs
    P = nb1 - 1 if tail_old else nb1
    if P:
        cut = np.array([offs[s, P] if P < nb1 else lens[s] for s in range(3)],
                       np.int64)
    else:
        cut = np.zeros(3, np.int64)
    prefix = [
        old_blob[int(stream_start[s]):int(stream_start[s] + cut[s])]
        for s in range(3)
    ]

    if tail_old:
        bids, bdls, btfs = decode_posting_list(old_blob, blocks=np.array([P]))
        t_ids = np.concatenate([bids, new_ids.astype(np.int64)])
        t_dls = np.concatenate([bdls, new_dls.astype(np.int64)])
        t_tfs = np.concatenate([btfs, new_tfs.astype(np.int64)])
    else:
        t_ids = new_ids.astype(np.int64)
        t_dls = new_dls.astype(np.int64)
        t_tfs = new_tfs.astype(np.int64)
    # idf=1.0: stored block_max is idf-free (CODEC_FORMAT_VERSION 2)
    t_blob, t_last, t_max = encode_posting_list(
        t_ids, t_dls, t_tfs, bs, 1.0, avg_dl, k, b
    )

    t_hdr = np.frombuffer(t_blob, _HDR, count=6)
    nbt = int(t_hdr[2])
    t_lens = t_hdr[3:6].astype(np.int64)
    t_offs = np.frombuffer(t_blob, _HDR, count=3 * nbt, offset=24
                           ).reshape(3, nbt)
    t_streams_at = 24 + 4 * 3 * nbt
    t_stream_start = t_streams_at + np.concatenate(
        ([0], np.cumsum(t_lens)))[:3]
    tail = [
        t_blob[int(t_stream_start[s]):int(t_stream_start[s] + t_lens[s])]
        for s in range(3)
    ]

    nb = P + nbt
    header = np.array(
        [n1 + len(new_ids), bs, nb,
         cut[0] + t_lens[0], cut[1] + t_lens[1], cut[2] + t_lens[2]],
        dtype=_HDR,
    )
    merged_offs = np.empty((3, nb), _HDR)
    for s in range(3):
        merged_offs[s, :P] = offs[s, :P]
        merged_offs[s, P:] = t_offs[s] + cut[s]
    blob = (
        header.tobytes()
        + merged_offs.tobytes()
        + prefix[0] + tail[0]
        + prefix[1] + tail[1]
        + prefix[2] + tail[2]
    )
    block_last = np.concatenate(
        [np.asarray(old_block_last, np.int64)[:P], t_last])
    block_max = np.concatenate(
        [np.asarray(old_block_max, np.float64)[:P], t_max])
    return blob, block_last, block_max


# ---------------------------------------------------------------------------
# DataFrame-level encoder (used by the index build)
# ---------------------------------------------------------------------------

ENCODED_COLUMNS = [
    "bucket", "term", "local_df", "blob", "block_last", "block_max",
]


def _encode_group_batch(
    gbuckets, gterms, ids, dls, tfs, starts, ends,
    block_size: int, avg_dl: float, k: float, b: float,
):
    """Encode every (closed) group of one batch in a single vectorized pass.

    ``gbuckets``/``gterms`` are per-group (length G); ``ids``/``dls``/``tfs``
    are the flat row arrays; ``starts``/``ends`` delimit each group's
    contiguous row range (groups tile ``[0, ends[-1])``). The whole batch is
    varbyte-encoded with ONE ``vb_encode`` per stream; per-group blobs are
    then assembled from cumulative-byte-position slices. Same blob layout as
    ``encode_posting_list`` (asserted equal by tests/test_codec_stream.py).

    Returns an Arrow RecordBatch of encoded rows (ENCODED_COLUMNS).
    """
    import pyarrow as pa

    G = len(starts)
    n_rows = int(ends[-1])
    ids = ids[:n_rows]
    dls = dls[:n_rows]
    tfs = tfs[:n_rows]

    grp_len = ends - starts
    nblk = (grp_len + block_size - 1) // block_size
    blk_grp = np.repeat(np.arange(G), nblk)
    nblk_excl = np.concatenate(([0], np.cumsum(nblk)))
    blk_in_grp = np.arange(int(nblk_excl[-1])) - nblk_excl[blk_grp]
    bstart = starts[blk_grp] + blk_in_grp * block_size
    bend = np.minimum(bstart + block_size, ends[blk_grp])

    # gap values: per-row deltas, with the absolute (zigzag) restart value at
    # every block start; cross-group diff garbage is overwritten because
    # every group start IS a block start
    gaps = np.empty(n_rows, np.uint64)
    if n_rows > 1:
        gaps[1:] = np.diff(ids).astype(np.uint64)
    gaps[bstart] = zigzag_encode(ids[bstart])

    gap_stream, gap_nb = vb_encode(gaps)
    dl_stream, dl_nb = vb_encode(dls.astype(np.uint64))
    tf_stream, tf_nb = vb_encode(tfs.astype(np.uint64))
    gap_pos = np.concatenate(([0], np.cumsum(gap_nb)))
    dl_pos = np.concatenate(([0], np.cumsum(dl_nb)))
    tf_pos = np.concatenate(([0], np.cumsum(tf_nb)))

    # per-block byte offsets within each group's stream slice
    gs = starts[blk_grp]
    off_gap = (gap_pos[bstart] - gap_pos[gs]).astype("<u4").tobytes()
    off_dl = (dl_pos[bstart] - dl_pos[gs]).astype("<u4").tobytes()
    off_tf = (tf_pos[bstart] - tf_pos[gs]).astype("<u4").tobytes()

    contrib = _bm25_contribution(
        tfs.astype(np.float64), dls.astype(np.float64), 1.0, avg_dl, k, b
    )
    blk_max = np.maximum.reduceat(contrib, bstart)
    blk_last = ids[bend - 1]

    headers = np.empty((G, 6), "<u4")
    headers[:, 0] = grp_len
    headers[:, 1] = block_size
    headers[:, 2] = nblk
    headers[:, 3] = gap_pos[ends] - gap_pos[starts]
    headers[:, 4] = dl_pos[ends] - dl_pos[starts]
    headers[:, 5] = tf_pos[ends] - tf_pos[starts]

    blobs = []
    for g in range(G):
        ob, oe = 4 * int(nblk_excl[g]), 4 * int(nblk_excl[g + 1])
        s, e = int(starts[g]), int(ends[g])
        blobs.append(
            headers[g].tobytes()
            + off_gap[ob:oe] + off_dl[ob:oe] + off_tf[ob:oe]
            + gap_stream[int(gap_pos[s]):int(gap_pos[e])]
            + dl_stream[int(dl_pos[s]):int(dl_pos[e])]
            + tf_stream[int(tf_pos[s]):int(tf_pos[e])]
        )

    blk_offsets = pa.array(nblk_excl.astype(np.int32))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.asarray(gbuckets, np.int32)),
            pa.array(list(gterms), pa.string()),
            pa.array(grp_len.astype(np.int64)),
            pa.array(blobs, pa.binary()),
            pa.ListArray.from_arrays(blk_offsets, pa.array(blk_last, pa.int64())),
            pa.ListArray.from_arrays(blk_offsets, pa.array(blk_max, pa.float64())),
        ],
        names=ENCODED_COLUMNS,
    )


def encode_sorted_postings(sorted_rows, cfg: EngineConfig, avg_dl: float):
    """Streaming group encoder over range-partitioned, sorted posting rows.

    Input: (bucket, term, doc_id, doc_length, tf) rows, range-partitioned
    on (bucket, term) and sorted by (bucket, term, doc_id) within each
    partition — equal keys land in one partition, so every group is
    contiguous within a partition's batch stream. The encoder walks the
    flat Arrow batches, slices each (bucket, term) run as numpy views and
    emits one compressed row per group, carrying the partial tail group
    across batch boundaries. No aggregation buffers, no join, no
    per-posting Python objects — this IS the reference's external k-way
    merge (indexer.py:118-206) re-expressed as Spark's range shuffle plus
    a single streaming pass.

    ``block_max`` is stored idf-FREE (the tf-side factor
    tfn·(k+1)/(tfn + k·(1−b+b·dl/avgdl)) only): idf = log10(N/df) is a
    per-term constant, so the query side multiplies it in when computing
    WAND bounds. Decoupling the encoder from global df removes the
    vocabulary join from the build's hot path entirely.
    """
    from pyspark.sql.types import (
        ArrayType, BinaryType, DoubleType, IntegerType, LongType,
        StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("bucket", IntegerType(), False),
            StructField("term", StringType(), False),
            StructField("local_df", LongType(), False),
            StructField("blob", BinaryType(), False),
            StructField("block_last", ArrayType(LongType()), False),
            StructField("block_max", ArrayType(DoubleType()), False),
        ]
    )
    block_size = cfg.block_size
    k, b = cfg.bm25_k, cfg.bm25_b

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        carry = None  # (bucket, term, ids, dls, tfs) — open tail group

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            bcol = batch.column("bucket").to_numpy(zero_copy_only=False)
            tcol = batch.column("term")
            if pa.types.is_dictionary(tcol.type):
                tcol = tcol.cast(pa.string())
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            dls = batch.column("doc_length").to_numpy(zero_copy_only=False).astype(np.int64)
            tfs = batch.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)

            if n > 1:
                tchg = pc.not_equal(
                    tcol.slice(1), tcol.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
                chg = np.flatnonzero(tchg | (bcol[1:] != bcol[:-1])) + 1
            else:
                chg = np.zeros(0, np.int64)
            starts = np.concatenate(([0], chg))
            ends = np.concatenate((chg, [n]))
            gterms = tcol.take(pa.array(starts, pa.int64())).to_pylist()
            gbuckets = bcol[starts].astype(np.int64)

            # fold the previous batch's open tail in: merged into group 0
            # when the key continues, else prepended as its own group
            if carry is not None:
                nc = len(carry[2])
                ids = np.concatenate((carry[2], ids))
                dls = np.concatenate((carry[3], dls))
                tfs = np.concatenate((carry[4], tfs))
                if carry[0] == int(gbuckets[0]) and carry[1] == gterms[0]:
                    starts = starts + nc
                    starts[0] = 0
                    ends = ends + nc
                else:
                    starts = np.concatenate(([0], starts + nc))
                    ends = np.concatenate(([nc], ends + nc))
                    gterms = [carry[1]] + gterms
                    gbuckets = np.concatenate(([carry[0]], gbuckets))
                carry = None

            # the last group may continue into the next batch — hold it open
            g_last = len(starts) - 1
            s = int(starts[g_last])
            carry = (int(gbuckets[g_last]), gterms[g_last],
                     ids[s:], dls[s:], tfs[s:])
            if g_last == 0:
                continue
            yield _encode_group_batch(
                gbuckets[:g_last], gterms[:g_last], ids, dls, tfs,
                starts[:g_last], ends[:g_last], block_size, avg_dl, k, b,
            )

        if carry is not None:
            nc = len(carry[2])
            yield _encode_group_batch(
                np.array([carry[0]]), [carry[1]],
                carry[2], carry[3], carry[4],
                np.array([0]), np.array([nc]), block_size, avg_dl, k, b,
            )

    return sorted_rows.select(
        "bucket", "term", "doc_id", "doc_length", "tf"
    ).mapInArrow(fn, schema=schema)

