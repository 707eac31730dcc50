"""Posting-list compression: delta + variable-byte, block-structured.

Each posting list is stored as one binary blob of fixed-size blocks
(``EngineConfig.block_size`` docs). Within a block, doc ids are encoded as a
zigzag-encoded absolute first value followed by positive gaps; doc lengths
and term frequencies are plain varbyte streams. Every block is independently
decodable (its byte offsets are in the blob header). A blob is a pure
function of its (doc_id, doc_length, tf) rows and the block size: it
depends on no corpus statistic, so a list that gains no docs never needs
re-encoding.

Replaces the reference's pickle posting files (utils.py:14-51,
indexer.py:89-116); the varbyte/delta layout follows the standard IR
literature (e.g. Manning et al., IIR ch.5).

One writer: ``_encode_group_batch`` is the only code that builds a blob
and its header. The streaming encoder (``encode_sorted_postings``) feeds
it whole groups; a fold into existing postings
(index_build.splice_pairs) feeds it fresh postings plus the old blobs
they extend, and it splices the new tail onto each old list's kept
blocks. ``encode_posting_list`` is a one-group call into it. One reader:
``_decode_blocks`` decodes any set of (blob, block) pairs in one pass;
``decode_blobs`` is its every-block entry point.

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

import numpy as np
import pyspark.sql.types as T

from search_engine_spark.config import EngineConfig

#: the postings table's rows: one per (bucket, term) posting list
POSTINGS_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("local_df", T.LongType(), False),
    T.StructField("blob", T.BinaryType(), False),
])

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


def encode_posting_list(
    doc_ids: np.ndarray,
    doc_lengths: np.ndarray,
    tfs: np.ndarray,
    block_size: int,
) -> bytes:
    """Encode one sorted posting list into its blob: a one-group call into
    ``_encode_group_batch``, for tests and tools."""
    rb = _encode_group_batch(
        np.zeros(1, np.int64), [""], np.asarray(doc_ids, np.int64),
        np.asarray(doc_lengths), np.asarray(tfs), np.array([0]),
        np.array([len(doc_ids)]), block_size,
    )
    return rb.column("blob")[0].as_py()


def _u32_at(buf: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Little-endian uint32 words at byte positions ``pos`` (any shape)."""
    pos = np.asarray(pos, np.int64)
    return buf[pos[..., None] + np.arange(4)].view("<u4")[..., 0].astype(
        np.int64)


def _ranges(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """The concatenated index ranges ``[lo[i], hi[i])``."""
    span = hi - lo
    return np.repeat(lo - (np.cumsum(span) - span), span) + np.arange(
        int(span.sum()))


def _blob_headers(blobs: list[bytes]):
    """Join blobs into one byte buffer and read every header.

    Returns (buf, base, hdr): ``base[g]`` is blob g's byte offset in
    ``buf`` and ``hdr[g]`` its six header words.
    """
    buf = np.frombuffer(blobs[0] if len(blobs) == 1 else b"".join(blobs),
                        np.uint8)
    size = np.fromiter(map(len, blobs), np.int64, len(blobs))
    base = np.cumsum(size) - size
    return buf, base, _u32_at(buf, base[:, None] + 4 * np.arange(6))


def _decode_blocks(buf, base, hdr, g: np.ndarray, blk: np.ndarray):
    """Decode block ``blk[i]`` of blob ``g[i]`` for every i, in one pass.

    Returns (doc_ids, dls, tfs, postings per decoded block); the postings
    come out in selection order.
    """
    n, bs, nb = hdr[g, 0], hdr[g, 1], hdr[g, 2]
    lens = hdr[g, 3:6]
    stream = (base[g] + 24 + 12 * nb)[:, None] + np.cumsum(lens, 1) - lens
    word = (base[g] + 24)[:, None] + 4 * (
        np.arange(3) * nb[:, None] + blk[:, None])
    last = (blk + 1 == nb)[:, None]
    lo = stream + _u32_at(buf, word)
    hi = stream + np.where(last, lens, _u32_at(buf, np.where(last, word,
                                                             word + 4)))
    # one varbyte decode for all three streams: each holds one value per
    # posting, so the result splits into three equal parts
    gaps, dls, tfs = vb_decode(buf[_ranges(lo.T.ravel(), hi.T.ravel())]
                               ).reshape(3, -1)
    counts = np.minimum(bs, n - blk * bs)
    # every block restarts with an absolute (zigzag) first id; the int64
    # cumsum may wrap across blocks, the per-block difference never does
    first = np.cumsum(counts) - counts
    v = gaps.astype(np.int64)
    v[first] = zigzag_decode(gaps[first])
    csum = np.cumsum(v)
    ids = csum - np.repeat(csum[first] - v[first], counts)
    return ids, dls.astype(np.int64), tfs.astype(np.int64), counts


def decode_blobs(blobs: list[bytes]):
    """Decode every block of every blob in one pass →
    (doc_ids, dls, tfs, postings per blob), postings in blob order."""
    buf, base, hdr = _blob_headers(blobs)
    nb = hdr[:, 2]
    g = np.repeat(np.arange(len(blobs)), nb)
    blk = np.arange(int(nb.sum())) - np.repeat(np.cumsum(nb) - nb, nb)
    ids, dls, tfs, _ = _decode_blocks(buf, base, hdr, g, blk)
    return ids, dls, tfs, hdr[:, 0]


# ---------------------------------------------------------------------------
# The blob writer (used by the index build and the fold)
# ---------------------------------------------------------------------------

_NO_PREFIX = (b"",) * 6


def _by_group(group_a, a, group_b, b):
    """Interleave two arrays by group id, ``a``'s items first in each."""
    order = np.argsort(np.concatenate((group_a, group_b)), kind="stable")
    return np.concatenate((a, b))[order]


def _encode_group_batch(
    gbuckets, gterms, ids, dls, tfs, starts, ends, block_size: int,
    old=None,
):
    """Write the posting blobs of every (closed) group of one batch in a
    single vectorized pass: the only code that builds a blob and its
    header.

    ``gbuckets``/``gterms`` are per-group (length G); ``ids``/``dls``/``tfs``
    are the flat row arrays; ``starts``/``ends`` delimit each group's
    contiguous row range (groups tile ``[0, ends[-1])``). The whole batch is
    varbyte-encoded with ONE ``vb_encode`` per stream; per-group blobs are
    then assembled from cumulative-byte-position slices.

    ``old`` — the fold's tail splice: per group, the blob of the encoded
    list the rows extend. Every row id must exceed its old list's last id
    (batch-monotone ids, parse.assign_doc_ids), else ValueError. Only
    each old list's LAST block is decoded; its rows go in front of the
    group's rows and are re-encoded with them. The earlier blocks are
    kept byte for byte: every block restarts with an absolute id, so
    their offsets and stream bytes go in front of the new tail unchanged.
    Blocks stay aligned to multiples of ``block_size``, so the blob equals
    a from-scratch encode of the whole list. Work per group is
    O(block_size + new rows), however long the old list.

    Returns an Arrow RecordBatch of encoded rows: bucket, term, local_df,
    blob.
    """
    import pyarrow as pa

    G = len(starts)
    n_rows = int(ends[-1])
    ids = ids[:n_rows]
    dls = dls[:n_rows]
    tfs = tfs[:n_rows]
    kept = np.zeros(G, np.int64)        # old blocks kept in front, per group
    cut = np.zeros((G, 3), np.int64)    # their byte length in each stream
    prefix = [_NO_PREFIX] * G

    if old is not None:
        buf, base, hdr = _blob_headers(old)
        if (hdr[:, 1] != block_size).any():
            raise ValueError(
                f"block_size mismatch: blob={int(hdr[0, 1])} "
                f"config={block_size}")
        onb = hdr[:, 2]
        kept = onb - 1
        gi = np.arange(G)
        t_ids, t_dls, t_tfs, t_n = _decode_blocks(buf, base, hdr, gi, kept)
        t_end = np.cumsum(t_n)
        seam = np.flatnonzero(t_ids[t_end - 1] >= ids[starts])
        if len(seam):
            g = int(seam[0])
            raise ValueError(
                f"posting merge: new doc id {int(ids[starts[g]])} <= old "
                f"last id {int(t_ids[t_end[g] - 1])}: not a batch-monotone "
                "index?")
        t_grp = np.repeat(gi, t_n)
        r_grp = np.repeat(gi, ends - starts)
        ids = _by_group(t_grp, t_ids, r_grp, ids)
        dls = _by_group(t_grp, t_dls, r_grp, dls)
        tfs = _by_group(t_grp, t_tfs, r_grp, tfs)
        glen = t_n + ends - starts
        ends = np.cumsum(glen)
        starts = ends - glen
        n_rows = int(ends[-1])
        # kept prefix: the offsets and stream bytes before the last block
        ob = 24 + 4 * np.arange(3) * onb[:, None]
        sb = 24 + 12 * onb[:, None] + np.cumsum(hdr[:, 3:6], 1) - hdr[:, 3:6]
        cut = _u32_at(buf, base[:, None] + ob + 4 * kept[:, None])
        prefix = [
            tuple(blob[o:o + 4 * p] for o in ob_g)
            + tuple(blob[s:s + c] for s, c in zip(sb_g, cut_g))
            for blob, ob_g, sb_g, cut_g, p in zip(
                old, ob.tolist(), sb.tolist(), cut.tolist(),
                kept.tolist())
        ]

    grp_len = ends - starts
    nblk = (grp_len + block_size - 1) // block_size
    blk_grp = np.repeat(np.arange(G), nblk)
    nblk_excl = np.concatenate(([0], np.cumsum(nblk)))
    blk_in_grp = np.arange(int(nblk_excl[-1])) - nblk_excl[blk_grp]
    bstart = starts[blk_grp] + blk_in_grp * block_size

    # gap values: per-row deltas, with the absolute (zigzag) restart value at
    # every block start; cross-group diff garbage is overwritten because
    # every group start IS a block start
    gaps = np.empty(n_rows, np.uint64)
    if n_rows > 1:
        gaps[1:] = np.diff(ids).astype(np.uint64)
    gaps[bstart] = zigzag_encode(ids[bstart])

    streams, offs, slen = [], [], []
    for s, vals in enumerate((gaps, dls, tfs)):
        stream, nbytes = vb_encode(vals.astype(np.uint64))
        pos = np.concatenate(([0], np.cumsum(nbytes)))
        streams.append((memoryview(stream), pos))
        # per-block byte offsets within the group's stream, after the prefix
        offs.append(memoryview((pos[bstart] - pos[starts[blk_grp]]
                                + cut[blk_grp, s]).astype("<u4").tobytes()))
        slen.append(cut[:, s] + pos[ends] - pos[starts])

    headers = np.empty((G, 6), "<u4")
    headers[:, 0] = kept * block_size + grp_len
    headers[:, 1] = block_size
    headers[:, 2] = kept + nblk
    headers[:, 3:6] = np.stack(slen, axis=1)
    hdr_bytes = memoryview(headers.tobytes())

    (gap_s, gap_pos), (dl_s, dl_pos), (tf_s, tf_pos) = streams
    blobs = []
    for g in range(G):
        ob, oe = 4 * int(nblk_excl[g]), 4 * int(nblk_excl[g + 1])
        r0, r1 = int(starts[g]), int(ends[g])
        p = prefix[g]
        blobs.append(b"".join((
            hdr_bytes[24 * g:24 * g + 24],
            p[0], offs[0][ob:oe], p[1], offs[1][ob:oe], p[2], offs[2][ob:oe],
            p[3], gap_s[gap_pos[r0]:gap_pos[r1]],
            p[4], dl_s[dl_pos[r0]:dl_pos[r1]],
            p[5], tf_s[tf_pos[r0]:tf_pos[r1]],
        )))
    return pa.RecordBatch.from_arrays(
        [pa.array(np.asarray(gbuckets, np.int32)),
         pa.array(list(gterms), pa.string()),
         pa.array(headers[:, 0].astype(np.int64)),
         pa.array(blobs, pa.binary())],
        names=["bucket", "term", "local_df", "blob"])


def encode_sorted_postings(sorted_rows, cfg: EngineConfig):
    """Streaming group encoder over clustered, sorted posting rows.

    Input: (bucket, term, doc_id, doc_length, tf) rows from
    ``index_build.sorted_posting_rows``: exchanged so that every
    (bucket, term) group lands wholly in one partition (whole buckets via
    ``bucket_exchange``, or a (bucket, term) hash) and sorted by
    (bucket, term, doc_id) within each partition, so every group is
    contiguous within a partition's batch stream. The encoder walks the
    flat Arrow batches, slices each (bucket, term) run as numpy views and
    emits one compressed row per group, carrying the partial tail group
    across batch boundaries. No aggregation buffers, no join, no
    per-posting Python objects — this IS the reference's external k-way
    merge (indexer.py:118-206) re-expressed as Spark's shuffle sort plus
    a single streaming pass.
    """
    block_size = cfg.block_size

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
                starts[:g_last], ends[:g_last], block_size,
            )

        if carry is not None:
            nc = len(carry[2])
            yield _encode_group_batch(
                np.array([carry[0]]), [carry[1]],
                carry[2], carry[3], carry[4],
                np.array([0]), np.array([nc]), block_size,
            )

    return sorted_rows.select(
        "bucket", "term", "doc_id", "doc_length", "tf"
    ).mapInArrow(fn, schema=POSTINGS_SCHEMA)

