"""Delta + varint codec for posting blocks (numpy-vectorized).

Layout of one posting-block blob (all ints LEB128 varint, little-endian
7-bit groups, high bit = continuation):

    n                     -- number of postings (docs) in the block
    docid_delta[n]        -- docid[0] - block_base, then docid[i]-docid[i-1]
    tf[n]
    doc_len[n]            -- per-doc token count (kills the query-time join
                             against doc_stats: a decoded block is
                             self-sufficient for exact BM25)
    npos[n]               -- number of positions per posting (0 allowed)
    pos_delta[sum(npos)]  -- per posting: pos[0], then pos[j]-pos[j-1]

The reference stores one MySQL row per (word, urlid) with no positions and
no compression (`invertedIndexStemmed`, report p.2; SURVEY.md §1.1) — this
codec is the north-star upgrade: postings become delta-encoded
varint-compressed blobs, grouped in doc-range-aligned blocks
(~5.6 bytes/posting including positions on the bench corpus).

Both directions are numpy-vectorized over the WHOLE buffer — encode
loops at most 10 times (one per varint byte position), decode never
loops in Python — because these run inside Arrow UDFs over millions of
postings per batch; a per-byte Python loop was the query-path bottleneck.
"""

from __future__ import annotations

import numpy as np


def encode_varints(values) -> bytes:
    """LEB128-encode a sequence of non-negative ints (vectorized)."""
    arr = np.asarray(values, dtype=np.int64)
    if arr.size == 0:
        return b""
    if arr.min() < 0:
        raise ValueError("varint requires non-negative ints")
    u = arr.astype(np.uint64)
    # bytes needed per value: ceil(bitlen/7), min 1
    nbytes = np.ones(u.shape, dtype=np.int64)
    tmp = u >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # fill byte position p of every value that has >= p+1 bytes
    max_b = int(nbytes.max())
    for p in range(max_b):
        sel = nbytes > p
        chunk = ((u[sel] >> np.uint64(7 * p)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] > p + 1).astype(np.uint8) << 7
        out[starts[sel] + p] = chunk | cont
    return out.tobytes()


def decode_all_varints(buf: bytes, offset: int = 0) -> "np.ndarray":
    """Decode EVERY varint in buf[offset:] in one vectorized pass."""
    arr = np.frombuffer(buf, dtype=np.uint8, offset=offset)
    if arr.size == 0:
        return np.empty(0, dtype=np.int64)
    if arr[-1] & 0x80:
        # a stream cut mid-varint (trailing continuation bit) would
        # otherwise surface as an undiagnosable numpy shape/index error
        # deep in the vectorized path — name the corruption instead
        raise ValueError(
            f"truncated varint stream: last byte at offset {offset + arr.size - 1} "
            f"has its continuation bit set"
        )
    is_last = (arr & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    byte_var_idx = np.repeat(np.arange(len(ends)), lens)
    pos_in_var = np.arange(len(arr)) - starts[byte_var_idx]
    contrib = (arr & 0x7F).astype(np.uint64) << (7 * pos_in_var).astype(np.uint64)
    vals = np.zeros(len(ends), dtype=np.uint64)
    np.add.at(vals, byte_var_idx, contrib)
    return vals.astype(np.int64)


def decode_varints(buf: bytes, offset: int = 0, count: int | None = None):
    """Decode `count` varints (or all, if None) from buf[offset:].

    Returns (numpy int64 array, next_offset). Scalar-walk only to find
    the byte boundary of the count-th varint; values decode vectorized.
    """
    if count is None:
        vals = decode_all_varints(buf, offset)
        return vals, len(buf)
    arr = np.frombuffer(buf, dtype=np.uint8, offset=offset)
    is_last = (arr & 0x80) == 0
    ends = np.flatnonzero(is_last)
    if len(ends) < count:
        raise ValueError(f"expected {count} varints, got {len(ends)}")
    stop = int(ends[count - 1]) + 1 if count else 0
    vals = decode_all_varints(buf[offset : offset + stop]) if count else np.empty(0, np.int64)
    return vals, offset + stop


def encode_block(
    docids: "np.ndarray",
    tfs: "np.ndarray",
    doc_lens: "np.ndarray",
    positions: "list[list[int]]",
    block_base: int,
) -> bytes:
    """Encode one posting block. `docids` must be sorted ascending and
    >= block_base; positions[i] sorted ascending for posting i."""
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doc_lens = np.asarray(doc_lens, dtype=np.int64)
    n = len(docids)
    if n == 0:
        return encode_varints([0])
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = docids[0] - block_base
    if n > 1:
        deltas[1:] = np.diff(docids)
    if deltas.min() < 0:
        raise ValueError("docids not sorted / below block_base")
    npos = np.fromiter((len(p) for p in positions), dtype=np.int64, count=n)
    total_pos = int(npos.sum())
    if total_pos:
        flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in positions if len(p)])
        pos_deltas = np.empty(total_pos, dtype=np.int64)
        pos_deltas[0] = flat[0]
        pos_deltas[1:] = np.diff(flat)
        # reset delta at the first position of each posting's segment
        nz = npos > 0
        starts_all = (np.cumsum(npos) - npos)[nz]
        pos_deltas[starts_all] = flat[starts_all]
    else:
        pos_deltas = np.empty(0, dtype=np.int64)
    header = encode_varints([n])
    body = encode_varints(
        np.concatenate([deltas, tfs, doc_lens, npos, pos_deltas])
    )
    return header + body


def _decode_block_flat(blob: bytes, block_base: int, with_positions: bool):
    """decode_block's arrays -> (docids, tfs, doc_lens, npos, positions),
    positions as ONE flat int64 array of absolute per-posting positions
    (posting i owns the next npos[i] entries); empty unless
    ``with_positions``."""
    # header = ONE varint (<= 10 bytes): slice before decoding, or the
    # boundary scan walks (and allocates over) the ENTIRE blob just to
    # find the first varint's end — and the body decode then repeats the
    # identical full pass (2x scan+allocation on the query-path hotspot)
    (n_arr, off) = decode_varints(blob[:10], 0, 1)
    n = int(n_arr[0])
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty.copy(), empty.copy(), empty.copy(), empty.copy()
    vals = decode_all_varints(blob, off)
    deltas = vals[:n]
    tfs = vals[n : 2 * n]
    doc_lens = vals[2 * n : 3 * n]
    npos = vals[3 * n : 4 * n]
    docids = np.cumsum(deltas) + block_base
    if not with_positions:
        return docids, tfs, doc_lens, npos, np.empty(0, dtype=np.int64)
    pos_deltas = vals[4 * n : 4 * n + int(npos.sum())]
    # per-segment cumsum: global cumsum minus each segment's start offset
    if len(pos_deltas):
        cs = np.cumsum(pos_deltas)
        starts = np.cumsum(npos) - npos
        base = np.where(starts > 0, cs[starts - 1], 0)
        flat = cs - np.repeat(base, npos)
    else:
        flat = np.empty(0, dtype=np.int64)
    return docids, tfs, doc_lens, npos, flat


def decode_block(blob: bytes, block_base: int, with_positions: bool = True):
    """Inverse of encode_block -> (docids, tfs, doc_lens, positions).
    ``with_positions=False`` skips materializing the per-posting position
    lists (scoring doesn't need them)."""
    docids, tfs, doc_lens, npos, flat = _decode_block_flat(blob, block_base, with_positions)
    n = len(docids)
    if not with_positions or not len(flat):
        return docids, tfs, doc_lens, [[] for _ in range(n)]
    positions = [seg.tolist() for seg in np.split(flat, np.cumsum(npos)[:-1])]
    return docids, tfs, doc_lens, positions


def decode_blocks_arrays(blobs, bases, with_positions: bool = True, flat_positions: bool = False):
    """Decode many blobs at once -> concatenated (docids, tfs, doc_lens,
    positions, counts). Used by the mapInPandas decode path and the
    driver-side serving path. ``flat_positions=True`` returns positions
    as an (npos, flat) pair of int64 arrays instead of one Python list
    per posting — what vectorized phrase matching consumes."""
    all_d, all_t, all_l, all_n, all_f, all_p, counts = [], [], [], [], [], [], []
    for blob, base in zip(blobs, bases):
        if flat_positions:
            d, t, ln, npos, flat = _decode_block_flat(bytes(blob), int(base), with_positions)
            all_n.append(npos)
            all_f.append(flat)
        else:
            d, t, ln, p = decode_block(bytes(blob), int(base), with_positions)
            all_p.extend(p)
        all_d.append(d)
        all_t.append(t)
        all_l.append(ln)
        counts.append(len(d))
    if not counts:
        e = np.empty(0, dtype=np.int64)
        pos = (e.copy(), e.copy()) if flat_positions else []
        return e, e.copy(), e.copy(), pos, []
    pos = (np.concatenate(all_n), np.concatenate(all_f)) if flat_positions else all_p
    return (
        np.concatenate(all_d),
        np.concatenate(all_t),
        np.concatenate(all_l),
        pos,
        counts,
    )
