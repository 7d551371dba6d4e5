"""Posting-list codec: delta-gap + LEB128 varint, fully vectorized.

The on-disk posting format (what Lucene's .doc/.pos files are to the
reference's ES index): per (shard, field, term) the doc_ids are sorted,
delta-gapped, and varint-encoded; tf and dl arrays are varint-encoded
as-is. Block-max metadata (max BM25 tf-normalization per block) is
computed at build time for query-time pruning.

Encode and decode are pure numpy (no per-element Python loops — the
loops below are over *byte rounds*, max 10 iterations for uint64).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # docs per block (Lucene uses 128-doc skip blocks)


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array; also return per-value byte
    lengths so callers can slice the buffer into sub-ranges (used to
    encode thousands of posting blocks in ONE vectorized pass)."""
    arr = np.asarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(arr.size, dtype=np.int64)
    v = arr >> np.uint64(7)
    while v.any():
        nbytes += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    pos = np.zeros(arr.size, dtype=np.int64)
    pos[1:] = np.cumsum(nbytes)[:-1]
    vals = arr.copy()
    k = 0
    while True:
        mask = nbytes > k
        if not mask.any():
            break
        byte = (vals[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > k).astype(np.uint8)
        out[pos[mask] + k] = byte | (cont << 7)
        vals = np.where(mask, vals >> np.uint64(7), vals)
        k += 1
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    arr = np.asarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b""
    nbytes = np.ones(arr.size, dtype=np.int64)
    v = arr >> np.uint64(7)
    while v.any():
        nbytes += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    pos = np.zeros(arr.size, dtype=np.int64)
    pos[1:] = np.cumsum(nbytes)[:-1]
    vals = arr.copy()
    k = 0
    while True:
        mask = nbytes > k
        if not mask.any():
            break
        byte = (vals[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > k).astype(np.uint8)
        out[pos[mask] + k] = byte | (cont << 7)
        vals = np.where(mask, vals >> np.uint64(7), vals)
        k += 1
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    vidx = np.zeros(b.size, dtype=np.int64)
    vidx[1:] = np.cumsum(is_end)[:-1]
    starts = np.zeros(b.size, dtype=bool)
    starts[0] = True
    starts[1:] = is_end[:-1]
    start_idx = np.maximum.accumulate(np.where(starts, np.arange(b.size), -1))
    k = (np.arange(b.size) - start_idx).astype(np.uint64)
    out = np.zeros(int(is_end.sum()), dtype=np.uint64)
    np.add.at(out, vidx, (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * k))
    return out


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, dtype=np.uint64)
    return ((v >> np.uint64(1)).astype(np.int64)) ^ -(v & np.uint64(1)).astype(np.int64)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta-gap + varint encode a sorted int64 id array.

    First value is zigzag-encoded absolute (doc_ids may be negative
    xxhash64 values), gaps are strictly positive for strictly
    increasing input."""
    ids = np.asarray(sorted_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    gaps = np.empty(ids.size, dtype=np.uint64)
    gaps[0] = zigzag_encode(ids[:1])[0]
    if ids.size > 1:
        gaps[1:] = np.diff(ids).astype(np.uint64)
    return varint_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf)
    if gaps.size == 0:
        return np.zeros(0, dtype=np.int64)
    out = gaps.copy()
    out[0] = 0
    out = np.cumsum(out.astype(np.int64)) + zigzag_decode(gaps[:1])[0]
    return out.astype(np.int64)


def encode_positions(positions_per_doc: list[np.ndarray]) -> bytes:
    """Concatenated per-doc position lists: [n, p0, gap...] per doc."""
    parts = []
    for p in positions_per_doc:
        p = np.asarray(p, dtype=np.int64)
        arr = np.empty(p.size + 1, dtype=np.uint64)
        arr[0] = p.size
        if p.size:
            arr[1] = p[0]
            if p.size > 1:
                arr[2:] = np.diff(p).astype(np.uint64)
        parts.append(arr)
    if not parts:
        return b""
    return varint_encode(np.concatenate(parts))


def position_slots(flat: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Walk a concatenated [n, p0, gap...] stream of ``n`` postings:
    returns (slots, plens), the index of each posting's count slot and
    its position count. The walk is sequential (each count locates the
    next) but costs one Python step per posting, not per position.
    Raises ValueError when the ``n`` counts do not span the stream
    exactly."""
    fl = flat.tolist()
    slots = np.empty(n, dtype=np.int64)
    plens = np.empty(n, dtype=np.int64)
    i = 0
    try:
        for k in range(n):
            slots[k] = i
            cnt = fl[i]
            plens[k] = cnt
            i += cnt + 1
    except IndexError:
        raise ValueError(
            f"positions stream length mismatch: {n} postings overrun {len(fl)} values"
        ) from None
    if i != len(fl):
        raise ValueError(
            f"positions stream length mismatch: walked {i}, have {len(fl)}"
        )
    return slots, plens


def decode_positions(buf: bytes, n_docs: int) -> list[np.ndarray]:
    """Inverse of encode_positions. Vectorized: one segmented cumsum
    over all docs' gap values, split into per-doc views — the only
    per-doc Python work is the count-slot walk (position_slots).
    Returned arrays are views into one buffer; callers copy
    (asarray/astype) before mutating."""
    flat = varint_decode(buf).astype(np.int64)
    if n_docs == 0:
        return []
    starts, lens = position_slots(flat, n_docs)
    mask = np.ones(flat.size, dtype=bool)
    mask[starts] = False
    g = np.cumsum(flat[mask])
    vstart = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=vstart[1:])
    # subtract the running total accumulated by PRIOR docs (the first
    # doc needs no correction; later docs' corrections are g just
    # before their first value)
    if g.size:
        corr = np.where(vstart > 0, g[np.maximum(vstart - 1, 0)], 0)
        res = g - np.repeat(corr, lens)
    else:  # every doc has zero positions
        res = g
    return np.split(res, vstart[1:])
