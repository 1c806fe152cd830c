"""Delta-gap + LEB128-varint codec for posting blocks, vectorized with numpy.

The reference's posting lists (tantivy's .idx component) store docIDs as
delta-gaps with bitpacked/VInt blocks of 128 plus skip data.  We reproduce the
*capability* — compressed docID/tf blocks with per-block skip metadata
(first/last doc, max tf, min fieldnorm id) — as rows of a Parquet
`postings` table; the codec below runs inside Arrow-batched UDFs only
(no per-row Python anywhere on the hot path).

Layout per posting block row (see build.py):
  docs_bin : varint(delta-gaps of sorted doc_ids, first gap vs first_doc base)
  tfs_bin  : varint(term frequencies)
  norms_bin: raw uint8 fieldnorm ids, one per posting (lets the scorer work
             without a norms join)
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # docs per block (Lucene/tantivy block width)


def varint_encode_with_lengths(values: np.ndarray):
    """LEB128-encode a uint64 array -> (bytes, per-value byte lengths).

    Vectorized: loops only over byte-slots (<=10 passes), never over values.
    The lengths array lets callers slice per-group/per-block sub-buffers out
    of one big encode (the segmented fast path used by the index build)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # 7-bit group count per value from 9 fixed threshold compares (the
    # former shift-until-zero loop made up to 64 full-array passes)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += v >= np.uint64(1 << (7 * k))
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    rem = v.copy()
    pos = offsets[:-1].copy()
    left = nbytes.copy()
    active = left > 0
    while active.any():
        byte = (rem[active] & np.uint64(0x7F)).astype(np.uint8)
        cont = (left[active] > 1).astype(np.uint8) << 7
        out[pos[active]] = byte | cont
        rem[active] >>= np.uint64(7)
        pos[active] += 1
        left[active] -= 1
        active = left > 0
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    buf, _ = varint_encode_with_lengths(values)
    return buf


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.nonzero(is_last)[0]
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    maxlen = int((ends - starts).max()) + 1
    for j in range(maxlen):
        idx = starts + j
        alive = idx <= ends
        vals[alive] |= (b[idx[alive]] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    if count is not None and vals.size != count:
        raise ValueError(f"varint_decode: expected {count} values, got {vals.size}")
    return vals


def encode_doc_block(doc_ids: np.ndarray, base: int | None = None) -> bytes:
    """Delta-gap encode a *sorted* docID block relative to its first doc."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    gaps = np.empty(d.size, dtype=np.uint64)
    first = base if base is not None else int(d[0])
    gaps[0] = np.uint64(int(d[0]) - first)
    gaps[1:] = np.diff(d).astype(np.uint64)
    return varint_encode(gaps)


def decode_doc_block(buf: bytes, base: int, count: int | None = None) -> np.ndarray:
    """Decode delta-gap varints back to absolute docIDs."""
    gaps = varint_decode(buf, count)
    if gaps.size == 0:
        return np.zeros(0, dtype=np.int64)
    return (np.cumsum(gaps.astype(np.int64)) + base).astype(np.int64)


def encode_blocks_segmented(group_change: np.ndarray, docs: np.ndarray,
                            tfs: np.ndarray, norms: np.ndarray,
                            block_size: int = BLOCK_SIZE) -> dict:
    """Block-encode many posting lists in one vectorized pass.

    Inputs are value-level arrays sorted by (group, doc_id); ``group_change``
    marks the first row of each (field,term,shard) group.  Returns per-BLOCK
    arrays: row_index (index of the block's first value, for key lookup),
    block_id, first_doc, last_doc, count, docs_bin, tfs_bin, norms_bin,
    max_tf, min_norm_id.  The only per-block Python is buffer slicing.
    """
    n = docs.size
    gstart_idx = np.nonzero(group_change)[0]
    gid = np.cumsum(group_change) - 1
    r = np.arange(n, dtype=np.int64) - gstart_idx[gid]
    bchange = group_change | (r % block_size == 0)
    bstart = np.nonzero(bchange)[0]
    bend = np.append(bstart[1:], n)
    counts = bend - bstart
    first = docs[bstart]
    last = docs[bend - 1]
    block_id = (r[bstart] // block_size).astype(np.int64)

    gaps = np.empty(n, dtype=np.uint64)
    if n:
        gaps[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
    gaps[bstart] = 0
    dbuf, dlens = varint_encode_with_lengths(gaps)
    doffs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(dlens, out=doffs[1:])
    docs_bin = [dbuf[doffs[s]:doffs[e]] for s, e in zip(bstart, bend)]

    tbuf, tlens = varint_encode_with_lengths(tfs.astype(np.uint64))
    toffs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tlens, out=toffs[1:])
    tfs_bin = [tbuf[toffs[s]:toffs[e]] for s, e in zip(bstart, bend)]

    nbuf = norms.astype(np.uint8).tobytes()
    norms_bin = [nbuf[s:e] for s, e in zip(bstart, bend)]

    max_tf = np.maximum.reduceat(tfs, bstart) if n else np.zeros(0, np.int64)
    # per-block MIN fieldnorm id: with max_tf it yields a decode-free upper
    # bound on the block's BM25 contribution once global idf/avgdl are known
    # (score(tf,len) <= score(max_tf, min_len) — monotone in both args), so
    # the final merge can compute WAND block bounds from metadata alone.
    min_norm = np.minimum.reduceat(norms, bstart) if n else np.zeros(0, np.int64)
    return {
        "row_index": bstart, "block_id": block_id, "first_doc": first,
        "last_doc": last, "count": counts, "docs_bin": docs_bin,
        "tfs_bin": tfs_bin, "norms_bin": norms_bin,
        "max_tf": max_tf.astype(np.int64),
        "min_norm_id": min_norm.astype(np.int64),
    }


def decode_blocks_concat(first_docs: np.ndarray, counts: np.ndarray,
                         docs_bins, tfs_bins, norms_bins) -> dict:
    """Decode MANY blocks in one vectorized pass.

    Returns value-level arrays (doc_id, tf, norm_id) plus ``block_of_value``
    (index of the source block per value) so callers can repeat key columns.
    """
    total = int(counts.sum()) if counts.size else 0
    if total == 0:
        return {"doc_id": np.zeros(0, np.int64), "tf": np.zeros(0, np.int64),
                "norm_id": np.zeros(0, np.int64),
                "block_of_value": np.zeros(0, np.int64)}
    gaps = varint_decode(b"".join(docs_bins), total).astype(np.int64)
    vstart = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=vstart[1:])
    block_of_value = np.repeat(np.arange(counts.size, dtype=np.int64), counts)
    c = np.cumsum(gaps)
    docs = (np.repeat(first_docs, counts)
            + c - np.repeat(c[vstart], counts))
    tfs = varint_decode(b"".join(tfs_bins), total).astype(np.int64)
    norms = np.frombuffer(b"".join(norms_bins), dtype=np.uint8).astype(np.int64)
    return {"doc_id": docs, "tf": tfs, "norm_id": norms,
            "block_of_value": block_of_value}


def encode_positions(positions: np.ndarray) -> bytes:
    """Delta-encode a sorted positions array (within one doc)."""
    p = np.ascontiguousarray(positions, dtype=np.int64)
    if p.size == 0:
        return b""
    gaps = np.empty(p.size, dtype=np.uint64)
    gaps[0] = np.uint64(p[0])
    gaps[1:] = np.diff(p).astype(np.uint64)
    return varint_encode(gaps)


def decode_positions(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf)
    if gaps.size == 0:
        return np.zeros(0, dtype=np.int64)
    return np.cumsum(gaps.astype(np.int64))
