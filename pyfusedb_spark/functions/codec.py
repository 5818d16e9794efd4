"""Posting-list codec: delta-encoded docID gaps + varint blocks + block-max.

The reference defines (but never calls) a python-loop delta codec
(``app/InvertedIndexFinal.py:124-150``) and packs postings as fixed-width
``struct('II')`` records (``:228-236``). The north rule makes compression
mandatory: delta-encoded docID gaps + varint payload in fixed-size blocks,
plus per-block max-score metadata for block-max WAND. This module is the
numpy-vectorized implementation used inside pandas UDFs (no per-row
Python) and by the query-side decoder.

Layout
------
A posting list for one (term, bucket) chunk is three parallel arrays
(doc_ids sorted ascending & unique, tfs, dls) interleaved per posting as
``[gap, tf, dl]`` triples and LEB128-varint encoded into one byte payload.
``gap[0] = doc_id[0] + 1`` (i.e. delta from sentinel -1), so all gaps are
>= 1. Every ``block_size`` postings form a block; per block we keep
``(byte_offset, first_doc_id, last_doc_id, max_partial)`` where
``max_partial`` is the BM25 doc-side factor upper bound
``max tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))`` — multiplied by idf at query
time to get the block's score upper bound (WAND). Block k is decodable
independently: its delta base is ``last_doc_id`` of block k-1 (or -1).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128


# --------------------------------------------------------------------------
# LEB128 varint, numpy-vectorized
# --------------------------------------------------------------------------

def varint_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode uint64 array -> (payload bytes, per-value byte offsets).

    Returns offsets of length len(values)+1 (offsets[i] = start of value i).
    """
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.zeros(1, dtype=np.int64)
    # bound the per-byte passes by the ACTUAL widest value: posting gaps/
    # tfs/dls are overwhelmingly 1-2 bytes, so this cuts the fixed nine
    # full-array comparison passes (measured ~40% of encode CPU) to ~2
    vmax = int(v.max())
    if vmax < (1 << 32):
        # narrow to uint32: v is re-read in every per-byte pass below and
        # the encode stage is memory-bound at high core counts
        # (scripts/profile_postings_mp.py) — half-width traffic helps
        v = v.astype(np.uint32)
    max_b = 1
    while max_b < 10 and vmax >= (1 << (7 * max_b)):
        max_b += 1
    # uint8 is enough (max 10 bytes/varint): nbytes is touched by max_b
    # comparison-add passes + the cumsum + the cont pass
    nbytes = np.ones(n, dtype=np.uint8)
    for k in range(1, max_b):
        nbytes += v >= v.dtype.type(1 << (7 * k))
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    # every output byte is written exactly once below -> empty, not zeros
    out = np.empty(offsets[-1], dtype=np.uint8)
    starts = offsets[:-1]
    if max_b == 1:  # all single-byte: one contiguous store, no masks
        out[:] = v
        return out.tobytes(), offsets
    for j in range(max_b):
        mask = nbytes > j
        if not mask.any():
            break
        pos = starts[mask] + j
        byte = (v[mask] >> v.dtype.type(7 * j)) & v.dtype.type(0x7F)
        cont = ((nbytes[mask] - 1 > j)).astype(np.uint8) << np.uint8(7)
        out[pos] = byte.astype(np.uint8) | cont
    return out.tobytes(), offsets


def varint_decode(payload: bytes | np.ndarray, start: int = 0, count: int | None = None) -> np.ndarray:
    """Decode `count` varints (or all) from payload[start:] -> uint64 array."""
    b = np.frombuffer(payload, dtype=np.uint8) if not isinstance(payload, np.ndarray) else payload
    if count is not None:
        # a varint is <= 10 bytes: cap the boundary scan at count*10
        # instead of scanning to the end of the payload (a mid-chunk
        # block decode was O(chunk bytes) per call without this)
        b = b[start : start + 10 * count]
    else:
        b = b[start:]
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = b < 128
    ends = np.flatnonzero(is_last)
    if count is not None:
        ends = ends[:count]
        b = b[: ends[-1] + 1] if ends.size else b[:0]
    n = ends.size
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    maxlen = int(lengths.max()) if n else 0
    for j in range(maxlen):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
    return vals


# --------------------------------------------------------------------------
# Posting chunk encode / decode
# --------------------------------------------------------------------------

@dataclass
class EncodedChunk:
    payload: bytes
    n_postings: int
    block_offsets: np.ndarray  # int64, byte offset of each block start
    block_first: np.ndarray  # int64, first doc_id per block
    block_last: np.ndarray  # int64, last doc_id per block
    block_max_partial: np.ndarray  # float32, max BM25 doc-side factor per block
    max_partial: float


def bm25_partials(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    tfs = tfs.astype(np.float64)
    dls = dls.astype(np.float64)
    denom = tfs + k1 * (1.0 - b + (b * dls / avgdl if avgdl > 0 else 0.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(denom > 0, tfs * (k1 + 1.0) / denom, 0.0)
    return out


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = BLOCK_SIZE,
) -> EncodedChunk:
    """Encode one sorted, doc-unique posting chunk."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = doc_ids.size
    gaps = np.empty(n, dtype=np.uint64)
    if n:
        gaps[0] = np.uint64(doc_ids[0] + 1)
        gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    interleaved = np.empty(3 * n, dtype=np.uint64)
    interleaved[0::3] = gaps
    interleaved[1::3] = tfs.astype(np.uint64)
    interleaved[2::3] = dls.astype(np.uint64)
    payload, offsets = varint_encode(interleaved)
    n_blocks = (n + block_size - 1) // block_size if n else 0
    starts = np.arange(n_blocks, dtype=np.int64) * block_size
    block_offsets = offsets[starts * 3]
    block_first = doc_ids[starts]
    last_idx = np.minimum(starts + block_size, n) - 1
    block_last = doc_ids[last_idx]
    partials = bm25_partials(tfs, dls, avgdl, k1, b)
    if n_blocks:
        block_max = np.maximum.reduceat(partials, starts)
    else:
        block_max = np.zeros(0, dtype=np.float64)
    return EncodedChunk(
        payload=payload,
        n_postings=int(n),
        block_offsets=block_offsets,
        block_first=block_first,
        block_last=block_last,
        block_max_partial=block_max.astype(np.float32),
        max_partial=float(block_max.max()) if n_blocks else 0.0,
    )


def encode_postings_multi(
    group_starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = BLOCK_SIZE,
    flat_only: bool = False,
) -> dict:
    """Encode MANY contiguous posting groups in one vectorized pass.

    ``group_starts`` are the row indices where each group begins (first
    must be 0); rows within a group must be doc-sorted and doc-unique.
    One varint pass over the whole partition + ``reduceat`` for all block
    metadata replaces a per-group ``encode_postings`` call — per-group
    numpy-call overhead (~200µs x millions of 1-3-posting long-tail
    terms) dominated the posting stage before this.

    Output is byte-identical per group to ``encode_postings`` (gaps reset
    at group starts, varints are per-value).
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    l = np.asarray(dls, dtype=np.int64)
    starts = np.asarray(group_starts, dtype=np.int64)
    n = d.size
    g = starts.size
    ends = np.append(starts[1:], n)
    # gaps with reset at group starts: gap = d[i] - prev, prev = -1 at starts
    prev = np.empty(n, dtype=np.int64)
    if n:
        prev[1:] = d[:-1]
    prev[starts] = -1
    # strided stores cast on assignment — no intermediate astype copies
    # (gaps are nonneg so the int64->uint64 view is bit-exact)
    interleaved = np.empty(3 * n, dtype=np.uint64)
    interleaved[0::3] = (d - prev).view(np.uint64)
    interleaved[1::3] = t
    interleaved[2::3] = l
    payload_all, offsets = varint_encode(interleaved)
    partials = bm25_partials(t, l, avgdl, k1, b)
    # flat block index over ALL groups
    counts = ends - starts
    nblk = (counts + block_size - 1) // block_size
    tot_blk = int(nblk.sum())
    g_of_blk = np.repeat(np.arange(g, dtype=np.int64), nblk)
    first_blk = np.concatenate(([0], np.cumsum(nblk)[:-1])) if g else np.zeros(0, np.int64)
    blk_local = np.arange(tot_blk, dtype=np.int64) - first_blk[g_of_blk]
    bstart = starts[g_of_blk] + blk_local * block_size
    bend = np.minimum(bstart + block_size, ends[g_of_blk]) - 1
    blk_first = d[bstart] if tot_blk else np.zeros(0, np.int64)
    blk_last = d[bend] if tot_blk else np.zeros(0, np.int64)
    blk_max = (
        np.maximum.reduceat(partials, bstart) if tot_blk else np.zeros(0, np.float64)
    ).astype(np.float32)
    # byte offsets: absolute per posting -> relative to group start
    byte_lo = offsets[3 * starts]
    byte_hi = offsets[3 * ends]
    blk_off = offsets[3 * bstart] - byte_lo[g_of_blk]
    grp_max = (
        np.maximum.reduceat(partials, starts) if n else np.zeros(0, np.float64)
    ).astype(np.float32)
    sum_tf = np.add.reduceat(t, starts) if n else np.zeros(0, np.int64)
    out = {
        "n_groups": g,
        "df_chunk": counts,
        "sum_tf": sum_tf,
        "max_partial": grp_max,
        # flat forms (zero-copy Arrow output path): groups are contiguous
        # in payload_all, so byte bounds are just the g+1 boundaries
        "payload_all": payload_all,
        "payload_bounds": np.append(byte_lo, byte_hi[-1] if g else 0),
        "n_blocks": nblk,
        "blk_off_flat": blk_off,
        "blk_first_flat": blk_first,
        "blk_last_flat": blk_last,
        "blk_max_flat": blk_max,
    }
    if not flat_only:
        splits = np.cumsum(nblk)[:-1]
        out.update(
            payloads=[payload_all[lo:hi] for lo, hi in zip(byte_lo, byte_hi)],
            block_offsets=np.split(blk_off, splits),
            block_first=np.split(blk_first, splits),
            block_last=np.split(blk_last, splits),
            block_max_partial=np.split(blk_max, splits),
        )
    return out


def decode_postings(payload: bytes, n_postings: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a full chunk -> (doc_ids, tfs, dls)."""
    vals = varint_decode(payload, 0, 3 * n_postings)
    gaps = vals[0::3].astype(np.int64)
    tfs = vals[1::3].astype(np.int64)
    dls = vals[2::3].astype(np.int64)
    doc_ids = np.cumsum(gaps) - 1
    return doc_ids, tfs, dls


def decode_postings_multi(payload_all: bytes, n_postings: np.ndarray
                          ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode chunks laid end to end in one buffer (chunk i holds
    ``n_postings[i]`` postings) in one varint pass -> flat (doc_ids, tfs,
    dls), chunk i's postings contiguous and in chunk order."""
    counts = np.asarray(n_postings, dtype=np.int64)
    vals = varint_decode(payload_all, 0, 3 * int(counts.sum()))
    gaps = vals[0::3].astype(np.int64)
    tfs = vals[1::3].astype(np.int64)
    dls = vals[2::3].astype(np.int64)
    csum = np.cumsum(gaps)
    first = np.cumsum(counts) - counts  # each chunk's first posting
    base = np.where(first > 0, csum[np.maximum(first - 1, 0)] if csum.size else 0, 0)
    doc_ids = csum - np.repeat(base, counts) - 1  # gaps restart at every chunk
    return doc_ids, tfs, dls


def decode_block_run(
    payload: bytes,
    block_offsets: np.ndarray,
    first_block: int,
    last_block: int,
    n_postings: int,
    block_size: int = BLOCK_SIZE,
    prev_last_doc: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a CONTIGUOUS run of blocks [first_block..last_block] in one
    varint pass (gaps continue across block boundaries within a chunk, so
    a run decodes exactly like a payload slice). The vectorized block-max
    scorer decodes selected-block runs at full decode speed instead of
    per-block calls."""
    start = int(block_offsets[first_block])
    count = min(block_size * (last_block - first_block + 1),
                n_postings - first_block * block_size)
    vals = varint_decode(payload, start, 3 * count)
    gaps = vals[0::3].astype(np.int64)
    tfs = vals[1::3].astype(np.int64)
    dls = vals[2::3].astype(np.int64)
    base = -1 if first_block == 0 else (prev_last_doc if prev_last_doc is not None else -1)
    doc_ids = base + np.cumsum(gaps)
    return doc_ids, tfs, dls


def decode_block(
    payload: bytes,
    block_offsets: np.ndarray,
    block_idx: int,
    n_postings: int,
    block_size: int = BLOCK_SIZE,
    prev_last_doc: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a single block independently (for WAND skip-decoding)."""
    start = int(block_offsets[block_idx])
    in_block = min(block_size, n_postings - block_idx * block_size)
    vals = varint_decode(payload, start, 3 * in_block)
    gaps = vals[0::3].astype(np.int64)
    tfs = vals[1::3].astype(np.int64)
    dls = vals[2::3].astype(np.int64)
    base = prev_last_doc if prev_last_doc is not None else -1
    if block_idx == 0:
        base = -1
    doc_ids = base + np.cumsum(gaps)
    return doc_ids, tfs, dls
