"""Varint/delta codec round-trip + block-max property tests (SURVEY §5.1)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyfusedb_spark.functions import codec


def test_decode_postings_multi_matches_per_chunk():
    """Chunks laid end to end (empty ones included) decode in one pass to
    exactly the per-chunk decodes, concatenated in chunk order."""
    rng = np.random.default_rng(7)
    payloads, counts, want = [], [], []
    for n in (5, 0, 1, 300, 0, 17):
        docs = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 50, size=n)
        dls = rng.integers(1, 900, size=n)
        enc = codec.encode_postings(docs, tfs, dls, 100.0, 1.2, 0.75, 16)
        payloads.append(enc.payload)
        counts.append(n)
        want.append(codec.decode_postings(enc.payload, n))
    got = codec.decode_postings_multi(b"".join(payloads), np.array(counts))
    for i in range(3):
        assert np.array_equal(got[i], np.concatenate([w[i] for w in want]))
    empty = codec.decode_postings_multi(b"", np.zeros(2, dtype=np.int64))
    assert all(a.size == 0 for a in empty)


def test_varint_roundtrip_edges():
    vals = np.array(
        [0, 1, 127, 128, 129, 16383, 16384, 2**21 - 1, 2**21, 2**63 - 1, 2**64 - 1],
        dtype=np.uint64,
    )
    payload, offsets = codec.varint_encode(vals)
    out = codec.varint_decode(payload)
    assert np.array_equal(out, vals)
    assert offsets[-1] == len(payload)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=500))
def test_varint_roundtrip_random(xs):
    vals = np.array(xs, dtype=np.uint64)
    payload, _ = codec.varint_encode(vals)
    out = codec.varint_decode(payload)
    assert np.array_equal(out, vals)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**12),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=0, max_value=100000),
        ),
        min_size=1,
        max_size=400,
    )
)
def test_postings_roundtrip(rows):
    # unique sorted doc_ids
    seen = {}
    for d, tf, dl in rows:
        seen[d] = (tf, dl)
    doc_ids = np.array(sorted(seen), dtype=np.int64)
    tfs = np.array([seen[d][0] for d in doc_ids], dtype=np.int64)
    dls = np.array([seen[d][1] for d in doc_ids], dtype=np.int64)
    chunk = codec.encode_postings(doc_ids, tfs, dls, avgdl=100.0, block_size=16)
    d2, t2, l2 = codec.decode_postings(chunk.payload, chunk.n_postings)
    assert np.array_equal(d2, doc_ids)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)
    # block metadata invariants
    nb = len(chunk.block_offsets)
    assert nb == (len(doc_ids) + 15) // 16
    assert chunk.block_first[0] == doc_ids[0]
    assert chunk.block_last[-1] == doc_ids[-1]
    # block-max really is the max of partial scores within each block
    partials = codec.bm25_partials(tfs, dls, 100.0, 1.2, 0.75)
    for k in range(nb):
        lo, hi = k * 16, min((k + 1) * 16, len(doc_ids))
        assert chunk.block_max_partial[k] == pytest.approx(partials[lo:hi].max(), rel=1e-6)
    assert chunk.max_partial == pytest.approx(partials.max(), rel=1e-6)


def test_decode_single_block_independent():
    doc_ids = np.arange(0, 1000, 3, dtype=np.int64)
    n = doc_ids.size
    tfs = (doc_ids % 7 + 1).astype(np.int64)
    dls = (doc_ids % 50 + 10).astype(np.int64)
    chunk = codec.encode_postings(doc_ids, tfs, dls, avgdl=30.0, block_size=64)
    for k in range(len(chunk.block_offsets)):
        prev_last = int(chunk.block_last[k - 1]) if k > 0 else -1
        d, t, l = codec.decode_block(
            chunk.payload, chunk.block_offsets, k, n, block_size=64, prev_last_doc=prev_last
        )
        lo, hi = k * 64, min((k + 1) * 64, n)
        assert np.array_equal(d, doc_ids[lo:hi])
        assert np.array_equal(t, tfs[lo:hi])
        assert np.array_equal(l, dls[lo:hi])


def test_empty_postings():
    chunk = codec.encode_postings(
        np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0, np.int64), avgdl=10.0
    )
    assert chunk.n_postings == 0 and chunk.payload == b""
    d, t, l = codec.decode_postings(chunk.payload, 0)
    assert d.size == 0


def test_encode_postings_multi_matches_per_group():
    """Flat multi-group encode must be byte-identical per group to
    encode_postings (hypothesis-style randomized, fixed seed)."""
    rng = np.random.default_rng(123)
    for trial in range(20):
        n_groups = int(rng.integers(1, 40))
        d_parts, t_parts, l_parts, starts = [], [], [], []
        pos = 0
        for _ in range(n_groups):
            g = int(rng.integers(1, 300))
            ids = np.sort(rng.choice(10_000, size=g, replace=False)).astype(np.int64)
            d_parts.append(ids)
            t_parts.append(rng.integers(1, 50, g).astype(np.int64))
            l_parts.append(rng.integers(1, 500, g).astype(np.int64))
            starts.append(pos)
            pos += g
        d = np.concatenate(d_parts)
        t = np.concatenate(t_parts)
        l = np.concatenate(l_parts)
        enc = codec.encode_postings_multi(
            np.array(starts, np.int64), d, t, l, avgdl=42.0, block_size=32
        )
        assert enc["n_groups"] == n_groups
        for gi in range(n_groups):
            ref = codec.encode_postings(
                d_parts[gi], t_parts[gi], l_parts[gi], avgdl=42.0, block_size=32
            )
            assert enc["payloads"][gi] == ref.payload, f"group {gi} payload"
            assert enc["df_chunk"][gi] == ref.n_postings
            assert np.array_equal(enc["block_offsets"][gi], ref.block_offsets)
            assert np.array_equal(enc["block_first"][gi], ref.block_first)
            assert np.array_equal(enc["block_last"][gi], ref.block_last)
            assert np.allclose(enc["block_max_partial"][gi], ref.block_max_partial)
            assert abs(float(enc["max_partial"][gi]) - ref.max_partial) < 1e-6
