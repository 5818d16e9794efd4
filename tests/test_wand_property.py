"""Property test: block-max WAND == exhaustive scoring (SURVEY.md §7.4
"verify pruning ≡ exhaustive scoring"). Pure numpy/pandas — no Spark —
so it can hammer many randomized cases cheaply, including heavy ties
(identical tf/dl everywhere) where tie-break pruning bugs hide."""

import math

import numpy as np
import pandas as pd
import pytest

from pyfusedb_spark.functions import codec
from pyfusedb_spark.operators.query import TermCursor, TermPostings, wand_topk
from pyfusedb_spark.oracle import bm25_idf, bm25_partial

K1, B = 1.2, 0.75


def _make_chunks(rng, n_docs, df, avgdl, dls, block_size, n_buckets=3):
    """Posting list for one term split into doc-range bucket chunks."""
    doc_ids = np.sort(rng.choice(n_docs, size=df, replace=False))
    tfs = rng.integers(1, 8, size=df)
    span = math.ceil(n_docs / n_buckets)
    rows = []
    for b in range(n_buckets):
        m = (doc_ids >= b * span) & (doc_ids < (b + 1) * span)
        if not m.any():
            continue
        ch = codec.encode_postings(
            doc_ids[m], tfs[m], dls[doc_ids[m]], avgdl, K1, B, block_size
        )
        rows.append(
            dict(
                term="t", bucket=b, df_chunk=int(m.sum()), payload=ch.payload,
                block_offsets=ch.block_offsets.tolist(),
                block_first=ch.block_first.tolist(),
                block_last=ch.block_last.tolist(),
                block_max_partial=ch.block_max_partial.tolist(),
                max_partial=ch.max_partial,
            )
        )
    return pd.DataFrame(rows), doc_ids, tfs


def _exhaustive(term_data, dls, avgdl, n_docs, k):
    scores = {}
    for (doc_ids, tfs), qw in term_data:
        for d, tf in zip(doc_ids, tfs):
            scores[d] = scores.get(d, 0.0) + qw * bm25_partial(tf, dls[d], avgdl, K1, B)
    out = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("seed", range(12))
def test_wand_equals_exhaustive_random(seed):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(50, 2000))
    n_terms = int(rng.integers(1, 6))
    k = int(rng.choice([1, 3, 10, 50]))
    block_size = int(rng.choice([4, 16, 128]))
    dls = rng.integers(5, 500, size=n_docs)
    avgdl = float(dls.mean())
    cursors, term_data = [], []
    for _t in range(n_terms):
        df = int(rng.integers(1, n_docs))
        chunks, doc_ids, tfs = _make_chunks(rng, n_docs, df, avgdl, dls, block_size)
        qtf = int(rng.integers(1, 3))
        qw = qtf * bm25_idf(df, n_docs)
        postings = TermPostings.from_chunks(chunks, block_size, avgdl, K1, B)
        cursors.append(TermCursor(postings, qw))
        term_data.append(((doc_ids, tfs), qw))
    got = wand_topk(cursors, k)
    expect = _exhaustive(term_data, dls, avgdl, n_docs, k)
    assert [d for d, _ in got] == [d for d, _ in expect]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)


def test_wand_heavy_ties():
    """All docs identical tf/dl -> all scores equal: pruning must not drop
    the lowest doc_ids (the (-score, doc_id) tie-break)."""
    n_docs, df, k = 500, 400, 10
    rng = np.random.default_rng(0)
    dls = np.full(n_docs, 100, dtype=np.int64)
    doc_ids = np.sort(rng.choice(n_docs, size=df, replace=False))
    tfs = np.ones(df, dtype=np.int64)
    ch = codec.encode_postings(doc_ids, tfs, dls[doc_ids], 100.0, K1, B, 16)
    chunks = pd.DataFrame([dict(
        term="t", bucket=0, df_chunk=df, payload=ch.payload,
        block_offsets=ch.block_offsets.tolist(), block_first=ch.block_first.tolist(),
        block_last=ch.block_last.tolist(), block_max_partial=ch.block_max_partial.tolist(),
        max_partial=ch.max_partial)])
    qw = bm25_idf(df, n_docs)
    got = wand_topk([TermCursor(TermPostings.from_chunks(chunks, 16, 100.0, K1, B), qw)], k)
    # ties broken by ascending doc_id -> exactly the k smallest matching ids
    assert [d for d, _ in got] == doc_ids[:k].tolist()


class _BmxStub:
    """Minimal FuseIndex stand-in for driving _blockmax_vectorized."""

    from pyfusedb_spark.operators.query import FuseIndex as _FI

    _dense_id_bound = _FI._dense_id_bound
    _blockmax_vectorized = _FI._blockmax_vectorized
    _hot_cut = staticmethod(_FI._hot_cut)

    def __init__(self, n_docs, avgdl, block_size):
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.k1, self.b = K1, B
        self.block_size = block_size
        self.stats = {"max_doc_id": n_docs - 1}
        self.last_search_stats = None


@pytest.mark.parametrize("seed", range(12))
def test_bmx_equals_exhaustive_random(seed):
    """The vectorized block-max scorer must be rank-identical to the
    reference exhaustive accumulation on randomized hot/rare mixes
    (including ties and multi-hot queries); all-hot shapes return None
    (caller falls back)."""
    rng = np.random.default_rng(1000 + seed)
    n_docs = int(rng.integers(200, 3000))
    k = int(rng.choice([1, 5, 10]))
    block_size = int(rng.choice([4, 16, 128]))
    dls = rng.integers(5, 500, size=n_docs)
    avgdl = float(dls.mean())
    n_hot = int(rng.integers(1, 3))
    n_rare = int(rng.integers(1, 4))
    postings, term_data, terms, q_tfs, dfs = {}, [], [], {}, {}
    for i in range(n_hot + n_rare):
        name = f"t{i}"
        df = (
            int(rng.integers(max(2, n_docs // 2), n_docs))
            if i < n_hot
            else int(rng.integers(1, max(2, n_docs // 50)))
        )
        chunks, doc_ids, tfs = _make_chunks(rng, n_docs, df, avgdl, dls, block_size)
        qtf = int(rng.integers(1, 3))
        postings[name] = TermPostings.from_chunks(chunks, block_size, avgdl, K1, B)
        term_data.append(((doc_ids, tfs), qtf * bm25_idf(df, n_docs)))
        terms.append(name)
        q_tfs[name] = qtf
        dfs[name] = df
    stub = _BmxStub(n_docs, avgdl, block_size)
    got = stub._blockmax_vectorized(postings, terms, q_tfs, dfs, k)
    expect = _exhaustive(term_data, dls, avgdl, n_docs, k)
    if got is None:  # degenerate hot/rare split -> caller's fallback
        return
    assert [d for d, _ in got] == [d for d, _ in expect]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)
    assert stub.last_search_stats["path"] == "bmx"
