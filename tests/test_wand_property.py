"""Property tests: the block-max driver scorer ("bmx") and the scorer
routing == exhaustive scoring (SURVEY.md §7.4 "verify pruning ≡
exhaustive scoring"). Pure numpy/pandas — no Spark — so they can hammer
many randomized cases cheaply, including heavy ties (identical tf/dl
everywhere) where tie-break pruning bugs hide."""

import math

import numpy as np
import pandas as pd
import pytest

from pyfusedb_spark.functions import codec
from pyfusedb_spark.operators.query import TermPostings, exhaustive_topk
from pyfusedb_spark.oracle import bm25_idf, bm25_partial

K1, B = 1.2, 0.75


def _chunks_for(doc_ids, tfs, n_docs, avgdl, dls, block_size, n_buckets=3):
    """One term's (sorted) postings split into doc-range bucket chunks."""
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
    return pd.DataFrame(rows)


def _make_chunks(rng, n_docs, df, avgdl, dls, block_size, n_buckets=3):
    """Random posting list for one term, as bucket chunks."""
    doc_ids = np.sort(rng.choice(n_docs, size=df, replace=False))
    tfs = rng.integers(1, 8, size=df)
    chunks = _chunks_for(doc_ids, tfs, n_docs, avgdl, dls, block_size, n_buckets)
    return chunks, doc_ids, tfs


def _exhaustive(term_data, dls, avgdl, n_docs, k):
    scores = {}
    for (doc_ids, tfs), qw in term_data:
        for d, tf in zip(doc_ids, tfs):
            scores[d] = scores.get(d, 0.0) + qw * bm25_partial(tf, dls[d], avgdl, K1, B)
    out = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return out[:k]


class _BmxStub:
    """Minimal FuseIndex stand-in for driving _blockmax_vectorized."""

    from pyfusedb_spark.operators.query import FuseIndex as _FI

    _dense_id_bound = _FI._dense_id_bound
    _blockmax_vectorized = _FI._blockmax_vectorized
    _score = _FI._score
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


@pytest.mark.parametrize("seed", range(12))
def test_wand_equals_exhaustive_random(seed):
    """Every accepted ``use_wand`` value routed through ``_score``
    ("auto", forced "bmx" with its exhaustive fallback, and False) is
    rank-identical to the reference accumulation on random shapes: 1-5
    terms of any df, so both the pruned and the fallback routes run."""
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(50, 2000))
    n_terms = int(rng.integers(1, 6))
    k = int(rng.choice([1, 3, 10, 50]))
    block_size = int(rng.choice([4, 16, 128]))
    dls = rng.integers(5, 500, size=n_docs)
    avgdl = float(dls.mean())
    postings, term_data, terms, q_tfs, dfs = {}, [], [], {}, {}
    for i in range(n_terms):
        name = f"t{i}"
        df = int(rng.integers(1, n_docs))
        chunks, doc_ids, tfs = _make_chunks(rng, n_docs, df, avgdl, dls, block_size)
        qtf = int(rng.integers(1, 3))
        postings[name] = TermPostings.from_chunks(chunks, block_size, avgdl, K1, B)
        term_data.append(((doc_ids, tfs), qtf * bm25_idf(df, n_docs)))
        terms.append(name)
        q_tfs[name] = qtf
        dfs[name] = df
    expect = _exhaustive(term_data, dls, avgdl, n_docs, k)
    stub = _BmxStub(n_docs, avgdl, block_size)
    for use_wand in ("auto", "bmx", False):
        got = stub._score(postings, terms, q_tfs, dfs, k, "bm25", False, use_wand)
        assert [d for d, _ in got] == [d for d, _ in expect], use_wand
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in expect], atol=1e-9
        )
        assert stub.last_search_stats["path"] in ("bmx", "exhaustive")


def test_wand_heavy_ties():
    """bmx under heavy ties: one hot term with identical tf/dl in every
    doc plus one rare term inside the hot docs, so every doc of each term
    set scores the same. Pruning must not drop the lowest doc ids of a
    tie (the (-score, doc_id) order): the top-k is the rare docs in id
    order, then the lowest hot-only ids. Covers both a finite rare-only
    threshold (k <= rare df: every hot block is skipped, then the cover
    pass completes the candidates) and an infinite one (k > rare df)."""
    n_docs, hot_df, block_size = 500, 400, 16
    rng = np.random.default_rng(0)
    dls = np.full(n_docs, 100, dtype=np.int64)
    hot_ids = np.sort(rng.choice(n_docs, size=hot_df, replace=False))
    for k, rare_df in ((5, 20), (10, 8)):
        rare_ids = np.sort(rng.choice(hot_ids, size=rare_df, replace=False))
        postings, term_data, q_tfs, dfs = {}, [], {}, {}
        for name, ids in (("hot", hot_ids), ("rare", rare_ids)):
            tfs = np.ones(ids.size, dtype=np.int64)
            chunks = _chunks_for(ids, tfs, n_docs, 100.0, dls, block_size)
            postings[name] = TermPostings.from_chunks(chunks, block_size, 100.0, K1, B)
            term_data.append(((ids, tfs), bm25_idf(ids.size, n_docs)))
            q_tfs[name] = 1
            dfs[name] = int(ids.size)
        stub = _BmxStub(n_docs, 100.0, block_size)
        got = stub._blockmax_vectorized(postings, ["hot", "rare"], q_tfs, dfs, k)
        st = stub.last_search_stats
        assert st["path"] == "bmx"
        if k <= rare_df:  # the finite threshold really prunes hot blocks
            assert st["hot_blocks_skipped"] > 0
        expect = _exhaustive(term_data, dls, 100.0, n_docs, k)
        hot_only = np.setdiff1d(hot_ids, rare_ids)
        assert [d for d, _ in got] == [d for d, _ in expect]
        assert [d for d, _ in got] == np.concatenate([rare_ids, hot_only])[:k].tolist()
        np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)


@pytest.mark.parametrize("conjunctive", [False, True], ids=["or", "and"])
def test_exhaustive_topk_any_id_range(conjunctive):
    """The shared exhaustive kernel sizes its accumulator from the ids it
    gets: ids near 0, ids far from 0 (a streamed bucket) and ids spread
    wider than the dense accumulator (the sort-based path) all give the
    reference ranking, OR and AND."""
    rng = np.random.default_rng(7)
    n_docs, k, block_size = 600, 10, 16
    dls = rng.integers(5, 200, size=n_docs)
    avgdl = float(dls.mean())
    postings, per_term, q_tfs, dfs = {}, {}, {}, {}
    for name, df in (("a", 300), ("b", 200), ("c", 40)):
        chunks, doc_ids, tfs = _make_chunks(rng, n_docs, df, avgdl, dls, block_size)
        postings[name] = TermPostings.from_chunks(chunks, block_size, avgdl, K1, B)
        per_term[name] = (doc_ids, tfs)
        q_tfs[name], dfs[name] = 1, df
    scores, hits = {}, {}
    for name, (doc_ids, tfs) in per_term.items():
        qw = bm25_idf(dfs[name], n_docs)
        for d, tf in zip(doc_ids, tfs):
            scores[d] = scores.get(d, 0.0) + qw * bm25_partial(tf, dls[d], avgdl, K1, B)
            hits[d] = hits.get(d, 0) + 1
    if conjunctive:
        scores = {d: v for d, v in scores.items() if hits[d] == len(per_term)}
    expect = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    assert expect
    for shift in (lambda d: d, lambda d: d + (1 << 30),
                  lambda d: d + np.where(d >= n_docs // 2, 1 << 27, 0)):
        moved = {
            t: TermPostings(shift(p.docs), p.tfs, p.partials, p.blk_start,
                            shift(p.blk_first), shift(p.blk_last), p.blk_max, p.max_partial)
            for t, p in postings.items()
        }
        got = exhaustive_topk(moved, q_tfs, dfs, n_docs, "bm25", conjunctive, k)
        assert [d for d, _ in got] == [int(shift(np.int64(d))) for d, _ in expect]
        np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)
