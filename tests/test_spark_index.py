"""End-to-end Spark index build + rank-identity vs the oracle.

This is the judge's check (SURVEY.md §7.5): Spark top-10 docIDs equal the
oracle's and scores match within 1e-9, for every query in the fixed query
set (FIXTURES.md §7), in BM25 and TF-IDF-cosine modes, across the driver
WAND path, the driver exhaustive path, and the distributed path.
"""

import numpy as np
import pytest

from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex
from pyfusedb_spark.oracle import OracleIndex
from pyfusedb_spark.analysis import Analyzer

from tests.test_oracle import PANGRAMS, GOLDEN_DF, FLOWERS

# FIXTURES.md §7 fixed query set
QUERY_SET = [
    "quick",                       # 1. common term
    "sphinx",                      # 2. rare term (df=1)
    "nonexistentterm",             # 3. absent -> empty
    "flower sphinx",               # 4. two-term OR, disjoint doc sets
    "quick fox",                   # 5. overlapping doc sets
    "quick quick quick",           # 6. repeated-term query (tf>1)
    "the of and is",               # 7. stopword-only -> empty
    "Quick-FOX!!",                 # 8. punctuation/casing noise
    "jumping wizards",             # 9. morphological variants
    "quick fox jump wizard box flower dog cat",  # 10. long query (WAND)
]


@pytest.fixture(scope="module")
def pangram_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "pangrams")
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    build_index(
        spark,
        corpus,
        out,
        doc_id_col="doc_id",
        config=IndexConfig(preset="english", n_buckets=3, block_size=4, shuffle_partitions=4),
    )
    return FuseIndex(spark, out)


@pytest.fixture(scope="module")
def pangram_oracle():
    return OracleIndex(Analyzer("english")).build(PANGRAMS)


def test_golden_df_through_spark(pangram_index):
    lex = {
        r["term"]: r["df"]
        for r in pangram_index.lexicon_df.collect()
    }
    for stemmed, df in GOLDEN_DF.items():
        assert lex.get(stemmed) == df, (stemmed, lex.get(stemmed), df)


def test_stats_match_oracle(pangram_index, pangram_oracle):
    assert pangram_index.n_docs == pangram_oracle.n_docs
    assert pangram_index.avgdl == pytest.approx(pangram_oracle.avgdl, abs=1e-12)


@pytest.mark.parametrize("query", QUERY_SET)
def test_rank_identity_bm25(pangram_index, pangram_oracle, query):
    expect = pangram_oracle.search_bm25(query, 10)
    got_bmx = pangram_index.search(query, 10, mode="bm25", use_wand="bmx")
    got_exh = pangram_index.search(query, 10, mode="bm25", use_wand=False)
    assert [d for d, _ in got_bmx] == [d for d, _ in expect]
    assert [d for d, _ in got_exh] == [d for d, _ in expect]
    np.testing.assert_allclose(
        [s for _, s in got_bmx], [s for _, s in expect], atol=1e-9
    )
    np.testing.assert_allclose(
        [s for _, s in got_exh], [s for _, s in expect], atol=1e-9
    )


@pytest.mark.parametrize("use_wand", [True, "wand", "exhaustive", None])
def test_search_rejects_unknown_use_wand(pangram_index, use_wand):
    """Only "auto", "bmx" and False select a scorer; anything else is
    refused instead of silently picking one."""
    with pytest.raises(ValueError, match="use_wand"):
        pangram_index.search("quick fox", 10, use_wand=use_wand)


@pytest.mark.parametrize("query", QUERY_SET)
def test_rank_identity_tfidf(pangram_index, pangram_oracle, query):
    expect = pangram_oracle.search_tfidf(query, 10)
    got = pangram_index.search(query, 10, mode="tfidf")
    assert [d for d, _ in got] == [d for d, _ in expect]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)


@pytest.mark.parametrize("query", ["quick fox", "flower sphinx", "jumping wizards"])
def test_rank_identity_distributed(pangram_index, pangram_oracle, query):
    expect = pangram_oracle.search_bm25(query, 10)
    rows = pangram_index.search_distributed(query, 10, mode="bm25").collect()
    assert [r["doc_id"] for r in rows] == [d for d, _ in expect]
    np.testing.assert_allclose(
        [r["score"] for r in rows], [s for _, s in expect], atol=1e-9
    )
    # tfidf distributed
    expect_t = pangram_oracle.search_tfidf(query, 10)
    rows_t = pangram_index.search_distributed(query, 10, mode="tfidf").collect()
    assert [r["doc_id"] for r in rows_t] == [d for d, _ in expect_t]
    np.testing.assert_allclose(
        [r["score"] for r in rows_t], [s for _, s in expect_t], atol=1e-9
    )


def test_conjunctive_and_mode(pangram_index, pangram_oracle):
    expect = pangram_oracle.search_bm25("quick fox", conjunctive=True)
    got = pangram_index.search("quick fox", conjunctive=True)
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert {d for d, _ in got} == {0, 13}  # docs containing both stems
    rows = pangram_index.search_distributed("quick fox", 10, conjunctive=True).collect()
    assert [r["doc_id"] for r in rows] == [d for d, _ in expect]
    # AND with one absent term -> empty everywhere
    assert pangram_index.search("quick zzzmissing", conjunctive=True) == []
    assert pangram_index.search_distributed("quick zzzmissing", 10, conjunctive=True).count() == 0


def test_distributed_plan_has_no_exchange(pangram_index):
    """search_distributed scores each doc-range bucket in its own task
    and merges k rows per task: the executed plan is Range -> MapInArrow
    -> TakeOrderedAndProject, with no shuffle Exchange."""
    for kw in ({}, {"mode": "tfidf"}, {"conjunctive": True}):
        df = pangram_index.search_distributed("quick fox", 10, **kw)
        assert df.collect(), kw
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "MapInArrow" in plan and "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("path", ["search", "search_distributed"])
def test_tfidf_without_norms_raises(spark, tmp_path, path):
    """An index built with compute_norms=False has no doc_stats_full:
    TF-IDF is refused with a ValueError naming the fix on both paths,
    while BM25 still answers."""
    out = str(tmp_path / "no_norms")
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    build_index(spark, corpus, out, doc_id_col="doc_id",
                config=IndexConfig(n_buckets=2, shuffle_partitions=4, compute_norms=False))
    idx = FuseIndex(spark, out)
    search = getattr(idx, path)
    with pytest.raises(ValueError, match=r"compute_norms=True"):
        search("quick fox", 10, mode="tfidf")
    assert idx.search("quick fox", 10)
    assert search("quick fox", 10, mode="bm25")


def test_flowers_relevance(spark, tmp_path):
    out = str(tmp_path / "flowers")
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(FLOWERS)], "doc_id long, content string"
    )
    build_index(spark, corpus, out, doc_id_col="doc_id",
                config=IndexConfig(n_buckets=2, shuffle_partitions=4))
    idx = FuseIndex(spark, out)
    oracle = OracleIndex(Analyzer("english")).build(FLOWERS)
    for q in ["flower", "flowers", "spring flower", "beautiful flowers", "flower garden"]:
        got = idx.search(q, 5)
        expect = oracle.search_bm25(q, 5)
        assert [d for d, _ in got] == [d for d, _ in expect]
        scores = [s for _, s in got]
        assert scores == sorted(scores, reverse=True) and len(got) > 0


def test_huge_vocab_lexicon_fallback(spark, pangram_index):
    """Force the huge-vocab per-query lexicon path (pyarrow pruned read,
    no full cache) — identical results to the cached path."""
    from pyfusedb_spark.operators.query import FuseIndex

    idx2 = FuseIndex(spark, pangram_index.out_dir)
    idx2._lexicon_cache_max = 0  # pretend vocabulary exceeds cache budget
    for q in ("quick fox", "wizard", "quick fox jump wizard box flower dog cat"):
        assert idx2.search(q, 5) == pangram_index.search(q, 5)
        assert idx2.search(q, 5, mode="tfidf") == pangram_index.search(q, 5, mode="tfidf")


def test_chunk_cache_hits_and_stays_correct(pangram_index, monkeypatch):
    """A repeated search is served from the driver cache of decoded
    postings: no refetch, zero postings decoded, and the same ranking on
    every forced scorer path. A tiny budget evicts least-recently-used
    terms, charged in decoded bytes, without changing ranks."""
    from pyfusedb_spark.functions import codec

    idx = pangram_index
    q = "quick fox jump wizard box flower dog cat"
    idx._chunk_cache.clear()
    idx._chunk_cache_bytes = 0
    first = idx.search(q, 10)
    assert idx._chunk_cache, "fetch did not populate the chunk cache"
    st = idx.last_search_stats
    n_terms = st["chunk_cache_misses"]
    assert n_terms > 0 and st["chunk_cache_hits"] == 0 and st["decoded_postings"] > 0

    calls = {"fetch": 0, "decode": 0}

    def counting(fn, key):
        def wrapped(*a, **kw):
            calls[key] += 1
            return fn(*a, **kw)
        return wrapped

    monkeypatch.setattr(
        idx, "_fetch_chunks_uncached", counting(idx._fetch_chunks_uncached, "fetch")
    )
    for name in ("decode_postings", "decode_block_run", "decode_block"):
        monkeypatch.setattr(codec, name, counting(getattr(codec, name), "decode"))
    second = idx.search(q, 10)
    assert idx.last_search_stats["chunk_cache_hits"] == n_terms
    assert idx.last_search_stats["chunk_cache_misses"] == 0
    assert idx.last_search_stats["decoded_postings"] == 0
    assert first == second
    for use_wand in (False, "bmx"):
        got = idx.search(q, 10, use_wand=use_wand)
        assert [d for d, _ in got] == [d for d, _ in first], use_wand
        np.testing.assert_allclose([s for _, s in got], [s for _, s in first], atol=1e-12)
    assert calls == {"fetch": 0, "decode": 0}, "cached terms were refetched or decoded"
    monkeypatch.undo()

    # the budget is charged in decoded bytes
    assert idx._chunk_cache_bytes == sum(e.nbytes for e in idx._chunk_cache.values())
    for e in idx._chunk_cache.values():
        assert e.nbytes >= e.docs.nbytes + e.tfs.nbytes + e.partials.nbytes
    # LRU order: a budget that holds any two of a, b, c but not all three
    a, b, c = "box", "dog", "fox"
    size = {t: idx._chunk_cache[t].nbytes for t in (a, b, c)}
    budget = max(size[a] + size[b], size[a] + size[c], size[b] + size[c])
    saved = idx._chunk_cache_budget
    idx._chunk_cache.clear()
    idx._chunk_cache_bytes = 0
    idx._chunk_cache_budget = budget
    try:
        for t in (a, b, a, c):  # touching a again makes b least recent
            idx.search(t, 10)
            assert idx._chunk_cache_bytes <= budget
        assert list(idx._chunk_cache) == [a, c]
        assert idx.search(q, 10) == first
        assert idx._chunk_cache_bytes <= budget
    finally:
        idx._chunk_cache_budget = saved
        idx._chunk_cache.clear()
        idx._chunk_cache_bytes = 0


def test_sqlfront_limit_zero_and_negative(spark, pangram_index):
    """LIMIT 0 -> zero rows (no AnalysisException); negative LIMIT -> as
    if absent (advice r3: negative reached DataFrame.limit() before)."""
    from pyfusedb_spark.plans.sqlfront import FuseSession

    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    sess = FuseSession(corpus, pangram_index, default_table="t")
    assert sess.sql("SELECT content FROM t LIKE quick LIMIT 0").count() == 0
    assert sess.sql("SELECT content FROM t LIMIT 0").count() == 0
    neg = sess.sql("SELECT content FROM t LIKE quick LIMIT -5", top_k=3)
    assert neg.count() == 3  # clause ignored, top_k governs


def test_duplicate_doc_ids_stats_match_oracle(spark, tmp_path):
    """Each corpus row counts once with its own token count, even when
    rows share a doc_id: N, total_len and avgdl equal the oracle's
    (doc_len comes from the scan row, not max(dl) per id)."""
    rows = [(0, "cat cat"), (0, "cat"), (1, "cat dog")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_index(spark, docs, str(tmp_path / "dup"), doc_id_col="doc_id",
                        config=IndexConfig(preset="simple", n_buckets=2))
    oracle = OracleIndex(Analyzer("simple")).build(rows)
    assert stats["n_docs"] == oracle.n_docs == 3
    assert stats["total_len"] == round(oracle.avgdl * oracle.n_docs) == 5
    assert stats["avgdl"] == pytest.approx(oracle.avgdl, abs=1e-12)


@pytest.mark.parametrize("norms", [True, False], ids=["norms", "no-norms"])
def test_empty_corpus_builds_and_searches(spark, tmp_path, norms):
    """Zero rows build an empty, searchable index: zero stats, an empty
    doc_stats parquet with the full schema, and empty search results."""
    import pyarrow.dataset as pads

    docs = spark.createDataFrame([], "doc_id long, content string")
    out = str(tmp_path / "empty")
    stats = build_index(spark, docs, out, doc_id_col="doc_id",
                        config=IndexConfig(compute_norms=norms))
    assert (stats["n_docs"], stats["avgdl"], stats["vocabulary"], stats["n_postings"]) == (
        0, 0.0, 0, 0)
    ds = pads.dataset(f"{out}/doc_stats", format="parquet").to_table()
    assert ds.num_rows == 0
    assert ds.schema.names == ["doc_id", "doc_len", "sha256"]
    idx = FuseIndex(spark, out)
    assert idx.search("quick fox", 10) == []
    if norms:
        assert idx.search("quick fox", 10, mode="tfidf") == []
