"""Build and search with DuckDB blocked.

The engine has no DuckDB code path: stage stats are summed from the
scan tasks' rows and the exact vocabulary is a pyarrow distinct over the
lexicon's term column. This test blocks duckdb (sys.modules poisoning
makes `import duckdb` raise) and proves that a file-shuffle build,
including the distinct vocabulary over bucket-salted lexicon slices,
and its BM25/TF-IDF search need no DuckDB at all (DuckDB stays a test
oracle only)."""

import sys

import numpy as np
import pytest

from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex
from pyfusedb_spark.oracle import OracleIndex

from tests.test_oracle import PANGRAMS

QUERIES = ["quick fox", "jumping wizards", "flower bloom dog"]


# Two file-shuffle shapes, keyed by the build modes they replace:
# "per-bucket" salts each term's postings per doc-id bucket over 3
# tparts (n_buckets=2), so a term's lexicon rows can span two slices and
# the vocabulary needs the exact distinct count; "single-pass" has one
# bucket and one tpart, so one encoder task writes every posting in a
# single pass and the per-slice lexicon row count is the vocabulary.
SHAPES = {"per-bucket": (2, 3), "single-pass": (1, 1)}


@pytest.mark.parametrize("mode", list(SHAPES))
def test_build_without_duckdb_matches_oracle(spark, tmp_path, monkeypatch, mode):
    monkeypatch.setitem(sys.modules, "duckdb", None)  # import duckdb -> ImportError
    n_buckets, n_tparts = SHAPES[mode]
    docs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    out = str(tmp_path / f"idx_{mode}")
    stats = build_index(
        spark, docs, out, doc_id_col="doc_id",
        config=IndexConfig(preset="english", n_buckets=n_buckets, n_tparts=n_tparts),
    )
    oracle = OracleIndex(Analyzer("english")).build(PANGRAMS)
    assert stats["n_tparts"] == n_tparts
    assert stats["n_docs"] == oracle.n_docs
    assert stats["avgdl"] == pytest.approx(oracle.avgdl, abs=1e-9)
    assert stats["vocabulary"] == len(oracle.vocabulary())
    assert stats["n_postings"] == sum(oracle.df(t) for t in oracle.vocabulary())
    idx = FuseIndex(spark, out)
    for q in QUERIES:
        for got, expect in (
            (idx.search(q, 10), oracle.search_bm25(q, 10)),
            (idx.search(q, 10, mode="tfidf"), oracle.search_tfidf(q, 10)),
        ):
            assert [d for d, _ in got] == [d for d, _ in expect], q
            np.testing.assert_allclose(
                [s for _, s in got], [s for _, s in expect], atol=1e-9
            )
