"""The correctness reference and the top-k comparisons the checks apply.

The reference is the engine's own single-process oracle
(``pyfusedb_spark/oracle.py``, the index the test suite gates the engine
against), built from the raw corpus rows of a run.
"""

from __future__ import annotations


def oracle_for(parquet_dirs: list[str]):
    """OracleIndex (code preset, as the benchmark builds) over every
    (doc_id, content) row of the given parquet directories."""
    import pyarrow.dataset as pads

    from pyfusedb_spark.analysis import Analyzer
    from pyfusedb_spark.oracle import OracleIndex

    rows = []
    for d in parquet_dirs:
        tbl = pads.dataset(d, format="parquet").to_table(columns=["doc_id", "content"])
        rows += zip(tbl.column("doc_id").to_pylist(), tbl.column("content").to_pylist())
    return OracleIndex(Analyzer("code")).build(rows)


def oracle_scores(oracle, q) -> dict[int, float]:
    """Score of every document matching the query."""
    n = max(1, oracle.n_docs)
    if q.mode == "tfidf":
        return dict(oracle.search_tfidf(q.text, top_k=n))
    return dict(oracle.search_bm25(q.text, top_k=n, conjunctive=q.conjunctive))


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def topk_mismatch(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> str | None:
    """None when ``got`` is a correct top-k of ``scores`` in (-score,
    doc_id) order: the same score sequence as the reference's top-k and
    every returned document carrying its reference score. Equal scores may
    come back in either order (summation order moves the last bits)."""
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(got) != len(want):
        return f"{len(got)} results, reference has {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    for i, ((d, s), (_, ws)) in enumerate(zip(got, want)):
        if not _close(s, ws):
            return f"rank {i}: score {s!r}, reference {ws!r}"
        if d not in scores or not _close(scores[d], s):
            return f"rank {i}: doc {d} scored {s!r}, reference {scores.get(d)!r}"
    return None


def same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> str | None:
    """None when two engine paths returned the same top-k (scores to 1e-9)."""
    if len(a) != len(b):
        return f"{len(a)} vs {len(b)} results"
    sa = dict(a)
    for i, ((d1, s1), (d2, s2)) in enumerate(zip(a, b)):
        if not _close(s1, s2):
            return f"rank {i}: {s1!r} vs {s2!r}"
        if d1 != d2 and not (d2 in sa and _close(sa[d2], s2)):
            return f"rank {i}: doc {d1} vs {d2}"
    return None
