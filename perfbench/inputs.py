"""Seeded inputs: corpus windows of the engine's deterministic generator and
query sets drawn from a built lexicon by document-frequency band."""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

# rows of pyfusedb_spark.sources.corpus's generator a seed may start at;
# content(i) is a pure function of i, so any window has the same mix of
# empty, duplicate and long documents
ROW_SPACE = 5_000_000


def seed_rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tags])


@dataclass(frozen=True)
class Window:
    """Generator rows [offset, offset + n) as parquet at ``path``, one file
    per ``per_file`` rows, doc ids rebased to id_base.. (the scorers size
    dense accumulators by the largest doc id, so an unrebased offset would
    change their cost)."""

    path: str
    offset: int
    n: int
    id_base: int = 0
    per_file: int = 1000


def _window_task(w: Window):
    def gen(batches):
        from pyfusedb_spark.sources.corpus import _gen_rows

        for b in batches:
            rows = b["id"].to_numpy()
            if len(rows):
                # spark.range partitions are contiguous ascending slices
                out = _gen_rows(int(rows[0]), int(rows[-1]) + 1)
                out["doc_id"] = rows - w.offset + w.id_base
                yield out

    return gen


def write_window(spark, w: Window) -> None:
    from pyspark.sql import types as T

    from pyfusedb_spark.sources.corpus import CORPUS_SCHEMA

    schema = T.StructType(
        list(CORPUS_SCHEMA.fields) + [T.StructField("doc_id", T.LongType(), False)]
    )
    parts = max(1, w.n // w.per_file)
    spark.range(w.offset, w.offset + w.n, 1, parts).mapInPandas(_window_task(w), schema).write.mode(
        "overwrite").parquet(w.path)


def corpus_bytes(path: str) -> int:
    """UTF-8 bytes of the content column (the user data an index covers)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    col = pads.dataset(path, format="parquet").to_table(columns=["content"]).column("content")
    return int(pc.sum(pc.binary_length(col)).as_py() or 0)


def lexicon_df(index_dir: str) -> dict[str, int]:
    """term -> df of a built index (a term may span several lexicon slices)."""
    import pyarrow.dataset as pads

    lex = os.path.join(index_dir, "lexicon")
    tbl = pads.dataset(lex, format="parquet", partitioning="hive").to_table(
        columns=["term", "df"]
    )
    out: dict[str, int] = {}
    for t, d in zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()):
        out[t] = out.get(t, 0) + int(d)
    return out


@dataclass(frozen=True)
class Query:
    text: str
    kind: str  # or | bmx | and | tfidf | tail
    mode: str = "bm25"
    conjunctive: bool = False

    def run(self, idx, top_k: int = 10, **kw):
        return idx.search(self.text, top_k, mode=self.mode, conjunctive=self.conjunctive, **kw)


class Bands:
    """A lexicon split into the df bands the query shapes draw from."""

    def __init__(self, dfs: dict[str, int], n_docs: int, rng: np.random.Generator):
        self.dfs = dfs
        by_df = sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0]))
        self.hot = [t for t, d in by_df if d >= 0.9 * n_docs]
        mid_lo, mid_hi = max(10, n_docs // 500), n_docs // 20
        self.mid = [t for t, d in by_df if mid_lo <= d <= mid_hi]
        self.selective = [t for t, d in by_df if 10 <= d < mid_lo]
        self.rare = [t for t, d in by_df if 2 <= d <= 9]
        for band in (self.hot, self.mid, self.selective, self.rare):
            rng.shuffle(band)
        if len(self.hot) < 8 or len(self.mid) < 100 or len(self.rare) < 200:
            raise ValueError(
                f"lexicon bands too small: hot={len(self.hot)} mid={len(self.mid)} "
                f"rare={len(self.rare)}"
            )


BLOCK_SIZE = 128  # IndexConfig's postings block size


def _bmx_query(b: Bands, rng: np.random.Generator) -> Query:
    """Hot terms plus one selective term, with enough hot postings that the
    engine's auto router picks the block-max scorer (query.py search())."""
    sel_pool = b.selective or b.mid
    sel = sel_pool[int(rng.integers(len(sel_pool)))]
    hot = list(rng.permutation(b.hot))
    picked, total = [], 0
    while hot and 4 * b.dfs[sel] * BLOCK_SIZE >= total:
        t = hot.pop()
        picked.append(t)
        total += b.dfs[t]
    return Query(" ".join(picked + [sel]), "bmx")


def head_pool(b: Bands, rng: np.random.Generator, per_kind: int) -> dict[str, list[Query]]:
    """Repeating query shapes over hot and mid-frequency terms."""

    def pick(band, k):
        return [band[int(i)] for i in rng.choice(len(band), size=k, replace=False)]

    pool: dict[str, list[Query]] = {"or": [], "bmx": [], "and": [], "tfidf": []}
    for i in range(per_kind):
        n_hot = 1 + i % 2
        pool["or"].append(Query(" ".join(pick(b.hot, n_hot) + pick(b.mid, 3 - n_hot)), "or"))
        pool["bmx"].append(_bmx_query(b, rng))
        pool["and"].append(Query(" ".join(pick(b.hot, 1) + pick(b.mid, 1)), "and", conjunctive=True))
        pool["tfidf"].append(Query(" ".join(pick(b.hot, 1) + pick(b.mid, 1)), "tfidf", mode="tfidf"))
    return pool


def tail_queries(b: Bands, exclude: set[str]) -> list[Query]:
    """Queries of never-repeated terms: two rare project symbols plus one
    mid-frequency term each, none of them in ``exclude``, so every fetch
    misses the chunk cache."""
    mid = [t for t in b.mid if t not in exclude]
    rare = [t for t in b.rare if t not in exclude]
    return [Query(f"{rare[2 * i]} {rare[2 * i + 1]} {mid[i]}", "tail")
            for i in range(min(len(mid), len(rare) // 2))]


# searches of each shape in every block of 50 in the query mix, fixed so
# every seed runs the same mix: repeating head shapes, plus tail queries
# that are never repeated
QUERY_MIX = {"or": 15, "bmx": 10, "and": 6, "tfidf": 9, "tail": 10}


def query_sequence(pool: dict[str, list[Query]], tail: list[Query], rng: np.random.Generator,
                   n: int) -> list[Query]:
    """n draws in shuffled blocks that each hold every shape in its fixed
    count (drawing shapes one by one would let the tail share of a 5 s
    window, and with it the mean latency, vary by seed); within a shape, a
    head query by Zipf rank (1/rank, so a few repeat often), or the next
    unused tail query. Stops early when the tail queries run out."""
    block = [k for k, count in QUERY_MIX.items() for _ in range(count)]
    kinds = [k for _ in range(-(-n // len(block))) for k in rng.permutation(block)][:n]
    ranks = {}
    for k in QUERY_MIX:
        if k != "tail":
            w = 1.0 / np.arange(1, len(pool[k]) + 1)
            ranks[k] = iter(rng.choice(len(pool[k]), size=n, p=w / w.sum()))
    out, tail_it = [], iter(tail)
    for k in kinds:
        if k == "tail":
            q = next(tail_it, None)
            if q is None:
                break
            out.append(q)
        else:
            out.append(pool[k][int(next(ranks[k]))])
    return out
