"""Query-time ranked retrieval: BM25 / TF-IDF-cosine top-k.

Replaces the reference's sequential scan of ``final_index.bin``
(``InvertedIndexFinal.search``, ``app/InvertedIndexFinal.py:348-425``)
with:

- a *driver fast path*: a direct-addressed fetch of the ≤|q| posting
  chunks — per visible bucket, each term opens the one ``tpart=P`` dir
  the build routed it to and reads only the row groups whose cached
  footer ``term`` range covers it (:func:`read_bucket_rows`; the
  reference seeks to a known offset, ``read_postings``,
  ``app/InvertedIndexFinal.py:172-199``) — decoded ONCE per term into a
  score-ready :class:`TermPostings` (doc ids, BM25 doc-side partials,
  tfs, block metadata) that the driver LRU keeps; a warm search is dict
  lookups plus numpy scoring over those arrays — exhaustive, or the
  vectorized **block-max** scorer ("bmx", R4 + C4 in SURVEY.md §2) — the
  reference has no early termination at all (full sort,
  ``app/InvertedIndex.py:384``);
- a *distributed path*: one Spark task per visible doc-range bucket
  reads that bucket's chunks through the same reader, decodes
  them into the same :class:`TermPostings` and runs the same
  :func:`exhaustive_topk` kernel; ``orderBy().limit(k)`` merges the
  per-bucket top-k rows (TakeOrderedAndProject, no Exchange — a doc's
  score never depends on another bucket).

Both paths are rank-identical to ``pyfusedb_spark.oracle`` with total tie
order (-score, doc_id) (SURVEY.md §7.5). Both read the index only through
pyarrow (``fsio``), so an unreadable index raises.
"""

from __future__ import annotations

import bisect
import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyfusedb_spark import fsio
from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.functions import codec
from pyfusedb_spark.functions.udfs import term_tpart_in_bucket
from pyfusedb_spark.layout import (
    STREAM_BATCH_BUCKET_BASE,
    STREAM_GEN_BUCKET_BASE,
    lexicon_files,
    visible_bucket_components,
)
from pyfusedb_spark.oracle import bm25_idf, tfidf_weight


RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


class TermPostings:
    """One term's postings, decoded once and kept score-ready on the
    driver (the entry type of ``FuseIndex._chunk_cache``).

    The term's chunks are concatenated in bucket order, which is doc
    order (layout.py). ``partials`` are the BM25 doc-side factors for the
    handle's ``avgdl/k1/b``, so an entry is only valid for the stats it
    was built with. Block ``i`` covers postings
    ``blk_start[i]:blk_start[i + 1]`` (a block never spans two chunks);
    ``blk_first/blk_last/blk_max`` are its doc range and max partial.
    ``nbytes`` is what the cache budget charges. Every search shares the
    cached arrays, so they are read-only."""

    __slots__ = ("docs", "tfs", "partials", "blk_start", "blk_first",
                 "blk_last", "blk_max", "max_partial", "nbytes")

    def __init__(self, docs, tfs, partials, blk_start, blk_first, blk_last,
                 blk_max, max_partial: float):
        self.docs, self.tfs, self.partials = docs, tfs, partials
        self.blk_start, self.blk_first, self.blk_last = blk_start, blk_first, blk_last
        self.blk_max = blk_max
        self.max_partial = max_partial
        arrays = (docs, tfs, partials, blk_start, blk_first, blk_last, blk_max)
        for a in arrays:
            a.flags.writeable = False
        self.nbytes = 1024 + sum(a.nbytes for a in arrays)

    @classmethod
    def from_chunks(cls, rows: pd.DataFrame, block_size: int, avgdl: float,
                    k1: float, b: float) -> "TermPostings":
        """Decode one term's chunk rows (sorted by bucket)."""
        d_parts, t_parts, l_parts, starts = [], [], [], []
        base = 0
        for payload, n in zip(rows["payload"], rows["df_chunk"]):
            n = int(n)
            d, t, l = codec.decode_postings(payload, n)
            d_parts.append(d)
            t_parts.append(t)
            l_parts.append(l)
            starts.append(np.arange(base, base + n, block_size, dtype=np.int64))
            base += n

        def cat(parts, dtype):
            return np.concatenate(parts).astype(dtype, copy=False) if parts else np.zeros(0, dtype)

        tfs = cat(t_parts, np.int32)
        return cls(
            docs=cat(d_parts, np.int64),
            tfs=tfs,
            partials=codec.bm25_partials(tfs, cat(l_parts, np.int64), avgdl, k1, b),
            blk_start=np.append(cat(starts, np.int64), base),
            blk_first=cat([np.asarray(x, dtype=np.int64) for x in rows["block_first"]], np.int64),
            blk_last=cat([np.asarray(x, dtype=np.int64) for x in rows["block_last"]], np.int64),
            blk_max=cat([np.asarray(x, dtype=np.float64) for x in rows["block_max_partial"]],
                        np.float64),
            max_partial=float(rows["max_partial"].max()) if len(rows) else 0.0,
        )

    def block_postings(self, blocks: np.ndarray) -> np.ndarray:
        """Posting indices of the given (sorted) block indices."""
        lo = self.blk_start[blocks]
        lens = self.blk_start[blocks + 1] - lo
        shift = np.repeat(lo - (np.cumsum(lens) - lens), lens)
        return np.arange(shift.size, dtype=np.int64) + shift


_EMPTY = np.zeros(0, dtype=np.int64)
_NO_POSTINGS = TermPostings(  # a term whose chunks are all invisible
    _EMPTY, _EMPTY.astype(np.int32), _EMPTY.astype(np.float64), np.zeros(1, np.int64),
    _EMPTY, _EMPTY, _EMPTY.astype(np.float64), 0.0,
)

_CHUNK_COLS = (
    "term", "bucket", "df_chunk", "payload",
    "block_first", "block_last", "block_max_partial", "max_partial",
)


_READ_COLS = [c for c in _CHUNK_COLS if c != "bucket"]  # bucket is the dir's


def _term_ranges(md) -> list[tuple[str, str] | None]:
    """Per row group, the (min, max) ``term`` of a parquet footer; None
    for a group without usable ``term`` statistics (always read)."""
    ti = next(i for i in range(md.num_columns) if md.schema.column(i).path == "term")
    out = []
    for r in range(md.num_row_groups):
        st = md.row_group(r).column(ti).statistics
        ok = st is not None and st.has_min_max and isinstance(st.min, str)
        out.append((st.min, st.max) if ok else None)
    return out


def _covers(terms: list[str], rng: tuple[str, str] | None) -> bool:
    """Whether a row group with ``term`` range ``rng`` (None: unknown)
    can hold one of the sorted ``terms``."""
    if rng is None:
        return True
    i = bisect.bisect_left(terms, rng[0])
    return i < len(terms) and terms[i] <= rng[1]


def _dir_footers(d: str, footers: dict | None) -> list[tuple]:
    """(path, FileMetaData, term ranges) of every parquet file in dir
    ``d``, from ``footers`` when cached there (and cached on a miss)."""
    got = footers.get(d) if footers is not None else None
    if got is None:
        got = []
        for path in fsio.parquet_files(d):
            md = fsio.parquet_metadata(path)
            got.append((path, md, _term_ranges(md)))
        if footers is not None:
            footers[d] = got
    return got


def read_bucket_rows(bucket_dir: str, bucket: int, terms: list[str], n_tparts: int | None,
                     spread: int, footers: dict | None = None,
                     counts: dict | None = None):
    """Chunk rows of ``terms`` in one ``index/bucket=K`` dir, as a pyarrow
    Table with a ``bucket`` column (None when no row matches).

    Each term is read from the one ``tpart=P`` dir the build routed it to
    in this bucket (:func:`~pyfusedb_spark.functions.udfs.term_tpart_in_bucket`);
    a bucket without the tpart layout (``n_tparts`` None) reads every
    file in the dir. Within a file only the row groups whose footer
    ``term`` range covers a query term are read (a group without stats
    always is), then rows are filtered to ``terms``. ``footers`` caches
    dir listings and footers across calls (files are reopened per read,
    never kept open); ``counts`` accumulates ``fetch_files`` and
    ``fetch_row_groups``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    by_dir: dict[str, list[str]] = {}
    for t in terms:
        d = (fsio.join(bucket_dir, f"tpart={term_tpart_in_bucket(t, bucket, n_tparts, spread)}")
             if n_tparts else bucket_dir)
        by_dir.setdefault(d, []).append(t)
    parts = []
    for d, ts in by_dir.items():
        ts.sort()
        for path, md, ranges in _dir_footers(d, footers):
            rgs = [r for r, rng in enumerate(ranges) if _covers(ts, rng)]
            if not rgs:
                continue
            tbl = fsio.read_parquet(path, _READ_COLS, rgs, md)
            if counts is not None:
                counts["fetch_files"] += 1
                counts["fetch_row_groups"] += len(rgs)
            tbl = tbl.filter(pc.is_in(tbl.column("term"), value_set=pa.array(ts)))
            if tbl.num_rows:
                parts.append(tbl)
    if not parts:
        return None
    # Spark-written stream files are `not null` where pyarrow's are
    # nullable, and name list items differently: unify, do not require
    tbl = pa.concat_tables(parts, promote_options="default")
    return tbl.append_column("bucket", pa.array(np.full(tbl.num_rows, bucket, np.int32)))


def chunk_frame(tables: list) -> pd.DataFrame:
    """:func:`read_bucket_rows` results (Nones skipped) as one DataFrame
    sorted by (term, bucket) — per term, doc order (layout.py)."""
    import pyarrow as pa

    tables = [t for t in tables if t is not None]
    if not tables:
        return pd.DataFrame(columns=list(_CHUNK_COLS))
    tbl = pa.concat_tables(tables, promote_options="default")
    return tbl.sort_by([("term", "ascending"), ("bucket", "ascending")]).to_pandas()


def read_norm_rows(ds, ids: np.ndarray) -> pd.DataFrame:
    """(doc_id, norm) rows of exactly ``ids`` from a pyarrow dataset over
    ``doc_stats_full`` (row-group stats prune on doc_id, written in runs)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return ds.to_table(
        filter=pc.field("doc_id").isin(pa.array(ids, type=pa.int64())),
        columns=["doc_id", "norm"],
    ).to_pandas()


def align_norms(ids: np.ndarray, rows: pd.DataFrame) -> np.ndarray:
    """Norms aligned to sorted, unique, non-empty ``ids`` from (doc_id,
    norm) rows; a missing, zero or NaN norm is 1.0 (a streamed doc has
    no stored norm)."""
    got_ids = rows["doc_id"].to_numpy(dtype=np.int64)
    got = rows["norm"].to_numpy(dtype=np.float64)
    vals = np.ones(ids.size, dtype=np.float64)
    pos = np.minimum(np.searchsorted(ids, got_ids), ids.size - 1)
    hit = ids[pos] == got_ids
    vals[pos[hit]] = got[hit]
    vals[(vals == 0) | np.isnan(vals)] = 1.0
    return vals


def _top_k(ids: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """The k best (doc_id, score) in (-score, doc_id) order, exact on ties."""
    kk = min(k, ids.size)
    if kk <= 0:
        return []
    part = np.argpartition(-scores, kk - 1)[:kk]
    tie = np.flatnonzero(scores >= scores[part].min())
    order = tie[np.lexsort((ids[tie], -scores[tie]))][:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


def exhaustive_topk(postings: dict[str, TermPostings], q_tfs: dict[str, int],
                    dfs: dict[str, int], n_docs: int, mode: str, conjunctive: bool,
                    top_k: int, norms=None) -> list[tuple[int, float]]:
    """Exact top-k over every posting of ``postings`` (one entry per query
    term with a df): BM25, or TF-IDF cosine with doc norms ``norms(ids)``
    when ``mode == "tfidf"``; ``conjunctive`` keeps docs holding every term.

    Terms are summed in sorted order, so a doc's score is bit-identical
    whether ``postings`` covers every visible bucket (driver) or one
    (a ``search_distributed`` task). The accumulator is sized from the
    ids it gets, so ids far from 0 (a streamed bucket) need no bound."""
    terms = sorted(postings)
    ids_all, contrib_all = [], []
    q_sq = 0.0
    for term in terms:
        p = postings[term]
        if mode == "tfidf":
            w_tq = tfidf_weight(q_tfs[term], dfs[term], n_docs)
            q_sq += w_tq * w_tq
        if not p.docs.size:
            continue
        if mode == "tfidf":
            idf10 = math.log10(n_docs / dfs[term])
            contrib = (1.0 + np.log10(p.tfs.astype(np.float64))) * idf10 * w_tq
        else:
            contrib = float(q_tfs[term]) * bm25_idf(dfs[term], n_docs) * p.partials
        ids_all.append(p.docs)
        contrib_all.append(contrib)
    if not ids_all:
        return []
    ids = np.concatenate(ids_all)
    contribs = np.concatenate(contrib_all)
    hi = int(ids.max())
    lo = 0 if hi < (1 << 26) else int(ids.min())  # shift only ids far from 0
    if hi - lo < (1 << 26):
        # dense accumulation: bincount replaces a sort-based unique —
        # the sort dominated hot multi-term queries (~1s for 7.6M
        # contributions at 1M docs)
        rel = ids - lo if lo else ids
        sums = np.bincount(rel, weights=contribs)
        hits = np.bincount(rel)
        cand = np.flatnonzero(hits == len(terms)) if conjunctive else np.flatnonzero(hits)
        svals = sums[cand]
        cand += lo
    else:
        cand, inv = np.unique(ids, return_inverse=True)
        svals = np.zeros(cand.size, dtype=np.float64)
        np.add.at(svals, inv, contribs)
        if conjunctive:
            keep = np.bincount(inv, minlength=cand.size) == len(terms)
            cand, svals = cand[keep], svals[keep]
    if cand.size == 0:
        return []
    if mode == "tfidf":
        q_norm = math.sqrt(q_sq)
        svals = svals / (norms(cand) * q_norm) if q_norm > 0 else svals * 0.0
    return _top_k(cand, svals, top_k)


class _NormsCache:
    """doc_id -> TF-IDF L2 norm, FIFO-evicted to a byte budget.

    Three parallel arrays sorted by doc id (id, norm, insertion
    sequence), so membership and gather are one ``searchsorted`` and
    ``nbytes`` is exactly what the budget counts."""

    ENTRY_BYTES = 24  # int64 id + float64 norm + int64 sequence

    def __init__(self):
        self.clear()

    def clear(self) -> None:
        self.ids = np.zeros(0, dtype=np.int64)
        self.vals = np.zeros(0, dtype=np.float64)
        self.seq = np.zeros(0, dtype=np.int64)
        self._next = 0

    def __len__(self) -> int:
        return self.ids.size

    @property
    def nbytes(self) -> int:
        return self.ids.nbytes + self.vals.nbytes + self.seq.nbytes

    def lookup(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(norms, found): cached norms aligned to ``ids``, 1.0 where
        ``found`` is False."""
        if not self.ids.size:
            return np.ones(ids.size, dtype=np.float64), np.zeros(ids.size, dtype=bool)
        pos = np.minimum(np.searchsorted(self.ids, ids), self.ids.size - 1)
        found = self.ids[pos] == ids
        return np.where(found, self.vals[pos], 1.0), found

    def insert(self, ids: np.ndarray, vals: np.ndarray) -> None:
        """Add sorted, unique ids that are not cached yet."""
        pos = np.searchsorted(self.ids, ids)
        self.ids = np.insert(self.ids, pos, ids)
        self.vals = np.insert(self.vals, pos, vals)
        self.seq = np.insert(self.seq, pos, np.arange(self._next, self._next + ids.size))
        self._next += ids.size

    def evict(self, budget: int) -> None:
        """Drop the oldest-inserted entries until ``nbytes <= budget``."""
        over = self.ids.size - budget // self.ENTRY_BYTES
        if over <= 0:
            return
        keep = self.seq > np.partition(self.seq, over - 1)[over - 1]
        self.ids, self.vals, self.seq = self.ids[keep], self.vals[keep], self.seq[keep]


class FuseIndex:
    """Handle to a built index directory (see operators.build)."""

    last_search_stats: dict | None = None  # pruning telemetry of last search()

    def __init__(self, spark: SparkSession, out_dir: str):
        from pyfusedb_spark.shipping import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.out_dir = out_dir
        self._load_stats()

    def _load_stats(self) -> None:
        path = fsio.join(self.out_dir, "stats.json")
        self._stats_sig = fsio.stat_sig(path)
        self.stats = fsio.read_json(path)
        cfg = self.stats["config"]
        self.analyzer = Analyzer(cfg["preset"])
        self.k1 = cfg["k1"]
        self.b = cfg["b"]
        self.block_size = cfg["block_size"]
        self.n_docs = self.stats["n_docs"]
        self.avgdl = self.stats["avgdl"]
        # tpart routing (udfs.term_tpart_in_bucket); None = flat layout
        self.n_tparts = self.stats.get("n_tparts")
        self.tpart_spread = int(self.stats.get("tpart_spread") or 1)
        self._lexicon_pd: dict[str, int] | None = None
        # fetch addressing, read once per stats.json: the visible bucket
        # ids and, per chunk dir, its files' footers (read_bucket_rows)
        self._buckets: list[int] | None = None
        self._footers: dict[str, list[tuple]] = {}
        self._fetch_io = {"fetch_files": 0, "fetch_row_groups": 0}
        self._pa_doc_stats = None  # lazy pyarrow dataset over doc_stats_full
        norms_dir = fsio.join(self.out_dir, "doc_stats_full")
        self._norms_dir = norms_dir if fsio.isdir(norms_dir) else None
        # keep the term dictionary hot on the driver when it's small
        # (the reference's v1 in-memory main_dictionary analog,
        # app/InvertedIndex.py:338-340); huge-vocab indexes fall back to
        # pushdown lookups per query
        self._lexicon_cache_max = 2_000_000
        # candidate-only tfidf norms: doc_id -> norm, FIFO-capped. The
        # old path materialized EVERY doc_stats row on the driver for
        # one cosine query — O(n_docs) memory, a non-starter at 10^12
        # docs. Now only the current query's candidates are fetched
        # (pyarrow pushdown read of doc_stats_full) and kept warm.
        self._norms_cache = _NormsCache()
        self._norms_cache_budget = 32 << 20  # bytes of the cache's arrays
        # driver-side LRU of decoded, score-ready postings per term: a
        # warm search (hot terms like `return`, `def`) reads these arrays
        # instead of refetching multi-MB payloads and decoding them
        # again — the posting-cache tier any real engine keeps in
        # memory. The budget counts decoded bytes (TermPostings.nbytes).
        # Dropped with the rest on stats.json change: entries hold BM25
        # partials computed with this avgdl.
        self._chunk_cache: dict[str, TermPostings] = {}
        self._chunk_cache_bytes = 0
        self._chunk_cache_budget = 256 << 20
        self._fetch_counts: dict[str, int] = {}

    def _refresh_if_stale(self) -> None:
        """Drop driver-side caches when stats.json changed underneath us.

        A FuseIndex held across streaming/incremental appends
        (streaming/incremental.py rewrites stats.json per micro-batch)
        would otherwise keep serving its frozen bucket and file listing
        and the stale lexicon/norms — silently missing every
        appended posting. One os.stat per search."""
        path = fsio.join(self.out_dir, "stats.json")
        try:
            sig = fsio.stat_sig(path)
        except OSError:
            return
        if sig != self._stats_sig:
            try:
                self._load_stats()  # also resets the listing/lexicon/norms caches
            except (json.JSONDecodeError, OSError):
                # stats.json writes are tmp+os.replace atomic, but a
                # non-posix filesystem could still surface a torn read:
                # keep serving the previous stats; the next search
                # re-stats and retries
                pass

    # -- lazy DataFrames ----------------------------------------------------
    def _lexicon_seg_files(self) -> list[str] | None:
        """``layout.lexicon_files`` of an LSM-layout lexicon (streamed
        ``seg=B`` deltas beside the base, streaming/incremental.py), or
        None for a uniform layout that plain dir reads handle."""
        lex = fsio.join(self.out_dir, "lexicon")
        if not any(n.startswith("seg=") for n in fsio.listdir(lex)):
            return None
        return lexicon_files(lex)

    @property
    def lexicon_df(self) -> DataFrame:
        """Logical lexicon: ONE row per term. On disk a term may span
        several slices (bucket-salted tpart routing) and/or LSM delta
        segments — this view merges them (sum df/total_tf/n_chunks,
        max max_partial)."""
        files = self._lexicon_seg_files() or [fsio.join(self.out_dir, "lexicon")]
        return self.spark.read.parquet(*files).groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sum("total_tf").alias("total_tf"),
            F.max("max_partial").alias("max_partial"),
            F.sum("n_chunks").alias("n_chunks"),
        )

    @property
    def doc_stats_df(self) -> DataFrame:
        return self.spark.read.parquet(self._norms_dir or fsio.join(self.out_dir, "doc_stats"))

    # -- fetch --------------------------------------------------------------
    def _query_terms(self, query: str) -> dict[str, int]:
        return self.analyzer.preprocess_query(query)

    def _fetch_dfs(self, terms: list[str]) -> dict[str, int]:
        if self.stats.get("vocabulary", 0) <= self._lexicon_cache_max:
            if self._lexicon_pd is None:
                self._lexicon_pd = self._read_dfs(None)
            return {t: self._lexicon_pd[t] for t in terms if t in self._lexicon_pd}
        # huge-vocab path: per-query pruned lookup (lexicon is written
        # term-sorted with small row groups -> stats pruning)
        return self._read_dfs(terms)

    def _read_dfs(self, terms: list[str] | None) -> dict[str, int]:
        """{term: Σdf} over the lexicon rows of ``terms`` (None = every
        term). An LSM lexicon stores one row per term PER SEGMENT, so
        summation is the read-side merge."""
        import pyarrow.compute as pc

        files = self._lexicon_seg_files()
        ds = fsio.dataset(files) if files is not None else fsio.dataset(
            fsio.join(self.out_dir, "lexicon"), partitioning="hive")
        flt = None
        if terms is not None:
            flt = pc.field("term").isin(terms)
            tparts = self._tpart_filter_vals(terms)
            if tparts is not None and "tpart" in ds.schema.names:
                flt = pc.field("tpart").isin(tparts) & flt
        tbl = ds.to_table(filter=flt, columns=["term", "df"])
        out: dict[str, int] = {}
        for t, d in zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()):
            out[t] = out.get(t, 0) + int(d)
        return out

    def _fetch_chunks(self, terms: list[str]) -> dict[str, TermPostings]:
        """Decoded postings of ``terms`` for the driver scorers.

        Terms already in the driver LRU (``_chunk_cache``) cost a dict
        lookup. The rest are fetched by ``_fetch_chunks_uncached`` and
        decoded here, once, into :class:`TermPostings` entries that the
        cache keeps under its byte budget. Hit/miss/decoded counts land
        in ``_fetch_counts`` for ``last_search_stats``, with the files
        and row groups the fetch read (0 when every term hit)."""
        cache = self._chunk_cache
        out: dict[str, TermPostings] = {}
        for t in terms:
            entry = cache.pop(t, None)
            if entry is not None:
                cache[t] = entry  # LRU touch (dict keeps insertion order)
                out[t] = entry
        missing = [t for t in terms if t not in out]
        decoded = 0
        self._fetch_io = {"fetch_files": 0, "fetch_row_groups": 0}
        if missing:
            fetched = self._fetch_chunks_uncached(missing)
            for t, rows in fetched.groupby("term", sort=False):
                entry = TermPostings.from_chunks(
                    rows, self.block_size, self.avgdl, self.k1, self.b
                )
                decoded += entry.docs.size
                out[t] = entry
                self._cache_put(t, entry)
            for t in missing:
                out.setdefault(t, _NO_POSTINGS)
        self._fetch_counts = {
            "chunk_cache_hits": len(terms) - len(missing),
            "chunk_cache_misses": len(missing),
            "decoded_postings": decoded,
            **self._fetch_io,
        }
        return out

    def _cache_put(self, term: str, entry: TermPostings) -> None:
        if entry.nbytes > self._chunk_cache_budget:
            return  # single term larger than the whole budget
        while self._chunk_cache_bytes + entry.nbytes > self._chunk_cache_budget:
            old = self._chunk_cache.pop(next(iter(self._chunk_cache)))  # least recent
            self._chunk_cache_bytes -= old.nbytes
        self._chunk_cache[term] = entry
        self._chunk_cache_bytes += entry.nbytes

    def _tpart_filter_vals(self, terms: list[str]) -> list[int] | None:
        """Hash-partition ids covering `terms` for a tpart-layout index
        (index/bucket=K/tpart=P dirs, operators/build.py) —
        O(spread) directory addressing per term (the routing hash is
        salted by the doc-range bucket to defuse hot-term skew; see
        udfs.term_tpart_probe). None = an index written before the
        tpart layout."""
        n = self.stats.get("n_tparts")
        if not n:
            return None
        from pyfusedb_spark.functions.udfs import term_tpart_probe

        spread = int(self.stats.get("tpart_spread") or 1)
        out: set[int] = set()
        for t in terms:
            out.update(term_tpart_probe(t, int(n), spread))
        return sorted(out)

    def _visible_buckets(self) -> list[int]:
        """Ids of the ``index/bucket=K`` dirs a search reads, ascending —
        the one visibility rule (layout.visible_bucket_components): base
        buckets, the segments the stats list, and the batches newer than
        every segment. Listed once per stats.json."""
        if self._buckets is None:
            names = fsio.listdir(fsio.join(self.out_dir, "index"))
            ids = sorted(int(n.split("=", 1)[1]) for n in names
                         if n.startswith("bucket=") and ".tmp-" not in n)
            vis = visible_bucket_components(self.stats)
            if vis is not None:
                segs, folded_upto = set(vis[0]), vis[1]
                live_from = STREAM_BATCH_BUCKET_BASE + (
                    folded_upto + 1 if folded_upto is not None else 0)
                ids = [b for b in ids
                       if b < STREAM_GEN_BUCKET_BASE or b >= live_from or b in segs]
            self._buckets = ids
        return self._buckets

    def _fetch_chunks_uncached(self, terms: list[str]) -> pd.DataFrame:
        """Chunk rows of ``terms`` over every visible bucket, sorted by
        (term, bucket): :func:`read_bucket_rows` per bucket, with the
        handle's cached footers — each term opens one tpart dir per
        bucket and reads only the row groups its footer range covers.
        No per-query Spark job (this path IS the driver; the executor
        path is ``search_distributed``). Files and row groups read add
        to ``_fetch_io``."""
        index_dir = fsio.join(self.out_dir, "index")
        return chunk_frame([
            read_bucket_rows(fsio.join(index_dir, f"bucket={k}"), k, terms, self.n_tparts,
                             self.tpart_spread, self._footers, self._fetch_io)
            for k in self._visible_buckets()
        ])

    def _require_norms(self) -> str:
        """The ``doc_stats_full`` dir TF-IDF reads its norms from."""
        if self._norms_dir is None:
            raise ValueError(
                f"TF-IDF needs document norms, but {self.out_dir} has no "
                "doc_stats_full: build it with IndexConfig(compute_norms=True)"
            )
        return self._norms_dir

    def _fetch_norm_rows(self, ids: "np.ndarray") -> pd.DataFrame:
        """(doc_id, norm) rows for exactly these ids (:func:`read_norm_rows`)."""
        if self._pa_doc_stats is None:
            self._pa_doc_stats = fsio.dataset(self._require_norms(), partitioning="hive")
        return read_norm_rows(self._pa_doc_stats, ids)

    def _norms_for(self, ids: "np.ndarray") -> np.ndarray:
        """L2 norms aligned to ``ids`` (missing/zero/NaN -> 1.0).

        Fetches ONLY the ids not already in the driver norm cache —
        a tfidf search therefore never materializes more doc_stats rows
        than it has candidates (round-4 verdict "what's wrong" #2: the
        previous full toPandas() was O(n_docs) per index)."""
        ids64 = np.asarray(ids, dtype=np.int64)
        cache = self._norms_cache
        out, found = cache.lookup(ids64)
        if not found.all():
            miss = np.unique(ids64[~found])
            vals = align_norms(miss, self._fetch_norm_rows(miss))  # absent ids cache as 1.0
            out[~found] = vals[np.searchsorted(miss, ids64[~found])]
            cache.insert(miss, vals)
        # evict AFTER gathering: a query whose candidate set mixes old
        # cached ids with enough fresh misses could otherwise evict its
        # OWN old ids before the read-back and silently score them with
        # the 1.0 fallback (r5 review finding)
        cache.evict(self._norms_cache_budget)
        return out

    # -- public search API ----------------------------------------------------
    def _resolve_terms(self, query: str, conjunctive: bool):
        """(q_tfs, dfs, terms): analyzed query tfs, lexicon dfs and the
        sorted terms to score — empty when the query can match nothing."""
        q_tfs = self._query_terms(query)
        dfs = self._fetch_dfs(sorted(q_tfs)) if q_tfs else {}
        terms = [t for t in sorted(q_tfs) if t in dfs]
        if conjunctive and len(terms) < len(q_tfs):
            terms = []  # some query term matches nothing
        return q_tfs, dfs, terms

    def search(
        self,
        query: str,
        top_k: int = 10,
        mode: str = "bm25",
        conjunctive: bool = False,
        use_wand: bool | str = "auto",
    ) -> list[tuple[int, float]]:
        """Driver fast path. Returns [(doc_id, score)] in (-score, doc_id) order.

        Every scorer reads the same decoded, cached postings
        (:class:`TermPostings` from ``_fetch_chunks``), so a warm search
        decodes nothing and routing weighs scoring work alone.
        ``use_wand="auto"`` picks the vectorized block-max scorer
        ("bmx") when a hot/rare df split lets it leave most hot blocks
        unscored, and the vectorized exhaustive scorer (one bincount
        over every posting) otherwise. ``"bmx"`` and ``False`` force one
        of the two (bmx still falls back to exhaustive on shapes it
        cannot prune); any other value raises ``ValueError``. Both
        paths are rank-identical (tests force each).
        ``last_search_stats`` records the path, its pruning counts and
        the fetch's ``chunk_cache_hits``, ``chunk_cache_misses`` and
        ``decoded_postings``, plus the ``fetch_files`` and
        ``fetch_row_groups`` it read (0 on a warm search).
        ``mode="tfidf"`` raises ``ValueError`` on an index built without
        ``compute_norms``."""
        if use_wand not in ("auto", "bmx", False):
            raise ValueError(
                f"use_wand must be 'auto', 'bmx' or False, not {use_wand!r}"
            )
        self._refresh_if_stale()
        if mode == "tfidf":
            self._require_norms()
        q_tfs, dfs, terms = self._resolve_terms(query, conjunctive)
        if not terms:
            return []
        chunks = self._fetch_chunks(terms)
        out = self._score(chunks, terms, q_tfs, dfs, top_k, mode, conjunctive, use_wand)
        self.last_search_stats.update(self._fetch_counts)
        return out

    def _score(
        self,
        chunks: dict[str, TermPostings],
        terms: list[str],
        q_tfs: dict[str, int],
        dfs: dict[str, int],
        top_k: int,
        mode: str,
        conjunctive: bool,
        use_wand: bool | str,
    ) -> list[tuple[int, float]]:
        """Route to one scorer; it or this sets ``last_search_stats``."""
        # wand_safe gates the block-max-pruned path (auto or forced
        # bmx): incremental appends that drift avgdl past tolerance make
        # the stored block-max bounds stale upper bounds, so pruning
        # could silently drop true top-k docs. Scoring stays exact
        # through the exhaustive path (streaming/incremental.py).
        bounds_safe = self.stats.get("wand_safe") is not False
        use_bmx = use_wand == "bmx"
        if use_wand == "auto":
            df_vals = [dfs[t] for t in terms]
            hot_cut = self._hot_cut(df_vals, top_k)
            rare_total = sum(v for v in df_vals if v <= hot_cut)
            hot_total = sum(v for v in df_vals if v > hot_cut)
            use_bmx = (
                len(terms) >= 2
                and min(df_vals) >= top_k
                and max(df_vals) >= 16 * min(df_vals)
                # engage only when candidate coverage still skips >=75%
                # of the hot blocks (rare candidates ~ one block touch
                # each); below that the block gathers approach a full
                # scan and plain exhaustive wins
                and 4 * rare_total * self.block_size < hot_total
            )
        if use_bmx and bounds_safe and mode == "bm25" and not conjunctive:
            out = self._blockmax_vectorized(chunks, terms, q_tfs, dfs, top_k)
            if out is not None:
                return out
            # bmx declined this shape: fall through to exhaustive
        out = exhaustive_topk(chunks, q_tfs, dfs, self.n_docs, mode, conjunctive, top_k,
                              self._norms_for if mode == "tfidf" else None)
        self.last_search_stats = {
            "path": "exhaustive",
            "postings_total": int(sum(dfs[t] for t in terms)),
        }
        return out

    @staticmethod
    def _hot_cut(df_vals: list[int], top_k: int) -> int:
        """Hot/rare df split shared by the auto-selector and the bmx
        scorer — one definition so routing can never disagree with the
        scorer's own classification."""
        return max(32 * top_k, min(df_vals) * 4)

    def _blockmax_vectorized(
        self,
        chunks: dict[str, TermPostings],
        terms: list[str],
        q_tfs: dict[str, int],
        dfs: dict[str, int],
        top_k: int,
    ) -> list[tuple[int, float]] | None:
        """Exact BM25 top-k with VECTORIZED block-max skipping ("bmx").

        A cursor-loop WAND takes one Python step per posting, so it
        loses to the exhaustive bincount unless it skips ~everything.
        This scorer keeps block-max skipping but stays numpy-vectorized
        end to end over the cached postings:

          A. add RARE terms (df <= hot cutoff) fully into a dense
             accumulator -> theta_lb = k-th best rare-only score (a
             lower bound on the final threshold, since scores only
             grow);
          B. for each HOT term, select blocks where
             qw*block_max + sum(other hot terms' global UB) >= theta_lb
             (any doc wholly inside skipped blocks and with no rare term
             is provably below theta_lb <= theta_final, so dropping it is
             lossless); add their postings (one gather over the blocks'
             posting ranges) and collect their docs into the candidate
             set;
          C. cover pass: add, per hot term, every not-yet-added block
             containing a candidate doc (binary search over block
             [first,last] ranges) so every candidate's score is COMPLETE;
          D. one argpartition top-k with (-score, doc_id) ties,
             identical to the exhaustive scorer.

        Docs never added have provable score < theta_lb <= theta_final
        and cannot enter (or tie into) the top-k — rank-identity with
        the exhaustive path is asserted in tests across forced paths.
        Returns None when every term is hot, none is, or ids are
        non-dense (caller falls back to exhaustive)."""
        df_vals = np.array([dfs[t] for t in terms], dtype=np.int64)
        hot_cut = self._hot_cut(df_vals.tolist(), top_k)
        hot_mask = df_vals > hot_cut
        if not hot_mask.any() or hot_mask.all():
            return None
        dense_n = self._dense_id_bound()
        if dense_n > (1 << 26) or any(
            chunks[t].blk_last.size and int(chunks[t].blk_last.max()) >= dense_n
            for t in terms
        ):
            return None
        sums = np.zeros(dense_n, dtype=np.float64)
        covered = np.zeros(dense_n, dtype=bool)
        hot: list[tuple[TermPostings, float]] = []
        # --- A: rare terms added fully ---
        for term, is_hot in zip(terms, hot_mask):
            p = chunks[term]
            qw = float(q_tfs[term]) * bm25_idf(dfs[term], self.n_docs)
            if is_hot:
                hot.append((p, qw))
                continue
            sums[p.docs] += qw * p.partials
            covered[p.docs] = True
        cand = np.flatnonzero(covered)
        if cand.size >= top_k:
            theta_lb = float(np.partition(sums[cand], cand.size - top_k)[cand.size - top_k])
        else:
            theta_lb = -math.inf
        hot_ub = [qw * p.max_partial for p, qw in hot]

        def add_blocks(p: TermPostings, qw: float, blocks: np.ndarray) -> np.ndarray:
            idx = p.block_postings(blocks)
            d = p.docs[idx]
            sums[d] += qw * p.partials[idx]
            return d

        # --- B: high-UB hot blocks (could beat theta on their own) ---
        blocks_total = 0
        blocks_scored = 0
        ub_want = []
        new_docs = []
        for i, (p, qw) in enumerate(hot):
            other_ub = sum(v for j, v in enumerate(hot_ub) if j != i)
            want = np.flatnonzero(qw * p.blk_max + other_ub >= theta_lb)
            blocks_total += p.blk_max.size
            blocks_scored += want.size
            ub_want.append(want)
            if want.size:
                new_docs.append(add_blocks(p, qw, want))
        if new_docs:
            covered[np.concatenate(new_docs)] = True
            cand = np.flatnonzero(covered)  # sorted
        # --- C: cover pass — complete every candidate's score ---
        for (p, qw), done in zip(hot, ub_want):
            lo = np.searchsorted(cand, p.blk_first, side="left")
            hi = np.searchsorted(cand, p.blk_last, side="right")
            need = hi > lo
            need[done] = False  # already added in B
            want = np.flatnonzero(need)
            if want.size:
                add_blocks(p, qw, want)
                blocks_scored += want.size
        self.last_search_stats = {
            "path": "bmx",
            "postings_total": int(sum(dfs[t] for t in terms)),
            "hot_blocks_total": int(blocks_total),
            "hot_blocks_scored": int(blocks_scored),
            "hot_blocks_skipped": int(blocks_total - blocks_scored),
        }
        return _top_k(cand, sums[cand], top_k)

    def _dense_id_bound(self) -> int:
        """Exclusive upper bound on doc ids (for bmx's dense
        accumulators); a huge sentinel makes bmx decline unknown-id-space
        indexes (e.g. streaming appends)."""
        m = self.stats.get("max_doc_id")
        if m is not None:
            return int(m) + 1
        bs = self.stats.get("bucket_span")
        nb = self.stats.get("config", {}).get("n_buckets")
        if bs and nb:
            return int(bs) * int(nb)
        return 1 << 62

    # -- distributed path -----------------------------------------------------
    def search_distributed(
        self,
        query: str,
        top_k: int = 10,
        mode: str = "bm25",
        conjunctive: bool = False,
    ) -> DataFrame:
        """Executor-side scoring: one task per visible doc-range bucket.

        Each task reads its bucket's chunk rows of the query terms
        (:func:`read_bucket_rows`, the driver fetch's reader, uncached),
        decodes them into :class:`TermPostings` and yields the bucket's
        top-k from :func:`exhaustive_topk`, the driver's kernel (TF-IDF
        norms through :func:`read_norm_rows`). Buckets are doc-disjoint,
        so every doc's score is complete inside one task and the
        ``orderBy().limit()`` over k rows per task is exact: the plan is
        Range -> MapInArrow -> TakeOrderedAndProject, no Exchange.
        Nothing term-sized reaches the driver. Returns a DataFrame
        (doc_id, score)."""
        self._refresh_if_stale()
        norms_dir = self._require_norms() if mode == "tfidf" else None
        q_tfs, dfs, terms = self._resolve_terms(query, conjunctive)
        buckets = self._visible_buckets() if terms else []
        if not buckets:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        index_dir = fsio.join(self.out_dir, "index")
        n_tparts, spread = self.n_tparts, self.tpart_spread
        n_docs, decode_args = self.n_docs, (self.block_size, self.avgdl, self.k1, self.b)

        def score_bucket(batches):  # row i of the range scores buckets[i]
            import pyarrow as pa

            from pyfusedb_spark.functions.udfs import tame_arrow_threads

            tame_arrow_threads()
            norm_ds = fsio.dataset(norms_dir, partitioning="hive") if norms_dir else None

            def norms(ids):  # called for TF-IDF only
                return align_norms(ids, read_norm_rows(norm_ds, ids))

            for batch in batches:
                for i in batch.column(0).to_pylist():
                    k = buckets[i]
                    chunks = chunk_frame([read_bucket_rows(
                        fsio.join(index_dir, f"bucket={k}"), k, terms, n_tparts, spread)])
                    postings = dict.fromkeys(terms, _NO_POSTINGS)
                    for t, rows in chunks.groupby("term"):
                        postings[t] = TermPostings.from_chunks(rows, *decode_args)
                    top = exhaustive_topk(postings, q_tfs, dfs, n_docs, mode,
                                          conjunctive, top_k, norms)
                    if top:
                        ids, scores = zip(*top)
                        yield pa.RecordBatch.from_arrays(
                            [pa.array(ids, pa.int64()), pa.array(scores, pa.float64())],
                            names=["doc_id", "score"],
                        )

        n = len(buckets)
        return (
            self.spark.range(0, n, 1, n)
            .mapInArrow(score_bucket, RESULT_SCHEMA)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )


def project_results(
    corpus: DataFrame, results: DataFrame, fields: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """J4 (SURVEY.md §2.5): materialize top-k rows — broadcast the k-row
    result side into the corpus scan."""
    joined = corpus.join(F.broadcast(results), on=id_col, how="inner")
    cols = [F.col(id_col)] + [
        (F.col(f) if f in corpus.columns else F.lit("N/A").alias(f)) for f in fields
    ] + [F.col("score")]
    return joined.select(*cols).orderBy(F.desc("score"), F.asc(id_col))
