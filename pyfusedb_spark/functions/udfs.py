"""Vectorized pandas/Arrow UDFs for the index pipeline (SURVEY.md §2.10).

Everything here is Arrow-batched: tokenization + per-doc term-frequency
counting happen in ONE pass inside a scalar pandas UDF (map-side partial
aggregation before any shuffle — A1/A2 in SURVEY.md §2.4), and posting
encoding happens partition-wise inside ``mapInPandas`` with numpy-
vectorized codecs. No row-at-a-time Python UDFs anywhere
(BASELINE.json:input_hint "no per-row Python").
"""

from __future__ import annotations

import os
import time
from collections import Counter
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from pyfusedb_spark import fsio
from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.functions import codec

# per-executor analyzer cache (stem memoization survives across batches)
_ANALYZERS: dict[str, Analyzer] = {}

_ARROW_TAMED = False


def tame_arrow_threads() -> None:
    """Cap pyarrow's GLOBAL thread pools inside an executor Python worker.

    pyarrow defaults both its CPU and IO pools to os.cpu_count() —
    per PROCESS. Spark already runs one Python worker per task slot, so
    a 32-slot executor gets 32 workers x 32 Arrow CPU threads = 1024
    runnable threads; the resulting scheduler thrash measurably
    inflates even the single-threaded numpy encode sections (r5 pair
    protocol: per-tpart encode wall 0.57s at local[8] vs 3.4s at
    local[32] for identical work, while the same encode under plain
    multiprocessing scales at the machine ceiling). One CPU thread +
    a few IO threads per worker is the right shape on ANY
    multi-slot executor; env overrides for exotic deployments."""
    global _ARROW_TAMED
    if _ARROW_TAMED:
        return
    _ARROW_TAMED = True
    import pyarrow as pa

    pa.set_cpu_count(int(os.environ.get("PYFUSEDB_ARROW_CPU_THREADS", "1")))
    pa.set_io_thread_count(int(os.environ.get("PYFUSEDB_ARROW_IO_THREADS", "4")))


def _get_analyzer(preset: str) -> Analyzer:
    az = _ANALYZERS.get(preset)
    if az is None:
        az = Analyzer(preset)
        _ANALYZERS[preset] = az
    return az


def term_freqs_udf(preset: str):
    """content -> map<term, tf>. One Arrow pass, counting in the UDF so the
    shuffle carries distinct-terms-per-doc, not raw token streams."""

    @pandas_udf(T.MapType(T.StringType(), T.IntegerType()))
    def term_freqs(contents: pd.Series) -> pd.Series:
        az = _get_analyzer(preset)
        analyze = az.analyze
        return pd.Series(
            [dict(Counter(analyze(c or ""))) for c in contents.tolist()],
            index=contents.index,
        )

    return term_freqs


_MAX_RUN = 1024  # max postings per packed run row (bounds reader memory)

def term_tpart(term: str, n_tparts: int) -> int:
    """Deterministic term -> base hash-partition id, shared by the build
    (exploder), the query side (directory addressing of posting fetches)
    and streaming appends. MUST stay equal to the JVM expression
    ``pmod(crc32(encode(term,'utf-8')), n_tparts)`` (same CRC-32/IEEE
    polynomial as zlib.crc32) — tests assert the parity."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_tparts


def term_tpart_probe(term: str, n_tparts: int, spread: int) -> list[int]:
    """All tpart ids a term's chunks can live in. The build routes a
    run to ``(crc32(term) + bucket % spread) % n_tparts`` — the doc-
    range bucket salts the term hash so ONE hot term's posting mass
    spreads over ``spread`` tasks instead of pinning a single straggler
    (measured 3.4x max/median task CPU at 1M docs without it). Readers
    probe the ``spread`` consecutive dirs; spread=1 = legacy layout."""
    import zlib

    base = zlib.crc32(term.encode("utf-8"))
    return sorted({(base + j) % n_tparts for j in range(max(1, spread))})


def term_tpart_in_bucket(term: str, bucket: int, n_tparts: int, spread: int) -> int:
    """The one tpart id holding ``term``'s chunk in doc-range bucket
    ``bucket``: the routing rule above with the bucket's own salt. The
    build, stream batches and folds all write with it, so a reader that
    knows the bucket opens one dir per term."""
    import zlib

    return (zlib.crc32(term.encode("utf-8")) + bucket % max(1, spread)) % n_tparts


def make_run_packer(bucket_span: int, n_tparts: int, tpart_spread: int):
    """Returns ``pack_batch(ids, counters, lens)``: one Arrow batch of
    corpus rows (doc ids, per-doc term Counters and per-doc token
    counts) -> PACKED per-(term,bucket) partial posting runs, one row
    per distinct (term, bucket), or None for a batch with no terms.

    This is the SPIMI map-side partial posting list (north star: partial
    lists built BEFORE the term-partitioned exchange): the tf files then
    carry ~|batch vocabulary| packed rows instead of one row per
    posting — long-tail terms cost the same, but every mid/hot term
    collapses its per-batch postings into three packed int arrays and
    ONE term string. Term grouping uses pd.factorize (hash, O(n)) + an
    integer lexsort — no string sort. Output is built as Arrow
    ListArrays from flat buffers (a pandas frame of per-cell numpy
    arrays measured ~2x slower to serialize).

    Runs are capped at _MAX_RUN postings: a hot term would otherwise
    pack a whole Arrow batch into ONE giant cell, blowing up the
    vectorized parquet reader's per-batch memory downstream (seen as
    JVM OOM at 65536-doc batches). The encoder merges multiple runs
    per group, so splitting is free."""
    import zlib

    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("term", pa.string()),
            ("bucket", pa.int32()),
            ("tpart", pa.int32()),
            ("docs", pa.list_(pa.int64())),
            ("tfs", pa.list_(pa.int32())),
            ("dls", pa.list_(pa.int32())),
        ]
    )

    def pack_batch(ids: np.ndarray, counters: list, lens: np.ndarray) -> "pa.RecordBatch | None":
        reps = np.fromiter((len(c) for c in counters), np.int64, len(counters))
        ntot = int(reps.sum())
        if ntot == 0:
            return None
        rep_ids = np.repeat(ids, reps)
        rep_dls = np.repeat(lens, reps).astype(np.int32)
        rep_bkt = (rep_ids // bucket_span).astype(np.int64)
        terms = np.empty(ntot, dtype=object)
        i = 0
        for c in counters:
            k = len(c)
            terms[i : i + k] = list(c.keys())
            i += k
        tfs = np.fromiter((v for c in counters for v in c.values()), np.int32, ntot)
        codes, uniq = pd.factorize(terms, sort=False)
        uniq = np.asarray(uniq, dtype=object)
        order = np.lexsort((rep_bkt, codes))  # primary: term code, secondary: bucket
        c_s = codes[order]
        b_s = rep_bkt[order]
        newg = np.empty(ntot, dtype=bool)
        newg[0] = True
        newg[1:] = (c_s[1:] != c_s[:-1]) | (b_s[1:] != b_s[:-1])
        gs = np.flatnonzero(newg)
        glens = np.diff(np.append(gs, ntot))
        big = np.flatnonzero(glens > _MAX_RUN)
        if big.size:
            extra = np.concatenate(
                [
                    np.arange(gs[i] + _MAX_RUN, gs[i] + glens[i], _MAX_RUN)
                    for i in big
                ]
            )
            starts_all = np.sort(np.concatenate([gs, extra]))
        else:
            starts_all = gs
        row_of = np.searchsorted(gs, starts_all, side="right") - 1
        bounds = np.append(starts_all, ntot).astype(np.int32)
        off = pa.array(bounds, type=pa.int32())
        # file-shuffle routing key: per-UNIQUE-term crc32 (|vocab_batch|
        # calls, not one per posting), salted by the doc-range bucket so
        # a hot term's mass spreads over `tpart_spread` encoder tasks
        # (see term_tpart_probe)
        crc = zlib.crc32
        crc_u = np.fromiter(
            (crc(t.encode("utf-8")) for t in uniq), np.int64, len(uniq)
        )
        row_codes = c_s[gs[row_of]]
        row_bkts = b_s[gs[row_of]]
        row_tp = ((crc_u[row_codes] + row_bkts % max(1, tpart_spread)) % n_tparts).astype(np.int32)
        cols = [
            pa.array(uniq[row_codes], type=pa.string()),
            pa.array(row_bkts.astype(np.int32), type=pa.int32()),
            pa.array(row_tp, type=pa.int32()),
            pa.ListArray.from_arrays(off, pa.array(rep_ids[order], type=pa.int64())),
            pa.ListArray.from_arrays(off, pa.array(tfs[order], type=pa.int32())),
            pa.ListArray.from_arrays(off, pa.array(rep_dls[order], type=pa.int32())),
        ]
        return pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return pack_batch


TF_TASK_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("total_len", T.LongType(), False),
        # Σ int(sha256[:15], 16) over the task's docs as a decimal
        # string: a sum of 60-bit prefixes overflows int64 past ~8 docs
        T.StructField("lineage", T.StringType(), False),
    ]
)


def make_tf_fused_task(
    preset: str,
    bucket_span: int,
    content_col: str,
    n_tparts: int,
    staging_tf: str,
    staging_ds: str,
    tpart_spread: int = 1,
):
    """Fused map-side stage for the file-shuffle build: ONE corpus scan
    that tokenizes, packs partial posting runs, computes sha256 lineage,
    and writes BOTH outputs itself with pyarrow —

      staging_tf/tpart=P/part-<pid>.parquet   packed runs (hive tpart)
      staging_ds/part-<pid>.parquet           doc_stats (doc_id, doc_len, sha256)

    and yields one TF_TASK_SCHEMA row (doc count, token count, lineage
    sum) — the driver sums these into the stage stats, so no later job
    re-reads either output to find them.

    This is the map side of a classic shuffle-file exchange, expressed
    as parquet: each task keeps one open ParquetWriter per tpart (one
    row group per Arrow batch) and renames files into place on close, so
    retries are idempotent. It replaces (a) a SECOND full corpus scan
    the JVM sha256 job used to make and (b) Spark's dynamic-partition
    writer, whose per-row fan-out dispatch on fat array rows measured
    ~3s/150k docs over a plain write. hashlib sha256 of the UTF-8 bytes
    is bit-identical to F.sha2(col, 256) and DuckDB's sha256 (oracle-
    checked). Task fan-out: n_scan_tasks x n_tparts files — bound
    n_tparts accordingly (same knob as encoder memory)."""
    pack_batch = make_run_packer(bucket_span, n_tparts, tpart_spread)
    import pyarrow as pa

    out_schema = pa.schema(
        [("pid", pa.int32()), ("n_docs", pa.int64()),
         ("total_len", pa.int64()), ("lineage", pa.string())]
    )

    def run(batches):
        import hashlib

        from pyspark import TaskContext

        tame_arrow_threads()
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        az = _get_analyzer(preset)
        analyze = az.analyze
        writers: dict[int, fsio.AtomicParquetWriter] = {}
        ds_writer = None
        ndocs = 0
        total_len = 0
        lineage = 0
        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            contents = batch.column(content_col).to_pylist()
            shas = [
                hashlib.sha256((c or "").encode("utf-8")).hexdigest() for c in contents
            ]
            counters = [Counter(analyze(c or "")) for c in contents]
            lens = np.fromiter((sum(c.values()) for c in counters), np.int64, len(counters))
            ds_tbl = pa.table(
                {"doc_id": pa.array(ids, pa.int64()),
                 "doc_len": pa.array(lens, pa.int64()),
                 "sha256": pa.array(shas, pa.string())}
            )
            if ds_writer is None:
                fsio.makedirs(staging_ds)
                ds_writer = fsio.AtomicParquetWriter(
                    fsio.join(staging_ds, f"part-{pid:05d}.parquet"),
                    ds_tbl.schema, compression="snappy",
                )
            ds_writer.write_table(ds_tbl)
            ndocs += len(ids)
            total_len += int(lens.sum())
            lineage += sum(int(h[:15], 16) for h in shas)
            rb = pack_batch(ids, counters, lens)
            if rb is None:
                continue
            tps = np.asarray(rb.column("tpart").to_numpy(zero_copy_only=False))
            tbl = pa.Table.from_batches([rb]).drop_columns(["tpart"])
            for tp in np.unique(tps):
                tp = int(tp)
                sub = tbl.take(pa.array(np.flatnonzero(tps == tp)))
                w = writers.get(tp)
                if w is None:
                    d = fsio.join(staging_tf, f"tpart={tp}")
                    fsio.makedirs(d)
                    w = fsio.AtomicParquetWriter(
                        fsio.join(d, f"part-{pid:05d}.parquet"),
                        sub.schema, compression="snappy",
                    )
                    writers[tp] = w
                w.write_table(sub)
        for w in writers.values():
            w.close()
        if ds_writer is not None:
            ds_writer.close()
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], pa.int32()), pa.array([ndocs], pa.int64()),
             pa.array([total_len], pa.int64()), pa.array([str(lineage)], pa.string())],
            schema=out_schema,
        )

    return run


def make_packed_encoder(avgdl: float, k1: float, b: float, block_size: int):
    """mapInArrow fn merging packed runs into encoded chunks.

    Input: packed-run batches (term, bucket, docs, tfs, dls — the tf
    files make_tf_fused_task writes) in ARBITRARY row order (no JVM
    sort on rows carrying fat array payloads — round-2 scaling work:
    the posting shuffle's reduce-side sort was the stage's scaling
    bottleneck).
    Grouping happens here instead, at Arrow/numpy speed: the term column
    is dictionary-encoded (C-speed hash), only the UNIQUE terms are
    string-sorted (|vocab_partition| << |rows|), and postings get ONE
    integer lexsort by (group_rank, doc_id). Output rows remain sorted
    by (term, bucket) so parquet row-group min/max stats stay tight for
    query-side pruning — identical on-disk layout to the sorted-input
    encoder.

    Operates on Arrow buffers directly — flat value arrays via
    ``ListArray.flatten()`` / ``value_lengths()``, output payloads as ONE
    zero-copy binary buffer. A pandas round-trip here materialized ~12M
    per-cell numpy arrays per build and dominated the stage wall.

    Flat merge: the integer lexsort is the reference's k-way heap merge
    (app/InvertedIndexFinal.py:287-346), distributed — then
    codec.encode_postings_multi for every group at once.

    Memory: materializes one tpart's packed runs (bounded by n_tparts
    sizing — see operators/build.py scale notes)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_fields = [
        ("bucket", pa.int32()),
        ("pid", pa.int32()),
        ("term", pa.string()),
        ("df_chunk", pa.int64()),
        ("sum_tf", pa.int64()),
        ("payload", pa.binary()),
        ("block_offsets", pa.list_(pa.int64())),
        ("block_first", pa.list_(pa.int64())),
        ("block_last", pa.list_(pa.int64())),
        ("block_max_partial", pa.list_(pa.float32())),
        ("max_partial", pa.float32()),
        ("enc_micros", pa.int64()),
    ]
    out_schema = pa.schema(out_fields)

    def _extract(batch):
        """One batch/chunk -> (terms_obj, bucket, run_lens, flat arrays).
        Per-chunk flatten keeps this correct for ANY chunking — a table
        whose columns cannot combine into one chunk (>2 GiB offsets) is
        handled by concatenating per-chunk numpy views (round-2 ADVICE:
        the old to_batches()[0] silently dropped rows past batch 0)."""
        docs_la = batch.column("docs")
        tfs_la = batch.column("tfs")
        dls_la = batch.column("dls")
        return (
            np.asarray(batch.column("term").to_pandas(), dtype=object),
            np.asarray(batch.column("bucket").to_numpy(zero_copy_only=False), dtype=np.int64),
            np.asarray(pc.list_value_length(docs_la).to_numpy(zero_copy_only=False)),
            np.asarray(docs_la.flatten().to_numpy(zero_copy_only=False), dtype=np.int64),
            np.asarray(tfs_la.flatten().to_numpy(zero_copy_only=False)),
            np.asarray(dls_la.flatten().to_numpy(zero_copy_only=False)),
        )

    def _concat_extracted(parts):
        if len(parts) == 1:
            return parts[0]
        return tuple(np.concatenate([p[i] for p in parts]) for i in range(6))

    def encode_arrays(
        terms: np.ndarray,
        bucket_np: np.ndarray,
        run_lens: np.ndarray,
        flat_d: np.ndarray,
        flat_t: np.ndarray,
        flat_l: np.ndarray,
        pid: int,
    ) -> "pa.RecordBatch":
        t0 = time.perf_counter()
        # group rows by (term, bucket) WITHOUT requiring sorted input:
        # factorize terms (hash, C speed), sort only the unique strings,
        # rank rows, then one integer sort over group keys.
        codes, uniq_terms = pd.factorize(terms, sort=False)
        uniq_terms = np.asarray(uniq_terms, dtype=object)
        order_u = np.argsort(uniq_terms, kind="stable")
        rank_u = np.empty(len(uniq_terms), dtype=np.int64)
        rank_u[order_u] = np.arange(len(uniq_terms))
        uniq_sorted = uniq_terms[order_u]
        kb = int(bucket_np.max()) + 1 if len(bucket_np) else 1
        g_key = rank_u[codes] * kb + bucket_np  # ascending == (term, bucket) asc
        g_sorted, g_first_row = np.unique(g_key, return_index=True)
        gidx_row = np.searchsorted(g_sorted, g_key)
        grow = g_first_row  # one representative row per group (for bucket col)
        gid_post = np.repeat(gidx_row, run_lens)
        maxd = int(flat_d.max()) if flat_d.size else 0
        if len(g_sorted) * (maxd + 1) < (1 << 62):
            # one combined integer key -> single sort pass (duplicate
            # (group, doc) keys are interchangeable: tf of dups is summed
            # below and dl is per-doc constant). kind="stable" is
            # timsort for these int64 keys (numpy's radix sort only
            # covers <=16-bit integers): the rows arrive as long
            # already-sorted runs (per-doc term groups, doc-ordered
            # scans), which timsort merges instead of re-partitioning —
            # measured faster than quicksort on real tparts, though at
            # parity on random int64 keys
            order = np.argsort(gid_post * (maxd + 1) + flat_d, kind="stable")
        else:
            order = np.lexsort((flat_d, gid_post))
        d2, t2, l2, g2 = flat_d[order], flat_t[order], flat_l[order], gid_post[order]
        group_terms = uniq_sorted[g_sorted // kb]
        npost = len(d2)
        newp = np.empty(npost, dtype=bool)
        newp[0] = True
        newp[1:] = g2[1:] != g2[:-1]
        keep = newp.copy()
        keep[1:] |= d2[1:] != d2[:-1]
        if not keep.all():
            seg = np.cumsum(keep) - 1
            t2 = np.bincount(seg, weights=t2).astype(np.int64)
            d2, l2, newp = d2[keep], l2[keep], newp[keep]
        starts = np.flatnonzero(newp)
        enc = codec.encode_postings_multi(starts, d2, t2, l2, avgdl, k1, b, block_size, flat_only=True)
        g = enc["n_groups"]
        payload_all, byte_bounds = enc["payload_all"], enc["payload_bounds"]
        nblk = enc["n_blocks"]
        blk_bounds = np.concatenate(([0], np.cumsum(nblk))).astype(np.int32)
        micros = int((time.perf_counter() - t0) * 1e6)
        per = np.full(g, micros // g if g else 0, dtype=np.int64)
        if g:
            per[0] += micros - int(per.sum())
        # pa.binary() offsets are int32: a partition whose concatenated
        # payload exceeded 2 GiB would wrap silently into a corrupt index.
        # Cannot happen with default maxRecordsPerBatch/_MAX_RUN sizing,
        # so fail loudly instead of switching to large_binary.
        if len(byte_bounds) and int(byte_bounds[-1]) >= (1 << 31):
            raise ValueError(
                f"posting payload batch of {int(byte_bounds[-1])} bytes exceeds "
                "the 2 GiB Arrow binary offset range; lower "
                "spark.sql.execution.arrow.maxRecordsPerBatch or raise n_buckets"
            )
        payload_arr = pa.Array.from_buffers(
            pa.binary(), g,
            [None, pa.py_buffer(byte_bounds.astype(np.int32).tobytes()),
             pa.py_buffer(payload_all)],
        )

        def lst(flat_vals: np.ndarray, typ) -> pa.Array:
            return pa.ListArray.from_arrays(
                pa.array(blk_bounds, type=pa.int32()), pa.array(flat_vals, type=typ)
            )

        cols = [
            pa.array(bucket_np[grow].astype(np.int32), type=pa.int32()),
            pa.array(np.full(g, pid, dtype=np.int32), type=pa.int32()),
            pa.array(group_terms, type=pa.string()),
            pa.array(enc["df_chunk"], type=pa.int64()),
            pa.array(enc["sum_tf"], type=pa.int64()),
            payload_arr,
            lst(enc["blk_off_flat"], pa.int64()),
            lst(enc["blk_first_flat"], pa.int64()),
            lst(enc["blk_last_flat"], pa.int64()),
            lst(enc["blk_max_flat"], pa.float32()),
            pa.array(enc["max_partial"], type=pa.float32()),
            pa.array(per, type=pa.int64()),
        ]
        return pa.RecordBatch.from_arrays(cols, schema=out_schema)

    def mapper(batches):
        tame_arrow_threads()
        # materialize the partition's packed runs and encode in ONE pass:
        # grouping does not need runs of a term adjacent (see
        # encode_arrays), so there is no carry-over bookkeeping and no
        # upstream JVM row sort. Per-batch numpy extraction + concat is
        # chunking-safe.
        parts = [_extract(b) for b in batches if b.num_rows]
        if not parts:
            return
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        yield encode_arrays(*_concat_extracted(parts), pid=pid)

    mapper.encode_arrays = encode_arrays
    mapper.extract = _extract
    mapper.concat_extracted = _concat_extracted
    return mapper


TF_COMBINE_SCHEMA = T.StructType(
    [
        T.StructField("tpart", T.IntegerType(), False),
        T.StructField("n_files_in", T.LongType(), False),
        T.StructField("n_files_out", T.LongType(), False),
    ]
)


def make_tf_combine_task(src_tf_dir: str, dst_tf_dir: str,
                         target_bytes: int = 512 << 20):
    """Wave-level tf-file combine (fan-out bound, build.py scale note).

    tf fan-out is n_scan_tasks x n_tparts files; at the promised 10^5
    map tasks that is ~10^8 tiny files. When the scan-task count exceeds
    ``IndexConfig.max_tf_files_per_tpart`` the build inserts this extra
    pass: ``spark.range(n_tparts)`` -> task P streams ITS tpart's small
    files through pyarrow (batch at a time — memory is one record batch,
    not one tpart) and rewrites them as a handful of large files, rolling
    a new file every ``target_bytes`` of in-memory batch size. Output
    file count per tpart = max(1, ceil(tpart_bytes / target_bytes)) —
    independent of the scan-task count. One extra sequential read+write
    of the packed runs, paid ONLY at extreme fan-out; the posting stage
    then opens O(bytes/512MB) files per tpart instead of O(scan_tasks).
    Same per-tpart task decomposition as the posting stage, so it scales
    with the same N -> 4N behavior (pure per-tpart, zero exchange)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("tpart", pa.int32()),
            ("n_files_in", pa.int64()),
            ("n_files_out", pa.int64()),
        ]
    )

    def _one(tp: int) -> tuple | None:
        import pyarrow.dataset as pads

        src = fsio.join(src_tf_dir, f"tpart={tp}")
        if not fsio.isdir(src):
            return None
        ds = pads.dataset(src, format="parquet")
        n_in = len(ds.files)
        d = fsio.join(dst_tf_dir, f"tpart={tp}")
        fsio.makedirs(d)
        writer = None
        n_out = 0
        acc = 0
        for batch in ds.to_batches():
            if not batch.num_rows:
                continue
            if writer is None:
                writer = fsio.AtomicParquetWriter(
                    fsio.join(d, f"combined-{n_out:05d}.parquet"),
                    batch.schema, compression="snappy",
                )
                n_out += 1
                acc = 0
            writer.write_table(pa.Table.from_batches([batch]))
            acc += batch.nbytes
            if acc >= target_bytes:
                writer.close()
                writer = None
        if writer is not None:
            writer.close()
        return (tp, n_in, n_out)

    def task(batches):
        tame_arrow_threads()
        for batch in batches:
            rows = []
            for tp in batch.column("id").to_pylist():
                r = _one(int(tp))
                if r is not None:
                    rows.append(r)
            if rows:
                cols = list(zip(*rows))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(cols, out_schema)],
                    schema=out_schema,
                )

    return task


TPART_STATS_SCHEMA = T.StructType(
    [
        T.StructField("tpart", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),  # -1 = lexicon row
        T.StructField("n_terms", T.LongType(), False),
        T.StructField("n_postings", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("enc_micros", T.LongType(), False),
        T.StructField("term_lo", T.StringType(), True),
        T.StructField("term_hi", T.StringType(), True),
    ]
)


def write_chunk_file(tbl, out_path: str, row_group_rows: int = 1024) -> int:
    """Write one term-sorted chunk (or lexicon) file atomically; returns
    its size. Small row groups with min/max stats only on ``term`` (the
    pruning key the query fetch reads from the footer): min/max over
    multi-MB binary payload cells is pure write-time overhead;
    dictionary encoding of unique payloads likewise."""
    return fsio.write_parquet_atomic(
        tbl, out_path, row_group_size=row_group_rows, compression="snappy",
        use_dictionary=False, write_statistics=["term"],
    )


def make_tpart_build_task(
    tf_dir: str,
    idx_dir: str,
    lex_dir: str,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
    row_group_rows: int = 1024,
):
    """The FILE-SHUFFLE posting stage (round-3 scaling lever).

    Replaces the live ``repartitionByRange`` exchange: stage tf already
    wrote packed runs hive-partitioned by ``tpart = crc32(term) %
    n_tparts``, so every task of ``spark.range(n_tparts)`` (partition i
    holds exactly id i) can

      1. read its OWN tpart's parquet files directly through pyarrow —
         no JVM scan, no UnsafeRow materialization, no Arrow IPC of the
         fat run arrays into the Python worker (the round-2 A/B
         decomposition measured that conversion pair as the posting
         stage's residual scaling cost, BENCH/BASELINE.md);
      2. encode all (term, bucket) groups in one numpy pass (a term
         lives in exactly one tpart, so one chunk per (term, bucket) —
         the doc-ordered-concatenation invariant the driver scorers
         need is preserved);
      3. FINALIZE its own slices task-side: first delete any previous
         ``bucket=*/tpart=P`` + ``lexicon/tpart=P`` dirs (a prior failed
         attempt / a rebuild), then write the encoded chunk files AND
         its lexicon slice (term-sorted, small row groups for query-side
         row-group pruning) straight into the FINAL dirs, each file
         appearing atomically (fsio.write_parquet_atomic). The former
         driver-serial staging→live promote loop — O(n_buckets x
         n_tparts) directory renames of driver metadata work on the
         critical path — no longer exists; a tpart's lineage is its
         manifest commit, and a crash mid-task leaves partially-written
         final dirs. NOTE: FuseIndex discovers index/ by directory
         listing, so such partials ARE reader-visible until repaired —
         the driver therefore deletes every uncommitted / out-of-range
         tpart dir before launching the wave (build.py
         _file_shuffle_postings pre-wave cleanup), and this task
         re-cleans its own slices as step 1 (retries / speculation);
      4. yield only tiny per-(tpart,bucket) stats rows — the driver
         builds segment manifests from them with zero read-back jobs.

    The final layout ``index/bucket=K/tpart=P/part-0.parquet`` is
    directly addressable at query time: a term's chunks live exactly at
    ``tpart=crc32(term)%n_tparts`` in every bucket — O(1) directory
    pruning instead of file min/max range checks.

    Scale notes: executors need pyarrow-reachable storage (local FS
    here; HDFS/S3 via pyarrow.fs on a real cluster). Per-task memory is
    one tpart of packed runs — size n_tparts so that ~|postings| *
    12B / n_tparts fits an executor (raise n_tparts at 10^12 docs the
    same way n_buckets bounds chunk size)."""
    enc = make_packed_encoder(avgdl, k1, b, block_size)
    encode_arrays, extract, concat = enc.encode_arrays, enc.extract, enc.concat_extracted
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("tpart", pa.int32()),
            ("bucket", pa.int32()),
            ("n_terms", pa.int64()),
            ("n_postings", pa.int64()),
            ("bytes", pa.int64()),
            ("enc_micros", pa.int64()),
            ("term_lo", pa.string()),
            ("term_hi", pa.string()),
        ]
    )

    def _clean_own_slices(tp: int) -> None:
        # task-side finalize, step 1: this tpart's previous output (a
        # failed attempt mid-task, or an overwrite rebuild) must go
        # before new files land — nothing else ever writes tpart=P dirs
        for name in fsio.listdir(idx_dir):
            if name.startswith("bucket="):
                fsio.rmtree(fsio.join(idx_dir, name, f"tpart={tp}"))
        fsio.rmtree(fsio.join(lex_dir, f"tpart={tp}"))

    def _one_tpart(tp: int) -> list[tuple]:
        import pyarrow.dataset as pads

        _clean_own_slices(tp)
        src = fsio.join(tf_dir, f"tpart={tp}")
        if not fsio.isdir(src):
            return []
        ds = pads.dataset(src, format="parquet")
        parts = [
            extract(bt)
            for bt in ds.to_batches(columns=["term", "bucket", "docs", "tfs", "dls"])
            if bt.num_rows
        ]
        if not parts:
            return []
        chunk_batch = encode_arrays(*concat(parts), pid=tp)
        tbl = pa.Table.from_batches([chunk_batch])
        bucket_col = np.asarray(tbl.column("bucket").to_numpy(zero_copy_only=False))
        micros = int(tbl.column("enc_micros").to_pandas().sum())
        df_col = np.asarray(tbl.column("df_chunk").to_numpy(zero_copy_only=False))
        total_post = int(df_col.sum())
        terms_col = np.asarray(tbl.column("term").to_pandas(), dtype=object)
        rows: list[tuple] = []
        # -- index chunk files, one per (bucket, tpart) --
        for k in np.unique(bucket_col):
            k = int(k)
            idx = np.flatnonzero(bucket_col == k)
            sub = tbl.take(pa.array(idx)).drop_columns(["bucket"])  # term order kept
            out_dir = fsio.join(idx_dir, f"bucket={k}", f"tpart={tp}")
            fsio.makedirs(out_dir)
            nbytes = write_chunk_file(sub, fsio.join(out_dir, "part-0.parquet"), row_group_rows)
            npost_k = int(df_col[idx].sum())
            share = micros * npost_k // total_post if total_post else 0
            rows.append(
                (tp, k, int(len(idx)), npost_k, nbytes, share,
                 str(terms_col[idx[0]]), str(terms_col[idx[-1]]))
            )
        # -- lexicon slice: term groups are contiguous (term-sorted) --
        newt = np.empty(len(terms_col), dtype=bool)
        newt[0] = True
        newt[1:] = terms_col[1:] != terms_col[:-1]
        starts = np.flatnonzero(newt)
        sum_tf = np.asarray(tbl.column("sum_tf").to_numpy(zero_copy_only=False))
        maxp = np.asarray(tbl.column("max_partial").to_numpy(zero_copy_only=False))
        nchunks = np.diff(np.append(starts, len(terms_col)))
        lex = pa.table(
            {
                "term": pa.array(terms_col[starts], type=pa.string()),
                "df": pa.array(np.add.reduceat(df_col, starts), type=pa.int64()),
                "total_tf": pa.array(np.add.reduceat(sum_tf, starts), type=pa.int64()),
                "max_partial": pa.array(
                    np.maximum.reduceat(maxp, starts), type=pa.float32()
                ),
                "n_chunks": pa.array(nchunks.astype(np.int64), type=pa.int64()),
            }
        )
        lex_slice = fsio.join(lex_dir, f"tpart={tp}")
        fsio.makedirs(lex_slice)
        lex_bytes = write_chunk_file(lex, fsio.join(lex_slice, "part-0.parquet"), row_group_rows)
        rows.append(
            (tp, -1, int(len(starts)), total_post, lex_bytes, micros,
             str(terms_col[0]), str(terms_col[-1]))
        )
        return rows

    def task(batches):
        tame_arrow_threads()
        for batch in batches:
            for tp in batch.column("id").to_pylist():
                rows = _one_tpart(int(tp))
                if rows:
                    cols = list(zip(*rows))
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c, type=f.type) for c, f in zip(cols, out_schema)],
                        schema=out_schema,
                    )

    return task


def tokens_udf(preset: str):
    """content -> array<string> of analyzed terms (F5 in SURVEY.md §2.3)."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def tokens(contents: pd.Series) -> pd.Series:
        az = _get_analyzer(preset)
        analyze = az.analyze
        return pd.Series([analyze(c or "") for c in contents.tolist()], index=contents.index)

    return tokens


# --------------------------------------------------------------------------
# Posting-chunk encoder (mapInPandas over term-sorted partitions)
# --------------------------------------------------------------------------

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df_chunk", T.LongType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("block_offsets", T.ArrayType(T.LongType()), False),
        T.StructField("block_first", T.ArrayType(T.LongType()), False),
        T.StructField("block_last", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_partial", T.ArrayType(T.FloatType()), False),
        T.StructField("max_partial", T.FloatType(), False),
        T.StructField("enc_micros", T.LongType(), False),
    ]
)


def _encode_partition_flat(
    term: np.ndarray,
    d: np.ndarray,
    t: np.ndarray,
    l: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
) -> pd.DataFrame:
    """Encode one partition's (term, doc)-sorted rows into chunk
    rows via codec.encode_postings_multi — ONE vectorized pass for ALL
    groups (per-group numpy-call overhead dominated the stage before).

    Duplicate doc rows within a group are folded by summing tf (v2 merge
    semantics, app/InvertedIndexFinal.py:240-244) — vectorized flat.
    ``enc_micros`` is the partition's encode time spread over its groups
    (manifests only ever sum it)."""
    t0 = time.perf_counter()
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    n = len(d)
    new = np.empty(n, dtype=bool)
    new[0] = True
    new[1:] = term[1:] != term[:-1]
    dup = np.zeros(n, dtype=bool)
    dup[1:] = d[1:] == d[:-1]
    keep = new | ~dup
    if not keep.all():
        seg = np.cumsum(keep) - 1
        t = np.bincount(seg, weights=t).astype(np.int64)
        d, l, term, new = d[keep], l[keep], term[keep], new[keep]
    starts = np.flatnonzero(new)
    enc = codec.encode_postings_multi(starts, d, t, l, avgdl, k1, b, block_size)
    g = enc["n_groups"]
    micros = int((time.perf_counter() - t0) * 1e6)
    per = np.full(g, micros // g if g else 0, dtype=np.int64)
    if g:
        per[0] += micros - int(per.sum())
    data = {
        "pid": np.full(g, pid, dtype=np.int32),
        "term": term[starts],
        "df_chunk": enc["df_chunk"],
        "sum_tf": enc["sum_tf"],
        "payload": enc["payloads"],
        "block_offsets": enc["block_offsets"],
        "block_first": enc["block_first"],
        "block_last": enc["block_last"],
        "block_max_partial": enc["block_max_partial"],
        "max_partial": enc["max_partial"],
        "enc_micros": per,
    }
    return pd.DataFrame(data)[[f.name for f in CHUNK_SCHEMA.fields]]


def make_chunk_encoder(avgdl: float, k1: float, b: float, block_size: int):
    """Returns a mapInPandas function encoding (term, doc_id, tf, doc_len)
    rows — REQUIRED sorted by (term, doc_id) within the partition — into
    one encoded chunk row per term.

    Handles record-batch boundaries splitting a term by carrying the tail
    group over to the next batch (mapInPandas preserves in-partition order).
    """

    def encode_terms(pdf: pd.DataFrame) -> pd.DataFrame:
        return _encode_partition_flat(
            pdf["term"].to_numpy(),
            pdf["doc_id"].to_numpy(dtype=np.int64),
            pdf["tf"].to_numpy(dtype=np.int64),
            pdf["doc_len"].to_numpy(dtype=np.int64),
            avgdl, k1, b, block_size,
        )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        leftover: pd.DataFrame | None = None
        for batch in batches:
            if leftover is not None and len(leftover):
                batch = pd.concat([leftover, batch], ignore_index=True)
                leftover = None
            if not len(batch):
                continue
            terms = batch["term"].to_numpy()
            last_term = terms[-1]
            cut = np.searchsorted(terms, last_term, side="left")
            # hold back the (possibly incomplete) last term group
            leftover = batch.iloc[cut:]
            complete = batch.iloc[:cut]
            if len(complete):
                yield encode_terms(complete)
        if leftover is not None and len(leftover):
            yield encode_terms(leftover)

    return mapper


def sha256_col(col: str = "content"):
    """F8 (SURVEY.md §2.3): per-row sha256 content hash — pure built-in
    (JVM-side, codegen), matching DuckDB's sha256() on UTF-8 bytes."""
    return F.sha2(F.col(col), 256)
