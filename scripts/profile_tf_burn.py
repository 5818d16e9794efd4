"""Spark-free reproduction of the stage_tf 8->32 scaling plateau.

Round-4 verdict task #1: stage_tf (the fused tokenize+sha256+pack+write
corpus scan) measured 1.37x for 4x cores (8->32) while the machine's
cache-resident sha256 ceiling was 2.92x. This script isolates WHERE the
plateau lives by running the SAME per-batch work the Spark task does —
`udfs.make_tf_fused_task`'s inner loop, minus Spark — under plain
multiprocessing at two pinned parallelism levels:

    variant `tokenize`  analyze() + Counter per doc (the Python/
                        allocator-bound hot loop)
    variant `full`      tokenize + hashlib.sha256 + packed-run encode +
                        parquet writes to n_tparts dirs (everything the
                        Spark task does per batch)
    variant `sha`       pure hashlib.sha256 burn — the CACHE-RESIDENT
                        control the old BASELINE.md calibrated against
    variant `encode`    the stage_postings encoder itself (dictionary-
                        encode + integer lexsort + delta/varint/block-max
                        pack via make_packed_encoder) over a synthetic
                        tpart — Spark-free twin of the OTHER build stage
    variant `membw`     numpy big-array copy — a MEMORY-BANDWIDTH-bound
                        control (string/tokenize workloads live here,
                        not in the sha regime)

If `tokenize`/`full` plateau at the same 8->32 efficiency WITHOUT Spark
in the loop, the plateau is a host property (shared-VM memory bandwidth
/ allocator pressure), not an engine defect; the right ceiling to read
stage_tf against is the `membw`/`tokenize` pair efficiency, not `sha`'s.

Usage: python scripts/profile_tf_burn.py [docs_per_level] [variants..]
Appends one JSON line per (variant, procs) to stdout and a summary.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BATCH = 2048
PRESET = "code"


def _work_tokenize(lo: int, hi: int, tmpdir: str) -> int:
    from collections import Counter

    from pyfusedb_spark.functions.udfs import _get_analyzer
    from pyfusedb_spark.sources.corpus import _gen_rows

    analyze = _get_analyzer(PRESET).analyze
    n = 0
    for b0 in range(lo, hi, BATCH):
        b1 = min(hi, b0 + BATCH)
        contents = _gen_rows(b0, b1)["content"].tolist()
        sink = [Counter(analyze(c or "")) for c in contents]
        n += len(sink)
    return n


def _work_full(lo: int, hi: int, tmpdir: str) -> int:
    import hashlib
    from collections import Counter

    import numpy as np
    import pyarrow as pa

    from pyfusedb_spark import fsio
    from pyfusedb_spark.functions.udfs import _get_analyzer, make_run_packer
    from pyfusedb_spark.sources.corpus import _gen_rows

    n_tparts = 64
    pack_batch = make_run_packer(250_000, n_tparts, 4)
    analyze = _get_analyzer(PRESET).analyze
    pid = os.getpid()
    writers = {}
    ds_writer = None
    n = 0
    for b0 in range(lo, hi, BATCH):
        b1 = min(hi, b0 + BATCH)
        contents = _gen_rows(b0, b1)["content"].tolist()
        ids = np.arange(b0, b1, dtype=np.int64)
        shas = [hashlib.sha256((c or "").encode()).hexdigest() for c in contents]
        counters = [Counter(analyze(c or "")) for c in contents]
        lens = np.fromiter((sum(c.values()) for c in counters), np.int64, len(counters))
        ds_tbl = pa.table({"doc_id": pa.array(ids), "doc_len": pa.array(lens),
                           "sha256": pa.array(shas)})
        if ds_writer is None:
            d = os.path.join(tmpdir, "doc_stats")
            fsio.makedirs(d)
            ds_writer = fsio.AtomicParquetWriter(
                os.path.join(d, f"part-{pid}.parquet"), ds_tbl.schema,
                compression="snappy",
            )
        ds_writer.write_table(ds_tbl)
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
                d = os.path.join(tmpdir, f"tpart={tp}")
                fsio.makedirs(d)
                w = fsio.AtomicParquetWriter(
                    os.path.join(d, f"part-{pid}.parquet"), sub.schema,
                    compression="snappy",
                )
                writers[tp] = w
            w.write_table(sub)
        n += len(ids)
    for w in writers.values():
        w.close()
    if ds_writer is not None:
        ds_writer.close()
    return n


_ENC_BATCH = None


def _synth_packed_batch():
    """One tpart's worth of packed runs (~1.3M postings, Zipf vocab,
    4 doc-range buckets, runs capped at 1024) — the input shape the
    stage_postings encoder task reads from its tpart's parquet files."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(7)
    n_post, vocab, run_cap = 1_300_000, 20_000, 1024
    probs = 1.0 / np.arange(1, vocab + 1)
    probs /= probs.sum()
    t = rng.choice(vocab, size=n_post, p=probs)
    d = rng.integers(0, 1_000_000, size=n_post)
    b = (d // 250_000).astype(np.int64)
    order = np.lexsort((d, b, t))
    t, b, d = t[order], b[order], d[order]
    tf = rng.integers(1, 5, size=n_post).astype(np.int32)
    dl = rng.integers(30, 90, size=n_post).astype(np.int32)
    change = np.flatnonzero((np.diff(t) != 0) | (np.diff(b) != 0)) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n_post]))
    offs, terms, buckets = [0], [], []
    for s, e in zip(starts, ends):
        for rs in range(s, e, run_cap):
            offs.append(min(e, rs + run_cap))
            terms.append(f"t{t[rs]:06d}")
            buckets.append(int(b[rs]))
    off = pa.array(offs, type=pa.int32())
    return pa.record_batch(
        {
            "term": pa.array(terms),
            "bucket": pa.array(buckets, type=pa.int32()),
            "docs": pa.ListArray.from_arrays(off, pa.array(d, type=pa.int64())),
            "tfs": pa.ListArray.from_arrays(off, pa.array(tf, type=pa.int32())),
            "dls": pa.ListArray.from_arrays(off, pa.array(dl, type=pa.int32())),
        }
    )


def _work_encode(lo: int, hi: int, tmpdir: str) -> int:
    """stage_postings' REAL work, Spark-free: the make_packed_encoder
    merge (dictionary-encode + integer lexsort + delta/varint/block-max
    pack) over a synthetic tpart, one tpart per unit."""
    global _ENC_BATCH
    from pyfusedb_spark.functions.udfs import make_packed_encoder

    if _ENC_BATCH is None:
        _ENC_BATCH = _synth_packed_batch()
    enc = make_packed_encoder(60.0, 1.2, 0.75, 128)
    n = 0
    for _ in range(lo, hi):
        for out in enc(iter([_ENC_BATCH])):
            n += out.num_rows
    return hi - lo


def _work_sha(lo: int, hi: int, tmpdir: str) -> int:
    # cache-resident compute control (the old calibration burn):
    # one unit = 2000 chained sha256 of a 4 KB blob (~3 ms)
    import hashlib

    blob = b"x" * 4096
    for _ in range((hi - lo) * 2000):
        blob = hashlib.sha256(blob).digest() * 128
    return hi - lo


def _work_membw(lo: int, hi: int, tmpdir: str) -> int:
    # memory-bandwidth-bound control: one unit = stream 128 MB through
    # DRAM (64 MB read + 64 MB write, far beyond LLC)
    import numpy as np

    a = np.arange((64 << 20) // 8, dtype=np.int64)
    s = 0
    for _ in range(lo, hi):
        b = a.copy()
        s += int(b[-1])
    return hi - lo


# (worker, units at the default 120k-doc budget) — each level should run
# multiple seconds so pool dispatch overhead stays <1%
VARIANTS = {
    "tokenize": (_work_tokenize, 1.0),
    "full": (_work_full, 1.0),
    "encode": (_work_encode, 1 / 2000),  # one synthetic tpart per unit
    "sha": (_work_sha, 1 / 15),
    "membw": (_work_membw, 1 / 150),
}


def run_level(variant: str, procs: int, total_docs: int, tmpdir: str) -> dict:
    fn, scale = VARIANTS[variant]
    units = max(procs * 8, int(total_docs * scale))
    os.sched_setaffinity(0, set(range(procs)))  # children inherit
    try:
        ctx = mp.get_context("fork")
        chunks = []
        n_chunks = procs * 4  # 4 waves amortize stragglers
        per = max(1, units // n_chunks)
        lo = 0
        while lo < units:
            hi = min(units, lo + per)
            chunks.append((lo, hi, tmpdir))
            lo = hi
        with ctx.Pool(procs) as pool:
            pool.starmap(fn, chunks[: procs])  # warm (imports, analyzer)
            t0 = time.perf_counter()
            done = pool.starmap(fn, chunks)
            wall = time.perf_counter() - t0
    finally:
        os.sched_setaffinity(0, set(range(os.cpu_count())))
    units_done = sum(done)
    return {
        "variant": variant,
        "procs": procs,
        "units": units_done,
        "wall_sec": round(wall, 3),
        "units_per_sec": round(units_done / wall, 1),
    }


def main() -> None:
    import shutil
    import tempfile

    total = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    variants = sys.argv[2:] or ["tokenize", "full", "sha", "membw"]
    out = {}
    for v in variants:
        tmpdir = tempfile.mkdtemp(prefix=f"tfburn_{v}_")
        try:
            for procs in (8, 32):
                r = run_level(v, procs, total, tmpdir + f"/p{procs}")
                print(json.dumps(r), flush=True)
                out[(v, procs)] = r["units_per_sec"]
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)
    summary = {}
    for v in variants:
        lo, hi = out.get((v, 8)), out.get((v, 32))
        if lo and hi:
            summary[v] = round(hi / (4 * lo), 3)
    print(json.dumps({"pair": "8->32", "efficiency": summary}), flush=True)


if __name__ == "__main__":
    main()
