"""Object-store-ready IO (round-3 verdict task #3).

The file-shuffle build promises "HDFS/S3 via pyarrow.fs on a cluster"
(operators/build.py scale notes). These tests prove the plumbing:

- an index built and queried through a scheme-qualified ``file://`` root
  exercises the pyarrow.fs code path end-to-end (tf task writers, tpart
  encoder reads/writes, manifest catalog, stats.json, query-side stats /
  lexicon / chunk fetch) and matches the plain-path build exactly;
- resume over the URI root is a no-op and per-tpart repair works;
- the driver performs NO rename/delete of posting data dirs — the old
  staging→live promote loop is replaced by task-side finalize, so
  ``index/`` and ``lexicon/`` are only ever touched by executor tasks.
"""

import os

import numpy as np
import pytest

from pyfusedb_spark import fsio
from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex
from pyfusedb_spark.oracle import OracleIndex

from tests.test_oracle import PANGRAMS

QUERIES = ["quick fox", "jumping wizards", "flower bloom dog"]
CFG = IndexConfig(n_buckets=3, shuffle_partitions=4, n_tparts=4)


def _corpus(spark):
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )


def test_fsio_primitives(tmp_path):
    root = f"file://{tmp_path}/p"
    fsio.makedirs(fsio.join(root, "a/b"))
    assert fsio.isdir(fsio.join(root, "a/b"))
    assert fsio.listdir(fsio.join(root, "a")) == ["b"]
    fsio.write_json_atomic(fsio.join(root, "x.json"), {"k": 1})
    assert fsio.read_json(fsio.join(root, "x.json")) == {"k": 1}
    sig = fsio.stat_sig(fsio.join(root, "x.json"))
    assert sig[1] > 0
    import pyarrow as pa

    tbl = pa.table({"a": [1, 2, 3]})
    n = fsio.write_parquet_atomic(tbl, fsio.join(root, "a/b/t.parquet"))
    assert n == fsio.file_size(fsio.join(root, "a/b/t.parquet"))
    assert fsio.dir_bytes(fsio.join(root, "a")) == n
    # streaming writer finalizes atomically too
    w = fsio.AtomicParquetWriter(fsio.join(root, "a/s.parquet"), tbl.schema)
    w.write_table(tbl)
    w.close()
    assert fsio.file_size(fsio.join(root, "a/s.parquet")) > 0
    # orphan staging discovery through the URI scheme
    fsio.makedirs(fsio.join(root, "a/b.tmp-dead/child"))
    tmps = fsio.find_tmp_dirs(root)
    assert len(tmps) == 1 and tmps[0].endswith("a/b.tmp-dead")
    fsio.rmtree(tmps[0])
    assert not fsio.exists(fsio.join(root, "a/b.tmp-dead"))


def test_build_and_query_via_file_uri(spark, tmp_path):
    corpus = _corpus(spark)
    out_uri = f"file://{tmp_path}/uri_idx"
    out_loc = str(tmp_path / "loc_idx")
    stats_u = build_index(spark, corpus, out_uri, doc_id_col="doc_id", config=CFG)
    stats_l = build_index(spark, corpus, out_loc, doc_id_col="doc_id", config=CFG)
    assert stats_u["n_tparts"] == 4
    assert stats_u["sha256_lineage_sum"] == stats_l["sha256_lineage_sum"]
    assert stats_u["vocabulary"] == stats_l["vocabulary"]
    assert stats_u["n_postings"] == stats_l["n_postings"]

    iu = FuseIndex(spark, out_uri)
    oracle = OracleIndex(Analyzer("english")).build(PANGRAMS)
    for q in QUERIES:
        got = iu.search(q, 10)
        expect = oracle.search_bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expect], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in expect], atol=1e-9
        )
        dist = [
            (r["doc_id"], r["score"])
            for r in iu.search_distributed(q, 10).collect()
        ]
        assert [d for d, _ in dist] == [d for d, _ in expect], q

    # resume over the URI root: full no-op (manifests honored)
    import time

    t0 = time.perf_counter()
    build_index(spark, corpus, out_uri, doc_id_col="doc_id", config=CFG)
    assert time.perf_counter() - t0 < 3.0

    # per-tpart repair through the URI scheme: drop one committed slice
    idx_dir = fsio.join(out_uri, "index")
    victim = None
    for name in sorted(fsio.listdir(idx_dir)):
        if name.startswith("bucket="):
            for t in sorted(fsio.listdir(fsio.join(idx_dir, name))):
                if t.startswith("tpart="):
                    victim = fsio.join(idx_dir, name, t)
                    break
        if victim:
            break
    assert victim is not None
    fsio.rmtree(victim)
    build_index(spark, corpus, out_uri, doc_id_col="doc_id", config=CFG)
    assert fsio.isdir(victim)
    iu2 = FuseIndex(spark, out_uri)
    for q in QUERIES:
        assert iu2.search(q, 10) == oracle.search_bm25(q, 10) or [
            d for d, _ in iu2.search(q, 10)
        ] == [d for d, _ in oracle.search_bm25(q, 10)]


def test_driver_never_renames_posting_data(spark, tmp_path, monkeypatch):
    """Task-side finalize contract: in file-shuffle mode the DRIVER
    process must never os.replace / shutil.rmtree anything under the
    index/ or lexicon/ data trees (executor workers are separate
    processes, so recording in this process captures driver work only)."""
    import shutil

    touched: list[str] = []
    real_replace, real_rmtree = os.replace, shutil.rmtree

    def rec_replace(src, dst, **kw):
        touched.append(str(dst))
        return real_replace(src, dst, **kw)

    def rec_rmtree(path, *a, **kw):
        touched.append(str(path))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(os, "replace", rec_replace)
    monkeypatch.setattr(shutil, "rmtree", rec_rmtree)

    out = str(tmp_path / "guard_idx")
    build_index(spark, _corpus(spark), out, doc_id_col="doc_id", config=CFG)
    data_roots = (os.path.join(out, "index"), os.path.join(out, "lexicon"))
    offenders = [p for p in touched if p.startswith(data_roots)]
    assert offenders == [], offenders
    # sanity: the guard saw driver-side activity at all (manifests etc.)
    assert touched, "guard recorded nothing — monkeypatch ineffective"
    idx = FuseIndex(spark, out)
    assert [d for d, _ in idx.search("quick fox", 5)]


def test_tf_fanout_bound_combines_files(spark, tmp_path):
    """Round-3 verdict weak #3: tf files = scan_tasks x n_tparts. With
    max_tf_files_per_tpart set below the scan-task count, the combine
    pass must rewrite each tpart to a handful of files and the index
    must stay oracle-exact."""
    corpus = spark.createDataFrame(
        [(i, PANGRAMS[i % len(PANGRAMS)] + f" tail{i}") for i in range(256)],
        "doc_id long, content string",
    ).repartition(256)  # 256 scan tasks
    out = str(tmp_path / "fanout_idx")
    cfg = IndexConfig(
        n_buckets=2, shuffle_partitions=4, n_tparts=3, max_tf_files_per_tpart=8
    )
    build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg)
    tf = os.path.join(out, "tf")
    per_tpart = {
        d: len([f for f in os.listdir(os.path.join(tf, d)) if f.endswith(".parquet")])
        for d in os.listdir(tf) if d.startswith("tpart=")
    }
    assert per_tpart, "no tpart dirs written"
    assert all(n <= 8 for n in per_tpart.values()), per_tpart
    # combined files carry the combined- prefix (the pass actually ran)
    assert any(
        f.startswith("combined-")
        for d in per_tpart
        for f in os.listdir(os.path.join(tf, d))
    )
    idx = FuseIndex(spark, out)
    docs = [PANGRAMS[i % len(PANGRAMS)] + f" tail{i}" for i in range(256)]
    oracle = OracleIndex(Analyzer("english")).build(docs)
    for q in QUERIES + ["tail7 tail101"]:
        got = idx.search(q, 10)
        expect = oracle.search_bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expect], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in expect], atol=1e-9
        )


def test_ivf_and_graph_via_file_uri(spark, tmp_path):
    """The persisted ANN tiers work against a scheme-qualified root too:
    parquet trees go through Spark (URI-native), sidecar JSONs through
    fsio. Exact-setting search must match brute force."""
    from pyfusedb_spark.operators import knn

    rows = []
    for i in range(40):
        rows.append((i, [((i * 7 + d * 3) % 11) / 11.0 + 0.1 for d in range(8)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = f"file://{tmp_path}/ivf_uri"
    ivf = knn.PersistedIVF.build(emb, out, nlist=4, sample_n=64)
    g = knn.PersistedGraphANN.build(ivf, m=4)
    qv = rows[3][1]
    exact = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in knn.brute_force_topk(emb, qv, 5).collect()
    ]
    got = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in g.topk(qv, k=5, nprobe=4, ef=1_000_000).collect()
    ]
    assert got == exact
    # reopen through the URI (sidecars read via fsio)
    reopened = knn.PersistedGraphANN(knn.PersistedIVF(spark, out))
    assert reopened.meta == g.meta


def test_streaming_append_via_file_uri(spark, tmp_path):
    """Incremental streaming appends work against a scheme-qualified
    root: segment writes via Spark (URI-native), markers/stats/GC via
    fsio. Two batches must be searchable and oracle-exact, with the
    lexicon (LSM ``seg=B`` files listed through the URI) read both
    whole into the driver cache and per query (huge-vocab branch)."""
    from pyfusedb_spark.analysis import Analyzer
    from pyfusedb_spark.oracle import OracleIndex
    from pyfusedb_spark.streaming.incremental import IncrementalIndexWriter

    docs = PANGRAMS[:6]
    out = f"file://{tmp_path}/stream_uri"
    writer = IncrementalIndexWriter(
        spark, out, config=IndexConfig(n_buckets=1, shuffle_partitions=2)
    )
    for b in range(2):
        batch = spark.createDataFrame(
            [(3 * b + j, docs[3 * b + j]) for j in range(3)],
            "doc_id long, content string",
        )
        writer.process_batch(batch, b)
    oracle = OracleIndex(Analyzer("english")).build(docs)
    for lexicon_cache_max in (None, 0):
        idx = FuseIndex(spark, out)
        if lexicon_cache_max is not None:
            idx._lexicon_cache_max = lexicon_cache_max
        for q in QUERIES:
            got = idx.search(q, 10)
            expect = oracle.search_bm25(q, 10)
            assert [d for d, _ in got] == [d for d, _ in expect], q
            np.testing.assert_allclose(
                [s for _, s in got], [s for _, s in expect], atol=1e-9
            )
        assert (idx._lexicon_pd is None) == (lexicon_cache_max == 0)
