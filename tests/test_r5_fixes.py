"""Round-5 ADVICE regressions:

1. streaming writer GCs `bucket=N.tmp-xxx` staging orphans on init
   (crash during a compaction's staged write must not leave a mixed
   string/int hive partition population in index/);
2. `fsio.move` of a DIRECTORY on a non-rename filesystem (S3/GCS have
   no directory move) degrades to recursive copy + delete;
3. `fsio.find_tmp_dirs` keeps the URI authority (hdfs://host:port);
4. build pre-wave cleanup deletes stale out-of-range tpart dirs left by
   a rebuild with a smaller n_tparts, and uncommitted tparts' partial
   output, before launching the encoder wave.
"""

import numpy as np
import pyarrow as pa
import pytest

from pyfusedb_spark import fsio
from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex
from pyfusedb_spark.oracle import OracleIndex
from pyfusedb_spark.streaming.incremental import IncrementalIndexWriter

from tests.test_oracle import PANGRAMS

CFG = IndexConfig(preset="english", n_buckets=1, shuffle_partitions=4)


def _df(spark, docs, base=0):
    return spark.createDataFrame(
        [(i + base, c) for i, c in enumerate(docs)], "doc_id long, content string"
    )


# -- 1. streaming staging-orphan GC ----------------------------------------

def test_streaming_init_gcs_staging_orphans(spark, tmp_path):
    out = str(tmp_path / "idx")
    w = IncrementalIndexWriter(spark, out, config=CFG)
    w.process_batch(_df(spark, PANGRAMS[:4]), 0)

    # simulate a crash mid-staged-write: a tmp dir full of junk parquet
    # sitting inside index/ (hive partition inference would type the
    # whole `bucket` column as string because of this name)
    idx = fsio.join(out, "index")
    orphan = fsio.join(idx, "bucket=1000099.tmp-deadbeef")
    fsio.makedirs(orphan)
    pa_tbl = pa.table({"junk": [1]})
    fsio.write_parquet_atomic(pa_tbl, fsio.join(orphan, "part-0.parquet"))
    lex_orphan = fsio.join(out, "lexicon", "seg=99.tmp-deadbeef")
    fsio.makedirs(lex_orphan)

    w2 = IncrementalIndexWriter(spark, out, config=CFG)
    assert not fsio.exists(orphan), "init must GC index staging orphans"
    assert not fsio.exists(lex_orphan), "init must GC lexicon staging orphans"

    # and the index still answers correctly afterwards
    w2.process_batch(_df(spark, PANGRAMS[4:8], base=4), 1)
    oracle = OracleIndex(Analyzer("english")).build(PANGRAMS[:8])
    got = FuseIndex(spark, out).search("quick fox", 10)
    expect = oracle.search_bm25("quick fox", 10)
    assert [d for d, _ in got] == [d for d, _ in expect]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)


# -- 2. directory move on a no-rename filesystem ----------------------------

def test_fs_move_dir_without_rename_support(tmp_path, monkeypatch):
    """Simulate S3/GCS: force the non-local branch of _fs_move while the
    underlying fs is Arrow's LocalFileSystem — the directory must arrive
    via the recursive copy_files + delete_dir fallback (S3FileSystem.move
    raises NotImplementedError for directories)."""
    import pyarrow.fs as pafs

    monkeypatch.setattr(fsio, "_is_local_fs", lambda fs: False)
    fs = pafs.LocalFileSystem()
    src = tmp_path / "src"
    (src / "nested").mkdir(parents=True)
    (src / "a.txt").write_bytes(b"alpha")
    (src / "nested" / "b.txt").write_bytes(b"beta")
    dst = tmp_path / "dst"

    fsio._fs_move(fs, str(src), str(dst))
    assert not src.exists()
    assert (dst / "a.txt").read_bytes() == b"alpha"
    assert (dst / "nested" / "b.txt").read_bytes() == b"beta"

    # file move still works through the same dispatch
    f1 = tmp_path / "one.txt"
    f1.write_bytes(b"x")
    fsio._fs_move(fs, str(f1), str(tmp_path / "two.txt"))
    assert (tmp_path / "two.txt").read_bytes() == b"x"
    assert not f1.exists()


# -- 3. URI authority preservation ------------------------------------------

def test_uri_prefix_preserves_authority():
    assert fsio._uri_prefix("hdfs://host:9000/data/idx", "/data/idx") == "hdfs://host:9000"
    assert fsio._uri_prefix("s3://bucket/data/idx", "bucket/data/idx") == "s3://"
    assert fsio._uri_prefix("file:///tmp/x", "/tmp/x") == "file://"
    # trailing slash on the root must not break the suffix match
    assert fsio._uri_prefix("hdfs://h:1/p/", "/p") == "hdfs://h:1"
    # normalization mismatch falls back to scheme-only (never crashes)
    assert fsio._uri_prefix("hdfs://h:1/p%20q", "/p q") == "hdfs://"


def test_find_tmp_dirs_round_trips_file_uri(tmp_path):
    root = f"file://{tmp_path}/store"
    fsio.makedirs(fsio.join(root, "index/bucket=0.tmp-x/child"))
    fsio.makedirs(fsio.join(root, "index/bucket=0"))
    found = fsio.find_tmp_dirs(root)
    assert found == [f"file://{tmp_path}/store/index/bucket=0.tmp-x"]
    fsio.rmtree(found[0])  # the returned URI must resolve for deletion
    assert fsio.find_tmp_dirs(root) == []


# -- tfidf norms: candidate-only fetch ---------------------------------------

def test_tfidf_norms_fetch_is_candidate_bounded(spark, tmp_path):
    """The tfidf driver scorer must never materialize more doc_stats
    rows than it has candidate docs (round-4 verdict #2: the old path
    toPandas()'d EVERY norm — O(n_docs) driver memory per index)."""
    out = str(tmp_path / "idx")
    cfg = IndexConfig(preset="english", n_buckets=2, shuffle_partitions=4, n_tparts=2)
    build_index(spark, _df(spark, PANGRAMS), out, doc_id_col="doc_id", config=cfg)

    idx = FuseIndex(spark, out)
    analyzer = Analyzer("english")
    oracle = OracleIndex(analyzer).build(PANGRAMS)

    fetched_rows = []
    orig = FuseIndex._fetch_norm_rows

    def spy(self, ids):
        pdf = orig(self, ids)
        fetched_rows.append(len(pdf))
        return pdf

    FuseIndex._fetch_norm_rows = spy
    try:
        for q in ["quick fox", "jumping wizards"]:
            # candidates = docs containing >=1 query term (disjunctive)
            terms = analyzer.preprocess_query(q)  # dict term -> qtf
            cand = set()
            for t in terms:
                cand.update(d for d, _ in oracle.postings.get(t, ()))
            before = sum(fetched_rows)
            got = idx.search(q, 10, mode="tfidf")
            fetched_now = sum(fetched_rows) - before
            assert fetched_now <= len(cand) < idx.n_docs, (
                q, fetched_now, len(cand), idx.n_docs
            )
            expect = oracle.search_tfidf(q, 10)
            # norms are distributed float sums, so EXACT score ties can
            # order differently than the oracle depending on shuffle
            # partitioning — compare rank with ulp-tie tolerance
            def canon(pairs):
                return sorted(
                    ((d, round(s, 9)) for d, s in pairs),
                    key=lambda x: (-x[1], x[0]),
                )

            assert canon(got) == canon(expect), q
        # repeat query: warm cache, ZERO additional rows fetched
        before = sum(fetched_rows)
        idx.search("quick fox", 10, mode="tfidf")
        assert sum(fetched_rows) == before
    finally:
        FuseIndex._fetch_norm_rows = orig


# -- assign_doc_ids over a corpus that already has a doc_id column -----------

def test_assign_doc_ids_replaces_existing_id_column(spark):
    """A corpus whose schema already contains doc_id (but whose values
    the caller chose not to trust) used to come back with TWO doc_id
    attributes — the very next select raised AMBIGUOUS_REFERENCE. The
    fresh ranks must replace the stale column in place."""
    from pyfusedb_spark.operators.ids import assign_doc_ids

    df = spark.createDataFrame(
        [(99, "b"), (42, "a"), (7, "c")], "doc_id long, content string"
    )
    out = assign_doc_ids(df, ["content"])
    assert out.columns == ["doc_id", "content"]
    rows = {r["content"]: r["doc_id"] for r in out.collect()}
    assert rows == {"a": 0, "b": 1, "c": 2}
    out._pyfusedb_cache.unpersist()

    # end-to-end: build_index with doc_id_col=None over such a corpus
    # must analyze cleanly (ids are re-ranked by the sort key)
    out2 = assign_doc_ids(df, ["content"]).select("doc_id", "content")
    assert out2.count() == 3


# -- 4. stale tpart dirs on rebuild -----------------------------------------

def test_rebuild_smaller_ntparts_drops_stale_tpart_dirs(spark, tmp_path):
    out = str(tmp_path / "idx")
    cfg4 = IndexConfig(preset="english", n_buckets=2, shuffle_partitions=4, n_tparts=4)
    build_index(spark, _df(spark, PANGRAMS), out, doc_id_col="doc_id", config=cfg4)

    # rebuild the same root with HALF the tparts: the old tpart=2,3 dirs
    # must not survive (nothing task-side would ever clean them)
    cfg2 = IndexConfig(preset="english", n_buckets=2, shuffle_partitions=4, n_tparts=2)
    build_index(
        spark, _df(spark, PANGRAMS), out, doc_id_col="doc_id", config=cfg2, resume=False
    )

    idx_dir = fsio.join(out, "index")
    for bucket in fsio.listdir(idx_dir):
        if not bucket.startswith("bucket="):
            continue
        tps = [
            int(n.split("=", 1)[1])
            for n in fsio.listdir(fsio.join(idx_dir, bucket))
            if n.startswith("tpart=")
        ]
        assert tps and max(tps) < 2, f"stale tpart dirs survive in {bucket}: {tps}"
    lex_tps = [
        int(n.split("=", 1)[1])
        for n in fsio.listdir(fsio.join(out, "lexicon"))
        if n.startswith("tpart=")
    ]
    assert lex_tps and max(lex_tps) < 2

    # and scoring is still oracle-exact (no double-counted postings)
    oracle = OracleIndex(Analyzer("english")).build(PANGRAMS)
    fidx = FuseIndex(spark, out)
    for q in ["quick fox", "jumping wizards"]:
        got = fidx.search(q, 10)
        expect = oracle.search_bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expect], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in expect], atol=1e-9
        )


def test_prewave_cleanup_drops_uncommitted_partial_output(spark, tmp_path):
    """A crashed tpart task's partial dir is reader-visible (FuseIndex
    lists index/). The driver must delete uncommitted tparts' dirs
    before the wave so a resume never scores duplicated postings."""
    out = str(tmp_path / "idx")
    cfg = IndexConfig(preset="english", n_buckets=1, shuffle_partitions=4, n_tparts=2)
    build_index(spark, _df(spark, PANGRAMS), out, doc_id_col="doc_id", config=cfg)

    from pyfusedb_spark.sources.catalog import ManifestCatalog

    cat = ManifestCatalog(out)
    # invalidate tpart=1 (simulates "task wrote files then died before
    # its manifest commit"): duplicate its chunk file to fake a partial
    # double-write, then uncommit
    idx_dir = fsio.join(out, "index")
    bucket0 = fsio.join(idx_dir, "bucket=0", "tpart=1")
    files = [n for n in fsio.listdir(bucket0) if n.endswith(".parquet")]
    assert files
    src = fsio.join(bucket0, files[0])
    dup = fsio.join(bucket0, "part-duplicate.parquet")
    import shutil

    shutil.copyfile(src, dup)
    cat.uncommit("tpart=1")
    cat.uncommit("stage_postings")
    cat.uncommit("stage_stats")

    build_index(spark, _df(spark, PANGRAMS), out, config=cfg, resume=True)
    assert not fsio.exists(dup), "pre-wave cleanup must remove partial output"
    oracle = OracleIndex(Analyzer("english")).build(PANGRAMS)
    got = FuseIndex(spark, out).search("quick fox", 10)
    expect = oracle.search_bm25("quick fox", 10)
    assert [d for d, _ in got] == [d for d, _ in expect]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)


# -- r5 review findings -----------------------------------------------------

def test_norms_eviction_never_corrupts_current_query(spark, tmp_path):
    """FIFO norm-cache eviction must not evict ids the CURRENT query
    still needs before the read-back (review finding: old cached ids
    mixed with enough fresh misses got the 1.0 fallback silently)."""
    out = str(tmp_path / "idx")
    cfg = IndexConfig(preset="english", n_buckets=2, shuffle_partitions=4, n_tparts=2)
    build_index(spark, _df(spark, PANGRAMS), out, doc_id_col="doc_id", config=cfg)
    idx = FuseIndex(spark, out)
    true = idx._fetch_norm_rows(np.arange(len(PANGRAMS), dtype=np.int64))
    truth = dict(zip(true["doc_id"].tolist(), true["norm"].tolist()))

    idx._norms_cache_budget = 4 * idx._norms_cache.ENTRY_BYTES  # force eviction pressure
    idx._norms_cache.clear()
    idx._norms_for(np.array([0], dtype=np.int64))  # id 0 = oldest entry
    # current query: old id 0 + 6 fresh misses -> eviction must not
    # reach into THIS call's answer
    got = idx._norms_for(np.array([0, 1, 2, 3, 4, 5, 6], dtype=np.int64))
    for i, d in enumerate([0, 1, 2, 3, 4, 5, 6]):
        expect = truth.get(d, 1.0)
        assert got[i] == pytest.approx(expect, abs=1e-12), (d, got[i], expect)
    assert len(idx._norms_cache) <= 4
    assert idx._norms_cache.nbytes <= idx._norms_cache_budget


def test_compaction_stops_at_top_level_instead_of_wedging(spark, tmp_path, monkeypatch):
    """At small K the level cap is reachable; the cascade must STOP at
    the top level (segments accumulate) — not raise out of
    stream_seg_bucket and wedge the stream (review finding)."""
    import pyfusedb_spark.layout as layout
    import pyfusedb_spark.streaming.incremental as inc

    monkeypatch.setattr(layout, "STREAM_MAX_LEVELS", 3)
    monkeypatch.setattr(inc, "STREAM_MAX_LEVELS", 3)

    out = str(tmp_path / "idx")
    w = IncrementalIndexWriter(spark, out, config=CFG)
    w.compact_postings_every = 2
    docs = [PANGRAMS[i % len(PANGRAMS)] for i in range(32)]
    for b in range(16):  # 16 batches at K=2 > 2^3 -> cap reached
        w.process_batch(_df(spark, docs[2 * b: 2 * b + 2], base=2 * b), b)
    levels = sorted(int(s["level"]) for s in w.stream_segments)
    assert levels and max(levels) == 2  # capped at top level (3 levels: 0..2)
    assert levels.count(2) >= 2  # top level accumulates instead of folding

    idx = FuseIndex(spark, out)
    oracle = OracleIndex(Analyzer("english")).build(list(enumerate(docs)))
    got = idx.search("quick fox", 10)
    expect = oracle.search_bm25("quick fox", 10)
    assert [d for d, _ in got] == [d for d, _ in expect]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)


def test_unflipped_first_segment_is_invisible(spark, tmp_path):
    """Before the FIRST fold's stats flip, a promoted segment dir must
    be invisible to readers (review finding: empty stream_segments
    returned 'no filtering')."""
    import shutil

    from pyfusedb_spark.layout import STREAM_BATCH_BUCKET_BASE, stream_seg_bucket

    out = str(tmp_path / "idx")
    w = IncrementalIndexWriter(spark, out, config=CFG)
    w.compact_postings_every = 100  # no fold ever happens in this test
    half = len(PANGRAMS) // 2
    w.process_batch(_df(spark, PANGRAMS[:half]), 0)
    w.process_batch(_df(spark, PANGRAMS[half:], base=half), 1)
    baseline = FuseIndex(spark, out).search("quick", 10)
    assert baseline

    # simulate a crash between promote and flip of the FIRST fold
    idx_dir = f"{out}/index"
    src = f"{idx_dir}/bucket={STREAM_BATCH_BUCKET_BASE + 0}"
    shutil.copytree(src, f"{idx_dir}/bucket={stream_seg_bucket(0, 0)}")
    assert FuseIndex(spark, out).search("quick", 10) == baseline


def test_pretiered_index_refused_not_gcd(spark, tmp_path):
    """A pre-tiered index (streamed batches, stats without
    stream_segments) must be refused loudly — NOT have its live batch
    dirs silently GC'd (review finding)."""
    import json as _json

    out = str(tmp_path / "idx")
    w = IncrementalIndexWriter(spark, out, config=CFG)
    w.process_batch(_df(spark, PANGRAMS[:4]), 0)
    # rewrite stats as a pre-tiered writer would have left them
    st = _json.load(open(f"{out}/stats.json"))
    st.pop("stream_segments", None)
    st.pop("compaction_bytes_written", None)
    _json.dump(st, open(f"{out}/stats.json", "w"))
    with pytest.raises(ValueError, match="pre-tiered"):
        IncrementalIndexWriter(spark, out, config=CFG)


def test_rebuild_over_streamed_index_refused(spark, tmp_path):
    """build_index over a root that carries streamed appends must refuse
    loudly: its pre-wave cleanup and stats.json rewrite would otherwise
    drop the streamed postings — with resume=False every tpart is
    uncommitted, so every streamed bucket's tpart dirs went."""
    out = str(tmp_path / "idx")
    half = len(PANGRAMS) // 2
    cfg = IndexConfig(preset="english", n_buckets=2, shuffle_partitions=4, n_tparts=2)
    build_index(spark, _df(spark, PANGRAMS[:half]), out, doc_id_col="doc_id", config=cfg)
    IncrementalIndexWriter(spark, out, config=cfg).process_batch(
        _df(spark, PANGRAMS[half:], base=half), 0
    )
    for resume in (False, True):
        with pytest.raises(ValueError, match="streamed"):
            build_index(spark, _df(spark, PANGRAMS[:half]), out, doc_id_col="doc_id",
                        config=cfg, resume=resume)
    oracle = OracleIndex(Analyzer("english")).build(PANGRAMS)
    idx = FuseIndex(spark, out)
    for q in ("quick fox", "jumping wizards", "flower bloom dog"):
        got = idx.search(q, 10)
        expect = oracle.search_bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expect], q
        np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)
