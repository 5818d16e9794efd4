"""Partitioning-invariance and kill-resume tests (SURVEY.md §5.4).

- results identical under different input partitioning and bucket/salt
  counts;
- a killed build (simulated by deleting a committed tpart unit, or only
  a stage manifest) resumes by rebuilding ONLY the missing unit, and the
  resumed index is identical to a fresh build; a stage tf without its
  stage stats re-runs the scan;
- a root whose tf stage has no tpart layout is refused, not resumed.
"""

import glob
import json
import os
import shutil

import numpy as np
import pytest

from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex
from pyfusedb_spark.oracle import OracleIndex
from pyfusedb_spark.sources.corpus import synthetic_code_corpus

from tests.test_oracle import PANGRAMS

QUERIES = ["quick fox", "jumping wizards", "flower bloom dog"]


def _search_all(idx: FuseIndex, queries=QUERIES):
    return {q: idx.search(q, 10) for q in queries}


def test_invariance_under_partitioning_and_salt(spark, tmp_path):
    corpus8 = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    ).repartition(8)
    corpus2 = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    ).repartition(2)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    build_index(spark, corpus8, out_a, doc_id_col="doc_id",
                config=IndexConfig(n_buckets=1, shuffle_partitions=2))
    build_index(spark, corpus2, out_b, doc_id_col="doc_id",
                config=IndexConfig(n_buckets=5, shuffle_partitions=7))
    ia, ib = FuseIndex(spark, out_a), FuseIndex(spark, out_b)
    oracle = OracleIndex(Analyzer("english")).build(PANGRAMS)
    for q in QUERIES:
        ra, rb = ia.search(q, 10), ib.search(q, 10)
        expect = oracle.search_bm25(q, 10)
        assert [d for d, _ in ra] == [d for d, _ in rb] == [d for d, _ in expect]
        np.testing.assert_allclose([s for _, s in ra], [s for _, s in rb], atol=1e-9)


def test_kill_resume_file_shuffle(spark, tmp_path):
    """File-shuffle posting mode: the resume unit is one TPART (a term-
    hash slice spanning every bucket). Deleting one tpart's slices +
    manifest must rebuild exactly that tpart and leave the other tparts'
    files untouched, and the resumed index must answer identically."""
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    out = str(tmp_path / "resume_fs")
    cfg = IndexConfig(n_buckets=2, shuffle_partitions=4, n_tparts=4)
    build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg)
    idx = FuseIndex(spark, out)
    before = _search_all(idx)

    victim = 1
    for d in glob.glob(os.path.join(out, "index", "bucket=*", f"tpart={victim}")):
        shutil.rmtree(d)
    shutil.rmtree(os.path.join(out, "lexicon", f"tpart={victim}"), ignore_errors=True)
    os.remove(os.path.join(out, "_manifests", f"tpart={victim}.json"))

    untouched = {
        p: os.path.getmtime(p)
        for tp in (0, 2, 3)
        for p in glob.glob(os.path.join(out, "index", "bucket=*", f"tpart={tp}", "*.parquet"))
    }
    assert untouched, "expected surviving tpart slices"

    build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg, resume=True)

    for p, mtime in untouched.items():
        assert os.path.getmtime(p) == mtime, f"{p} was rebuilt but should have been skipped"
    assert glob.glob(os.path.join(out, "index", "bucket=*", f"tpart={victim}")), (
        "victim tpart was not rebuilt"
    )
    after = _search_all(FuseIndex(spark, out))
    assert before == after


def test_kill_resume_file_shuffle_masked_stage_manifest(spark, tmp_path):
    """A committed stage_postings manifest must never mask deleted tpart
    data (the stage unit validates every tpart's data dirs)."""
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    out = str(tmp_path / "resume_fs2")
    cfg = IndexConfig(n_buckets=2, shuffle_partitions=4, n_tparts=4)
    build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg)
    before = _search_all(FuseIndex(spark, out))
    for d in glob.glob(os.path.join(out, "index", "bucket=*", "tpart=2")):
        shutil.rmtree(d)  # data gone, manifests (incl. stage) all intact
    build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg, resume=True)
    assert _search_all(FuseIndex(spark, out)) == before


def _parquet_mtimes(out: str) -> dict:
    return {
        p: os.path.getmtime(p)
        for sub in ("index", "lexicon")
        for p in glob.glob(os.path.join(out, sub, "**", "*.parquet"), recursive=True)
    }


def test_resume_rederives_missing_stage_lexicon(spark, tmp_path):
    """A crash after the stage_postings commit but before stage_lexicon's
    resumes from the committed tpart manifests alone: the same
    vocabulary/n_postings, no chunk or lexicon file rewritten, and the
    same search results."""
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    out = str(tmp_path / "resume_lex")
    cfg = IndexConfig(n_buckets=2, shuffle_partitions=4, n_tparts=4)
    first = build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg)
    before = _search_all(FuseIndex(spark, out))
    mtimes = _parquet_mtimes(out)
    assert mtimes, "expected chunk and lexicon files"

    os.remove(os.path.join(out, "_manifests", "stage_lexicon.json"))
    again = build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg, resume=True)

    assert (again["vocabulary"], again["n_postings"]) == (
        first["vocabulary"], first["n_postings"])
    assert os.path.exists(os.path.join(out, "_manifests", "stage_lexicon.json"))
    assert _parquet_mtimes(out) == mtimes, "a resume rewrote index/lexicon files"
    assert _search_all(FuseIndex(spark, out)) == before


def test_resume_without_stage_stats_reruns_tf(spark, tmp_path):
    """stage_stats is committed from the scan's task rows just before
    stage_tf; a stage_tf without it re-runs the scan (no read-back of
    tf/ or doc_stats/) and the resumed index is identical."""
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    out = str(tmp_path / "resume_stats")
    cfg = IndexConfig(n_buckets=2, shuffle_partitions=4, n_tparts=4)
    first = build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg)
    before = _search_all(FuseIndex(spark, out))
    tf_mtimes = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(out, "tf", "**", "*.parquet"), recursive=True)
    }
    assert tf_mtimes, "expected tf files"

    os.remove(os.path.join(out, "_manifests", "stage_stats.json"))
    again = build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg, resume=True)

    assert not any(
        os.path.exists(p) and os.path.getmtime(p) == m for p, m in tf_mtimes.items()
    ), "stage tf was not re-run"
    keys = ("n_docs", "avgdl", "total_len", "sha256_lineage_sum", "vocabulary", "n_postings")
    assert {k: again[k] for k in keys} == {k: first[k] for k in keys}
    assert os.path.exists(os.path.join(out, "_manifests", "stage_stats.json"))
    assert _search_all(FuseIndex(spark, out)) == before


def test_resume_refuses_pre_tpart_stage_tf(spark, tmp_path):
    """A stage_tf manifest without n_tparts is the layout the retired
    live-exchange posting modes wrote: build_index refuses it, resumed
    or not, instead of mixing layouts."""
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    out = str(tmp_path / "legacy")
    cfg = IndexConfig(n_buckets=2, compute_norms=False)
    build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg)
    path = os.path.join(out, "_manifests", "stage_tf.json")
    with open(path) as f:
        m = json.load(f)
    m.pop("n_tparts")
    m.pop("tpart_spread")
    with open(path, "w") as f:
        json.dump(m, f)
    for resume in (True, False):
        with pytest.raises(ValueError, match="fresh directory"):
            build_index(spark, corpus, out, doc_id_col="doc_id", config=cfg,
                        resume=resume)
    assert os.path.exists(path), "the refusal must not uncommit anything"


def test_tpart_crc32_parity(spark):
    """udfs.term_tpart (zlib.crc32) must equal the JVM expression used by
    streaming appends — pmod(crc32(encode(term,'utf-8')), n)."""
    from pyspark.sql import functions as F

    from pyfusedb_spark.functions.udfs import term_tpart

    terms = ["return", "mergeSegment", "a", "_x9", "ünïcode", "日本語", ""]
    df = spark.createDataFrame([(t,) for t in terms], "term string").withColumn(
        "tp", F.pmod(F.crc32(F.encode(F.col("term"), "UTF-8")), F.lit(16)).cast("int")
    )
    jvm = {r["term"]: r["tp"] for r in df.collect()}
    for t in terms:
        assert jvm[t] == term_tpart(t, 16), t


def test_synthetic_corpus_deterministic_and_invariant(spark):
    a = synthetic_code_corpus(spark, 600, n_partitions=4).orderBy("path").collect()
    b = synthetic_code_corpus(spark, 600, n_partitions=9).orderBy("path").collect()
    assert a == b
    # empty + duplicate rows present as specified (FIXTURES.md §1)
    contents = {r["path"]: r["content"] for r in a}
    empties = [p for p, c in contents.items() if c == ""]
    assert empties, "expected some empty docs"
    by_num = {p.split("file")[1].split(".")[0]: c for p, c in contents.items()}
    assert by_num["499"] == by_num["498"] and by_num["499"] != ""


def test_sha256_lineage_invariant(spark, tmp_path):
    """input_hint per-row invariant: sha256 lineage equal across rebuilds."""
    out_a, out_b = str(tmp_path / "la"), str(tmp_path / "lb")
    corpus = synthetic_code_corpus(spark, 200, n_partitions=3)
    sa = build_index(spark, corpus, out_a, sort_cols=["repo", "path", "commit"],
                     config=IndexConfig(preset="code", n_buckets=2, compute_norms=False,
                                        shuffle_partitions=4))
    sb = build_index(spark, corpus.repartition(7), out_b, sort_cols=["repo", "path", "commit"],
                     config=IndexConfig(preset="code", n_buckets=3, compute_norms=False,
                                        shuffle_partitions=4))
    assert sa["sha256_lineage_sum"] == sb["sha256_lineage_sum"]
    assert sa["n_docs"] == sb["n_docs"] == 200
    assert sa["n_postings"] == sb["n_postings"]


def test_sha256_lineage_equals_hashlib_sum(spark, tmp_path):
    """The lineage is the exact (unbounded) Σ of 60-bit sha256 prefixes:
    200 docs overflow int64, which build-vs-build equality would miss."""
    import hashlib

    corpus = synthetic_code_corpus(spark, 200, n_partitions=3)
    stats = build_index(spark, corpus, str(tmp_path / "lin"),
                        sort_cols=["repo", "path", "commit"],
                        config=IndexConfig(preset="code", n_buckets=2, compute_norms=False,
                                           shuffle_partitions=4))
    expect = sum(
        int(hashlib.sha256((r["content"] or "").encode("utf-8")).hexdigest()[:15], 16)
        for r in corpus.select("content").collect()
    )
    assert expect >= 2**63
    assert stats["sha256_lineage_sum"] == str(expect)


def test_orphan_staging_dirs_are_cleaned(tmp_path):
    """ADVICE round-1: `bucket=k.tmp-*` staging dirs left by a killed run
    must not survive into a resume (they'd match `dir/*/*.parquet` globs
    and double-count chunks in the lexicon)."""
    import os

    from pyfusedb_spark.sources.catalog import ManifestCatalog

    root = tmp_path / "idx"
    good = root / "index" / "bucket=0"
    orphan = root / "index" / "bucket=1.tmp-deadbeef"
    nested_orphan = root / "lexicon.tmp-cafebabe"
    for d in (good, orphan, nested_orphan):
        os.makedirs(d)
        (d / "part-0.parquet").write_bytes(b"x")
    ManifestCatalog(str(root)).clean_orphan_staging(str(root))
    assert good.exists()
    assert not orphan.exists()
    assert not nested_orphan.exists()


def test_promote_dir_drops_sibling_stagings(tmp_path):
    import os

    from pyfusedb_spark.sources.catalog import ManifestCatalog

    final = tmp_path / "bucket=3"
    stale = tmp_path / "bucket=3.tmp-00000000"
    fresh = tmp_path / "bucket=3.tmp-11111111"
    os.makedirs(stale)
    os.makedirs(fresh)
    (fresh / "part-0.parquet").write_bytes(b"y")
    ManifestCatalog.promote_dir(str(fresh), str(final))
    assert (final / "part-0.parquet").exists()
    assert not stale.exists() and not fresh.exists()


def test_default_n_tparts_corpus_derived():
    """The file-shuffle fan-out default scales with the corpus, not the
    cluster: toy builds must not pay cluster-sized tf file fan-out
    (bench A/B: 5k docs at 128 tparts was 9x slower than at 1-4), and
    the 4x-parallelism cap keeps the skew-amortizing 4-wave shape."""
    from pyfusedb_spark.operators.build import DOCS_PER_TPART, _default_n_tparts

    assert _default_n_tparts(0, 32) == 1
    assert _default_n_tparts(5_000, 32) == 1
    assert _default_n_tparts(150_000, 32) == 10
    assert _default_n_tparts(1_000_000, 16) == 64  # the scaling-bench point
    assert _default_n_tparts(10**9, 16) == 64  # capped at 4x parallelism
    assert _default_n_tparts(10**6, 4096) == 10**6 // DOCS_PER_TPART  # 64, uncapped
    assert _default_n_tparts(10**9, 4096) == 4 * 4096  # cap binds at 10^9 docs
