"""End-to-end spark-submit --py-files packaging test (north rule).

Proves the pipeline ships as a zip + job scripts with NO repo checkout
visible to the driver/executors: cwd is a temp dir, PYTHONPATH is
scrubbed, the engine arrives only via --py-files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    from pyfusedb_spark.sources.corpus import synthetic_code_corpus

    out = str(tmp_path_factory.mktemp("submit") / "corpus")
    synthetic_code_corpus(spark, 400, 4, with_doc_id=True).write.parquet(out)
    return out


def _make_zip(tmp_path):
    zpath = str(tmp_path / "pyfusedb_spark.zip")
    pkg = os.path.join(REPO, "pyfusedb_spark")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.join("pyfusedb_spark", os.path.relpath(full, pkg)))
    return zpath


def _submit_env():
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # engine must arrive via --py-files only
    return env


def _run_build_and_query(corpus_dir, tmp_path, build_extra):
    zpath = _make_zip(tmp_path)
    idx_dir = str(tmp_path / "idx")
    workdir = str(tmp_path / "cwd")
    os.makedirs(workdir)
    env = _submit_env()
    common = [
        SPARK_SUBMIT, "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zpath,
    ]
    r = subprocess.run(
        [*common, os.path.join(REPO, "jobs", "build_index.py"),
         "--input", corpus_dir, "--out", idx_dir,
         "--doc-id-col", "doc_id", "--preset", "code", "--buckets", "2",
         "--no-norms", *build_extra],
        cwd=workdir, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    stats = json.loads(r.stdout[r.stdout.index("{"):])
    assert stats["n_docs"] == 400 and stats["vocabulary"] > 100

    r2 = subprocess.run(
        [*common, os.path.join(REPO, "jobs", "query_index.py"),
         "--index", idx_dir, "--query", "merge sort", "--query", "return", "--k", "5"],
        cwd=workdir, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-3000:]
    lines = [json.loads(ln) for ln in r2.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 2
    assert all(len(ln["hits"]) == 5 for ln in lines)
    # scores strictly ranked, ties by doc_id
    for ln in lines:
        hits = ln["hits"]
        assert all(
            (a[1] > b[1]) or (a[1] == b[1] and a[0] < b[0])
            for a, b in zip(hits, hits[1:])
        )
    return idx_dir, stats, lines


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_file_shuffle_default(corpus_dir, tmp_path):
    """The job builds with the production file-shuffle pipeline
    (round-3 verdict defect #1): explicit --n-tparts, and the resulting
    index must carry the tpart layout."""
    idx_dir, stats, lines = _run_build_and_query(
        corpus_dir, tmp_path, ["--n-tparts", "2"])
    assert stats.get("n_tparts") == 2
    # tpart-partitioned chunk layout on disk
    bucket_dirs = [d for d in os.listdir(os.path.join(idx_dir, "index"))
                   if d.startswith("bucket=")]
    assert bucket_dirs
    assert any(
        sub.startswith("tpart=")
        for b in bucket_dirs
        for sub in os.listdir(os.path.join(idx_dir, "index", b))
    )


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_stream_index(spark, tmp_path):
    """Round-5 task: the streaming writer is reachable from spark-submit
    (jobs/stream_index.py). Drop 3 parquet files, drain with
    availableNow, query the appended index, then drop one more file and
    re-submit — the checkpoint must skip the first three batches and
    append only the fourth."""
    from pyfusedb_spark.sources.corpus import synthetic_code_corpus

    incoming = str(tmp_path / "incoming")
    os.makedirs(incoming)
    full = synthetic_code_corpus(spark, 120, 4, with_doc_id=True).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(3):
        pq.write_table(
            pa.Table.from_pandas(full.iloc[i * 30: (i + 1) * 30], preserve_index=False),
            os.path.join(incoming, f"f{i}.parquet"),
        )

    zpath = _make_zip(tmp_path)
    idx_dir = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    workdir = str(tmp_path / "cwd")
    os.makedirs(workdir)
    env = _submit_env()
    common = [
        SPARK_SUBMIT, "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zpath,
    ]
    schema = ("repo string, path string, commit string, lang string, "
              "content string, doc_id bigint")
    submit = [*common, os.path.join(REPO, "jobs", "stream_index.py"),
              "--input", incoming, "--out", idx_dir, "--schema", schema,
              "--checkpoint", ckpt, "--preset", "code",
              "--compact-postings-every", "2"]
    r = subprocess.run(submit, cwd=workdir, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    stats = json.loads(r.stdout[r.stdout.index("{"):])
    assert stats["n_docs"] == 90
    # K=2 over 3 batches -> at least one tiered fold happened
    assert stats["stream_segments"], stats

    r2 = subprocess.run(
        [*common, os.path.join(REPO, "jobs", "query_index.py"),
         "--index", idx_dir, "--query", "return", "--k", "5"],
        cwd=workdir, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-3000:]
    hits = [json.loads(ln) for ln in r2.stdout.splitlines() if ln.startswith("{")]
    assert hits and len(hits[0]["hits"]) == 5

    # late file + resubmit: checkpoint resumes, appends ONLY batch 3
    pq.write_table(
        pa.Table.from_pandas(full.iloc[90:120], preserve_index=False),
        os.path.join(incoming, "f3.parquet"),
    )
    r3 = subprocess.run(submit, cwd=workdir, env=env,
                        capture_output=True, text=True, timeout=600)
    assert r3.returncode == 0, r3.stderr[-3000:]
    stats3 = json.loads(r3.stdout[r3.stdout.index("{"):])
    assert stats3["n_docs"] == 120
    assert stats3["last_batch_id"] == 3
