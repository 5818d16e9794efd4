"""The driver's chunk fetch (``operators.query.read_bucket_rows``) must
return exactly the rows a full dataset scan filtered on ``term`` returns,
for every kind of bucket dir a search reads, while opening one tpart dir
per term and bucket and only the row groups whose footer covers a term."""

import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from pyfusedb_spark import fsio
from pyfusedb_spark.functions.udfs import write_chunk_file
from pyfusedb_spark.layout import STREAM_BATCH_BUCKET_BASE as BB, stream_seg_bucket
from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex, chunk_frame, read_bucket_rows
from pyfusedb_spark.streaming.incremental import IncrementalIndexWriter

from tests.test_oracle import PANGRAMS

COLS = ["term", "df_chunk", "payload", "block_first", "block_last",
        "block_max_partial", "max_partial"]
DOCS = [PANGRAMS[i % len(PANGRAMS)] + f" filler{i} extra{i % 5}" for i in range(36)]


def _append(writer, spark, batch_id, ids):
    writer.process_batch(
        spark.createDataFrame([(i, DOCS[i]) for i in ids], "doc_id long, content string"),
        batch_id,
    )


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    """A default-layout root (2 base buckets x 2 tparts, a level-0 segment
    and a live batch) and a flat stream-only root (a segment and a batch)."""
    base = tmp_path_factory.mktemp("fetch")
    tpart_root = str(base / "tpart")
    cfg = IndexConfig(preset="english", n_buckets=2, n_tparts=2, shuffle_partitions=2)
    build_index(spark, spark.createDataFrame([(i, DOCS[i]) for i in range(24)],
                                             "doc_id long, content string"),
                tpart_root, doc_id_col="doc_id", config=cfg)
    flat_root = str(base / "flat")
    for root, first in ((tpart_root, 24), (flat_root, 0)):
        w = IncrementalIndexWriter(spark, root, config=cfg)
        w.compact_postings_every = 2
        for b in range(3):
            _append(w, spark, b, range(first + 4 * b, first + 4 * b + 4))
    return tpart_root, flat_root


def _bucket_dirs(root):
    """(kind, bucket, dir) of each bucket a search reads in these roots."""
    seg = stream_seg_bucket(0, 0)
    kinds = {0: "base", 1: "base", seg: "segment", BB + 2: "batch"}
    out = []
    for k, kind in kinds.items():
        d = os.path.join(root, "index", f"bucket={k}")
        if os.path.isdir(d):
            out.append((kind, k, d))
    return out


def _rows(tbl):
    if tbl is None:
        return []
    return sorted(zip(*(tbl.column(c).to_pylist() for c in COLS)))


def _reference(bucket_dir, terms):
    ds = pads.dataset(bucket_dir, format="parquet", partitioning="hive")
    return _rows(ds.to_table(filter=pc.field("term").isin(terms), columns=COLS))


def _term_sets(bucket_dir, seed, n=25):
    """Random term sets over the dir's terms, the first/last term of every
    row group, and terms no file holds (below, between and above all)."""
    present, edges = set(), set()
    for dirpath, _dirs, files in os.walk(bucket_dir):
        for f in fsio.parquet_files(dirpath):
            present.update(pq.ParquetFile(f).read(columns=["term"]).column("term").to_pylist())
            md = pq.ParquetFile(f).metadata
            ti = next(i for i in range(md.num_columns) if md.schema.column(i).path == "term")
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(ti).statistics
                if st is not None and st.has_min_max:
                    edges.update((st.min, st.max))
    vocab = sorted(present | edges | {"0absent", "mabsent", "zzzabsent"})
    rng = np.random.default_rng(seed)
    sets = [sorted(edges)] if edges else []
    for _ in range(n):
        size = int(rng.integers(1, 6))
        sets.append(sorted({vocab[int(i)] for i in rng.integers(0, len(vocab), size)}))
    return sets


def _check_root(root, n_tparts, spread, seed):
    dirs = _bucket_dirs(root)
    assert dirs
    for kind, k, d in dirs:
        footers = {}
        for terms in _term_sets(d, seed + k % 97):
            want = _reference(d, terms)
            got = read_bucket_rows(d, k, terms, n_tparts, spread)
            assert _rows(got) == want, (kind, terms)
            cached = read_bucket_rows(d, k, terms, n_tparts, spread, footers)
            assert _rows(cached) == want, (kind, terms)
            if got is not None:
                assert set(got.column("bucket").to_pylist()) == {k}
    return {kind for kind, _, _ in dirs}


def _rewrite_small_row_groups(root, dst):
    """Copy of ``root`` with every chunk file rewritten in row groups of 3
    rows; the first file found is written without statistics."""
    shutil.copytree(root, dst)
    no_stats = None
    for dirpath, _dirs, _files in os.walk(os.path.join(dst, "index")):
        for f in fsio.parquet_files(dirpath):
            tbl = pq.ParquetFile(f).read()
            if no_stats is None:
                no_stats = f
                pq.write_table(tbl, f, row_group_size=3, write_statistics=False)
            else:
                write_chunk_file(tbl, f, row_group_rows=3)
    return no_stats


def test_read_bucket_rows_equals_dataset_scan(roots, tmp_path):
    tpart_root, flat_root = roots
    st = fsio.read_json(os.path.join(tpart_root, "stats.json"))
    n_tparts, spread = st["n_tparts"], st["tpart_spread"]
    assert n_tparts == 2 and spread == 2
    assert _check_root(tpart_root, n_tparts, spread, 1) == {"base", "segment", "batch"}
    assert _check_root(flat_root, None, 1, 2) == {"segment", "batch"}
    # the same buckets with many row groups per file (row-group edges)
    # and one file without statistics, which must be read, not skipped
    for root, nt, sp, seed in ((tpart_root, n_tparts, spread, 3), (flat_root, None, 1, 4)):
        small = str(tmp_path / os.path.basename(root))
        no_stats = _rewrite_small_row_groups(root, small)
        assert pq.ParquetFile(no_stats).metadata.num_row_groups > 1
        _check_root(small, nt, sp, seed)
        d = os.path.dirname(no_stats)
        k = int(d.split("bucket=")[1].split("/")[0])
        terms = pq.ParquetFile(no_stats).read(columns=["term"]).column("term").to_pylist()[-1:]
        counts = {"fetch_files": 0, "fetch_row_groups": 0}
        got = read_bucket_rows(os.path.join(small, "index", f"bucket={k}"), k, terms, nt, sp,
                               counts=counts)
        assert got is not None and got.column("term").to_pylist() == terms
        assert counts["fetch_row_groups"] >= pq.ParquetFile(no_stats).metadata.num_row_groups


def test_read_bucket_rows_file_uri(roots):
    """A ``file://`` root reads through fsio and returns the same rows."""
    tpart_root, _ = roots
    for kind, k, d in _bucket_dirs(tpart_root):
        for terms in _term_sets(d, 5, n=5):
            want = _rows(read_bucket_rows(d, k, terms, 2, 2))
            assert _rows(read_bucket_rows(f"file://{d}", k, terms, 2, 2)) == want, kind


def test_chunk_frame_sorted_by_term_then_bucket(roots):
    tpart_root, _ = roots
    dirs = _bucket_dirs(tpart_root)
    terms = ["quick", "fox", "dog", "0absent"]
    pdf = chunk_frame([read_bucket_rows(d, k, terms, 2, 2) for _, k, d in reversed(dirs)])
    keys = list(zip(pdf["term"], pdf["bucket"]))
    assert keys == sorted(keys) and {t for t, _ in keys} == {"quick", "fox", "dog"}
    assert chunk_frame([None]).empty


def test_fetch_counters_one_file_per_bucket(spark, tmp_path):
    """A 1-term miss on a fresh 4-bucket tpart index reads at most one file
    per bucket (the routed tpart dir), and a warm repeat reads nothing."""
    out = str(tmp_path / "four")
    cfg = IndexConfig(preset="english", n_buckets=4, n_tparts=4, shuffle_partitions=4)
    build_index(spark, spark.createDataFrame([(i, c) for i, c in enumerate(PANGRAMS)],
                                             "doc_id long, content string"),
                out, doc_id_col="doc_id", config=cfg)
    idx = FuseIndex(spark, out)
    assert len(idx._visible_buckets()) == 4
    for term in ("quick", "sphinx"):
        assert idx.search(term, 10)
        st = idx.last_search_stats
        assert 1 <= st["fetch_files"] <= 4, st
        assert st["fetch_files"] <= st["fetch_row_groups"], st
        idx.search(term, 10)
        assert idx.last_search_stats["fetch_files"] == 0
        assert idx.last_search_stats["fetch_row_groups"] == 0
