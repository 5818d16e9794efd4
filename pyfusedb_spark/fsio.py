"""Filesystem shim: plain paths use ``os``/``shutil`` (the fast local
path, byte-identical to the previous behavior), scheme-qualified URIs
(``file://``, ``hdfs://``, ``s3://``) route through ``pyarrow.fs``.

Why it exists: the file-shuffle build moves postings through files the
EXECUTORS read and write directly (operators/build.py docstring promised
"HDFS/S3 via pyarrow.fs on a cluster"); every call site that used to be
a bare ``os.*``/``open()``/``pq.write_table(path)`` goes through here so
one string root — local path or URI — works end to end. All functions
take path strings and resolve the filesystem per call; tasks therefore
need nothing picklable beyond the string.

Atomicity notes (the commit protocol in sources/catalog.py relies on
these):
- local + ``file://``: rename-based, fully atomic (os.replace /
  LocalFileSystem.move are the same syscall).
- object stores: single-object PUT is atomic but rename is copy+delete.
  ``write_parquet_atomic`` therefore writes STRAIGHT to the final name
  on non-local filesystems (one atomic PUT, no tmp dance), and dir-level
  ``move`` degrades to per-file copy+delete — correctness then rests on
  the manifest commit (a reader only trusts dirs a manifest names),
  which is exactly the Iceberg model the catalog mimics.
"""

from __future__ import annotations

import json
import os
import posixpath
import shutil
import uuid


def is_uri(path: str) -> bool:
    return "://" in path


def get_fs(path: str):
    """(pyarrow FileSystem, filesystem-local path) for a URI."""
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(path)


def dataset(source: str | list[str], **kwargs):
    """pyarrow parquet dataset over a path, a URI or a list of files on one
    filesystem (pyarrow resolves one URI string itself, not a URI list)."""
    import pyarrow.dataset as pads

    first = source if isinstance(source, str) else (source or [""])[0]
    if is_uri(first):
        fs, p = get_fs(first)
        cut = len(_uri_prefix(first, p))
        source = source[cut:] if isinstance(source, str) else [s[cut:] for s in source]
        kwargs["filesystem"] = fs
    return pads.dataset(source, format="parquet", **kwargs)


def _is_local_fs(fs) -> bool:
    import pyarrow.fs as pafs

    return isinstance(fs, pafs.LocalFileSystem)


def join(*parts: str) -> str:
    # posixpath semantics work for both plain linux paths and URIs
    return posixpath.join(*parts)


def basename(path: str) -> str:
    return posixpath.basename(path.rstrip("/"))


def dirname(path: str) -> str:
    return posixpath.dirname(path.rstrip("/"))


def exists(path: str) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    import pyarrow.fs as pafs

    fs, p = get_fs(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def isdir(path: str) -> bool:
    if not is_uri(path):
        return os.path.isdir(path)
    import pyarrow.fs as pafs

    fs, p = get_fs(path)
    return fs.get_file_info(p).type == pafs.FileType.Directory


def listdir(path: str) -> list[str]:
    """Base names of the direct children (empty list if missing)."""
    if not is_uri(path):
        try:
            return os.listdir(path)
        except FileNotFoundError:
            return []
    import pyarrow.fs as pafs

    fs, p = get_fs(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    except FileNotFoundError:
        return []
    return [posixpath.basename(i.path) for i in infos]


def makedirs(path: str) -> None:
    if not is_uri(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, p = get_fs(path)
    fs.create_dir(p, recursive=True)


def rmtree(path: str) -> None:
    """Recursive delete, missing-ok (shutil.rmtree ignore_errors analog)."""
    if not is_uri(path):
        shutil.rmtree(path, ignore_errors=True)
        return
    fs, p = get_fs(path)
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        pass


def remove(path: str) -> None:
    if not is_uri(path):
        if os.path.exists(path):
            os.remove(path)
        return
    fs, p = get_fs(path)
    try:
        fs.delete_file(p)
    except FileNotFoundError:
        pass


def move(src: str, dst: str) -> None:
    """File-or-dir move. Local: os.replace (atomic). URI: FileSystem.move
    (rename on local/HDFS). Object stores (s3://, gs://) do not implement
    directory move at all — Arrow raises — so directories degrade to a
    recursive copy_files + delete_dir (the per-file copy+delete the module
    docstring promises; atomicity then rests on the manifest commit, which
    never names a dir until it is fully in place)."""
    if not is_uri(src):
        os.replace(src, dst)
        return
    fs, ps = get_fs(src)
    _, pd_ = get_fs(dst)
    _fs_move(fs, ps, pd_)


def _fs_move(fs, ps: str, pd_: str) -> None:
    import pyarrow.fs as pafs

    if _is_local_fs(fs):
        fs.move(ps, pd_)
        return
    if fs.get_file_info(ps).type == pafs.FileType.Directory:
        # S3/GCS FileSystem.move("dir") raises NotImplementedError;
        # copy_files handles the recursive per-object copy server-side.
        pafs.copy_files(ps, pd_, source_filesystem=fs, destination_filesystem=fs)
        fs.delete_dir(ps)
        return
    try:
        fs.move(ps, pd_)
    except (NotImplementedError, OSError):
        pafs.copy_files(ps, pd_, source_filesystem=fs, destination_filesystem=fs)
        fs.delete_file(ps)


def stat_sig(path: str) -> tuple:
    """(mtime, size) staleness signature. Raises FileNotFoundError."""
    if not is_uri(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    import pyarrow.fs as pafs

    fs, p = get_fs(path)
    info = fs.get_file_info(p)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(path)
    return (info.mtime_ns, info.size)


def file_size(path: str) -> int:
    if not is_uri(path):
        return os.path.getsize(path)
    fs, p = get_fs(path)
    return int(fs.get_file_info(p).size)


def read_bytes(path: str) -> bytes:
    if not is_uri(path):
        with open(path, "rb") as f:
            return f.read()
    fs, p = get_fs(path)
    with fs.open_input_stream(p) as f:
        return f.read()


def read_json(path: str) -> dict:
    return json.loads(read_bytes(path).decode("utf-8"))


def write_json_atomic(path: str, payload: dict) -> None:
    """tmp + rename JSON write — readers never observe a torn file.
    On object stores the PUT itself is atomic, so write direct."""
    body = json.dumps(payload, indent=1, sort_keys=True).encode("utf-8")
    if not is_uri(path):
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(body)
        os.replace(tmp, path)
        return
    fs, p = get_fs(path)
    if _is_local_fs(fs):
        tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
        with fs.open_output_stream(tmp) as f:
            f.write(body)
        fs.move(tmp, p)
    else:
        with fs.open_output_stream(p) as f:
            f.write(body)


def write_parquet_atomic(tbl, path: str, **pq_kwargs) -> int:
    """Write one parquet file so readers never see a torn file; returns
    its size. Local (incl. file://): tmp + rename. Object store: direct
    single PUT (atomic at object level)."""
    import pyarrow.parquet as pq

    if not is_uri(path):
        tmp = path + ".inprogress"
        pq.write_table(tbl, tmp, **pq_kwargs)
        os.replace(tmp, path)
        return os.path.getsize(path)
    fs, p = get_fs(path)
    if _is_local_fs(fs):
        tmp = p + ".inprogress"
        pq.write_table(tbl, tmp, filesystem=fs, **pq_kwargs)
        fs.move(tmp, p)
    else:
        pq.write_table(tbl, p, filesystem=fs, **pq_kwargs)
    return int(fs.get_file_info(p).size)


class AtomicParquetWriter:
    """Streaming ParquetWriter whose file appears atomically on close
    (tmp + rename on rename-capable filesystems, direct object PUT
    otherwise). Used by the tf scan tasks that keep one open writer per
    tpart across Arrow batches."""

    def __init__(self, path: str, schema, **pq_kwargs):
        import pyarrow.parquet as pq

        self._final = path
        if not is_uri(path):
            self._fs = None
            self._tmp = f"{dirname(path)}/.{basename(path)}.inprogress"
            self._w = pq.ParquetWriter(self._tmp, schema, **pq_kwargs)
        else:
            fs, p = get_fs(path)
            self._fs = fs
            if _is_local_fs(fs):
                self._tmp = f"{posixpath.dirname(p)}/.{posixpath.basename(p)}.inprogress"
            else:
                self._tmp = None  # direct PUT
            self._w = pq.ParquetWriter(
                self._tmp if self._tmp else p, schema, filesystem=fs, **pq_kwargs
            )
            self._p = p

    def write_table(self, tbl) -> None:
        self._w.write_table(tbl)

    def close(self) -> None:
        self._w.close()
        if self._fs is None:
            os.replace(self._tmp, self._final)
        elif self._tmp is not None:
            self._fs.move(self._tmp, self._p)


def dir_bytes(path: str) -> int:
    """Total bytes of all files under path (0 if missing)."""
    if not is_uri(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    import pyarrow.fs as pafs

    fs, p = get_fs(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=True))
    except FileNotFoundError:
        return 0
    return sum(int(i.size) for i in infos if i.type == pafs.FileType.File and i.size)


def _uri_prefix(root: str, fs_path: str) -> str:
    """URI prefix to glue in front of filesystem-local child paths,
    WITHOUT dropping the authority (hdfs://host:port/... must not
    collapse to hdfs:///...). from_uri's fs-local path is a suffix of
    the normalized root — the prefix is whatever precedes it:
    "hdfs://host:9000" for HDFS (path starts with "/"), "s3://" for S3
    (path includes the bucket), "file://" locally."""
    norm_root = root.rstrip("/")
    if norm_root.endswith(fs_path):
        return norm_root[: len(norm_root) - len(fs_path)]
    # percent-encoding or other normalization broke the suffix match
    return root[: root.index("://") + 3]


def find_tmp_dirs(root: str) -> list[str]:
    """Every `*.tmp-*` staging dir under root (recursive), as full
    paths in root's addressing scheme — catalog orphan cleanup."""
    out: list[str] = []
    if not is_uri(root):
        if not os.path.isdir(root):
            return out
        for dirpath, dirnames, _files in os.walk(root):
            for d in list(dirnames):
                if ".tmp-" in d:
                    out.append(os.path.join(dirpath, d))
                    dirnames.remove(d)
        return out
    import pyarrow.fs as pafs

    fs, p = get_fs(root)
    if fs.get_file_info(p).type != pafs.FileType.Directory:
        return out
    prefix = _uri_prefix(root, p)
    infos = fs.get_file_info(pafs.FileSelector(p, recursive=True))
    dirs = sorted(
        i.path for i in infos
        if i.type == pafs.FileType.Directory and ".tmp-" in posixpath.basename(i.path)
    )
    # keep only topmost matches (children die with the parent)
    kept: list[str] = []
    for d in dirs:
        if not any(d.startswith(k + "/") for k in kept):
            kept.append(d)
    return [prefix + d for d in kept]


def parquet_files(path: str) -> list[str]:
    """Sorted parquet data files directly under a dir (empty if missing).
    Names starting with ``.`` or ``_`` are skipped, as pyarrow dataset
    discovery skips them (``_SUCCESS``, ``.crc``, in-progress tmp files)."""
    return sorted(
        join(path, n) for n in listdir(path)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def _open_input_file(path: str):
    import pyarrow as pa

    if not is_uri(path):
        return pa.OSFile(path, "rb")
    fs, p = get_fs(path)
    return fs.open_input_file(p)


def parquet_metadata(path: str):
    """The parquet footer (``FileMetaData``) only — no data read."""
    import pyarrow.parquet as pq

    with _open_input_file(path) as f:
        return pq.read_metadata(f)


def read_parquet(path: str, columns: list[str], row_groups: list[int] | None = None,
                 metadata=None):
    """``columns`` of one parquet file as a pyarrow Table: every row, or
    only ``row_groups``. A cached ``metadata`` footer skips the footer
    read; the file is open for this call only. Decoded on the calling
    thread: the reads are small, and callers run many at once."""
    import pyarrow.parquet as pq

    with _open_input_file(path) as f:
        pf = pq.ParquetFile(f, metadata=metadata)
        if row_groups is None:
            return pf.read(columns=columns, use_threads=False)
        return pf.read_row_groups(row_groups, columns=columns, use_threads=False)


def parquet_num_rows(path: str) -> int:
    """Row count from the parquet footer only (no data read)."""
    return parquet_metadata(path).num_rows
