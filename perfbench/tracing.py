"""Spans recorded from the benchmark's side of each layer boundary.

The tracer replaces engine functions with wrappers while it is installed
(module attributes and class methods looked up at call time, so the engine
code itself is unchanged). A span holds name, start, end, parent span and
operation id; spans stay in memory and are written out when the run ends.
Only driver-side calls are wrapped: executor tasks run in other processes.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int, int]] = []  # name, t0, t1, parent, op
        self.counts: dict[str, float] = defaultdict(float)
        self.op = -1
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, object]] = []

    # -- spans ----------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
        sid = len(self.spans) - 1
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        name, t0, _, parent, op = self.spans[sid]
        self.spans[sid] = (name, t0, time.perf_counter(), parent, op)
        self._stack.pop()

    # -- patching -------------------------------------------------------
    def wrap(self, owner, attr: str, name: str | None, on_call=None, on_result=None,
             on_error=None) -> None:
        """Register a wrapper for ``owner.attr``: a span named ``name``
        (None: no span) and optional hooks that update counters."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kw):
            if on_call is not None:
                on_call(args)
            sid = tracer.begin(name) if name else None
            try:
                out = orig(*args, **kw)
            except Exception:
                if on_error is not None:
                    on_error()
                raise
            finally:
                if sid is not None:
                    tracer.end(sid)
            if on_result is not None:
                on_result(out)
            return out

        self._patches.append((owner, attr, orig, wrapper))

    def install(self) -> None:
        for owner, attr, _orig, wrapper in self._patches:
            setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig, _wrapper in self._patches:
            setattr(owner, attr, orig)

    # -- results --------------------------------------------------------
    def self_times(self, ops: set[int] | None = None) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans;
        only spans of the given operations when ``ops`` is set."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, (name, t0, t1, _, op) in enumerate(self.spans):
            if ops is None or op in ops:
                out[name] += (t1 - t0) - child[sid]
        return dict(out)

    def totals(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _, _ in self.spans if n == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, (name, t0, t1, parent, op) in enumerate(self.spans):
                f.write(json.dumps({"id": sid, "name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")


def query_tracer() -> Tracer:
    """Spans around the query layer (operators/query.py) and the codec
    calls it makes (functions/codec.py)."""
    from pyfusedb_spark.functions import codec
    from pyfusedb_spark.operators.query import FuseIndex

    tr = Tracer()
    c = tr.counts

    def chunk_lookups(args):
        self, terms = args[0], args[1]
        c["chunk_terms"] += len(terms)
        c["chunk_hits"] += sum(1 for t in terms if t in self._chunk_cache)

    def fetched(pdf):
        c["fetch_bytes"] += int(pdf["payload"].map(len).sum()) if len(pdf) else 0

    def decoded(out):
        c["decoded_postings"] += len(out[0])

    tr.wrap(FuseIndex, "search", "query.search")
    tr.wrap(FuseIndex, "search_distributed", "query.search_distributed")
    tr.wrap(FuseIndex, "_fetch_dfs", "query.lexicon")
    tr.wrap(FuseIndex, "_fetch_chunks", "query.fetch", on_call=chunk_lookups)
    tr.wrap(FuseIndex, "_fetch_chunks_uncached", None, on_result=fetched)
    tr.wrap(FuseIndex, "_norms_for", "query.norms")
    tr.wrap(codec, "decode_postings", "codec.decode", on_result=decoded)
    tr.wrap(codec, "decode_block_run", "codec.decode", on_result=decoded)
    tr.wrap(codec, "bm25_partials", "codec.bm25")
    return tr


def stream_tracer() -> Tracer:
    """Spans around the streaming writer (streaming/incremental.py) and a
    count of FuseIndex stats reloads (every reload drops its caches)."""
    from pyfusedb_spark.operators.query import FuseIndex
    from pyfusedb_spark.streaming.incremental import IncrementalIndexWriter

    tr = Tracer()
    c = tr.counts

    def failed_fold():
        c["failed_folds"] += 1

    def reload(_args):
        c["cache_reloads"] += 1

    tr.wrap(IncrementalIndexWriter, "process_batch", "stream.append")
    tr.wrap(IncrementalIndexWriter, "_fold_segment", "stream.fold", on_error=failed_fold)
    tr.wrap(FuseIndex, "_load_stats", None, on_call=reload)
    return tr
