"""The two workloads. Each sets up, measures for ``seconds`` as one closed
loop with one client (this driver process), then checks a seeded sample of
its outputs against the engine's oracle outside the timed section."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import inputs
import reference
from tracing import Tracer, query_tracer, stream_tracer

TOP_K = 10
N_BUCKETS = 4
BUILD_DOCS = 12_000  # timed build corpus
BUILD_WARM_DOCS = 500  # untimed warm-up build of the corpus head (JIT, worker imports)
QUERY_DOCS = 20_000  # base index of the query workload
STREAM_BATCH_DOCS = 50
# the writer's default fold factor K = 8: the K-th append is the first
# that folds the live batches into a level-0 segment
STREAM_BATCHES = 8
STREAM_QUERIES_PER_BATCH = 2


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (failed operations are +inf)."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail_label(n: int) -> tuple[str, float] | None:
    """The highest of p99/p95/p90 with at least ten samples beyond it."""
    for name, q in (("p99", 0.99), ("p95", 0.95), ("p90", 0.90)):
        if n * (1 - q) >= 10:
            return name, q
    return None


class Run:
    """One benchmark run: counters, reported metrics and per-layer values."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, t_start: float):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.trace, self.t_start = seconds, trace, t_start
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.report: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []
        self.tracer: Tracer | None = None  # the query tracer while installed
        self.tracers: list[Tracer] = []  # written out when the run ends
        self._mark = t_start

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def rng(self, tag: int):
        return inputs.seed_rng(self.seed, tag)

    def phase(self, name: str) -> None:
        """Report the wall time spent since the previous phase mark."""
        now = time.perf_counter()
        self.report[f"phase_{name}_s"] = (now - self._mark, "s")
        self._mark = now

    def setup_done(self) -> None:
        self.phase("setup_rest")
        self.e2e["setup_s"] = (time.perf_counter() - self.t_start, "s")

    def fail(self, what: str, e: Exception) -> None:
        self.failed += 1
        first_line = (str(e).splitlines() or [""])[0]
        self.notes.append(f"{what}: {type(e).__name__}: {first_line[:300]}")

    def check(self, label: str, fn) -> None:
        """One correctness check: fn returns None or a mismatch text."""
        self.attempted += 1
        try:
            msg = fn()
        except Exception as e:  # a check that raises is a failed operation
            self.fail(f"check {label} raised", e)
            return
        if msg is not None:
            self.failed += 1
            self.wrong += 1
            self.notes.append(f"check {label}: {msg}")


# --------------------------------------------------------------------------
# shared pieces
# --------------------------------------------------------------------------

def _config(norms: bool):
    from pyfusedb_spark.operators.build import IndexConfig

    return IndexConfig(preset="code", n_buckets=N_BUCKETS, compute_norms=norms)


def _build(run: Run, corpus_dir: str, out: str, norms: bool, n_docs: int | None = None) -> float:
    """Wall seconds of one fresh build_index over the corpus (its first
    n_docs rows when given)."""
    from pyspark.sql import functions as F

    from pyfusedb_spark.operators.build import build_index

    shutil.rmtree(out, ignore_errors=True)
    corpus = run.spark.read.parquet(corpus_dir)
    if n_docs is not None:
        corpus = corpus.where(F.col("doc_id") < n_docs)
    t0 = time.perf_counter()
    build_index(run.spark, corpus, out, doc_id_col="doc_id", config=_config(norms), resume=False)
    return time.perf_counter() - t0


def _offset(seed: int, tag: int, n: int) -> int:
    return int(inputs.seed_rng(seed, tag).integers(0, inputs.ROW_SPACE - n))


def windows(workload: str, seed: int, work: str) -> list[inputs.Window]:
    """The seeded corpus windows a workload reads, generated before it runs."""
    p = lambda name: os.path.join(work, name)  # noqa: E731
    if workload == "query":
        return [inputs.Window(p("corpus"), _offset(seed, 1, QUERY_DOCS), QUERY_DOCS)]
    n_new = STREAM_BATCHES * STREAM_BATCH_DOCS
    off = _offset(seed, 1, BUILD_DOCS + n_new)
    # the micro-batches are the rows after the built corpus, one file each
    return [inputs.Window(p("corpus"), off, BUILD_DOCS),
            inputs.Window(p("batches"), off + BUILD_DOCS, n_new, id_base=BUILD_DOCS,
                          per_file=STREAM_BATCH_DOCS)]


class Ops:
    """Timed searches: latency (+inf when failed), shape and engine path."""

    def __init__(self):
        self.lat: list[float] = []
        self.kinds: list[str] = []
        self.paths: dict[str, int] = {}
        self.wall = 0.0

    def of(self, pred) -> list[float]:
        return [x for x, k in zip(self.lat, self.kinds) if pred(k)]


def _search_loop(run: Run, idx, seq, seconds: float, ops: Ops) -> None:
    """Closed loop over ``seq`` until it ends or ``seconds`` pass."""
    t_begin = time.perf_counter()
    t_end = t_begin + seconds
    for q in seq:
        if time.perf_counter() >= t_end:
            break
        if run.tracer is not None:
            run.tracer.op = len(ops.lat)
        idx.last_search_stats = None
        run.attempted += 1
        ops.kinds.append(q.kind)
        t0 = time.perf_counter()
        try:
            q.run(idx, TOP_K)
        except Exception as e:
            ops.lat.append(math.inf)
            run.fail(f"search {q.text!r}", e)
            continue
        ops.lat.append(time.perf_counter() - t0)
        st = idx.last_search_stats or {}
        for key, v in (("path_" + str(st.get("path")), 1),
                       ("hot_blocks_total", st.get("hot_blocks_total", 0)),
                       ("hot_blocks_skipped", st.get("hot_blocks_skipped", 0))):
            ops.paths[key] = ops.paths.get(key, 0) + v
    ops.wall += time.perf_counter() - t_begin


def _query_layers(run: Run, tr: Tracer, ops: Ops) -> None:
    """Per-search means of the query and codec layers over traced searches,
    with fetch, decode and scoring also split by head and tail shape."""
    n = max(1, len(ops.lat))
    st = tr.self_times()
    c = tr.counts

    def ms(name, times=st, k=n):
        return times.get(name, 0.0) * 1e3 / max(1, k)

    run.layers.update({
        "query.lexicon_ms": ms("query.lexicon"),
        "query.fetch_ms": ms("query.fetch"),
        "query.fetch_bytes": c["fetch_bytes"] / n,
        "query.chunk_cache_hit_ratio": c["chunk_hits"] / c["chunk_terms"] if c["chunk_terms"] else 0.0,
        "query.norms_ms": ms("query.norms"),
        "query.score_self_ms": ms("query.search"),
        "query.path_exhaustive": ops.paths.get("path_exhaustive", 0) / n,
        "query.path_bmx": ops.paths.get("path_bmx", 0) / n,
        "query.hot_blocks_skipped_ratio": (
            ops.paths.get("hot_blocks_skipped", 0) / ops.paths["hot_blocks_total"]
            if ops.paths.get("hot_blocks_total") else 0.0),
        "codec.decode_ms": ms("codec.decode"),
        "codec.decoded_postings": c["decoded_postings"] / n,
        "codec.bm25_ms": ms("codec.bm25"),
    })
    for shape, pred in (("head", lambda k: k != "tail"), ("tail", lambda k: k == "tail")):
        sel = {i for i, k in enumerate(ops.kinds) if pred(k)}
        if sel:
            sub = tr.self_times(sel)
            run.layers[f"query.{shape}_fetch_ms"] = ms("query.fetch", sub, len(sel))
            run.layers[f"query.{shape}_score_self_ms"] = ms("query.search", sub, len(sel))
            run.layers[f"codec.{shape}_decode_ms"] = ms("codec.decode", sub, len(sel))


def _report_latency(run: Run, lat: list[float], label: str) -> None:
    if not lat:
        return
    run.report[f"{label}_p50_ms"] = (percentile(lat, 0.5) * 1e3, "ms")
    tl = tail_label(len(lat))
    if tl is not None:
        run.report[f"{label}_{tl[0]}_ms"] = (percentile(lat, tl[1]) * 1e3, "ms")
    run.report[f"{label}_samples"] = (float(len(lat)), "count")


def _collect_dist(idx, q) -> list[tuple[int, float]]:
    rows = idx.search_distributed(q.text, TOP_K, mode=q.mode, conjunctive=q.conjunctive).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _check_queries(run: Run, idx, corpus_dirs: list[str], queries: list, label: str) -> None:
    """Engine vs the oracle over the raw corpus rows, and forced exhaustive
    scoring vs the auto router, on every query given."""
    oracle = reference.oracle_for(corpus_dirs)
    for q in queries:
        run.check(f"{label} {q.kind} {q.text!r}", lambda q=q: reference.topk_mismatch(
            q.run(idx, TOP_K), reference.oracle_scores(oracle, q), TOP_K))
        if q.mode == "bm25" and not q.conjunctive:
            run.check(f"{label} use_wand=False {q.text!r}", lambda q=q: reference.same_topk(
                q.run(idx, TOP_K), q.run(idx, TOP_K, use_wand=False)))


def _sample(run: Run, tag: int, qs: list, k: int) -> list:
    picked = run.rng(tag).choice(len(qs), size=min(k, len(qs)), replace=False)
    return [qs[int(i)] for i in picked]


# --------------------------------------------------------------------------
# build: a fresh build_index over a seeded corpus window
# --------------------------------------------------------------------------

def _build_layers(run: Run, out: str, wall: float) -> None:
    """operators.build layers, read from the build's own manifests."""
    from pyfusedb_spark import fsio

    mdir = os.path.join(out, "_manifests")

    def man(key):
        p = os.path.join(mdir, f"{key}.json")
        return fsio.read_json(p) if os.path.exists(p) else {}

    stages = {s: float(man(f"stage_{s}").get("seconds") or 0.0)
              for s in ("tf", "postings", "lexicon", "norms")}
    per_tpart: dict[int, float] = {}
    enc = 0.0
    for name in os.listdir(mdir):
        if name.startswith("bucket="):
            m = man(name[: -len(".json")])
            enc += float(m.get("encode_cpu_seconds") or 0.0)
            for tp, _terms, _postings, secs, _rate in m.get("partitions") or []:
                per_tpart[int(tp)] = per_tpart.get(int(tp), 0.0) + float(secs)
    med = statistics.median(per_tpart.values()) if per_tpart else 0.0
    for s, v in stages.items():
        run.layers[f"build.stage_{s}_s"] = v
    run.layers["build.unaccounted_s"] = wall - sum(stages.values())
    run.layers["build.tpart_s_max_over_median"] = max(per_tpart.values()) / med if med > 0 else 1.0
    run.layers["build.encode_cpu_s"] = enc
    run.layers["build.tf_bytes"] = float(fsio.dir_bytes(os.path.join(out, "tf")))
    run.layers["build.index_bytes"] = float(fsio.dir_bytes(os.path.join(out, "index")))


def run_build_stream(run: Run) -> None:
    from pyfusedb_spark import fsio

    corpus = run.path("corpus")
    # a small build forks the Python workers and runs every build code
    # path once, so the timed builds start warm
    _build(run, corpus, run.path("warm_idx"), norms=True, n_docs=BUILD_WARM_DOCS)
    run.phase("warm_build")
    run.setup_done()

    walls: list[float] = []
    out = run.path("idx")
    t_end = time.perf_counter() + run.seconds
    while not walls or time.perf_counter() < t_end:
        run.attempted += 1
        walls.append(_build(run, corpus, out, norms=True))
    med = statistics.median(walls)
    if run.trace:  # the index on disk is the last build's
        _build_layers(run, out, walls[-1])
    run.e2e["p50_ms"] = (med * 1e3, "ms")
    run.e2e["rate_per_s"] = (BUILD_DOCS / med, "1/s")
    run.report["build_docs_per_s"] = (BUILD_DOCS / med, "docs/s")
    run.report["builds"] = (float(len(walls)), "count")
    run.report["index_bytes_per_input_byte"] = (
        fsio.dir_bytes(os.path.join(out, "index")) / inputs.corpus_bytes(corpus), "ratio")
    run.phase("measure_build")
    _stream(run, out)


# --------------------------------------------------------------------------
# query: driver search on a warm handle, head and tail shapes mixed
# --------------------------------------------------------------------------

def run_query(run: Run) -> None:
    from pyfusedb_spark.operators.query import FuseIndex

    spark = run.spark
    corpus = run.path("corpus")
    out = run.path("idx")
    _build(run, corpus, out, norms=True)
    run.phase("base_build")
    idx = FuseIndex(spark, out)
    bands = inputs.Bands(inputs.lexicon_df(out), QUERY_DOCS, run.rng(3))
    pool = inputs.head_pool(bands, run.rng(4), per_kind=10)
    head = [q for qs in pool.values() for q in qs]
    tail = inputs.tail_queries(bands, {t for q in head for t in q.text.split()})
    for q in head:  # every head query once: lexicon, chunk and norms caches fill
        q.run(idx, TOP_K)
    dist_qs = _sample(run, 6, pool["or"], 2)
    seqs = [inputs.query_sequence(pool, tail[w::2], run.rng(10 + w), 20_000) for w in (0, 1)]
    run.setup_done()

    ops = Ops()
    _search_loop(run, idx, seqs[0], run.seconds, ops)
    if len(ops.lat) == len(seqs[0]):
        run.notes.append("the query sequence (tail queries) ran out before the window ended")
    if run.trace:  # a traced window of the same length; the gap is the overhead
        tr, tops = query_tracer(), Ops()
        run.tracer = tr
        tr.install()
        try:
            _search_loop(run, idx, seqs[1], run.seconds, tops)
        finally:
            tr.uninstall()
            run.tracer = None
        _query_layers(run, tr, tops)
        run.layers["trace.overhead_ms"] = (
            statistics.fmean(tops.lat) - statistics.fmean(ops.lat)) * 1e3
        run.tracers = [tr]

    p90 = percentile(ops.lat, 0.9)
    if math.isinf(p90):
        raise RuntimeError("over a tenth of the timed searches failed")
    run.e2e["p50_ms"] = (percentile(ops.lat, 0.5) * 1e3, "ms")
    run.e2e["p90_ms"] = (p90 * 1e3, "ms")
    run.e2e["rate_per_s"] = (len(ops.lat) / ops.wall, "1/s")
    _report_latency(run, ops.lat, "query")
    _report_latency(run, ops.of(lambda k: k != "tail"), "head")
    _report_latency(run, ops.of(lambda k: k == "tail"), "tail")
    for kind in pool:
        lat = ops.of(lambda k, kind=kind: k == kind)
        if lat:
            run.report[f"{kind}_p50_ms"] = (percentile(lat, 0.5) * 1e3, "ms")
    run.report["query_qps"] = (len(ops.lat) / ops.wall, "queries/s")
    run.report["bmx_query_terms"] = (statistics.fmean(len(q.text.split()) for q in pool["bmx"]), "count")
    for path in ("bmx", "exhaustive"):
        run.report[f"path_{path}_share"] = (ops.paths.get(f"path_{path}", 0) / len(ops.lat), "ratio")

    dist_s, dist_out = [], []
    for q in dist_qs:
        run.attempted += 1
        t0 = time.perf_counter()
        dist_out.append(_collect_dist(idx, q))
        dist_s.append(time.perf_counter() - t0)
    run.report["dist_query_p50_s"] = (statistics.median(dist_s), "s")
    run.phase("measure")

    done_tail = [q for q, k in zip(seqs[0], ops.kinds) if k == "tail"]
    # one query of each head shape and two tail queries
    checked = [pool[k][0] for k in pool] + _sample(run, 8, done_tail, 2)
    _check_queries(run, idx, [corpus], checked, "query")
    for q, got in zip(dist_qs, dist_out):
        run.check(f"distributed {q.text!r}",
                  lambda q=q, got=got: reference.same_topk(q.run(idx, TOP_K), got))


# --------------------------------------------------------------------------
# the stream half of build_stream: micro-batch appends with searches between
# --------------------------------------------------------------------------

def _stream_layers(run: Run, out: str, trs: Tracer) -> None:
    """streaming.incremental layers from the batch manifests, stats.json and
    the writer spans."""
    from pyfusedb_spark import fsio
    from pyfusedb_spark.layout import STREAM_BATCH_BUCKET_BASE, STREAM_GEN_BUCKET_BASE

    stats = fsio.read_json(os.path.join(out, "stats.json"))
    mdir = os.path.join(out, "_manifests")
    batch_s = [fsio.read_json(os.path.join(mdir, f)).get("seconds", 0.0)
               for f in os.listdir(mdir) if f.startswith("stream_batch=")]
    segs = {int(s["bucket"]) for s in stats.get("stream_segments") or []}
    folded = max((int(s["hi"]) for s in stats.get("stream_segments") or []), default=-1)
    live = 0
    for name in os.listdir(os.path.join(out, "index")):
        if name.startswith("bucket=") and ".tmp-" not in name:
            b = int(name.split("=", 1)[1])
            live += b < STREAM_GEN_BUCKET_BASE or b in segs or b > STREAM_BATCH_BUCKET_BASE + folded
    doc_stats = os.listdir(os.path.join(out, "doc_stats"))
    run.layers.update({
        "stream.batch_write_s": float(statistics.median(batch_s)) if batch_s else 0.0,
        "stream.fold_s": float(sum(trs.totals("stream.fold"))),
        "stream.compaction_bytes": float(stats.get("compaction_bytes_written") or 0),
        "stream.live_chunk_sources": float(live),
        "stream.doc_stats_dirs": float(1 + sum(n.startswith("batch=") for n in doc_stats)),
        "stream.cache_reloads": trs.counts["cache_reloads"],
        "stream.failed_folds": trs.counts["failed_folds"],
    })


def _stream(run: Run, out: str) -> None:
    """Micro-batch appends onto the freshly built index (the default
    file-shuffle layout, as a production base has), each followed by
    head-shaped searches on a handle whose caches every append drops."""
    from pyfusedb_spark import fsio
    from pyfusedb_spark.operators.query import FuseIndex
    from pyfusedb_spark.streaming.incremental import IncrementalIndexWriter

    spark = run.spark
    extra = run.path("batches")
    batch_files = sorted(f for f in os.listdir(extra) if f.endswith(".parquet"))
    writer = IncrementalIndexWriter(spark, out, content_col="content", doc_id_col="doc_id",
                                    config=_config(True))
    idx = FuseIndex(spark, out)
    bands = inputs.Bands(inputs.lexicon_df(out), BUILD_DOCS, run.rng(3))
    pool = inputs.head_pool(bands, run.rng(4), per_kind=4 * STREAM_QUERIES_PER_BATCH)
    queries = pool["or"]
    for q in queries:
        q.run(idx, TOP_K)
    rng = run.rng(10)
    # distinct queries within a batch: each fetches what the reload dropped
    seq = [queries[int(i)] for _ in range(STREAM_BATCHES)
           for i in rng.choice(len(queries), size=STREAM_QUERIES_PER_BATCH, replace=False)]
    run.phase("stream_setup")

    # traced run: appends are traced throughout, searches after odd batches
    trs = stream_tracer() if run.trace else None
    qtr = query_tracer() if run.trace else None
    ops, tops = Ops(), Ops()
    t_loop = time.perf_counter()
    walls: list[float] = []
    appends: list[float] = []  # failed appends are +inf: they miss every bound
    ok_docs = 0
    if trs is not None:
        trs.install()
    try:
        for b in range(STREAM_BATCHES):
            bdf = spark.read.parquet(os.path.join(extra, batch_files[b]))
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                writer.process_batch(bdf, b)
                ok_docs += STREAM_BATCH_DOCS
                failed = False
            except Exception as e:
                run.fail(f"append {b} after {time.perf_counter() - t0:.2f}s", e)
                failed = True
            walls.append(time.perf_counter() - t0)
            appends.append(math.inf if failed else walls[-1])
            qs = seq[b * STREAM_QUERIES_PER_BATCH:(b + 1) * STREAM_QUERIES_PER_BATCH]
            if qtr is not None and b % 2 == 1:
                run.tracer = qtr
                qtr.install()
                try:
                    _search_loop(run, idx, qs, math.inf, tops)
                finally:
                    qtr.uninstall()
                    run.tracer = None
            else:
                _search_loop(run, idx, qs, math.inf, ops)
    finally:
        if trs is not None:
            trs.uninstall()
    # build_stream's p90_ms: the wall time of every append, fold and search
    run.e2e["p90_ms"] = ((time.perf_counter() - t_loop) * 1e3, "ms")
    run.phase("measure_stream")

    _report_latency(run, ops.lat, "stream_query")
    run.report["append_p50_s"] = (percentile(appends, 0.5), "s")
    run.report["appends_failed"] = (float(sum(map(math.isinf, appends))), "count")
    run.report["stream_docs_per_s"] = (ok_docs / sum(walls), "docs/s")
    mdir = os.path.join(out, "_manifests")
    batch_bytes = sum(float(fsio.read_json(os.path.join(mdir, f)).get("bytes") or 0)
                      for f in os.listdir(mdir) if f.startswith("stream_batch="))
    stats = fsio.read_json(os.path.join(out, "stats.json"))
    comp = float(stats.get("compaction_bytes_written") or 0)
    run.report["write_amp"] = ((batch_bytes + comp) / batch_bytes if batch_bytes else 1.0, "ratio")
    if run.trace:
        _query_layers(run, qtr, tops)
        _stream_layers(run, out, trs)
        # traced searches follow odd appends, untraced ones even appends
        run.layers["trace.overhead_ms"] = (
            statistics.fmean(tops.lat) - statistics.fmean(ops.lat)) * 1e3
        run.tracers = [trs, qtr]

    # TF-IDF is left out here: streamed documents have no stored norm
    checked = [pool[k][0] for k in ("or", "bmx", "and")] + inputs.tail_queries(bands, set())[:1]
    _check_queries(run, idx, [run.path("corpus"), extra], checked, "build_stream")
