"""Index build pipeline (SURVEY.md §3 entry-point-2 replacement).

Reference lifecycle being re-expressed: SPIMI block build
(``app/InvertedIndexFinal.py:254-285``) + k-way merge (``:287-346``),
re-architected for Spark's execution model. The "file-shuffle"
pipeline:

Stage "tf"      ONE fused corpus scan (udfs.make_tf_fused_task):
                tokenize + per-doc tf counting + sha256 lineage in a
                single mapInArrow pass; each task writes its packed
                partial posting runs straight into hive
                ``tf/tpart=P`` dirs (P = bucket-salted crc32 of the
                term) plus its doc_stats (doc_id, doc_len, sha256)
                file — the MAP side of a shuffle, expressed as parquet
                files, with no JVM row materialization and no second
                scan.
Stage "stats"   N (counts empty docs too — app/InvertedIndex.py:34),
                avgdl, total_len, exact sha256 lineage sum: summed on
                the driver from the rows the scan tasks return, with no
                read-back of what they wrote.
Stage postings  spark.range(n_tparts) -> one encoder task per tpart
                (udfs.make_tpart_build_task): reads ITS OWN tpart's
                files via pyarrow (the REDUCE side — no live
                exchange), merges runs into one chunk per
                (term, bucket) with delta+varint+block-max encoding,
                writes ``index/bucket=K/tpart=P`` chunk files AND its
                final lexicon slice (a term lives in its probe set of
                tparts only), yields tiny stats rows for manifests.
                The doc-range bucket IS the skew salt (north rule):
                it spreads a hot term over `n_buckets` tparts at
                route time AND keeps chunks doc-disjoint so
                query-side concatenation needs no re-merge (unlike
                the reference's k-way heap merge).
Stage "lexicon" folded into the posting pass (df(term) = Σ df_chunk
                summed read-side across slices; A3/A4 in §2.4).
Stage "norms"   optional exact TF-IDF document norms (v1 semantics,
                app/InvertedIndex.py:408-419) for the cosine mode.

Every stage/tpart/bucket commits a manifest (term range, doc count,
postings, bytes, sha256 lineage, tokens/sec, postings/sec, per-task
metrics) through ManifestCatalog; a killed build resumes from the last
committed unit (one tpart, validated against its data dirs).

Scale notes (100 TB / 1000 executors): stage "tf" is scan→write with
zero live shuffles; the posting stage moves data only through the
tpart files. n_tparts bounds per-encoder-task memory (≈ |postings| *
12B / n_tparts) — the default is corpus-derived (~DOCS_PER_TPART docs
per tpart, capped at 4x parallelism) so it grows with the corpus
exactly like n_buckets bounds chunk size, and a toy build doesn't pay
cluster-sized file fan-out; tf file fan-out is n_scan_tasks x n_tparts, so at
10^5 map tasks consolidate with a coarser n_tparts per wave or an
intermediate combine. Executors read/write storage directly (local FS
here; HDFS/S3 via pyarrow.fs on a cluster).
"""

from __future__ import annotations

import math
import time
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyfusedb_spark import fsio

from pyfusedb_spark.functions.udfs import (
    TF_TASK_SCHEMA,
    TPART_STATS_SCHEMA,
    TF_COMBINE_SCHEMA,
    make_tf_combine_task,
    make_tf_fused_task,
    make_tpart_build_task,
)
from pyfusedb_spark.layout import visible_bucket_components
from pyfusedb_spark.operators.ids import assign_doc_ids
from pyfusedb_spark.sources.catalog import ManifestCatalog, write_json_atomic


@dataclass(frozen=True)
class IndexConfig:
    preset: str = "english"
    k1: float = 1.2
    b: float = 0.75
    block_size: int = 128
    n_buckets: int = 8
    compute_norms: bool = True
    # build_index: the parallelism the default n_tparts is capped by
    # (None -> spark.sparkContext.defaultParallelism; unused when
    # n_tparts is set). Streaming appends (streaming/incremental.py) also
    # use it as their per-batch term exchange's partition count.
    shuffle_partitions: int | None = None
    # posting-stage fan-out; None -> corpus-derived (~DOCS_PER_TPART docs
    # per tpart, capped at 4x parallelism). Bounds per-task memory (one
    # tpart of packed runs) — set explicitly when docs are far fatter
    # than the testdata mix; keep CONSTANT across cluster sizes when
    # measuring scaling (same work decomposition at N and 4N).
    n_tparts: int | None = None
    # tf fan-out bound: when the corpus scan ran on more tasks than
    # this, an extra per-tpart combine pass (udfs.make_tf_combine_task)
    # rewrites each tpart's scan_tasks small files into O(bytes/512MB)
    # large ones BEFORE the tf promote — tf files stay
    # min(scan_tasks, bound) x n_tparts + combined output instead of
    # 10^5 x n_tparts at cluster scale. None disables.
    max_tf_files_per_tpart: int | None = 64
    # Minimum task waves for the corpus scan when the small-file guard
    # repartitions (toy/bench scale only — a real corpus has plenty of
    # splits): one wave puts straggler variance on the critical path,
    # while ~4 waves amortize it (same reasoning as the tpart count).
    scan_waves: int = 4
    # Explicit scan task count override (None -> scan_waves x cores).
    # Set it ROWS-derived (like n_tparts) when measuring N->4N scaling
    # so both levels run the identical work decomposition — a cores-
    # derived target gives the high level fewer waves per task and
    # different tf file counts, which is a protocol artifact, not a
    # scaling property.
    scan_tasks: int | None = None


# Measured A/B sweet spot (BENCH/BASELINE.md tpart sweep): 1M docs -> 64
# tparts (4 task waves at local[16], halved per-task state), 150k -> ~10-16
# (64 there is pure tf-file fan-out: tf files = scan_tasks x n_tparts),
# 5k -> 1. Default derives from corpus size so toy builds don't pay
# cluster-sized fan-out; the 4x-parallelism cap keeps the skew-amortizing
# "4 waves" shape at cluster scale (raise n_tparts explicitly when a
# tpart's packed postings would outgrow executor memory).
DOCS_PER_TPART = 15_625


def _default_n_tparts(n_docs: int, parallelism: int) -> int:
    return max(1, min(math.ceil(n_docs / DOCS_PER_TPART), 4 * parallelism))


def _tf_long(spark: SparkSession, tf_dir: str) -> DataFrame:
    """Long-format (term, doc_id, tf, dl) view over the packed tf runs
    (schema given, not inferred: an empty corpus leaves no tf file)."""
    return (
        spark.read.schema("term string, docs array<bigint>, tfs array<int>, dls array<int>")
        .parquet(tf_dir)
        .select("term", F.explode(F.arrays_zip("docs", "tfs", "dls")).alias("z"))
        .select(
            "term",
            F.col("z.docs").alias("doc_id"),
            F.col("z.tfs").alias("tf"),
            F.col("z.dls").alias("dl"),
        )
    )


def _tpart_committed(cat: ManifestCatalog, tp: int) -> bool:
    """A tpart unit is committed iff its manifest exists AND every data
    dir it wrote still exists (a deleted slice forces a re-run — the
    stage-level manifest must never mask missing data)."""
    m = cat.read_manifest(f"tpart={tp}")
    if m is None:
        return False
    return all(fsio.isdir(d) for d in m.get("data_dirs", []))


def _file_shuffle_postings(
    spark: SparkSession,
    cat: ManifestCatalog,
    tf_dir: str,
    idx_dir: str,
    lex_dir: str,
    n_tparts: int,
    n_docs: int,
    bucket_span: int,
    avgdl: float,
    config: IndexConfig,
    resume: bool,
    tpart_spread: int,
) -> None:
    """File-shuffle posting + lexicon stage (see the module docstring
    and udfs.make_tpart_build_task). Resume granularity is ONE TPART:
    each tpart commits a `tpart=P` manifest listing its data dirs + per-
    bucket stats; a killed build reruns only invalid/missing tparts.
    Aggregate bucket manifests + both stage manifests are derived from
    the tpart manifests (cheap, idempotent, no read-back of chunk
    files), and re-derived whenever either stage manifest is missing —
    a crash between the two commits resumes without re-running a tpart."""
    missing = [
        tp for tp in range(n_tparts)
        if not (resume and _tpart_committed(cat, tp))
    ]
    # Driver-side pre-wave cleanup (FuseIndex reads index/ by directory
    # listing, so unmanifested dirs ARE query-visible):
    #  - tpart dirs OUTSIDE the configured range — a rebuild with a
    #    smaller n_tparts would otherwise leave stale tpart=P (P >=
    #    n_tparts) that no task's _clean_own_slices ever touches,
    #    double-counting postings;
    #  - uncommitted (missing) tparts' dirs — a crashed task's partial
    #    output stays visible until its re-run otherwise. The task still
    #    re-cleans its own slices first (belt-and-braces vs speculative
    #    or retried attempts).
    stale_tps = set(missing)
    for name in fsio.listdir(idx_dir):
        if not name.startswith("bucket="):
            continue
        bdir = fsio.join(idx_dir, name)
        for sub in fsio.listdir(bdir):
            if not sub.startswith("tpart="):
                continue
            try:
                p = int(sub.split("=", 1)[1])
            except ValueError:
                continue
            if p >= n_tparts or p in stale_tps:
                fsio.rmtree(fsio.join(bdir, sub))
    for sub in fsio.listdir(lex_dir):
        if sub.startswith("tpart="):
            try:
                p = int(sub.split("=", 1)[1])
            except ValueError:
                continue
            if p >= n_tparts or p in stale_tps:
                fsio.rmtree(fsio.join(lex_dir, sub))
    secs = 0.0
    if missing:
        t0 = time.perf_counter()
        fsio.makedirs(idx_dir)
        fsio.makedirs(lex_dir)
        task = make_tpart_build_task(
            tf_dir, idx_dir, lex_dir,
            avgdl, config.k1, config.b, config.block_size,
        )
        # one row per partition -> one task per missing tpart, no
        # exchange anywhere in this job. Tasks finalize their own
        # bucket=K/tpart=P + lexicon/tpart=P dirs (clean + direct atomic
        # writes) — the old driver-serial staging→live promote loop
        # (O(n_buckets x n_tparts) renames of driver metadata work on
        # the critical path, ~10^4+ dirs at cluster scale) is gone;
        # visibility is the per-tpart manifest commit below.
        if len(missing) < n_tparts:
            ids = spark.createDataFrame(
                [(tp,) for tp in missing], "id long"
            ).repartition(len(missing))
        else:
            ids = spark.range(0, n_tparts, 1, n_tparts)
        stats_rows = ids.mapInArrow(task, TPART_STATS_SCHEMA).collect()
        secs = time.perf_counter() - t0
        # per-tpart manifests (north rule: per-partition segment lineage
        # + metrics; a killed build resumes from the last committed one)
        by_tp: dict[int, dict] = {tp: {"rows": [], "lex": None} for tp in missing}
        for r in stats_rows:
            ent = by_tp[int(r["tpart"])]
            if r["bucket"] == -1:
                ent["lex"] = {
                    "n_terms": int(r["n_terms"]),
                    "n_postings": int(r["n_postings"]),
                    "bytes": int(r["bytes"]),
                    "enc_micros": int(r["enc_micros"]),
                }
            else:
                ent["rows"].append(
                    [int(r["bucket"]), int(r["n_terms"]), int(r["n_postings"]),
                     int(r["bytes"]), int(r["enc_micros"]),
                     str(r["term_lo"]), str(r["term_hi"])]
                )
        per_secs = secs / max(1, len(missing))
        for tp in missing:
            ent = by_tp[tp]
            dirs = [
                fsio.join(idx_dir, f"bucket={row[0]}", f"tpart={tp}")
                for row in ent["rows"]
            ]
            if ent["lex"] is not None:
                dirs.append(fsio.join(lex_dir, f"tpart={tp}"))
            cat.commit(
                f"tpart={tp}",
                {
                    "data_dir": None,
                    "data_dirs": dirs,
                    "tpart": tp,
                    "rows": ent["rows"],
                    "lex": ent["lex"],
                    "seconds": round(per_secs, 3),
                },
            )
    # ---- aggregate manifests from the committed tpart units ----
    if not (
        resume
        and not missing
        and cat.is_committed("stage_postings")
        and cat.is_committed("stage_lexicon")
    ):
        by_bucket: dict[int, dict] = {}
        lex_terms = 0
        lex_postings = 0
        for tp in range(n_tparts):
            m = cat.read_manifest(f"tpart={tp}")
            if m is None:
                continue
            if m.get("lex"):
                lex_terms += m["lex"]["n_terms"]
                lex_postings += m["lex"]["n_postings"]
            for k, n_terms, n_post, nbytes, micros, lo, hi in m.get("rows", []):
                agg = by_bucket.setdefault(
                    int(k),
                    {"n_terms": 0, "n_postings": 0, "bytes": 0, "enc_micros": 0,
                     "term_lo": None, "term_hi": None, "partitions": []},
                )
                agg["n_terms"] += int(n_terms)
                agg["n_postings"] += int(n_post)
                agg["bytes"] += int(nbytes)
                agg["enc_micros"] += int(micros)
                if agg["term_lo"] is None or lo < agg["term_lo"]:
                    agg["term_lo"] = lo
                if agg["term_hi"] is None or hi > agg["term_hi"]:
                    agg["term_hi"] = hi
                es = int(micros) / 1e6
                agg["partitions"].append(
                    [tp, int(n_terms), int(n_post), round(es, 3),
                     round(int(n_post) / es, 1) if es > 0 else None]
                )
        if not by_bucket and not any(
            n.endswith(".parquet") or n.startswith("tpart=")
            for n in fsio.listdir(lex_dir)
        ):
            _write_empty(lex_dir, pa.schema(
                [("term", pa.string()), ("df", pa.int64()), ("total_tf", pa.int64()),
                 ("max_partial", pa.float32()), ("n_chunks", pa.int64())]
            ))
        if tpart_spread > 1 and lex_terms:
            # bucket-salted routing puts a term's lexicon rows in up to
            # `spread` slices and no tpart task can see the others, so
            # the exact vocabulary is one distinct over the term column
            terms = pads.dataset(lex_dir, format="parquet").to_table(columns=["term"])
            lex_terms = pc.count_distinct(terms.column("term")).as_py()
        for k in sorted(by_bucket):
            agg = by_bucket[k]
            cat.commit(
                f"bucket={k}",
                {
                    "data_dir": fsio.join(idx_dir, f"bucket={k}"),
                    "bucket": k,
                    "doc_id_range": [k * bucket_span, (k + 1) * bucket_span - 1],
                    "term_range": [agg["term_lo"], agg["term_hi"]],
                    "n_terms": agg["n_terms"],
                    "n_postings": agg["n_postings"],
                    "bytes": agg["bytes"],
                    "seconds": round(secs, 3),
                    "postings_per_sec": (
                        round(agg["n_postings"] / secs, 1) if secs > 0 else None
                    ),
                    "encode_cpu_seconds": round(agg["enc_micros"] / 1e6, 3),
                    "partitions": sorted(agg["partitions"]),
                },
            )
        cat.commit(
            "stage_postings",
            {"data_dir": idx_dir, "seconds": round(secs, 3), "n_tparts": n_tparts},
        )
        # lexicon was folded into the same pass (a term lives in exactly
        # ONE tpart, so each task writes its final lexicon slice)
        cat.commit(
            "stage_lexicon",
            {"data_dir": lex_dir, "vocabulary": lex_terms,
             "n_postings": lex_postings, "seconds": 0.0,
             "folded_into": "stage_postings"},
        )


def _write_empty(out: str, schema: pa.Schema) -> None:
    """Empty-corpus edge: downstream readers need at least one parquet
    file with the output's schema."""
    fsio.makedirs(out)
    fsio.write_parquet_atomic(schema.empty_table(), fsio.join(out, "part-0.parquet"))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    content_col: str = "content",
    doc_id_col: str | None = None,
    sort_cols: list[str] | None = None,
    config: IndexConfig = IndexConfig(),
    resume: bool = True,
) -> dict:
    """Build (or resume) an index at out_dir. Returns the stats dict."""
    from pyfusedb_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    cat = ManifestCatalog(out_dir)
    stats_path = fsio.join(out_dir, "stats.json")
    # a root carrying streamed appends (streaming/incremental.py) is
    # refused, resume or not: the pre-wave cleanup below removes tpart
    # dirs under EVERY bucket (streamed ones included), and the final
    # stats.json rewrite drops the stream state that makes them visible
    if any(
        k.startswith("stream_batch=") for k in cat.snapshot().get("manifests", {})
    ) or (
        fsio.exists(stats_path)
        and visible_bucket_components(fsio.read_json(stats_path)) is not None
    ):
        raise ValueError(
            f"{out_dir} holds streamed appends; build_index would drop "
            "them — build into a fresh directory"
        )
    # a stage_tf without n_tparts was written by the retired live-
    # exchange posting modes (flat per-bucket chunk files): neither a
    # resume nor an in-place rebuild can read or clean that layout
    m_tf = cat.read_manifest("stage_tf")
    if m_tf is not None and not m_tf.get("n_tparts"):
        raise ValueError(
            f"{out_dir} holds an index without the tpart layout, which "
            "build_index can no longer resume or overwrite — build into a "
            "fresh directory"
        )
    # drop staging dirs a killed run left behind: directory-listing
    # readers (query side, lexicon distinct) would double-count chunks
    cat.clean_orphan_staging(out_dir)
    if not resume:
        for key in list(cat.snapshot().get("manifests", {})):
            cat.uncommit(key)
    # stage stats is committed from the scan's own task rows just before
    # stage tf; a stage tf without it re-runs the scan (nothing reads the
    # scan's output back to recover the stats)
    m_stats = cat.read_manifest("stage_stats")
    if m_stats is None:
        m_tf = None

    tf_dir = fsio.join(out_dir, "tf")
    ds_dir = fsio.join(out_dir, "doc_stats")
    idx_dir = fsio.join(out_dir, "index")
    lex_dir = fsio.join(out_dir, "lexicon")

    # ---------------- stage tf + stage stats ----------------
    # Narrow jobs only, zero live shuffles, no caching of wide
    # intermediates (a persisted map<term,tf> column measured 2-3x
    # slower end-to-end and its fixed JVM-side costs wrecked N->4N
    # scaling):
    #   A. ONE fused corpus scan (udfs.make_tf_fused_task): the task
    #      tokenizes, packs runs into tf/tpart=P files AND writes its
    #      doc_stats (doc_id, doc_len, sha256) file — no second scan for
    #      sha256 and no Spark dynamic-partition writer fanning out fat
    #      array rows;
    #   B. an optional per-tpart combine pass bounding tf file fan-out;
    #   C. stage stats = the sum of the scan's task rows (N counts empty
    #      docs too — app/InvertedIndex.py:34; total_len; the order-
    #      independent sha256 lineage sum of 60-bit hex prefixes).
    if m_tf is None:
        t0 = time.perf_counter()
        if doc_id_col is None:
            # assign_doc_ids persists its sorted intermediate; ids are
            # dense 0..N-1 so count/max come free — no extra action
            docs = assign_doc_ids(corpus, sort_cols or corpus.columns)
            n_docs = docs._pyfusedb_n_rows
            max_id = n_docs - 1
        else:
            docs = corpus.withColumnRenamed(doc_id_col, "doc_id") if doc_id_col != "doc_id" else corpus
            # Small-file guard: a corpus materialized as a few small
            # parquet files bin-packs into fewer scan splits than cores
            # (spark.sql.files.maxPartitionBytes), which would serialize
            # the tokenize stage. Target scan_waves x parallelism tasks,
            # not just parallelism: a single task wave puts per-task
            # variance straight on the stage's critical path (at 32
            # cores the slowest of 32 tasks gates the stage — the r4
            # 8->32 stage_tf plateau was partly THIS: the cached bench
            # corpus bin-packed to exactly 32 splits, giving local[8]
            # four straggler-amortizing waves and local[32] one). At
            # 100 TB the scan has orders of magnitude more splits than
            # executors and this no-ops; at toy scale the round-robin
            # shuffle is cheap and buys wave-balanced parallelism for
            # the dominant stage.
            par = spark.sparkContext.defaultParallelism
            target = config.scan_tasks or par * max(1, int(config.scan_waves))
            if docs.rdd.getNumPartitions() < target:
                docs = docs.repartition(target)
            # bucket_span needs max_id up front: a column-pruned agg
            # over doc_id alone (no content read)
            r = docs.agg(
                F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("m")
            ).collect()[0]
            n_docs, max_id = int(r["n"]), int(r["m"] or 0)
        bucket_span = max(1, math.ceil((max_id + 1) / config.n_buckets))
        # corpus-derived default (see _default_n_tparts): tf file
        # fan-out is scan_tasks x n_tparts, so oversizing it at toy
        # scale is pure file-commit overhead
        n_tparts_cfg = config.n_tparts or _default_n_tparts(
            n_docs,
            config.shuffle_partitions
            or spark.sparkContext.defaultParallelism,
        )
        staging_tf = cat.staging_dir(tf_dir)
        staging_ds = cat.staging_dir(ds_dir)
        fsio.makedirs(staging_tf)
        fsio.makedirs(staging_ds)
        scan_rows = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), content_col
        ).mapInArrow(
            make_tf_fused_task(
                config.preset, bucket_span, content_col,
                n_tparts_cfg, staging_tf, staging_ds,
                tpart_spread=config.n_buckets,
            ),
            TF_TASK_SCHEMA,
        ).collect()
        n_scan_tasks = len(scan_rows)
        bound = config.max_tf_files_per_tpart
        if bound is not None and n_scan_tasks > bound:
            # fan-out bound: scan_tasks files per tpart -> a handful
            # (one per-tpart task wave; see make_tf_combine_task)
            combined = cat.staging_dir(tf_dir)
            fsio.makedirs(combined)
            spark.range(0, n_tparts_cfg, 1, n_tparts_cfg).mapInArrow(
                make_tf_combine_task(staging_tf, combined),
                TF_COMBINE_SCHEMA,
            ).collect()
            fsio.rmtree(staging_tf)
            staging_tf = combined
        if not n_docs:
            _write_empty(staging_ds, pa.schema(
                [("doc_id", pa.int64()), ("doc_len", pa.int64()), ("sha256", pa.string())]
            ))
        cat.promote_dir(staging_tf, tf_dir)
        cat.promote_dir(staging_ds, ds_dir)
        cache = getattr(docs, "_pyfusedb_cache", None)
        if cache is not None:
            cache.unpersist()
        secs = time.perf_counter() - t0
        total_len = sum(int(r["total_len"]) for r in scan_rows)
        m_stats = {
            "data_dir": ds_dir,
            "n_docs": n_docs,
            "avgdl": total_len / n_docs if n_docs else 0.0,
            "total_len": total_len,
            "sha256_lineage_sum": str(sum(int(r["lineage"]) for r in scan_rows)),
        }
        cat.commit("stage_stats", m_stats)
        m_tf = {
            "data_dir": tf_dir,
            "n_docs": n_docs,
            "max_doc_id": max_id,
            "bucket_span": bucket_span,
            "n_tparts": n_tparts_cfg,
            "tpart_spread": config.n_buckets,
            "seconds": round(secs, 3),
            "docs_per_sec": round(n_docs / secs, 1) if secs > 0 else None,
        }
        cat.commit("stage_tf", m_tf)

    n_docs = m_tf["n_docs"]
    bucket_span = m_tf["bucket_span"]
    n_tparts = m_tf["n_tparts"]
    tpart_spread = m_tf.get("tpart_spread") or 1
    avgdl = m_stats["avgdl"]

    # ---------------- postings + lexicon ----------------
    _file_shuffle_postings(
        spark, cat, tf_dir, idx_dir, lex_dir, n_tparts, n_docs,
        bucket_span, avgdl, config, resume, tpart_spread,
    )
    m_lex = cat.read_manifest("stage_lexicon")

    # ---------------- norms (exact, v1 semantics) ----------------
    if config.compute_norms and (not resume or cat.read_manifest("stage_norms") is None):
        t0 = time.perf_counter()
        tf_long = _tf_long(spark, tf_dir)
        # one row per term: bucket-salted tpart routing stores a term's
        # lexicon rows in up to `spread` slices — sum before the join or
        # the broadcast would multiply tf_long rows and corrupt norms
        lex = (
            spark.read.parquet(lex_dir)
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        # vocabulary is usually small enough to broadcast; at larger vocab
        # Catalyst/AQE picks a shuffle join automatically
        joined = tf_long.join(F.broadcast(lex), "term")
        w = (F.lit(1.0) + F.log10(F.col("tf"))) * F.log10(F.lit(float(n_docs)) / F.col("df"))
        norms = joined.groupBy("doc_id").agg(F.sqrt(F.sum(w * w)).alias("norm"))
        ds = spark.read.parquet(ds_dir)
        ds_full = ds.join(norms, "doc_id", "left").na.fill({"norm": 0.0})
        final_dir = fsio.join(out_dir, "doc_stats_full")
        staging = cat.staging_dir(final_dir)
        ds_full.write.mode("overwrite").parquet(staging)
        cat.promote_dir(staging, final_dir)
        cat.commit(
            "stage_norms",
            {"data_dir": final_dir, "seconds": round(time.perf_counter() - t0, 3)},
        )

    tok_secs = m_tf.get("seconds")
    total_len = m_stats["total_len"]
    stats = {
        "format_version": 1,
        "config": asdict(config),
        "max_doc_id": m_tf.get("max_doc_id"),
        # query side keys tpart directory addressing off these;
        # tpart_spread = bucket-salt width of the routing hash
        "n_tparts": n_tparts,
        "tpart_spread": tpart_spread,
        "tokens_per_sec": (
            round(total_len / tok_secs, 1) if tok_secs else None
        ),
        "n_docs": n_docs,
        "avgdl": avgdl,
        "total_len": total_len,
        "bucket_span": bucket_span,
        "vocabulary": m_lex["vocabulary"],
        "n_postings": m_lex["n_postings"],
        "sha256_lineage_sum": m_stats["sha256_lineage_sum"],
    }
    write_json_atomic(stats_path, stats)
    return stats
