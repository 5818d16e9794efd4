"""pyfusedb_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query --seed 1 --seconds 5 --trace 0

Workloads (see NOTES.md): build_stream, query. The run
starts Spark at local[nproc], builds what the workload needs from the
seeded corpus, measures for --seconds, checks a seeded sample of outputs
against the engine's single-process oracle, and prints

  * one ``metric <name> <value> <unit>`` line per reported number,
  * a ``perfbench-report {...}`` line (workload, seed, every number, notes),
  * last, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
    metrics with --trace 0, the per-layer metrics with --trace 1.

Scratch files live under ``.perfbench/`` at the repository root and are
removed at exit; traced runs leave their spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("build_stream", "query")
E2E = ("setup_s", "p50_ms", "p90_ms", "rate_per_s")
LAYERS = {  # per-layer metric -> unit; NOTES.md maps each to what it moves
    "build.stage_tf_s": "s", "build.stage_postings_s": "s", "build.stage_lexicon_s": "s",
    "build.stage_norms_s": "s", "build.unaccounted_s": "s",
    "build.tpart_s_max_over_median": "ratio", "build.encode_cpu_s": "s",
    "build.tf_bytes": "bytes", "build.index_bytes": "bytes",
    "query.lexicon_ms": "ms", "query.fetch_ms": "ms", "query.fetch_bytes": "bytes",
    "query.chunk_cache_hit_ratio": "ratio", "query.norms_ms": "ms", "query.score_self_ms": "ms",
    "query.path_exhaustive": "ratio", "query.path_bmx": "ratio",
    "query.hot_blocks_skipped_ratio": "ratio", "query.head_fetch_ms": "ms",
    "query.tail_fetch_ms": "ms", "query.head_score_self_ms": "ms", "query.tail_score_self_ms": "ms",
    "codec.decode_ms": "ms", "codec.decoded_postings": "count", "codec.bm25_ms": "ms",
    "codec.head_decode_ms": "ms", "codec.tail_decode_ms": "ms",
    "stream.batch_write_s": "s", "stream.fold_s": "s", "stream.compaction_bytes": "bytes",
    "stream.live_chunk_sources": "count", "stream.doc_stats_dirs": "count",
    "stream.cache_reloads": "count", "stream.failed_folds": "count",
    "trace.overhead_ms": "ms",
}


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it (its Python
    workers exit when the JVM's pipes close)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pyfusedb_spark", "__init__.py")):
        print(f"perfbench: no pyfusedb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import inputs
    import spark_env
    import workloads

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = spark_env.start_spark(work)
        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace), T_START)
        run.phase("spark")
        for w in workloads.windows(args.workload, args.seed, work):
            inputs.write_window(spark, w)
        run.phase("inputs")
        getattr(workloads, f"run_{args.workload}")(run)
        run.phase("checks")
        if run.tracers:
            tdir = os.path.join(base, "traces")
            os.makedirs(tdir, exist_ok=True)
            for i, tr in enumerate(run.tracers):
                tr.write(os.path.join(tdir, f"{args.workload}-seed{args.seed}-{i}.jsonl"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYERS.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k][0]), "unit": run.e2e[k][1]} for k in E2E}
    run.phase("stop")
    shown = dict(run.e2e)
    shown.update(run.report)
    shown["failed_ops_frac"] = (run.failed / max(1, run.attempted), "ratio")
    for k, (v, unit) in shown.items():
        print(f"metric {k} {v:.6g} {unit}")
    for k in sorted(run.layers):
        print(f"layer {k} {run.layers[k]:.6g} {LAYERS[k]}")
    for n in run.notes:
        print(f"note {n}")
    print("perfbench-report " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        "layers": run.layers, "notes": run.notes,
    }))
    print(json.dumps({"correct": run.wrong == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
