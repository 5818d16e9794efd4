"""spark-submit entrypoint: BM25/TF-IDF top-k queries against a built index.

    spark-submit --master <cluster> --py-files /tmp/pyfusedb_spark.zip \
        jobs/query_index.py --index /data/index \
        --query "binary search tree" --k 10 [--mode bm25] [--and] \
        [--distributed]

Prints one JSON line per query: {"query": ..., "hits": [[doc_id, score]...],
"seconds": ...}. ``--distributed`` scores in executors (hot terms / huge
df); default is the driver fast path (pushdown fetch + the auto-selected
scorer: vectorized block-max "bmx" on hot+selective shapes, vectorized
exhaustive otherwise). ``--scorer`` forces one of the two (both are exact).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="pyfusedb_spark query")
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", required=True,
                    help="repeatable: one or more queries")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", default="bm25", choices=["bm25", "tfidf"])
    ap.add_argument("--and", dest="conjunctive", action="store_true",
                    help="conjunctive (AND) semantics instead of score-union OR")
    ap.add_argument("--distributed", action="store_true")
    ap.add_argument("--scorer", default="auto",
                    choices=["auto", "bmx", "exhaustive"],
                    help="force a driver scorer path (both rank-identical)")
    args = ap.parse_args(argv)
    use_wand = {"auto": "auto", "bmx": "bmx", "exhaustive": False}[args.scorer]

    from pyspark.sql import SparkSession

    from pyfusedb_spark.operators.query import FuseIndex

    spark = SparkSession.builder.appName("pyfusedb-query").getOrCreate()
    idx = FuseIndex(spark, args.index)
    for q in args.query:
        t0 = time.perf_counter()
        if args.distributed:
            rows = idx.search_distributed(
                q, args.k, mode=args.mode, conjunctive=args.conjunctive
            ).collect()
            hits = [[int(r["doc_id"]), float(r["score"])] for r in rows]
        else:
            hits = [[int(d), float(s)] for d, s in
                    idx.search(q, args.k, mode=args.mode, conjunctive=args.conjunctive,
                               use_wand=use_wand)]
        print(json.dumps({
            "query": q, "hits": hits,
            "seconds": round(time.perf_counter() - t0, 4),
        }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
