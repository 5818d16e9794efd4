"""spark-submit entrypoint: build (or resume) the inverted index.

North-rule packaging: the pipeline ships as a zip of the engine package
via ``--py-files`` — no repo checkout needed on executors::

    python -m zipfile -c /tmp/pyfusedb_spark.zip pyfusedb_spark/
    spark-submit --master <cluster> --py-files /tmp/pyfusedb_spark.zip \
        jobs/build_index.py --input /data/corpus --out /data/index \
        --content-col content --preset code --buckets 8

The job is resumable: re-submitting with the same ``--out`` skips every
committed stage/bucket (manifest catalog) — the kill-resume story a
10^12-file build needs. Exit code 0 only after the final snapshot commit.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="pyfusedb_spark index build")
    ap.add_argument("--input", required=True, help="corpus parquet dir or table name")
    ap.add_argument("--out", required=True, help="index output dir")
    ap.add_argument("--content-col", default="content")
    ap.add_argument("--doc-id-col", default=None,
                    help="existing stable id column; omit to assign ids by sorted key")
    ap.add_argument("--sort-cols", default=None,
                    help="comma-separated unique sort key for id assignment "
                         "(default: all columns; code corpus: repo,path,commit)")
    ap.add_argument("--preset", default="code", choices=["english", "simple", "code"])
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--k1", type=float, default=1.2)
    ap.add_argument("--b", type=float, default=0.75)
    ap.add_argument("--no-norms", action="store_true",
                    help="skip exact TF-IDF norms (BM25-only index)")
    ap.add_argument("--n-tparts", type=int, default=None,
                    help="posting-stage fan-out (default: corpus-derived, "
                         "~15625 docs per tpart capped at 4x parallelism); "
                         "keep constant across cluster sizes when measuring "
                         "scaling")
    ap.add_argument("--max-tf-files-per-tpart", type=int, default=64,
                    help="insert a per-tpart combine pass when the corpus "
                         "scan ran on more tasks than this (bounds tf fan-"
                         "out at 10^5 map tasks); 0 disables")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--fresh", action="store_true", help="ignore committed manifests")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pyfusedb_spark.operators.build import IndexConfig, build_index

    spark = SparkSession.builder.appName("pyfusedb-build-index").getOrCreate()
    corpus = (
        spark.read.parquet(args.input)
        if "/" in args.input or args.input.endswith(".parquet")
        else spark.table(args.input)
    )
    stats = build_index(
        spark,
        corpus,
        args.out,
        content_col=args.content_col,
        doc_id_col=args.doc_id_col,
        sort_cols=args.sort_cols.split(",") if args.sort_cols else None,
        config=IndexConfig(
            preset=args.preset,
            k1=args.k1,
            b=args.b,
            block_size=args.block_size,
            n_buckets=args.buckets,
            compute_norms=not args.no_norms,
            shuffle_partitions=args.shuffle_partitions,
            n_tparts=args.n_tparts,
            max_tf_files_per_tpart=args.max_tf_files_per_tpart or None,
        ),
        resume=not args.fresh,
    )
    json.dump(stats, sys.stdout, indent=1, sort_keys=True)
    print()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
