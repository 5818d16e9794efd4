"""Capture physical plans of the engine's key operators -> BENCH/PLANS.md.

Evidence that the declarative parts hit the optimizations we rely on:
- index/lexicon scans show PushedFilters on `term` + pruned ReadSchema;
- the corpus projection join broadcasts the k-row result side;
- relational ops run inside WholeStageCodegen;
- the distributed scorer is range -> mapInArrow (one task per bucket)
  -> TakeOrderedAndProject, with no Exchange.

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyfusedb_spark.operators import knn
    from pyfusedb_spark.operators.build import IndexConfig, build_index
    from pyfusedb_spark.operators.query import FuseIndex, project_results

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    idx_dir = os.path.join(tempfile.gettempdir(), "pyfusedb_plans_idx")
    import shutil

    shutil.rmtree(idx_dir, ignore_errors=True)
    build_index(
        spark, docs, idx_dir, content_col="text", doc_id_col="doc_id",
        config=IndexConfig(preset="simple", n_buckets=2, compute_norms=False,
                           n_tparts=8),  # default file-shuffle layout
    )
    idx = FuseIndex(spark, idx_dir)

    sections: list[tuple[str, str, str]] = []

    terms = ["merge", "sort"]
    term_scan = spark.read.parquet(os.path.join(idx_dir, "index")).where(
        F.col("tpart").isin(idx._tpart_filter_vals(terms))
    ).where(F.col("term").isin(terms)).select("term", "df_chunk", "payload")
    sections.append((
        "Index term lookup (Spark scan of the index, tpart-addressed)",
        "Expect: PartitionFilters [tpart IN (…)] — the bucket-salted term "
        "hash addresses the exact index/bucket=K/tpart=P directories, so "
        "the scan lists only those dirs; PushedFilters [In(term, …)] plus "
        "row-group `term` min/max stats prune within them; ReadSchema "
        "pruned to the 3 needed columns.",
        fmt(term_scan),
    ))

    sections.append((
        "Distributed BM25 search",
        "Expect: Range -> MapInArrow -> TakeOrderedAndProject, no Exchange: "
        "one task per visible doc-range bucket reads its chunks through "
        "pyarrow and yields its local top-k (the driver's exhaustive "
        "kernel); the k rows per task are merged without a shuffle.",
        fmt(idx.search_distributed("merge sort join", 10)),
    ))

    hits = spark.createDataFrame([(3, 1.5), (7, 1.1)], "doc_id long, score double")
    sections.append((
        "Top-k projection join (J4)",
        "Expect: BroadcastHashJoin with the k-row result side broadcast "
        "into the corpus scan; WholeStageCodegen around the join.",
        fmt(project_results(docs, hits, ["source", "lang"])),
    ))

    sections.append((
        "Brute-force cosine top-k (M1)",
        "Expect: single scan, JVM higher-order functions (zip_with/aggregate) "
        "inside the project, TakeOrderedAndProject — no shuffle, no Python.",
        fmt(knn.brute_force_topk(emb, [0.1] * 64, 5)),
    ))

    ivf_dir = os.path.join(tempfile.gettempdir(), "pyfusedb_plans_ivf")
    shutil.rmtree(ivf_dir, ignore_errors=True)
    ivf = knn.PersistedIVF.build(emb, ivf_dir, nlist=8, sample_n=512)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    sections.append((
        "Persisted IVF probe (cell-partitioned ANN index)",
        "Expect: Scan parquet with PartitionFilters [cell IN (…)] — the "
        "probe reads only nprobe cell directories of the at-rest index; "
        "PushedFilters stays empty (pruning is at the directory level), "
        "cosine + TakeOrderedAndProject on the surviving rows only.",
        fmt(ivf.topk(qv, 10, nprobe=3)),
    ))

    graph = knn.PersistedGraphANN.build(ivf, m=4, seg_target=4096)
    sections.append((
        "NSW graph ANN probe (per-segment beam search over the IVF cells)",
        "Expect: Scan parquet of graph/ with PartitionFilters [cell IN (…)] "
        "— beam search touches only the probed cell directories; one "
        "exchange on (cell, seg) feeds FlatMapGroupsInPandas (the per-"
        "segment beam), then the k-row-per-query window top-k.",
        fmt(graph.topk(qv, 10, nprobe=3, ef=32)),
    ))

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("sum_qty"))
    sections.append((
        "Relational aggregate (Catalyst baseline)",
        "Expect: partial HashAggregate -> exchange -> final HashAggregate, "
        "ReadSchema pruned to 2 columns, WholeStageCodegen spans.",
        fmt(agg),
    ))

    out = ["# Physical-plan evidence (generated by scripts/explain_plans.py)", ""]
    for title, expect, plan in sections:
        out += [f"## {title}", "", expect, "", "```", plan, "```", ""]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
