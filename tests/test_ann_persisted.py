"""Persisted IVF index (cell-partitioned parquet) + ANN quality floors.

Covers round-2 items: directory-pruned probes (PartitionFilters in the
scan plan), the adaptive EXACT top-k (triangle-inequality cell pruning),
recall floors for the approximate settings, and the high-dimensional
(2048-d) LSH path that must not inline plane matrices as Catalyst
literals (broadcast + batch matmul instead)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyfusedb_spark.operators import knn

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .persist()
    )


@pytest.fixture(scope="module")
def ivf(spark, emb, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ivf"))
    return knn.PersistedIVF.build(emb, out, nlist=8, sample_n=512)


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_persisted_ivf_roundtrip(spark, ivf):
    reopened = knn.PersistedIVF(spark, ivf.out_dir)
    assert np.allclose(reopened.centroids, ivf.centroids)
    assert reopened.radii == ivf.radii


def test_probe_prunes_partitions_in_plan(ivf):
    """The at-rest layout must turn `cell IN probes` into partition
    pruning: the scan's plan shows PartitionFilters on `cell` and the
    pruned scan reads fewer files than the full index."""
    probe = ivf.cells_df.where(F.col("cell").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # the IN predicate must land in PartitionFilters (directory pruning),
    # NOT in PushedFilters/data filters
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0] and " IN (0,1)" in pf[0].replace("#", "").replace(
        "cell", "cell"
    ), f"no partition pruning in plan: {pf}"


def test_topk_exact_equals_brute(emb, ivf):
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    exact = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in knn.brute_force_topk(emb, qv, 10).collect()
    ]
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in ivf.topk_exact(qv, 10).collect()]
    assert got == exact


def test_entry_setting_recall_floors(emb, ivf):
    """The driver-contract ANN settings must hold recall 1.0 here (their
    oracle is the exact scan), and one notch tighter must stay >= 0.9 —
    documents the floor VERDICT.md asked to quantify."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    exact = set(_ids(knn.brute_force_topk(emb, qv, 10)))
    assert len(set(_ids(ivf.topk(qv, 10, nprobe=6))) & exact) == 10
    assert len(set(_ids(ivf.topk(qv, 10, nprobe=5))) & exact) >= 8

    qv0 = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    exact0 = set(_ids(knn.brute_force_topk(emb, qv0, 10)))
    got10 = set(_ids(knn.lsh_ann_topk(emb, qv0, 10, n_planes=16, max_hamming=10)))
    got8 = set(_ids(knn.lsh_ann_topk(emb, qv0, 10, n_planes=16, max_hamming=8)))
    assert len(got10 & exact0) == 10
    assert len(got8 & exact0) >= 9


def test_lsh_prefilter_actually_prunes(emb):
    """At the oracle-checked setting the signature prefilter must still
    exclude a real share of the corpus (not a degenerate full scan)."""
    qv0 = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    n = emb.count()
    planes = knn._hyperplanes(len(qv0), 16, 13)
    q = np.asarray(qv0)
    q_sig = int(sum((1 << i) for i in range(16) if planes[i] @ q > 0))
    sigs = knn.lsh_signatures(emb, len(qv0), 16)
    cand = sigs.where(F.bit_count(F.col("sig").bitwiseXOR(F.lit(q_sig))) <= 10).count()
    assert cand < n, "prefilter scanned everything"


def test_lsh_high_dim_no_literal_bloat(spark):
    """2048-d embeddings through lsh_signatures + lsh_ann_topk: the plan
    must stay small (broadcast matmul, not 2048x16 literal expressions)
    and the ANN result must match an in-process numpy reference."""
    rng = np.random.default_rng(5)
    n, dim = 300, 2048
    x = rng.standard_normal((n, dim))
    pdf = [(i, [float(v) for v in x[i]]) for i in range(n)]
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    sigs = knn.lsh_signatures(df, dim, 16)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 20_000, f"plan bloat: {len(plan)} chars"
    # signatures match the numpy reference bit-for-bit
    planes = knn._hyperplanes(dim, 16, 13)
    expected = ((x @ planes.T) > 0) @ (1 << np.arange(16, dtype=np.int64))
    got = {r["vec_id"]: r["sig"] for r in sigs.collect()}
    assert [got[i] for i in range(n)] == expected.astype(np.int64).tolist()
    # end-to-end ANN at a generous hamming bound returns the true top-k
    qv = [float(v) for v in x[0]]
    sims = (x @ x[0]) / (np.linalg.norm(x, axis=1) * np.linalg.norm(x[0]))
    top = np.lexsort((np.arange(n), -np.round(sims, 12)))[:5].tolist()
    ann = _ids(knn.lsh_ann_topk(df, qv, 5, n_planes=16, max_hamming=16))
    assert ann == top


# ---------------------------------------------------------------------------
# Per-segment NSW graph tier (the HNSW analog, round-3 M4 last mile)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def graph(ivf):
    return knn.PersistedGraphANN.build(ivf, m=8)


def test_graph_reopen_and_layout(spark, ivf, graph):
    reopened = knn.PersistedGraphANN(ivf)
    assert reopened.meta == graph.meta
    g = graph.graph_df
    assert {"vec_id", "neighbors", "is_entry", "seg", "cell"} <= set(g.columns)
    # adjacency-only layout: embeddings live ONCE, in the IVF cells/
    # tree; graph/ must not duplicate them (round-3 verdict task #8)
    assert "embedding" not in g.columns
    # exactly one entry point per (cell, seg) graph
    per_seg = g.groupBy("cell", "seg").agg(
        F.sum(F.col("is_entry").cast("int")).alias("n_entry")
    )
    assert all(r["n_entry"] == 1 for r in per_seg.collect())


def test_segment_graph_is_connected():
    """The row-order chain edge must make every segment graph connected —
    the property the exact-setting oracle entry rests on (ef >= n then
    provably visits every node)."""
    rng = np.random.default_rng(11)
    x = rng.standard_normal((157, 12))
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    adj = knn._build_segment_graph(xn, m=4)
    seen = {0}
    frontier = [0]
    while frontier:
        nxt = []
        for i in frontier:
            for j in adj[i]:
                if int(j) not in seen:
                    seen.add(int(j))
                    nxt.append(int(j))
        frontier = nxt
    assert len(seen) == len(adj)
    # undirected: j in adj[i] <=> i in adj[j]
    for i, a in enumerate(adj):
        for j in a:
            assert i in adj[int(j)]


def test_graph_exact_setting_equals_brute(emb, graph):
    """nprobe = nlist + ef >= segment size: the beam visits every node,
    so the graph search must equal brute force bit-for-bit (ids AND
    cosines) — the driver-contract setting for ann_graph."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 4).first()["embedding"]]
    exact = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in knn.brute_force_topk(emb, qv, 10).collect()
    ]
    got = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in graph.topk(qv, k=10, nprobe=8, ef=1_000_000).collect()
    ]
    assert got == exact


def test_graph_batch_one_job_matches_brute(emb, graph):
    """topk_batch answers several queries in one Spark job; each query's
    rows must match its own brute-force top-k at exact settings."""
    rows = emb.where(F.col("vec_id").isin([2, 6])).collect()
    queries = [(int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in rows]
    got = graph.topk_batch(queries, k=5, nprobe=8, ef=1_000_000).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["vec_id"], round(r["cosine"], 9)))
    for qid, qv in queries:
        exact = [
            (r["vec_id"], round(r["cosine"], 9))
            for r in knn.brute_force_topk(emb, qv, 5).collect()
        ]
        assert by_q[qid] == exact, f"q{qid}"


def test_beam_budget_and_recall_floor(emb, graph):
    """At a real small-ef setting the beam must (a) visit a strict subset
    of each segment (bounded distance budget) and (b) still find most of
    the true neighbours — the recall/budget trade HNSW exists for."""
    qv = np.asarray(
        emb.where(F.col("vec_id") == 4).first()["embedding"], dtype=np.float64
    )
    qn = qv / np.linalg.norm(qv)
    probed = graph.ivf._probe_cells(list(qv), 8)
    g = graph.graph_df.where(F.col("cell").isin(probed)).join(
        graph.ivf.cells_df.where(F.col("cell").isin(probed)).select(
            "vec_id", "embedding", "cell"
        ),
        ["vec_id", "cell"],
    )  # adjacency-only layout: rehydrate vectors exactly as topk_batch does
    pdfs = g.toPandas()
    visited_total, n_total, found = 0, 0, []
    for (_, _), pdf in pdfs.groupby(["cell", "seg"]):
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        pos = {int(v): i for i, v in enumerate(ids)}
        x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        nbrs = [
            np.fromiter((pos[int(gg)] for gg in row), dtype=np.int64)
            for row in pdf["neighbors"]
        ]
        entry = int(np.argmax(pdf["is_entry"].to_numpy()))
        best, n_vis = knn._beam_search(xn, nbrs, entry, qn, ef=8)
        visited_total += n_vis
        n_total += len(ids)
        found += [(s, int(ids[i])) for s, i in best]
    assert visited_total < n_total, "ef=8 beam degenerated to a full scan"
    got = {v for _, v in sorted(found, key=lambda t: (-t[0], t[1]))[:10]}
    exact = {r["vec_id"] for r in knn.brute_force_topk(emb, list(qv), 10).collect()}
    assert len(got & exact) >= 7, f"recall too low: {len(got & exact)}/10"


def test_persisted_range_search_exact(emb, ivf):
    """Cell-pruned range search must equal the full-scan range search
    exactly (lossless spherical-cap prune against the stored radii)."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    full = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in knn.range_search(emb, qv, 0.3).collect()
    ]
    pruned = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in ivf.range_search(qv, 0.3).collect()
    ]
    assert pruned == full and len(full) > 0


def test_beam_search_duplicate_vectors_tie_in_id_order():
    """Bit-identical vectors score bit-identically whatever the shape of
    the distance batch they are scored in, so an exact beam returns ties
    in ascending id order (the brute-force ORDER BY contract)."""
    x = np.asarray([[((i * 7 + d * 3) % 11) / 11.0 + 0.1 for d in range(8)]
                    for i in range(40)])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    adj = knn._build_segment_graph(xn, m=4)
    for q in (3, 6, 10):
        qn = xn[q]
        dup = list(range(q % 11, 40, 11))
        scores = set()
        for rows in ([dup[0]], dup, list(range(40)), dup[::-1], [dup[-1], 0, 1]):
            s = knn._row_cosines(xn, rows, qn)
            scores.update(float(v) for r, v in zip(rows, s) if r in dup)
        assert len(scores) == 1, scores
        for entry in (0, 17, 39):
            best, _ = knn._beam_search(xn, adj, entry, qn, ef=40)
            assert [i for _, i in best[:len(dup)]] == dup, (q, entry)
            assert len({s for s, _ in best[:len(dup)]}) == 1
