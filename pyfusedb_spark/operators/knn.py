"""Similarity search over embedding columns (array<float>).

Re-expresses the reference's Part-2 multidimensional search
(``app/MultiDim.py:68-165``: sequential KNN heap scan, R-tree, FAISS
HNSW) Spark-first:

- brute-force cosine top-k = the sequential-scan baseline (M1), JVM-side
  arithmetic via ``zip_with``/``aggregate`` built-ins — no Python in the
  hot path, whole-stage codegen applies;
- range search (M2) = filter on the same expression;
- LSH-bucketed ANN = the scale path (signature groupBy prunes the scan;
  multiprobe widens recall), replacing the R-tree/HNSW in-process
  indexes which don't distribute.

At 1000-executor scale the brute path is a full scan + TakeOrdered (no
shuffle but reads everything); the LSH path prunes to matching buckets
via a pushdown-able signature equality — persist signatures bucketed by
``sig`` to skip non-matching files entirely.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyfusedb_spark import fsio


# Above this dimensionality the per-element F.lit literal arrays stop
# being a good idea: the Catalyst plan grows one expression node per
# element (2048-d ResNet embeddings -> thousands of nodes, codegen
# fallback risk), so the expression builders below switch to ONE
# Arrow-batched pandas UDF doing a broadcast matmul instead. Small dims
# stay JVM-side where whole-stage codegen wins.
_LITERAL_DIM_MAX = 256


def _batch_matrix(vecs: pd.Series, dim: int) -> np.ndarray:
    if len(vecs) == 0:
        return np.zeros((0, dim), dtype=np.float64)
    return np.asarray(vecs.tolist(), dtype=np.float64)


def _cosine_to_query(vec_col: str, q: list[float]):
    qn = float(np.sqrt(np.dot(q, q)))
    if len(q) > _LITERAL_DIM_MAX:
        from pyspark.sql.pandas.functions import pandas_udf

        qv = np.asarray(q, dtype=np.float64)

        @pandas_udf("double")
        def cos_udf(vecs: pd.Series) -> pd.Series:
            x = _batch_matrix(vecs, len(qv))
            nrm = np.linalg.norm(x, axis=1) * qn
            dots = x @ qv
            with np.errstate(divide="ignore", invalid="ignore"):
                out = np.where(nrm > 0, dots / nrm, 0.0)
            return pd.Series(out)

        return cos_udf(F.col(vec_col))
    q_arr = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), q_arr, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    nrm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))
    denom = nrm * F.lit(qn)
    # zero-norm vectors have no direction -> similarity 0 (Spark 4 ANSI
    # mode raises DIVIDE_BY_ZERO otherwise)
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


def _l2_to_query(vec_col: str, q: list[float]):
    """Euclidean distance (the reference's metric:
    np.linalg.norm(a-b), app/MultiDim.py:64-65). JVM-side at small dim,
    Arrow-batched numpy at high dim (see _LITERAL_DIM_MAX)."""
    if len(q) > _LITERAL_DIM_MAX:
        from pyspark.sql.pandas.functions import pandas_udf

        qv = np.asarray(q, dtype=np.float64)

        @pandas_udf("double")
        def l2_udf(vecs: pd.Series) -> pd.Series:
            x = _batch_matrix(vecs, len(qv))
            return pd.Series(np.linalg.norm(x - qv[None, :], axis=1))

        return l2_udf(F.col(vec_col))
    q_arr = F.array(*[F.lit(float(x)) for x in q])
    return F.sqrt(
        F.aggregate(
            F.zip_with(F.col(vec_col), q_arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )


def brute_force_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding", metric: str = "cosine",
) -> DataFrame:
    """Exact top-k: full scan + TakeOrderedAndProject. ``metric`` is
    'cosine' (best = highest) or 'euclidean' (best = lowest, the
    reference's sequential-KNN semantics, app/MultiDim.py:68-87)."""
    if metric == "euclidean":
        return (
            emb.select(
                F.col(id_col).cast("long").alias(id_col),
                _l2_to_query(vec_col, query_vec).alias("distance"),
            )
            .orderBy(F.asc("distance"), F.asc(id_col))
            .limit(k)
        )
    return (
        emb.select(
            F.col(id_col).cast("long").alias(id_col),
            _cosine_to_query(vec_col, query_vec).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def range_search(
    emb: DataFrame, query_vec: list[float], min_cosine: float,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """M2: all vectors with cosine >= min_cosine, sorted best-first."""
    return (
        emb.select(
            F.col(id_col).cast("long").alias(id_col),
            _cosine_to_query(vec_col, query_vec).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
        .orderBy(F.desc("cosine"), F.asc(id_col))
    )


def range_search_l2(
    emb: DataFrame, query_vec: list[float], radius: float,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """M2 euclidean: all vectors within ``radius``, nearest first
    (reference sequential range search, app/MultiDim.py:90-101)."""
    return (
        emb.select(
            F.col(id_col).cast("long").alias(id_col),
            _l2_to_query(vec_col, query_vec).alias("distance"),
        )
        .where(F.col("distance") <= radius)
        .orderBy(F.asc("distance"), F.asc(id_col))
    )


def knn_join(
    emb: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """Top-k neighbours for EACH query row: broadcast the (small) query
    side, window-rank per query. Returns (q_id, vec_id, cosine, rank)."""
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col(q_vec_col), lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    nrm_e = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))
    nrm_q = F.sqrt(F.aggregate(q_vec_col, F.lit(0.0), lambda a, x: a + x * x))
    denom = nrm_e * nrm_q
    scored = emb.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col).cast("long").alias(q_id_col),
        F.col(id_col).cast("long").alias(id_col),
        F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)).alias("cosine"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(q_id_col, "rank")
    )


# --------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes, deterministic)
# --------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signatures(
    emb: DataFrame, dim: int, n_planes: int = 12,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 13,
) -> DataFrame:
    """(id, embedding, sig int) — sign pattern over random hyperplanes.

    ONE Arrow-batched pandas UDF doing a broadcast (n_planes x dim)
    matmul per batch — the earlier per-element literal-array expressions
    put n_planes*dim nodes into the Catalyst plan (~33k at 2048-d x 16
    planes: plan bloat + codegen risk, flagged in round-1 review). The
    matmul path is also what survives the reference's real 2048-d
    ResNet50 dimensionality (app/MultiDim.py:53-61)."""
    from pyspark.sql.pandas.functions import pandas_udf

    planes = _hyperplanes(dim, n_planes, seed)
    bc = emb.sparkSession.sparkContext.broadcast(planes)
    weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64)).astype(np.int64)

    @pandas_udf("long")
    def sig_of(vecs: pd.Series) -> pd.Series:
        x = _batch_matrix(vecs, dim)
        bits = (x @ bc.value.T) > 0
        return pd.Series((bits @ weights).astype(np.int64))

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col), sig_of(F.col(vec_col)).alias("sig")
    )


def lsh_ann_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, n_planes: int = 16,
    max_hamming: int | None = None, id_col: str = "vec_id", vec_col: str = "embedding",
    seed: int = 13,
) -> DataFrame:
    """ANN: exact-rerank only vectors whose hyperplane signature is
    within ``max_hamming`` bits of the query's signature
    (``bit_count(sig XOR q_sig)`` — stays JVM-side).

    Recall contract: hyperplane LSH concentrates *high-cosine*
    neighbours (P[bit agrees] = 1 - θ/π). ``max_hamming`` trades scanned
    fraction for recall; with near-orthogonal neighbours (cos≈0.3, as in
    the sandbox testdata) expect lift over random scanning rather than
    recall≈1 — persist the signature bucketed/partitioned so the
    prefilter prunes files at scale."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    q_sig = int(sum((1 << i) for i in range(n_planes) if planes[i] @ q > 0))
    if max_hamming is None:
        max_hamming = max(1, n_planes * 3 // 8)
    sigs = lsh_signatures(emb, dim, n_planes, id_col, vec_col, seed)
    ham = F.bit_count(F.col("sig").bitwiseXOR(F.lit(q_sig)))
    cand = sigs.where(ham <= max_hamming)
    return (
        cand.select(
            F.col(id_col), _cosine_to_query(vec_col, query_vec).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means cells + nprobe search
# --------------------------------------------------------------------------

def _kmeans(sample: np.ndarray, nlist: int, iters: int = 10, seed: int = 17) -> np.ndarray:
    """Tiny deterministic Lloyd k-means on the driver (spherical: cosine
    assignment via L2-normalized vectors). Returns (nlist, dim) centroids."""
    rng = np.random.default_rng(seed)
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    cent = x[rng.choice(len(x), size=min(nlist, len(x)), replace=False)].copy()
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cent[c] = v / max(float(np.linalg.norm(v)), 1e-12)
    return cent


def ivf_train(
    emb: DataFrame, nlist: int = 16, sample_n: int = 4096,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 17,
) -> np.ndarray:
    """Train coarse centroids from a deterministic HASH sample.

    Round-2 review: the previous ``orderBy(id).limit(n)`` totally
    ordered the full embedding table just to take n rows — a global
    sort that cannot survive 100 TB. Now a narrow scan keeps rows where
    ``pmod(xxhash64(id), p) < r`` (p/r sized from an exact count of the
    id column — cheap, column-pruned), which is deterministic across
    partitionings, samples uniformly across the id space, and plans as
    scan+filter with no exchange. The slight over-sample is trimmed to
    exactly ``sample_n`` by id for run-to-run stability."""
    n_rows = emb.count()
    if n_rows <= sample_n:
        rows = emb.select(F.col(id_col), F.col(vec_col)).collect()
    else:
        p = 1 << 16
        # target ~1.3x sample_n survivors so the trim almost never
        # starves; xxhash64 is uniform enough at these sizes
        r = max(1, min(p, math.ceil(p * sample_n * 1.3 / n_rows)))
        rows = (
            emb.select(F.col(id_col), F.col(vec_col))
            .where(F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(p)) < r)
            .collect()
        )
        if len(rows) < sample_n:  # pathological hash clustering: widen
            rows = (
                emb.select(F.col(id_col), F.col(vec_col))
                .where(F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(p)) < min(p, 4 * r))
                .collect()
            )
    rows = sorted(rows, key=lambda row: row[0])[:sample_n]
    sample = np.asarray([r[1] for r in rows], dtype=np.float64)
    return _kmeans(sample, nlist, seed=seed)


def ivf_assign(
    emb: DataFrame, centroids: np.ndarray,
    id_col: str = "vec_id", vec_col: str = "embedding",
    with_cos: bool = False,
) -> DataFrame:
    """(id, cell[, cell_cos], embedding): nearest-centroid assignment via
    ONE vectorized pandas UDF (batch matmul — no per-row Python).
    ``with_cos`` also emits cos(x, centroid) so per-cell angular radii
    can be aggregated (exact grid pruning). Persist the result
    partitioned/bucketed by ``cell`` so probes prune whole files at
    scale."""
    from pyspark.sql.pandas.functions import pandas_udf

    cent = centroids.copy()
    bcast = emb.sparkSession.sparkContext.broadcast(cent)

    @pandas_udf("cell int, cell_cos double")
    def cell_of(vecs: pd.Series) -> pd.DataFrame:
        c = bcast.value
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        if x.ndim == 1:  # empty batch edge
            return pd.DataFrame({"cell": np.zeros(0, np.int32), "cell_cos": np.zeros(0)})
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ c.T
        cells = sims.argmax(axis=1)
        return pd.DataFrame(
            {"cell": cells.astype(np.int32), "cell_cos": sims[np.arange(len(x)), cells]}
        )

    out = emb.select(
        F.col(id_col).cast("long").alias(id_col),
        cell_of(F.col(vec_col)).alias("_a"),
        F.col(vec_col),
    )
    cols = [F.col(id_col), F.col("_a.cell").alias("cell")]
    if with_cos:
        cols.append(F.col("_a.cell_cos").alias("cell_cos"))
    return out.select(*cols, F.col(vec_col))


def ivf_topk(
    assigned: DataFrame, centroids: np.ndarray, query_vec: list[float],
    k: int = 10, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``nprobe`` nearest cells, exact cosine rerank inside.

    ``nprobe = nlist`` degenerates to the exact brute-force scan (used
    by the oracle cross-check); small nprobe reads only matching cells —
    with cell-partitioned storage that is file-level pruning, the IVF
    scale path replacing the reference's in-process FAISS HNSW
    (app/MultiDim.py:152-165)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    order = np.argsort(-(centroids @ qn))
    probes = [int(c) for c in order[:nprobe]]
    cand = assigned.where(F.col("cell").isin(probes))
    return (
        cand.select(F.col(id_col), _cosine_to_query(vec_col, query_vec).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# Persisted IVF index: cell-partitioned parquet, probes prune directories
# --------------------------------------------------------------------------

class PersistedIVF:
    """IVF ANN index at rest: vectors stored partitioned by cell (hive
    dirs ``cell=K/``) plus a JSON sidecar with centroids and per-cell
    angular radii. A probe query filters ``cell IN (probes)`` which
    Catalyst turns into PartitionFilters — only nprobe directories are
    listed/read (file-level pruning, the distributed substitute for the
    reference's in-process FAISS HNSW, app/MultiDim.py:152-165).

    Train once / probe many: round-1 review flagged that entries re-ran
    ``ivf_train`` per query; this class is the fix (build -> sidecar ->
    cheap open)."""

    def __init__(self, spark, out_dir: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        import json
        import os

        self.spark = spark
        self.out_dir = out_dir
        self.id_col = id_col
        self.vec_col = vec_col
        meta = fsio.read_json(fsio.join(out_dir, "ivf.json"))
        self.centroids = np.asarray(meta["centroids"], dtype=np.float64)
        self.radii = {int(k): float(v) for k, v in meta["radii"].items()}

    @property
    def cells_df(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.out_dir}/cells")

    @staticmethod
    def build(
        emb: DataFrame, out_dir: str, nlist: int = 16, sample_n: int = 4096,
        id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 17,
    ) -> "PersistedIVF":
        import json
        import os

        spark = emb.sparkSession
        cents = ivf_train(emb, nlist, sample_n, id_col, vec_col, seed)
        assigned = ivf_assign(emb, cents, id_col, vec_col, with_cos=True)
        assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{out_dir}/cells")
        radii = {
            int(r["cell"]): math.acos(max(-1.0, min(1.0, float(r["mc"]))))
            for r in spark.read.parquet(f"{out_dir}/cells")
            .groupBy("cell").agg(F.min("cell_cos").alias("mc")).collect()
        }
        fsio.write_json_atomic(
            fsio.join(out_dir, "ivf.json"),
            {"centroids": cents.tolist(), "radii": radii, "nlist": len(cents)},
        )
        return PersistedIVF(spark, out_dir, id_col, vec_col)

    def _cell_bounds(self, query_vec: list[float]) -> dict[int, float]:
        """Per-cell best-case cosine: cos(max(0, ang(q,c) - r_c)) — no
        vector in cell c can beat this (spherical triangle inequality)."""
        q = np.asarray(query_vec, dtype=np.float64)
        qn = q / max(float(np.linalg.norm(q)), 1e-12)
        ang_qc = np.arccos(np.clip(self.centroids @ qn, -1.0, 1.0))
        return {
            c: math.cos(max(0.0, ang_qc[c] - r)) for c, r in self.radii.items()
        }

    def _probe_cells(self, query_vec: list[float], nprobe: int) -> list[int]:
        # probe in best-case-bound order (not raw centroid similarity):
        # a wide cell near the query can hold better neighbours than a
        # tight cell whose centroid is marginally closer
        bounds = self._cell_bounds(query_vec)
        order = sorted(bounds, key=lambda c: -bounds[c])
        return order[:nprobe]

    def topk(self, query_vec: list[float], k: int = 10, nprobe: int = 4) -> DataFrame:
        """ANN top-k scanning only the nprobe nearest cell directories."""
        cand = self.cells_df.where(F.col("cell").isin(self._probe_cells(query_vec, nprobe)))
        return (
            cand.select(
                F.col(self.id_col), _cosine_to_query(self.vec_col, query_vec).alias("cosine")
            )
            .orderBy(F.desc("cosine"), F.asc(self.id_col))
            .limit(k)
        )

    def topk_exact(self, query_vec: list[float], k: int = 10, first_probe: int = 1) -> DataFrame:
        """EXACT top-k with adaptive cell pruning (two-phase best-first):

        1. scan the ``first_probe`` best-bound cells, collect the k-th
           best exact cosine found there (one small Spark job);
        2. scan every remaining cell whose best-case bound beats that
           score — by the triangle inequality no pruned cell can hold a
           top-k vector, so the result is identical to the full scan
           (shared DuckDB oracle proves it in the driver contract).

        Cells pruned in phase 2 are whole unread directories. On tightly
        clustered corpora phase 2 degenerates to nothing; on uniform
        corpora it gracefully widens to the full scan — never wrong,
        pruning scales with how clusterable the data actually is. The
        scanned-cell fraction is reported in BENCH."""
        bounds = self._cell_bounds(query_vec)
        order = sorted(bounds, key=lambda c: -bounds[c])
        seed_cells = order[:first_probe]
        seed = (
            self.cells_df.where(F.col("cell").isin(seed_cells))
            .select(F.col(self.id_col), _cosine_to_query(self.vec_col, query_vec).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(self.id_col))
            .limit(k)
            .collect()
        )
        kth = seed[k - 1]["cosine"] if len(seed) >= k else -1.0
        rest = [c for c in order[first_probe:] if bounds[c] >= kth]
        self.last_scanned_cells = len(seed_cells) + len(rest)
        cand = self.cells_df.where(F.col("cell").isin(seed_cells + rest))
        return (
            cand.select(
                F.col(self.id_col), _cosine_to_query(self.vec_col, query_vec).alias("cosine")
            )
            .orderBy(F.desc("cosine"), F.asc(self.id_col))
            .limit(k)
        )

    def range_search(self, query_vec: list[float], min_cosine: float) -> DataFrame:
        """EXACT range search with lossless cell pruning from the stored
        radii (same spherical bound as grid_range_search, but against the
        at-rest partition layout: skipped cells are skipped directories)."""
        q = np.asarray(query_vec, dtype=np.float64)
        qn = q / max(float(np.linalg.norm(q)), 1e-12)
        ang_qc = np.arccos(np.clip(self.centroids @ qn, -1.0, 1.0))
        keep = [
            c for c, r_max in self.radii.items()
            if math.cos(max(0.0, ang_qc[c] - r_max)) >= min_cosine
        ]
        cand = self.cells_df.where(F.col("cell").isin(keep))
        return (
            cand.select(
                F.col(self.id_col), _cosine_to_query(self.vec_col, query_vec).alias("cosine")
            )
            .where(F.col("cosine") >= min_cosine)
            .orderBy(F.desc("cosine"), F.asc(self.id_col))
        )


# --------------------------------------------------------------------------
# Per-segment navigable-small-world graph ANN (the HNSW analog, M4)
# --------------------------------------------------------------------------

def _build_segment_graph(xn: np.ndarray, m: int) -> list[np.ndarray]:
    """Exact M-NN graph over one bounded segment, made undirected, plus a
    row-order chain edge i<->i+1 that guarantees connectivity (so a beam
    with ef >= n provably visits every node -> exact search, which is
    what the SQL-oracle entry relies on).

    One float32 matmul + argpartition — O(n^2) per segment, but segments
    are bounded (seg_target), so a cell of any size costs O(n_cell *
    seg_target) total: the standard partitioned substitute for
    incremental HNSW insertion, which needs shared mutable state Spark
    executors don't have."""
    n = len(xn)
    if n == 1:
        return [np.zeros(0, dtype=np.int64)]
    sims = (xn @ xn.T).astype(np.float32)
    np.fill_diagonal(sims, -np.inf)
    kk = min(m, n - 1)
    nn = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
    adj: list[set[int]] = [set() for _ in range(n)]
    for i in range(n):
        for j in nn[i]:
            adj[i].add(int(j))
            adj[int(j)].add(i)
    for i in range(n - 1):  # connectivity chain
        adj[i].add(i + 1)
        adj[i + 1].add(i)
    return [np.fromiter(sorted(a), dtype=np.int64, count=len(a)) for a in adj]


def _row_cosines(xn: np.ndarray, rows, qn: np.ndarray) -> np.ndarray:
    """Cosine of each row in ``rows`` against ``qn``, each a reduction over
    its own row: a batched ``xn[rows] @ qn`` rounds differently with the
    batch's shape, so bit-identical vectors could score apart and break
    the (-score, id) tie order."""
    return (xn[rows] * qn).sum(axis=1)


def _beam_search(
    xn: np.ndarray, nbrs: list[np.ndarray], entry: int,
    qn: np.ndarray, ef: int,
) -> tuple[list[tuple[float, int]], int]:
    """Greedy best-first NSW beam search (the HNSW layer-0 search loop,
    re-implemented from the published algorithm — reference uses FAISS
    in-process, app/MultiDim.py:152-165). Returns the ef best
    (cosine, local_idx) pairs plus the visited-node count (the
    distance-computation budget, reported in BENCH/tests).

    With ef >= n and a connected graph the loop cannot terminate before
    visiting every node, so the result is exact."""
    import heapq

    n = len(xn)
    ef = min(ef, n)
    visited = np.zeros(n, dtype=bool)
    visited[entry] = True
    s0 = float(_row_cosines(xn, [entry], qn)[0])
    cand = [(-s0, entry)]   # max-heap on cosine (min-heap on negation)
    top: list[tuple[float, int]] = [(s0, entry)]  # min-heap of best ef
    n_visited = 1
    while cand:
        neg, ci = heapq.heappop(cand)
        if len(top) >= ef and -neg < top[0][0]:
            break  # best frontier node can't improve the beam
        nb = nbrs[ci]
        if len(nb) == 0:
            continue
        nb = nb[~visited[nb]]
        if len(nb) == 0:
            continue
        visited[nb] = True
        n_visited += len(nb)
        ss = _row_cosines(xn, nb, qn)  # one vectorized distance batch per expansion
        for s, j in zip(ss.tolist(), nb.tolist()):
            if len(top) < ef or s > top[0][0]:
                heapq.heappush(cand, (-s, j))
                heapq.heappush(top, (s, j))
                if len(top) > ef:
                    heapq.heappop(top)
    # ties broken by ascending local idx == ascending global id (rows
    # are id-sorted), matching the engine/oracle ORDER BY contract
    return sorted(top, key=lambda t: (-t[0], t[1])), n_visited


class PersistedGraphANN:
    """Graph ANN tier over a :class:`PersistedIVF`: per (cell, segment)
    navigable-small-world graphs stored beside the cell files, searched
    by distributed beam search — the full HNSW analog (reference:
    in-process ``faiss.IndexHNSWFlat(dim, 32)``, app/MultiDim.py:152-165,
    which cannot distribute or persist across executors).

    Layout (under the IVF's ``out_dir``):

    - ``graph/`` parquet partitioned by ``cell``: ADJACENCY ONLY — one
      row per vector with its neighbor list (GLOBAL vec_ids, stable
      across file order), its segment id, and an ``is_entry`` flag (the
      segment's medoid = max cell_cos — the natural greedy start).
      Embeddings are NOT duplicated here: search joins them back from
      the IVF's ``cells/`` tree on (id, cell) — both sides prune to the
      probed cells first, so the join touches nprobe directories, and
      the index costs one copy of the vectors on disk instead of the
      round-3 two (graphs persisted by older builds still carry the
      embedded copy and are read without the join).
    - ``graph.json`` sidecar: {m, seg_fanout, n_rows}.

    Scale shape: cells are hive directories (probe = PartitionFilters,
    same as the IVF), segments bound both graph-build matmul memory and
    per-task search state; a probe query reads nprobe directories and
    runs one beam per segment (O(ef * degree) distance batches instead
    of the segment's full scan), then a global top-k merge. Build is one
    ``applyInPandas`` over (cell, seg) groups — embarrassingly parallel,
    no driver state."""

    def __init__(self, ivf: PersistedIVF):
        import json
        import os

        self.ivf = ivf
        self.spark = ivf.spark
        self.out_dir = ivf.out_dir
        self.id_col = ivf.id_col
        self.vec_col = ivf.vec_col
        self.meta = fsio.read_json(fsio.join(self.out_dir, "graph.json"))

    @property
    def graph_df(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.out_dir}/graph")

    @staticmethod
    def build(ivf: PersistedIVF, m: int = 8, seg_target: int = 4096,
              seed: int = 17) -> "PersistedGraphANN":
        import json
        import os

        spark = ivf.spark
        id_col, vec_col = ivf.id_col, ivf.vec_col
        cells = ivf.cells_df
        n_rows = cells.count()
        nlist = len(ivf.centroids)
        # expected rows per cell / seg_target, hash-assigned so segment
        # membership is deterministic across partitionings and bounded
        # in expectation without a per-cell count job
        seg_fanout = max(1, math.ceil(n_rows / (nlist * seg_target)))
        with_seg = cells.withColumn(
            "seg",
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(seg_fanout)).cast("int"),
        )
        mm = int(m)

        def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            adj = _build_segment_graph(xn, mm)
            ids = pdf[id_col].to_numpy()
            entry = int(np.argmax(pdf["cell_cos"].to_numpy()))
            return pd.DataFrame(
                {
                    id_col: ids,
                    "neighbors": [ids[a] for a in adj],
                    "is_entry": np.arange(len(ids)) == entry,
                    "seg": pdf["seg"],
                    "cell": pdf["cell"],
                }
            )

        out_schema = (
            f"{id_col} long, neighbors array<long>, "
            "is_entry boolean, seg int, cell int"
        )
        (
            with_seg.groupBy("cell", "seg")
            .applyInPandas(build_group, out_schema)
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{ivf.out_dir}/graph")
        )
        fsio.write_json_atomic(
            fsio.join(ivf.out_dir, "graph.json"),
            {"m": mm, "seg_fanout": seg_fanout, "n_rows": n_rows},
        )
        return PersistedGraphANN(ivf)

    def topk_batch(
        self, queries: list[tuple[int, list[float]]], k: int = 10,
        nprobe: int = 4, ef: int = 64,
    ) -> DataFrame:
        """(q_id, vec_id, cosine) for each query: one Spark job answers
        the whole batch — every (cell, seg) task loads its graph once and
        beams all queries probing that cell over it (the amortization a
        1000-executor serving tier needs)."""
        id_col, vec_col = self.id_col, self.vec_col
        probe_map = {
            int(qid): set(self.ivf._probe_cells(list(qv), nprobe)) for qid, qv in queries
        }
        qmat = {
            int(qid): (lambda a: a / max(float(np.linalg.norm(a)), 1e-12))(
                np.asarray(qv, dtype=np.float64)
            )
            for qid, qv in queries
        }
        all_cells = sorted(set().union(*probe_map.values())) if probe_map else []
        bq = self.spark.sparkContext.broadcast((probe_map, qmat))
        kk, eff = int(k), int(ef)

        def search_group(pdf: pd.DataFrame) -> pd.DataFrame:
            probe_m, qm = bq.value
            cell = int(pdf["cell"].iloc[0])
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            ids = pdf[id_col].to_numpy()
            pos = {int(v): i for i, v in enumerate(ids)}
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            nbrs = [
                np.fromiter((pos[int(g)] for g in row if int(g) in pos), dtype=np.int64)
                for row in pdf["neighbors"]
            ]
            flags = pdf["is_entry"].to_numpy()
            entry = int(np.argmax(flags)) if flags.any() else 0
            out_q, out_v, out_c = [], [], []
            for qid, cells_of_q in probe_m.items():
                if cell not in cells_of_q:
                    continue
                best, _ = _beam_search(xn, nbrs, entry, qm[qid], max(kk, eff))
                for s, i in best[:kk]:
                    out_q.append(qid)
                    out_v.append(int(ids[i]))
                    out_c.append(float(s))
            return pd.DataFrame(
                {
                    "q_id": pd.Series(out_q, dtype="int64"),
                    id_col: pd.Series(out_v, dtype="int64"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

        g = self.graph_df.where(F.col("cell").isin(all_cells))
        if vec_col not in g.columns:
            # adjacency-only layout: rehydrate vectors from the IVF cell
            # tree — both sides PartitionFilter to the probed cells, and
            # (id, cell) is unique, so this is an nprobe-dirs-sized join
            vecs = self.ivf.cells_df.where(F.col("cell").isin(all_cells)).select(
                id_col, vec_col, "cell"
            )
            g = g.join(vecs, [id_col, "cell"])
        res = g.groupBy("cell", "seg").applyInPandas(
            search_group, f"q_id long, {id_col} long, cosine double"
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc(id_col))
        return (
            res.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .drop("rank")
            .orderBy("q_id", F.desc("cosine"), F.asc(id_col))
        )

    def topk(self, query_vec: list[float], k: int = 10, nprobe: int = 4,
             ef: int = 64) -> DataFrame:
        """Single-query beam search over the nprobe best-bound cells.
        ``nprobe = nlist`` + ``ef >= max segment size`` degenerates to the
        exact scan (the oracle-checkable setting); small ef trades recall
        for a bounded distance budget (curves in tests + BENCH)."""
        out = self.topk_batch([(0, list(query_vec))], k, nprobe, ef)
        return out.select(self.id_col, "cosine")


# --------------------------------------------------------------------------
# Grid-prefiltered range search (the R-tree analog, M3 in SURVEY.md §2.12)
# --------------------------------------------------------------------------

def grid_range_search(
    emb: DataFrame, query_vec: list[float], min_cosine: float,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_cells: int = 16, sample_n: int = 2048, seed: int = 17,
) -> DataFrame:
    """Range search with a coarse-cell prefilter (replaces the reference's
    R-tree bounding-box intersection + exact filter, app/MultiDim.py:133-149,
    which doesn't distribute).

    Prune rule (exact, no recall loss): for unit vectors,
    cos(q, x) <= cos(q, c) * cos(x, c) + sin(q, c) * sin(x, c) when x is
    assigned to centroid c — so a cell whose bound falls below
    ``min_cosine`` cannot contain ANY qualifying vector and its files are
    skipped wholesale (persist assignment partitioned by cell). Survivors
    get the exact cosine filter, identical results to a full scan."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    cents = ivf_train(emb, n_cells, sample_n, id_col, vec_col, seed)
    assigned = ivf_assign(emb, cents, id_col, vec_col, with_cos=True)
    # per-cell max angular radius from the data (in a static index these
    # stats live beside the cell files; here one tiny agg)
    radii = {
        int(r["cell"]): math.acos(max(-1.0, min(1.0, float(r["mc"]))))
        for r in assigned.groupBy("cell").agg(F.min("cell_cos").alias("mc")).collect()
    }
    cos_qc = np.clip(cents @ qn, -1.0, 1.0)
    ang_qc = np.arccos(cos_qc)
    keep = []
    for cell, r_max in radii.items():
        # angle(q,x) >= angle(q,c) - r_max  =>  cos(q,x) <= cos(max(0, .))
        if math.cos(max(0.0, ang_qc[cell] - r_max)) >= min_cosine:
            keep.append(cell)
    cand = assigned.where(F.col("cell").isin(keep))
    return (
        cand.select(F.col(id_col), _cosine_to_query(vec_col, query_vec).alias("cosine"))
        .where(F.col("cosine") >= min_cosine)
        .orderBy(F.desc("cosine"), F.asc(id_col))
    )
