"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship BM25 query end-to-end on sf0.001.
``queries()`` exposes one callable per implemented operator family
(SURVEY.md §2 + training-data ops); ``oracle_sql()`` gives the DuckDB-
runnable ANSI-SQL equivalent for every entry — including the stemmed
'english' analyzer: DuckDB 1.0.0 here has no stem(), so that oracle
joins tokens against a (term, stem) side parquet the entry itself
refreshes (porter2 is a pure function of the token string; see
_refresh_stem_map). The stemmed entry additionally rank-identity-checks
against pyfusedb_spark.oracle in-process (SURVEY.md §7.5).

Column names and numeric types are aligned on both sides; float-valued
results are rounded to 6 decimals on both sides so the driver's
value-hash compare is robust to summation-order ulps.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyfusedb_spark.analysis import Analyzer, sql_stopword_list
from pyfusedb_spark.functions import multimodal, textstats
from pyfusedb_spark.operators import dedup, knn
from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex
from pyfusedb_spark.plans.sqlfront import FuseSession

K1, B = 1.2, 0.75
_INDEX_CACHE: dict[str, FuseIndex] = {}
_ANN_CACHE: dict[str, "knn.PersistedIVF"] = {}
_GRAPH_CACHE: dict[str, "knn.PersistedGraphANN"] = {}
_AZ = Analyzer("simple")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _fixture_sig(sf_dir: str, name: str) -> str:
    """Cheap content signature of a fixture parquet (mtime+size over its
    files). Keys the derived-index cache dirs so regenerated fixture
    data can never silently reopen a stale persisted index (round-2
    ADVICE: path-only keys failed only downstream at oracle-compare)."""
    import hashlib

    path = os.path.join(sf_dir, name)
    parts = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            p = os.path.join(path, f)
            try:
                st = os.stat(p)
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
            except OSError:
                pass
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:12]


def _index(spark: SparkSession, sf_dir: str) -> FuseIndex:
    """Build (once, resumable) the 'simple'-analyzer index for sf_dir."""
    key = os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        # cache dir is format-versioned AND content-fingerprinted: a
        # stale index built by older code or over regenerated fixture
        # data must not be resumed into the new layout
        out = os.path.join(
            tempfile.gettempdir(), "pyfusedb_entry_idx_v3",
            key.strip("/").replace("/", "_") + "_" + _fixture_sig(sf_dir, "documents.parquet"),
        )
        os.makedirs(out, exist_ok=True)
        build_index(
            spark,
            _docs(spark, sf_dir),
            out,
            content_col="text",
            doc_id_col="doc_id",
            config=IndexConfig(preset="simple", n_buckets=4),
        )
        _INDEX_CACHE[key] = FuseIndex(spark, out)
    return _INDEX_CACHE[key]


def _ivf(spark: SparkSession, sf_dir: str) -> "knn.PersistedIVF":
    """Build (once) the persisted cell-partitioned IVF index for sf_dir.

    Round-1 review flagged re-running ivf_train per entry call; this is
    the fix — one build, parquet partitioned by cell, probes prune
    directories (PartitionFilters evidence in BENCH/PLANS.md)."""
    key = os.path.abspath(sf_dir)
    if key not in _ANN_CACHE:
        out = os.path.join(
            tempfile.gettempdir(), "pyfusedb_entry_ivf_v2",
            key.strip("/").replace("/", "_") + "_" + _fixture_sig(sf_dir, "embeddings.parquet"),
        )
        if os.path.exists(os.path.join(out, "ivf.json")):
            _ANN_CACHE[key] = knn.PersistedIVF(spark, out)
        else:
            os.makedirs(out, exist_ok=True)
            _ANN_CACHE[key] = knn.PersistedIVF.build(
                _emb(spark, sf_dir), out, nlist=8, sample_n=512
            )
    return _ANN_CACHE[key]


def _graph(spark: SparkSession, sf_dir: str) -> "knn.PersistedGraphANN":
    """Build (once) the per-segment NSW graph tier over the persisted IVF
    index — the distributed HNSW analog (reference app/MultiDim.py:152-165)."""
    key = os.path.abspath(sf_dir)
    if key not in _GRAPH_CACHE:
        ivf = _ivf(spark, sf_dir)
        if os.path.exists(os.path.join(ivf.out_dir, "graph.json")):
            _GRAPH_CACHE[key] = knn.PersistedGraphANN(ivf)
        else:
            _GRAPH_CACHE[key] = knn.PersistedGraphANN.build(ivf, m=8)
    return _GRAPH_CACHE[key]


def _search_df(spark, idx: FuseIndex, query: str, k=10, mode="bm25", conjunctive=False,
               use_wand="auto") -> DataFrame:
    hits = idx.search(query, k, mode=mode, conjunctive=conjunctive, use_wand=use_wand)
    df = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    )
    return df.select("doc_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# oracle-SQL builders (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------

_TOKCTE = f"""
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
),
terms AS (
  SELECT doc_id, term FROM toks
  WHERE length(term) > 1 AND term NOT IN {sql_stopword_list()}
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY 1, 2),
dl AS (
  SELECT d.doc_id, coalesce(sum(t.tf), 0)::BIGINT AS doc_len
  FROM documents d LEFT JOIN tf t ON d.doc_id = t.doc_id GROUP BY 1
),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
"""


def _qt_values(query: str) -> str:
    qtf = _AZ.preprocess_query(query)
    vals = ", ".join(f"('{t}', {n})" for t, n in sorted(qtf.items()))
    return f"(SELECT * FROM (VALUES {vals}) AS v(term, qtf))"


def _bm25_sql(query: str, k: int = 10, conjunctive: bool = False,
              project: str = "", join_docs: bool = False) -> str:
    n_terms = len(_AZ.preprocess_query(query))
    having = f"HAVING count(*) = {n_terms}" if conjunctive else ""
    sel_extra = project
    join = "JOIN documents d ON d.doc_id = m.doc_id" if join_docs else ""
    return f"""
WITH {_TOKCTE},
qt AS {_qt_values(query)},
m AS (
  SELECT tf.doc_id,
         sum(qt.qtf * ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl))) AS score
  FROM tf
  JOIN qt ON tf.term = qt.term
  JOIN dfreq df ON df.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1 {having}
)
SELECT m.doc_id AS doc_id{sel_extra}, round(m.score, 6) AS score
FROM m {join}
ORDER BY m.score DESC, m.doc_id LIMIT {k}
"""


def _tfidf_sql(query: str, k: int = 10) -> str:
    return f"""
WITH {_TOKCTE},
qt AS {_qt_values(query)},
w AS (
  SELECT tf.doc_id, tf.term, (1 + log10(tf.tf)) * log10(s.n / df.df) AS w
  FROM tf JOIN dfreq df ON df.term = tf.term CROSS JOIN stats s
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
qw AS (
  SELECT qt.term, (1 + log10(qt.qtf)) * log10(s.n / df.df) AS wq
  FROM qt JOIN dfreq df ON df.term = qt.term CROSS JOIN stats s
),
qn AS (SELECT sqrt(sum(wq * wq)) AS qn FROM qw),
sc AS (
  SELECT w.doc_id, sum(w.w * qw.wq) AS s FROM w JOIN qw ON w.term = qw.term GROUP BY 1
)
SELECT sc.doc_id AS doc_id, round(sc.s / (n.nrm * q.qn), 6) AS score
FROM sc JOIN norms n ON n.doc_id = sc.doc_id CROSS JOIN qn q
ORDER BY score DESC, doc_id LIMIT {k}
"""


# ---- stemmed-analyzer DuckDB oracle support ----
# DuckDB in this sandbox has no stem(), but porter2.stem is a PURE
# function of the token string — so the stemmed oracle joins raw tokens
# against a precomputed (term, stem) side parquet instead of stemming in
# SQL. ft_bm25_stemmed refreshes the map before returning (merge-on-
# write: term→stem mappings are corpus-independent facts, so rows from
# different sf runs coexist), and the driver executes the Spark entry
# before its oracle SQL, so the map always covers the compared corpus's
# vocabulary. A LEFT JOIN + coalesce keeps unseen tokens unstemmed
# rather than silently dropping rows if the contract is ever violated.
_STEM_MAP_PATH = os.path.join(tempfile.gettempdir(), "pyfusedb_entry_stem_map.parquet")


def _refresh_stem_map(sf_dir: str) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyfusedb_spark import porter2

    con = duckdb.connect()
    toks = con.execute(
        "SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS t "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    corpus_terms = {t for (t,) in toks}
    mapping: dict[str, str] = {}
    if os.path.exists(_STEM_MAP_PATH):
        prior = pq.read_table(_STEM_MAP_PATH)
        mapping = dict(zip(prior.column("term").to_pylist(),
                           prior.column("stem").to_pylist()))
        if corpus_terms <= mapping.keys():
            return  # map already covers this corpus — skip the rewrite
    for t in corpus_terms - mapping.keys():
        mapping[t] = porter2.stem(t)
    terms = sorted(mapping)
    tmp = _STEM_MAP_PATH + ".tmp"
    pq.write_table(pa.table({"term": terms, "stem": [mapping[t] for t in terms]}), tmp)
    os.replace(tmp, _STEM_MAP_PATH)


def _bm25_stemmed_sql(query: str, k: int = 10) -> str:
    qtf = Analyzer("english").preprocess_query(query)
    vals = ", ".join(f"('{t}', {n})" for t, n in sorted(qtf.items()))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
),
sm AS (SELECT term, stem FROM read_parquet('{_STEM_MAP_PATH}')),
terms AS (
  SELECT t.doc_id, coalesce(sm.stem, t.term) AS term
  FROM toks t LEFT JOIN sm ON sm.term = t.term
  WHERE length(t.term) > 1 AND t.term NOT IN {sql_stopword_list()}
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY 1, 2),
dl AS (
  SELECT d.doc_id, coalesce(sum(t.tf), 0)::BIGINT AS doc_len
  FROM documents d LEFT JOIN tf t ON d.doc_id = t.doc_id GROUP BY 1
),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
qt AS (SELECT * FROM (VALUES {vals}) AS v(term, qtf)),
m AS (
  SELECT tf.doc_id,
         sum(qt.qtf * ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1)
             / (tf.tf + {K1} * (1 - {B} + {B} * dl.doc_len / s.avgdl))) AS score
  FROM tf
  JOIN qt ON tf.term = qt.term
  JOIN dfreq df ON df.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1
)
SELECT doc_id, round(score, 6) AS score FROM m
ORDER BY score DESC, doc_id LIMIT {k}
"""


_NGRAM_SQL = f"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents WHERE doc_id < 200
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(ts) = 0 THEN []::VARCHAR[]
         WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         ELSE list_transform(range(1, len(ts) - 1),
                             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
    END AS shingles
  FROM tk
),
ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
cnt AS (SELECT doc_id, count(*)::BIGINT AS c FROM ex GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS i
  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2
)
SELECT a, b, round(i::DOUBLE / (ca.c + cb.c - i), 6) AS jaccard
FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
WHERE i::DOUBLE / (ca.c + cb.c - i) >= 0.2
"""

# exact-Jaccard pairs over 3-token shingles at a given threshold, whole
# table — the oracle for the minhash-LSH pipeline: the spark side returns
# LSH candidates verified by exact Jaccard, so equality with this SQL
# additionally PROVES the banded candidate generation had recall 1.0 on
# this corpus at this threshold (64 perms / 16 bands).
def _jaccard_sql(threshold: float, max_doc: int | None = None) -> str:
    where = f"WHERE doc_id < {max_doc}" if max_doc else ""
    return f"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents {where}
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(ts) = 0 THEN []::VARCHAR[]
         WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
         ELSE list_transform(range(1, len(ts) - 1),
                             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
    END AS shingles
  FROM tk
),
ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
cnt AS (SELECT doc_id, count(*)::BIGINT AS c FROM ex GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS i
  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2
)
SELECT a, b, round(i::DOUBLE / (ca.c + cb.c - i), 6) AS jaccard
FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
WHERE i::DOUBLE / (ca.c + cb.c - i) >= {threshold}
"""


# bit-exact SQL mirror of operators.dedup.simhash: sha256-prefix 64-bit
# token hash (identical integer via ('0x'||substring(sha256(t),1,16))::
# UBIGINT), tf-weighted bit votes, acc>0 -> bit set, signed-int64 output.
def _simhash_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+'),
                             x -> length(x) > 1 AND x NOT IN {sql_stopword_list()}) AS toks
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS w
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2
),
th AS (SELECT doc_id, w, ('0x' || substring(sha256(term), 1, 16))::UBIGINT AS h FROM tf),
bits AS (
  SELECT doc_id, b.bit, sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN w ELSE -w END) AS acc
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS bit) b
  GROUP BY 1, 2
),
sh AS (
  SELECT doc_id, coalesce(sum(CASE WHEN acc > 0 THEN (1::HUGEINT << bit::INT) ELSE 0::HUGEINT END), 0::HUGEINT) AS v
  FROM bits GROUP BY 1
)
SELECT d.doc_id,
       (CASE WHEN coalesce(s.v, 0::HUGEINT) >= 9223372036854775808::HUGEINT
             THEN coalesce(s.v, 0::HUGEINT) - 18446744073709551616::HUGEINT
             ELSE coalesce(s.v, 0::HUGEINT) END)::BIGINT AS simhash
FROM documents d LEFT JOIN sh s ON d.doc_id = s.doc_id
"""


# SQL mirror of the banded hamming-ball join (4 x 16-bit bands; a pair
# is reported iff it shares >=1 band AND bit_count(xor) <= max_hamming —
# the band-blocking semantics themselves, faithfully specified).
def _simhash_pairs_sql(max_hamming: int) -> str:
    return f"""
WITH shx AS ({_simhash_sql()}),
u AS (SELECT doc_id, simhash,
             (CASE WHEN simhash < 0 THEN simhash::HUGEINT + 18446744073709551616::HUGEINT
                   ELSE simhash::HUGEINT END)::UBIGINT AS us FROM shx),
bb AS (SELECT doc_id, simhash, b.band, (us >> (b.band*16)::INT) & 65535 AS bh
       FROM u CROSS JOIN (SELECT unnest(range(4)) AS band) b),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.simhash AS sa, r.simhash AS sb
  FROM bb l JOIN bb r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
)
SELECT a, b, bit_count(xor(sa, sb))::INT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text, regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, text, toks,
    len(toks)::BIGINT AS n_tok,
    len(regexp_extract_all(coalesce(text,''), '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+'))::BIGINT AS n_bpe,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> x IN {sql_stopword_list()}))::DOUBLE / len(toks)
         ELSE 0.0 END AS swr,
    CASE WHEN len(toks) > 0
         THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
         ELSE 0.0 END AS mtl,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text)
         ELSE 0.0 END AS alpha
  FROM t
)
SELECT doc_id, n_tok, n_bpe, round(swr, 6) AS stop_ratio, round(mtl, 6) AS mean_tok_len,
  round(alpha, 6) AS alpha_ratio,
  round(((CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 1.0 ELSE 0.3 END) * 0.4
       + (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.4 END) * 0.3
       + (CASE WHEN swr >= 0.05 AND swr <= 0.6 THEN 1.0 ELSE 0.5 END) * 0.3) * alpha, 6)
    AS quality
FROM s
"""


def _langid_sql() -> str:
    hits = []
    for lang, markers in sorted(textstats.LANG_MARKERS.items()):
        lst = ", ".join(f"'{w}'" for w in markers)
        hits.append(
            f"len(list_filter(toks, x -> x IN ({lst})))::BIGINT AS s_{lang}"
        )
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+') AS toks
  FROM documents
),
s AS (SELECT doc_id, {', '.join(hits)} FROM t)
SELECT doc_id,
  CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
       WHEN s_de >= greatest(s_en, s_es, s_fr) THEN 'de'
       WHEN s_en >= greatest(s_es, s_fr) THEN 'en'
       WHEN s_es >= s_fr THEN 'es'
       ELSE 'fr' END AS lang_guess
FROM s
"""


_FINGERPRINT_SQL = """
SELECT doc_id,
  CASE WHEN len(toks) = 0 THEN 0
       ELSE list_reduce(
         list_prepend(0::BIGINT,
           list_transform(toks, t -> (length(t) * 131 + ascii(t[1]))::BIGINT)),
         (acc, x) -> (acc * 31 + x) % 2147483647)
  END AS fp
FROM (SELECT doc_id, regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+') AS toks
      FROM documents)
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Full lifecycle: build (or resume) the inverted index over the
    documents table, then run a toy-SQL full-text query through the
    session facade (parse -> BM25 WAND top-k -> broadcast join -> project).
    """
    sf_dir = "/root/testdata/sf0.001"
    idx = _index(spark, sf_dir)
    sess = FuseSession(_docs(spark, sf_dir), idx, default_table="documents")
    return sess.sql("SELECT source, lang FROM documents LIKE merge sort join LIMIT 10")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- full-text index core (S1-S8, A1-A8, R1-R5, T3, J3/J4) ----
    def ft_doc_stats(spark, sf):
        return _index(spark, sf).doc_stats_df.select("doc_id", "doc_len")

    def ft_content_sha(spark, sf):
        return _docs(spark, sf).select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))

    def ft_term_df(spark, sf):
        return _index(spark, sf).lexicon_df.select("term", "df")

    def ft_top_terms(spark, sf):
        return (
            _index(spark, sf).lexicon_df.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term")).limit(20)
        )

    def ft_bm25_hot(spark, sf):
        return _search_df(spark, _index(spark, sf), "join")

    def ft_bm25_multi(spark, sf):
        # default auto-routing; ft_bm25_exhaustive and ft_bm25_bmx force
        # each scorer on the same query, and all three hash-match the
        # same DuckDB oracle -> pruning == exhaustive
        return _search_df(spark, _index(spark, sf), "merge sort join")

    def ft_bm25_repeat(spark, sf):
        return _search_df(spark, _index(spark, sf), "merge merge sort")

    def ft_bm25_and(spark, sf):
        return _search_df(spark, _index(spark, sf), "merge sort", conjunctive=True)

    def ft_bm25_exhaustive(spark, sf):
        # same result as the block-max path — proves pruning == exhaustive
        return _search_df(spark, _index(spark, sf), "merge sort join", use_wand=False)

    def ft_bm25_bmx(spark, sf):
        # forces the vectorized block-max scorer (falls back to
        # exhaustive on shapes with no hot/rare split — either way the
        # result must hash-match the same DuckDB oracle)
        return _search_df(spark, _index(spark, sf), "merge sort join", use_wand="bmx")

    def ft_bm25_distributed(spark, sf):
        out = _index(spark, sf).search_distributed("merge sort join", 10)
        return out.select("doc_id", F.round("score", 6).alias("score"))

    def ft_tfidf_cosine(spark, sf):
        return _search_df(spark, _index(spark, sf), "merge sort", mode="tfidf")

    def ft_bm25_stemmed(spark, sf):
        # flagship 'english' (stemmed) analyzer end-to-end. DuckDB has
        # no stem(), so the SQL oracle (_bm25_stemmed_sql) joins tokens
        # against the (term, stem) side parquet this entry refreshes
        # below; belt-and-braces, the entry ALSO verifies rank-identity
        # against the single-process reference-semantics oracle
        # (pyfusedb_spark.oracle) before returning.
        from pyfusedb_spark.oracle import OracleIndex

        _refresh_stem_map(sf)

        key = os.path.abspath(sf) + ":english"
        if key not in _INDEX_CACHE:
            out = os.path.join(
                tempfile.gettempdir(), "pyfusedb_entry_idx_en_v2",
                os.path.abspath(sf).strip("/").replace("/", "_")
                + "_" + _fixture_sig(sf, "documents.parquet"),
            )
            os.makedirs(out, exist_ok=True)
            build_index(
                spark, _docs(spark, sf), out, content_col="text", doc_id_col="doc_id",
                config=IndexConfig(preset="english", n_buckets=4),
            )
            _INDEX_CACHE[key] = FuseIndex(spark, out)
        idx = _INDEX_CACHE[key]
        query = "merging sorted indexes"
        hits = idx.search(query, 10)
        # In-entry exactness assert needs the oracle to see the FULL
        # corpus (idf/avgdl are global), so the driver-side collect is
        # capped: beyond ORACLE_CAP docs the full-corpus rank assert is
        # replaced by a subset assert — engine index + oracle both built
        # over the same deterministic doc_id-hash subsample — keeping an
        # exactness check at any sf with bounded driver memory.
        ORACLE_CAP = 50_000
        docs_df = _docs(spark, sf).select("doc_id", "text")
        rows = docs_df.limit(ORACLE_CAP + 1).collect()
        if len(rows) > ORACLE_CAP:
            sub = docs_df.where(F.pmod(F.xxhash64("doc_id"), F.lit(97)) == 0)
            rows = sub.limit(ORACLE_CAP + 1).collect()
            assert len(rows) <= ORACLE_CAP, "subsample still over oracle cap"
            sub_out = os.path.join(
                tempfile.gettempdir(), "pyfusedb_entry_idx_en_sub",
                os.path.abspath(sf).strip("/").replace("/", "_")
                + "_" + _fixture_sig(sf, "documents.parquet"),
            )
            if not os.path.exists(os.path.join(sub_out, "stats.json")):
                os.makedirs(sub_out, exist_ok=True)
                build_index(
                    spark, sub, sub_out, content_col="text", doc_id_col="doc_id",
                    config=IndexConfig(preset="english", n_buckets=4),
                )
            sub_hits = FuseIndex(spark, sub_out).search(query, 10)
        else:
            sub_hits = hits
        expected = (
            OracleIndex(Analyzer("english"))
            .build([(int(r["doc_id"]), r["text"]) for r in rows])
            .search_bm25(query, 10)
        )
        assert [(d, round(s, 9)) for d, s in sub_hits] == [
            (d, round(s, 9)) for d, s in expected
        ], f"stemmed BM25 diverged from oracle: {sub_hits} vs {expected}"
        return spark.createDataFrame(
            [(int(d), float(round(s, 6))) for d, s in hits], "doc_id long, score double"
        )

    q.update(
        ft_doc_stats=ft_doc_stats, ft_content_sha=ft_content_sha, ft_term_df=ft_term_df,
        ft_top_terms=ft_top_terms, ft_bm25_hot=ft_bm25_hot, ft_bm25_multi=ft_bm25_multi,
        ft_bm25_repeat=ft_bm25_repeat, ft_bm25_and=ft_bm25_and,
        ft_bm25_exhaustive=ft_bm25_exhaustive, ft_bm25_bmx=ft_bm25_bmx,
        ft_bm25_distributed=ft_bm25_distributed,
        ft_tfidf_cosine=ft_tfidf_cosine, ft_bm25_stemmed=ft_bm25_stemmed,
    )

    # ---- toy-SQL surface (Q1-Q5) ----
    def sqlfront_like(spark, sf):
        sess = FuseSession(_docs(spark, sf), _index(spark, sf), default_table="documents")
        out = sess.sql("SELECT source, lang FROM documents LIKE merge sort LIMIT 5")
        return out.select("doc_id", "source", "lang", F.round("score", 6).alias("score"))

    def sqlfront_nolike(spark, sf):
        sess = FuseSession(_docs(spark, sf), _index(spark, sf), default_table="documents")
        return sess.sql("SELECT source FROM documents", top_k=10)

    q.update(sqlfront_like=sqlfront_like, sqlfront_nolike=sqlfront_nolike)

    # ---- dedup ----
    def dedup_exact(spark, sf):
        return dedup.exact_duplicates(_docs(spark, sf), "text", "doc_id").select(
            "doc_id", "keeper_id"
        )

    def dedup_ngram_jaccard(spark, sf):
        # candidates from LSH banding (64 single-row bands: P[miss] =
        # (1-J)^64 <= 6e-7 at J=0.2 — recall 1.0 on this corpus, proven
        # by hash-equality with the all-pairs exact-Jaccard oracle), then
        # exact verify. No crossJoin anywhere (round-1 review flagged the
        # old all-pairs harness as modeling the anti-pattern).
        docs = _docs(spark, sf).where(F.col("doc_id") < 200)
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", num_perm=64)
        pairs = dedup.lsh_candidate_pairs(sigs, bands=64, sig_len=64)
        out = dedup.jaccard_verify_pairs(pairs, docs, "text", "doc_id", threshold=0.2)
        return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))

    def dedup_minhash(spark, sf):
        # oracle = exact-Jaccard pairs at 0.8: equality proves the banded
        # LSH candidate generation had recall 1.0 here (the verify stage
        # already guarantees precision 1.0 by construction)
        out = dedup.minhash_near_duplicates(_docs(spark, sf), "text", "doc_id", threshold=0.8)
        return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))

    def dedup_simhash(spark, sf):  # bit-exact SQL mirror (sha256-prefix hash)
        return dedup.simhash(_docs(spark, sf), "text", "doc_id")

    def dedup_simhash_pairs(spark, sf):  # banded hamming-ball join, SQL-mirrored
        out = dedup.simhash_near_duplicates(_docs(spark, sf), "text", "doc_id",
                                            max_hamming=8)
        return out.select("a", "b", F.col("hamming").cast("int").alias("hamming"))

    def dedup_embedding(spark, sf):
        out = dedup.embedding_near_duplicates(_emb(spark, sf), threshold=0.35)
        return out.select("a", "b", F.round("cosine", 6).alias("cosine"))

    def dedup_embedding_bucketed(spark, sf):
        # scale path: IVF-cell-bucketed candidates + exact verify; shares
        # the brute-force oracle — hash equality proves losslessness
        out = dedup.embedding_near_duplicates_bucketed(_emb(spark, sf), threshold=0.35)
        return out.select("a", "b", F.round("cosine", 6).alias("cosine"))

    def decontam_ngram(spark, sf):
        # eval-set decontamination: flag corpus docs sharing any word
        # n-gram with a held-out slice (doc_id % 97 == 0 plays the
        # benchmark suite). Pure JVM expressions + broadcast hash join
        # (operators/dedup.ngram_decontaminate); oracle = the same
        # n-gram algebra in DuckDB list functions. n=4 on this fixture
        # (its synthetic docs share no longer templates; production
        # decontam runs n=8-13 — same plan, one constant).
        docs = _docs(spark, sf)
        bench = docs.where(F.col("doc_id") % 97 == 0)
        corpus = docs.where(F.col("doc_id") % 97 != 0)
        return dedup.ngram_decontaminate(corpus, bench, text_col="text",
                                         id_col="doc_id", n=4)

    q.update(dedup_exact=dedup_exact, dedup_ngram_jaccard=dedup_ngram_jaccard,
             dedup_minhash=dedup_minhash, dedup_simhash=dedup_simhash,
             dedup_simhash_pairs=dedup_simhash_pairs, dedup_embedding=dedup_embedding,
             dedup_embedding_bucketed=dedup_embedding_bucketed,
             decontam_ngram=decontam_ngram)

    # ---- similarity search ----
    def knn_brute(spark, sf):
        qv = _emb(spark, sf).where(F.col("vec_id") == 0).first()["embedding"]
        out = knn.brute_force_topk(_emb(spark, sf), list(qv), 10)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    def knn_batch(spark, sf):
        e = _emb(spark, sf)
        queries_df = e.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        out = knn.knn_join(e, queries_df, k=5)
        return out.select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")

    def knn_range(spark, sf):
        qv = _emb(spark, sf).where(F.col("vec_id") == 3).first()["embedding"]
        out = knn.range_search(_emb(spark, sf), list(qv), 0.25)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    def knn_brute_l2(spark, sf):
        # euclidean metric — the reference's sequential-KNN semantics
        e = _emb(spark, sf)
        qv = [float(x) for x in e.where(F.col("vec_id") == 2).first()["embedding"]]
        out = knn.brute_force_topk(e, qv, 10, metric="euclidean")
        return out.select("vec_id", F.round("distance", 6).alias("distance"))

    def knn_range_l2(spark, sf):
        e = _emb(spark, sf)
        qv = [float(x) for x in e.where(F.col("vec_id") == 2).first()["embedding"]]
        out = knn.range_search_l2(e, qv, 1.2)
        return out.select("vec_id", F.round("distance", 6).alias("distance"))

    def knn_grid_range(spark, sf):
        # grid-prefiltered range search (R-tree analog) — lossless prune,
        # so the oracle is the plain full-scan range SQL
        e = _emb(spark, sf)
        qv = [float(x) for x in e.where(F.col("vec_id") == 5).first()["embedding"]]
        out = knn.grid_range_search(e, qv, 0.3)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    def ann_lsh(spark, sf):
        # approximate by design; at (n_planes=16, max_hamming=10) recall
        # is 1.0 on this corpus (hence the exact-scan oracle matches)
        # while the signature prefilter still prunes — pruned fraction
        # and recall at tighter settings are asserted in pytest/BENCH
        qv = _emb(spark, sf).where(F.col("vec_id") == 0).first()["embedding"]
        out = knn.lsh_ann_topk(_emb(spark, sf), list(qv), 10, n_planes=16, max_hamming=10)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    def ann_ivf_exact(spark, sf):
        # nprobe = nlist degenerates to exact brute force -> SQL-checkable
        e = _emb(spark, sf)
        qv = [float(x) for x in e.where(F.col("vec_id") == 1).first()["embedding"]]
        out = _ivf(spark, sf).topk(qv, k=10, nprobe=8)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    def ann_ivf_probe(spark, sf):
        # fixed-nprobe probe of the PERSISTED cell-partitioned index
        # (directory pruning via PartitionFilters — plan in BENCH/
        # PLANS.md). nprobe=6/8 cells: recall 1.0 on this corpus at
        # sf0.01 (oracle-checked), >=0.9 at sf0.1 (reported in BENCH).
        e = _emb(spark, sf)
        qv = [float(x) for x in e.where(F.col("vec_id") == 1).first()["embedding"]]
        out = _ivf(spark, sf).topk(qv, k=10, nprobe=6)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    def ann_ivf_adaptive(spark, sf):
        # EXACT top-k at any scale: best-first probe + triangle-
        # inequality cell pruning (knn.PersistedIVF.topk_exact) — never
        # wrong, pruning scales with how clusterable the data is
        e = _emb(spark, sf)
        qv = [float(x) for x in e.where(F.col("vec_id") == 1).first()["embedding"]]
        out = _ivf(spark, sf).topk_exact(qv, k=10)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    def ann_graph(spark, sf):
        # per-segment NSW beam search (the HNSW analog) at its exact
        # setting: nprobe = nlist and ef >= segment size mean the beam
        # provably visits every node (connectivity chain), so the exact
        # top-10 SQL is the oracle; recall/distance-budget curves at
        # real (small-ef) settings are asserted in pytest and BENCH
        e = _emb(spark, sf)
        qv = [float(x) for x in e.where(F.col("vec_id") == 4).first()["embedding"]]
        out = _graph(spark, sf).topk(qv, k=10, nprobe=8, ef=1_000_000)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    q.update(knn_brute=knn_brute, knn_batch=knn_batch, knn_range=knn_range,
             knn_brute_l2=knn_brute_l2, knn_range_l2=knn_range_l2,
             knn_grid_range=knn_grid_range, ann_lsh=ann_lsh,
             ann_ivf_exact=ann_ivf_exact, ann_ivf_probe=ann_ivf_probe,
             ann_ivf_adaptive=ann_ivf_adaptive, ann_graph=ann_graph)

    # ---- text analysis ----
    def text_quality(spark, sf):
        return textstats.text_profile(_docs(spark, sf), "text", "doc_id")

    def text_langid(spark, sf):
        return _docs(spark, sf).select("doc_id", textstats.langid("text").alias("lang_guess"))

    def text_fingerprint(spark, sf):
        return _docs(spark, sf).select("doc_id", textstats.fingerprint("text").alias("fp"))

    q.update(text_quality=text_quality, text_langid=text_langid,
             text_fingerprint=text_fingerprint)

    # ---- multimodal plumbing ----
    def mm_binary_meta(spark, sf):
        binary = multimodal.attach_fake_binary(_docs(spark, sf), "text", "doc_id")
        return multimodal.decode_image_meta(binary).select("doc_id", "n_bytes", "magic", "sha256")

    def mm_binaryfile_scan(spark, sf):
        # S11: REAL spark.read.format("binaryFile") source over generated
        # media-like fixture files (ASCII 'FAKEIMG1' magic + utf-8 body so
        # the DuckDB oracle can recompute sha256 SQL-side; real PNG magic
        # is non-UTF8 and this DuckDB's sha256 only takes VARCHAR). The
        # decode itself stays the honest stub (no PIL in container) — the
        # source, partitioning and Arrow plumbing are the real thing.
        fix_dir = os.path.join(
            tempfile.gettempdir(), "pyfusedb_mm_files_v1",
            os.path.abspath(sf).strip("/").replace("/", "_"),
        )
        marker = os.path.join(fix_dir, "_DONE")
        if not os.path.exists(marker):
            os.makedirs(fix_dir, exist_ok=True)
            rows = _docs(spark, sf).where(F.col("doc_id") < 50).select("doc_id", "text").collect()
            for r in rows:
                with open(os.path.join(fix_dir, f"doc_{int(r['doc_id'])}.bin"), "wb") as f:
                    f.write(b"FAKEIMG1" + (r["text"] or "").encode("utf-8"))
            with open(marker, "w") as f:
                f.write("ok")
        binary = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(fix_dir)
            .select(
                F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
                .cast("long").alias("doc_id"),
                F.col("content").alias("payload"),
            )
        )
        return multimodal.decode_image_meta(binary).select(
            "doc_id", "n_bytes", "magic", "sha256"
        )

    def mm_feature_hist(spark, sf):
        # M5 feature extraction, non-stub tier: deterministic char-
        # histogram features over binary payloads (long format so DuckDB
        # recomputes it exactly); model-based embeddings remain gated on
        # torch/PIL which this container lacks
        binary = multimodal.attach_fake_binary(
            _docs(spark, sf).where(F.col("doc_id") < 50), "text", "doc_id"
        )
        out = multimodal.extract_char_histogram(binary)
        return out.select("doc_id", "ch", F.round("freq", 6).alias("freq"))

    q.update(mm_binary_meta=mm_binary_meta, mm_binaryfile_scan=mm_binaryfile_scan,
             mm_feature_hist=mm_feature_hist)

    # ---- relational coverage (Catalyst-built-ins; TPC-H-ish) ----
    def rel_pricing_summary(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 0).alias("sum_price"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    def rel_top_customers(spark, sf):
        o = spark.read.parquet(f"{sf}/orders.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_custkey", "c_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(10)
        )

    def rel_window_events(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_id", F.round("value", 6).alias("value"))
        )

    def rel_region_nation(spark, sf):
        n = spark.read.parquet(f"{sf}/nation.parquet")
        r = spark.read.parquet(f"{sf}/region.parquet")
        return (
            n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_nations"))
        )

    q.update(rel_pricing_summary=rel_pricing_summary, rel_top_customers=rel_top_customers,
             rel_window_events=rel_window_events, rel_region_nation=rel_region_nation)
    return q


def oracle_sql() -> dict[str, str]:
    sw = sql_stopword_list()
    return {
        "ft_doc_stats": f"""
            WITH {_TOKCTE}
            SELECT doc_id, doc_len FROM dl
        """,
        "ft_content_sha": "SELECT doc_id, sha256(text) AS sha FROM documents",
        "ft_term_df": f"WITH {_TOKCTE} SELECT term, df FROM dfreq",
        "ft_top_terms": f"""
            WITH {_TOKCTE}
            SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 20
        """,
        "ft_bm25_hot": _bm25_sql("join"),
        "ft_bm25_multi": _bm25_sql("merge sort join"),
        "ft_bm25_repeat": _bm25_sql("merge merge sort"),
        "ft_bm25_and": _bm25_sql("merge sort", conjunctive=True),
        "ft_bm25_exhaustive": _bm25_sql("merge sort join"),
        "ft_bm25_bmx": _bm25_sql("merge sort join"),
        "ft_bm25_distributed": _bm25_sql("merge sort join"),
        "ft_tfidf_cosine": _tfidf_sql("merge sort"),
        # stemmed BM25: porter2 applied via the side-parquet stem map the
        # queries() entry refreshes (see _refresh_stem_map docstring)
        "ft_bm25_stemmed": _bm25_stemmed_sql("merging sorted indexes"),
        "sqlfront_like": _bm25_sql(
            "merge sort", k=5, project=", d.source AS source, d.lang AS lang", join_docs=True
        ),
        "sqlfront_nolike": """
            SELECT doc_id, source, 1.0 AS score FROM documents ORDER BY doc_id LIMIT 10
        """,
        "dedup_exact": """
            SELECT doc_id, keeper_id FROM (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id
              FROM documents
            ) WHERE doc_id != keeper_id
        """,
        "dedup_ngram_jaccard": _NGRAM_SQL,
        "decontam_ngram": """
            WITH toks AS (
                SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t) - 2),
                                             i -> array_to_string(t[i:i+3], ' '))) AS ng
                FROM toks WHERE len(t) >= 4
            ),
            bench AS (SELECT DISTINCT ng FROM grams WHERE doc_id % 97 = 0),
            hits AS (
                SELECT g.doc_id, g.ng FROM grams g JOIN bench USING (ng)
                WHERE g.doc_id % 97 <> 0
            )
            SELECT doc_id, count(DISTINCT ng)::BIGINT AS n_hits,
                   min(ng) AS first_hit
            FROM hits GROUP BY doc_id ORDER BY doc_id
        """,
        "dedup_minhash": _jaccard_sql(0.8),
        "dedup_simhash": _simhash_sql(),
        "dedup_simhash_pairs": _simhash_pairs_sql(8),
        "dedup_embedding": """
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        """,
        "dedup_embedding_bucketed": """
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        """,
        "knn_brute": """
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]) DESC, vec_id
            LIMIT 10
        """,
        "knn_batch": """
            SELECT q_id, vec_id, round(c, 6) AS cosine, rank FROM (
              SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                     list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS c,
                     row_number() OVER (PARTITION BY q.vec_id
                                        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                 q.embedding::DOUBLE[]) DESC, e.vec_id)::INT AS rank
              FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
            ) WHERE rank <= 5
        """,
        "knn_range": """
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 3)::DOUBLE[]), 6) AS cosine
            FROM embeddings
            WHERE list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 3)::DOUBLE[]) >= 0.25
        """,
        "knn_brute_l2": """
            SELECT vec_id, round(list_distance(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 2)::DOUBLE[]), 6) AS distance
            FROM embeddings
            ORDER BY list_distance(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 2)::DOUBLE[]) ASC, vec_id
            LIMIT 10
        """,
        "knn_range_l2": """
            SELECT vec_id, round(list_distance(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 2)::DOUBLE[]), 6) AS distance
            FROM embeddings
            WHERE list_distance(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 2)::DOUBLE[]) <= 1.2
        """,
        "knn_grid_range": """
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 5)::DOUBLE[]), 6) AS cosine
            FROM embeddings
            WHERE list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 5)::DOUBLE[]) >= 0.3
        """,
        "ann_ivf_exact": """
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 1)::DOUBLE[]), 6) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 1)::DOUBLE[]) DESC, vec_id
            LIMIT 10
        """,
        # approximate ANN at settings whose recall is 1.0 on this corpus
        # (still pruned scans — fractions in pytest/BENCH), so the exact
        # top-10 SQL is the oracle; ann_ivf_adaptive is exact at ANY
        # setting by the triangle-inequality bound
        "ann_ivf_probe": """
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 1)::DOUBLE[]), 6) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 1)::DOUBLE[]) DESC, vec_id
            LIMIT 10
        """,
        "ann_ivf_adaptive": """
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 1)::DOUBLE[]), 6) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 1)::DOUBLE[]) DESC, vec_id
            LIMIT 10
        """,
        "ann_lsh": """
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]) DESC, vec_id
            LIMIT 10
        """,
        # NSW graph beam at the exact setting (nprobe=nlist, ef>=segment
        # size: connectivity chain makes the beam visit every node)
        "ann_graph": """
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 4)::DOUBLE[]), 6) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 4)::DOUBLE[]) DESC, vec_id
            LIMIT 10
        """,
        "text_quality": _QUALITY_SQL,
        "text_langid": _langid_sql(),
        "text_fingerprint": _FINGERPRINT_SQL,
        "mm_binary_meta": """
            SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
                   lower(substring(hex(encode(text)), 1, 8)) AS magic,
                   sha256(text) AS sha256
            FROM documents
        """,
        "mm_binaryfile_scan": """
            SELECT doc_id, (8 + octet_length(encode(text)))::BIGINT AS n_bytes,
                   lower(substring(hex(encode('FAKE')), 1, 8)) AS magic,
                   sha256('FAKEIMG1' || text) AS sha256
            FROM documents WHERE doc_id < 50
        """,
        "mm_feature_hist": """
            WITH chars AS (
              SELECT unnest(string_split('a,b,c,d,e,f,g,h,i,j,k,l,m,n,o,p,q,r,s,t,u,v,w,x,y,z,0,1,2,3,4,5,6,7,8,9', ',')) AS ch
            ),
            cnt AS (
              SELECT d.doc_id, c.ch,
                     (length(d.text) - length(replace(d.text, c.ch, '')))::DOUBLE AS n
              FROM documents d CROSS JOIN chars c
              WHERE d.doc_id < 50
            ),
            tot AS (SELECT doc_id, sum(n) AS t FROM cnt GROUP BY 1)
            SELECT cnt.doc_id, ch, round(n / t, 6) AS freq
            FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id WHERE n > 0
        """,
        "rel_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity)::DOUBLE AS sum_qty,
                   round(sum(l_extendedprice), 0) AS sum_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*)::BIGINT AS count_order
            FROM lineitem GROUP BY 1, 2
        """,
        "rel_top_customers": """
            SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue,
                   count(*)::BIGINT AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 10
        """,
        "rel_window_events": """
            SELECT user_id, event_id, round(value, 6) AS value FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "rel_region_nation": """
            SELECT r_name, count(*)::BIGINT AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
    }
