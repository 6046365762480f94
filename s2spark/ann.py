"""Similarity search over the ``embeddings`` table (array<float>, d=64).

- :func:`ann_bruteforce_topk` — exact cosine top-k per query vector:
  broadcast the (small) query set, JVM-side ``zip_with``/``aggregate``
  dot products (whole-stage codegen, no Python), window top-k.
  The baseline and the verifier for approximate variants.
- :func:`lsh_buckets` / :func:`ann_lsh_topk` — random-hyperplane LSH:
  8 sign bits -> bucket; candidates share the query's bucket. The
  scale path: bucket assignment is a projection (one pass), the
  candidate join is a bucket equi-join instead of a cross join.

Float determinism vs the DuckDB oracle: dot products are left-fold
sums over index order in BOTH engines (Spark ``aggregate`` lambda ≡
generated `a[1]*b[1] + a[2]*b[2] + ...` SQL), floats upcast to double
before multiplying, so results are bit-identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DIM = 64
N_QUERIES = 5          # query set = embeddings with vec_id < N_QUERIES
TOP_K = 10
N_PLANES = 8

# deterministic pseudo-random hyperplanes (LCG; constants shared with
# the generated oracle SQL)
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2 ** 31


def hyperplanes() -> list[list[float]]:
    out = []
    state = 20260816
    for _ in range(N_PLANES):
        row = []
        for _ in range(DIM):
            state = (_LCG_A * state + _LCG_C) % _LCG_M
            row.append(round(state / _LCG_M - 0.5, 9))
        out.append(row)
    return out


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot(a, b):
    """left-fold sum of element products, double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v)


def _dot_self_sql(col: str) -> str:
    return " + ".join(
        f"CAST({col}[{i}] AS DOUBLE) * CAST({col}[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1))


def _dot_ab_sql(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1))


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact top-k cosine neighbors for each query vector (vec_id <
    N_QUERIES), excluding self. Output (query_id, vec_id, rnk)."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < N_QUERIES) \
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"))
    d = emb.crossJoin(F.broadcast(q)) \
        .where(F.col("vec_id") != F.col("query_id"))
    dot = _dot(F.col("qv"), F.col("embedding"))
    na = _dot(F.col("qv"), F.col("qv"))
    nb = _dot(F.col("embedding"), F.col("embedding"))
    d = d.withColumn("cosine", dot / (F.sqrt(na) * F.sqrt(nb)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return d.withColumn("rnk", F.row_number().over(w)) \
        .where(F.col("rnk") <= TOP_K) \
        .select("query_id", "vec_id", F.col("rnk").cast("int").alias("rnk"))


def ann_bruteforce_sql() -> str:
    dot = _dot_ab_sql("q.embedding", "e.embedding")
    na = _dot_self_sql("q.embedding")
    nb = _dot_self_sql("e.embedding")
    return f"""
WITH d AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         ({dot}) / (sqrt({na}) * sqrt({nb})) AS cosine
  FROM embeddings q CROSS JOIN embeddings e
  WHERE q.vec_id < {N_QUERIES} AND e.vec_id != q.vec_id),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rnk
  FROM d)
SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= {TOP_K}
"""


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """random-hyperplane signature: bit p set iff plane_p · v >= 0.
    Output (vec_id, bucket int) — the partition key for bucketed ANN."""
    emb = _emb(spark, sf_dir)
    planes = hyperplanes()
    bucket = None
    for p, plane in enumerate(planes):
        dot = None
        for i, w in enumerate(plane):
            term = F.lit(w) * F.element_at("embedding", i + 1).cast("double")
            dot = term if dot is None else dot + term
        bit = F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select("vec_id", bucket.cast("int").alias("bucket"))


def lsh_buckets_sql() -> str:
    planes = hyperplanes()
    bits = []
    for p, plane in enumerate(planes):
        dot = " + ".join(f"({w!r}) * CAST(embedding[{i + 1}] AS DOUBLE)"
                         for i, w in enumerate(plane))
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END)")
    expr = " + ".join(bits)
    return f"SELECT vec_id, CAST({expr} AS INT) AS bucket FROM embeddings"


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approximate top-k: exact cosine ranking restricted to the
    query's LSH bucket (plus Hamming-distance-1 buckets for recall).
    Deterministic — the oracle replicates the same candidate rule."""
    emb = _emb(spark, sf_dir)
    b = lsh_buckets(spark, sf_dir)
    embb = emb.join(b, "vec_id")
    q = embb.where(F.col("vec_id") < N_QUERIES) \
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
                F.col("bucket").alias("qbucket"))
    # probe buckets: exact + 8 single-bit flips
    probes = F.array(*([F.col("qbucket")]
                       + [F.col("qbucket").bitwiseXOR(F.lit(1 << p))
                          for p in range(N_PLANES)]))
    q = q.withColumn("probe", F.explode(probes))
    d = embb.join(F.broadcast(q),
                  (F.col("bucket") == F.col("probe"))
                  & (F.col("vec_id") != F.col("query_id")))
    dot = _dot(F.col("qv"), F.col("embedding"))
    na = _dot(F.col("qv"), F.col("qv"))
    nb = _dot(F.col("embedding"), F.col("embedding"))
    d = d.withColumn("cosine", dot / (F.sqrt(na) * F.sqrt(nb)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return d.withColumn("rnk", F.row_number().over(w)) \
        .where(F.col("rnk") <= TOP_K) \
        .select("query_id", "vec_id", F.col("rnk").cast("int").alias("rnk"))


def ann_lsh_sql() -> str:
    dot = _dot_ab_sql("q.embedding", "e.embedding")
    na = _dot_self_sql("q.embedding")
    nb = _dot_self_sql("e.embedding")
    probes = ", ".join(["qb.bucket"]
                       + [f"xor(qb.bucket, {1 << p})"
                          for p in range(N_PLANES)])
    return f"""
WITH b AS ({lsh_buckets_sql()}),
q AS (
  SELECT e.vec_id AS query_id, e.embedding, p.probe
  FROM embeddings e JOIN b qb ON e.vec_id = qb.vec_id,
       unnest([{probes}]) AS p(probe)
  WHERE e.vec_id < {N_QUERIES}),
d AS (
  SELECT q.query_id, e.vec_id,
         ({dot}) / (sqrt({na}) * sqrt({nb})) AS cosine
  FROM embeddings e
  JOIN b eb ON e.vec_id = eb.vec_id
  JOIN q ON eb.bucket = q.probe AND e.vec_id != q.query_id),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rnk
  FROM d)
SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= {TOP_K}
"""


EMB_DEDUP_SALT_TARGET = 100_000   # rows per (bucket, salt) slice
EMB_DEDUP_TAU = 0.2   # cosine at or above which two vectors are near-dups


N_IVF_CELLS = 16
IVF_NPROBE = 2


def ivf_centroids() -> list[list[float]]:
    """deterministic unit-norm coarse-quantizer centroids (LCG +
    normalize in Python; the floats are inlined verbatim into both
    engines — no training step, which keeps the op reproducible)."""
    import math
    out = []
    state = 987654321
    for _ in range(N_IVF_CELLS):
        row = []
        for _ in range(DIM):
            state = (_LCG_A * state + _LCG_C) % _LCG_M
            row.append(state / _LCG_M - 0.5)
        norm = math.sqrt(sum(x * x for x in row))
        out.append([x / norm for x in row])
    return out


def _ivf_dot_structs():
    """array<struct<d,nc>> of (centroid·v, -cell_index): the 16×64
    centroid matrix rides as ONE array literal and the dots come from
    higher-order transform/zip_with/aggregate — 1024 inline scalar
    terms would blow whole-stage codegen's 64 KB method limit (Spark
    silently falls back to interpreted mode). Left-fold index-order
    sum of w·cast(e) keeps float bits identical to the oracle SQL."""
    cents = F.lit(ivf_centroids())
    return F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(c, F.col("embedding"),
                           lambda x, y: x * y.cast("double")),
                F.lit(0.0), lambda acc, v: acc + v).alias("d"),
            (-i).alias("nc")))


def _ivf_cell_col():
    """argmax_c centroid_c · v (lowest-index dot ties via the negated
    index): array_max over the dot structs."""
    return (-F.array_max(_ivf_dot_structs())["nc"]).cast("int")


def _ivf_cells_np(emb_series):
    """(N,) int32 IVF cell via batched numpy — float-bit-identical to
    the interpreted Column fold: per-index ordered accumulation of
    w_i * double(x_i) (same IEEE op sequence as `acc + x*y`), argmax
    first-occurrence == the struct-max lowest-index tie-break."""
    import numpy as np

    cents = np.array(ivf_centroids(), dtype=np.float64)   # (C, DIM)
    ev = np.vstack([np.asarray(e, dtype=np.float64)
                    for e in emb_series])                 # (N, DIM)
    d = np.zeros((ev.shape[0], cents.shape[0]), dtype=np.float64)
    for i in range(DIM):                                  # ordered fold
        d += ev[:, i][:, None] * cents[:, i][None, :]
    return d.argmax(axis=1).astype("int32")


def _ivf_cell_udf():
    """pandas UDF twin of :func:`_ivf_cell_col` for the DATABASE side
    (r6, guide §4.2): higher-order zip_with/aggregate folds are
    interpreted, not codegen — 16 centroids × 64 dims is ~2k
    interpreter nodes per row, ~100× a batched numpy pass. The tiny
    query side keeps the Column form (it needs the full sorted dot
    array for probes)."""
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def _cells(emb: pd.Series) -> pd.Series:
        return pd.Series(_ivf_cells_np(emb))

    return _cells


def _ivf_cell_sql() -> str:
    """DuckDB twin: list_max over {'d':…,'nc':…} structs — struct
    comparison is lexicographic in both engines (DuckDB's scalar
    greatest() rejects structs; list_max accepts them)."""
    cents = ivf_centroids()
    args = []
    for ci, c in enumerate(cents):
        dot = " + ".join(f"({w!r}) * CAST(embedding[{i + 1}] AS DOUBLE)"
                         for i, w in enumerate(c))
        args.append(f"{{'d': ({dot}), 'nc': {-ci}}}")
    return f"CAST(-(list_max([{', '.join(args)}]).nc) AS INT)"


def ivf_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment: (vec_id, ivf_cell) — the inverted-file
    partition key (the brief's 'IVF variant as the scale path': cell
    assignment is a projection, candidate search a cell equi-join)."""
    return _emb(spark, sf_dir).select(
        "vec_id", _ivf_cell_udf()(F.col("embedding")).alias("ivf_cell"))


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approximate top-k: exact cosine ranking restricted to the
    query's ``IVF_NPROBE`` nearest IVF cells — deterministic, the oracle
    replicates the same probe rule. Candidate fetch is a cell
    equi-join with the small query side broadcast."""
    emb = _emb(spark, sf_dir)
    b = ivf_buckets(spark, sf_dir)
    embb = emb.join(b, "vec_id")
    # per-query probe cells: rank centroid dots, take IVF_NPROBE best —
    # nc is the NEGATED index so reverse(array_sort) breaks dot ties
    # by ASCENDING cell index, matching the oracle's ORDER BY d DESC, c
    q = emb.where(F.col("vec_id") < N_QUERIES)
    probes = F.slice(F.reverse(F.array_sort(_ivf_dot_structs())),
                     1, IVF_NPROBE)
    q = q.select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"),
                 F.explode(probes).alias("p")) \
        .select("query_id", "qv", (-F.col("p.nc")).alias("probe"))
    d = embb.join(F.broadcast(q),
                  (F.col("ivf_cell") == F.col("probe"))
                  & (F.col("vec_id") != F.col("query_id")))
    dot = _dot(F.col("qv"), F.col("embedding"))
    na = _dot(F.col("qv"), F.col("qv"))
    nb = _dot(F.col("embedding"), F.col("embedding"))
    d = d.withColumn("cosine", dot / (F.sqrt(na) * F.sqrt(nb)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return d.withColumn("rnk", F.row_number().over(w)) \
        .where(F.col("rnk") <= TOP_K) \
        .select("query_id", "vec_id", F.col("rnk").cast("int").alias("rnk"))


def ivf_buckets_sql() -> str:
    return f"SELECT vec_id, {_ivf_cell_sql()} AS ivf_cell FROM embeddings"


def ann_ivf_sql() -> str:
    cents = ivf_centroids()
    dots = []
    for ci, c in enumerate(cents):
        d = " + ".join(f"({w!r}) * CAST(e.embedding[{i + 1}] AS DOUBLE)"
                       for i, w in enumerate(c))
        dots.append(f"SELECT e.vec_id AS query_id, {ci} AS c, ({d}) AS d "
                    f"FROM embeddings e WHERE e.vec_id < {N_QUERIES}")
    dot = _dot_ab_sql("q.embedding", "e.embedding")
    na = _dot_self_sql("q.embedding")
    nb = _dot_self_sql("e.embedding")
    return f"""
WITH b AS ({ivf_buckets_sql()}),
cd AS ({' UNION ALL '.join(dots)}),
pr AS (
  SELECT query_id, c AS probe
  FROM (SELECT query_id, c,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d DESC, c) AS rk
        FROM cd)
  WHERE rk <= {IVF_NPROBE}),
d AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         ({dot}) / (sqrt({na}) * sqrt({nb})) AS cosine
  FROM embeddings q
  JOIN pr ON pr.query_id = q.vec_id
  JOIN b ON b.ivf_cell = pr.probe
  JOIN embeddings e ON e.vec_id = b.vec_id AND e.vec_id != q.vec_id),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rnk
  FROM d)
SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= {TOP_K}
"""


def embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding near-dup pairs: cosine >= ``EMB_DEDUP_TAU`` within
    LSH probe buckets (bucketed all-pairs instead of a full cross join).

    Hot-bucket guard (VERDICT r1 item 8): one skewed LSH bucket would
    otherwise put its whole O(m²) pair workload on a single reducer,
    so the bucket self-join runs through :func:`text.salted_self_join`
    — output identical (pinned by tests), but a hot bucket's pairs
    spread across its salt factor's tasks.
    """
    from s2spark.text import salted_self_join
    e = _emb(spark, sf_dir).join(lsh_buckets(spark, sf_dir), "vec_id")
    d = salted_self_join(e, ["bucket"], "vec_id", EMB_DEDUP_SALT_TARGET)
    dot = _dot(F.col("a.embedding"), F.col("b.embedding"))
    na = _dot(F.col("a.embedding"), F.col("a.embedding"))
    nb = _dot(F.col("b.embedding"), F.col("b.embedding"))
    return d.select(F.col("a.vec_id").alias("v1"),
                    F.col("b.vec_id").alias("v2"),
                    (dot / (F.sqrt(na) * F.sqrt(nb))).alias("cosine")) \
        .where(F.col("cosine") >= F.lit(EMB_DEDUP_TAU)) \
        .select("v1", "v2", F.round("cosine", 6).alias("cosine"))


def embedding_cosine_dedup_sql() -> str:
    dot = _dot_ab_sql("a.embedding", "c.embedding")
    na = _dot_self_sql("a.embedding")
    nb = _dot_self_sql("c.embedding")
    cos = f"({dot}) / (sqrt({na}) * sqrt({nb}))"
    return f"""
WITH b AS ({lsh_buckets_sql()})
SELECT a.vec_id AS v1, c.vec_id AS v2, round({cos}, 6) AS cosine
FROM embeddings a JOIN b ba ON a.vec_id = ba.vec_id
JOIN b bc ON TRUE JOIN embeddings c ON c.vec_id = bc.vec_id
WHERE ba.bucket = bc.bucket AND a.vec_id < c.vec_id
  AND {cos} >= {EMB_DEDUP_TAU!r}
"""


def embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """canonical vector per embedding near-dup CLUSTER: connected
    components over the cosine >= ``EMB_DEDUP_TAU`` pair graph (the
    dedup step AFTER pair generation — keep rows where vec_id ==
    canonical_id). Reuses
    the pointer-doubling min-label engine (``text._components``,
    O(log diameter) rounds). Output (vec_id, canonical_id)."""
    from s2spark.text import _components
    pairs = embedding_cosine_dedup(spark, sf_dir) \
        .select(F.col("v1").alias("d1"), F.col("v2").alias("d2"))
    vecs = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id")).distinct()
    return _components(vecs, pairs) \
        .select(F.col("doc_id").alias("vec_id"), "canonical_id")


def embedding_components_sql() -> str:
    return f"""
WITH RECURSIVE p AS MATERIALIZED (
  SELECT v1, v2 FROM ({embedding_cosine_dedup_sql().strip()})),
edges AS MATERIALIZED (SELECT v1 AS a, v2 AS b FROM p
                       UNION SELECT v2, v1 FROM p),
vecs AS MATERIALIZED (SELECT DISTINCT vec_id FROM embeddings),
reach(vec_id, r) AS (
  SELECT vec_id, vec_id FROM vecs
  UNION
  SELECT reach.vec_id, e.b FROM reach JOIN edges e ON reach.r = e.a
)
SELECT vec_id, min(r) AS canonical_id FROM reach GROUP BY vec_id
"""


# ---------------------------------------------------------------------------
# Product Quantization (IVF-PQ): compress vectors to M 4-bit codes;
# rank candidates by asymmetric distance (query LUT x codes) — at
# 100 TB the candidate scan touches 4 BYTES per vector, not 256
# ---------------------------------------------------------------------------

PQ_M = 8           # subspaces (DIM 64 -> 8 dims each)
PQ_SUB = DIM // PQ_M
PQ_K = 16          # centroids per sub-codebook (4-bit codes)


def pq_codebooks() -> list[list[list[float]]]:
    """deterministic sub-codebooks [m][c][i] — LCG floats scaled to
    the embedding range and rounded to 9 decimals so the SAME literal
    is inlined into Spark (F.lit) and DuckDB (repr); no training step,
    reproducible everywhere."""
    out = []
    state = 424242424
    for _ in range(PQ_M):
        cb = []
        for _ in range(PQ_K):
            row = []
            for _ in range(PQ_SUB):
                state = (_LCG_A * state + _LCG_C) % _LCG_M
                row.append(round((state / _LCG_M - 0.5) * 0.6, 9))
            cb.append(row)
        out.append(cb)
    return out


def _pq_dists_np(emb_series):
    """(N, M, K) float64 distance tensor ||sub_m(v) - cb[m][c]||² with
    the SAME left-fold term order as the oracle's left-associated SQL
    chain: accumulate (cb_i - v_i)² sequentially over i. Codebook and
    vectors upcast to float64 before subtracting (≡ CAST AS DOUBLE),
    so every IEEE op matches DuckDB bit-for-bit."""
    import numpy as np

    cb = np.array(pq_codebooks(), dtype=np.float64)     # (M, K, S)
    ev = np.vstack([np.asarray(e, dtype=np.float64)
                    for e in emb_series])                # (N, DIM)
    n = ev.shape[0]
    d = np.zeros((n, PQ_M, PQ_K), dtype=np.float64)
    for m in range(PQ_M):
        sub = ev[:, m * PQ_SUB:(m + 1) * PQ_SUB]        # (N, S)
        for i in range(PQ_SUB):                         # ordered fold
            t = cb[m, :, i][None, :] - sub[:, i][:, None]   # (N, K)
            d[:, m, :] = d[:, m, :] + t * t
    return d


def _pq_codes_udf():
    """pandas UDF: embedding -> array<int> of the PQ_M argmin codes
    (ties -> lowest index = np.argmin first-occurrence, matching the
    oracle's negated-index struct tie-break). One Arrow batch in, one
    numpy pass out — the PQ ENCODE is a batched kernel like the geo
    encode, not an interpreted higher-order expression (a 128-fold
    Column expression ran ~100× slower)."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _codes(emb: pd.Series) -> pd.Series:
        d = _pq_dists_np(emb)
        return pd.Series(list(d.argmin(axis=2).astype("int32")))

    return _codes


def _pq_lut_udf():
    """pandas UDF: embedding -> array<array<double>> LUT[m][c] — the
    per-query asymmetric-distance table (same numpy kernel, full
    matrix instead of the argmin)."""
    from pyspark.sql.types import ArrayType, DoubleType

    @F.pandas_udf(ArrayType(ArrayType(DoubleType())))
    def _lut(emb: pd.Series) -> pd.Series:
        d = _pq_dists_np(emb)
        return pd.Series([row.tolist() for row in d])

    return _lut


def _pq_sub_sql(col: str, m: int) -> str:
    """per-subspace code (argmin distance) in DuckDB — same struct
    list_max trick, left-associated distance terms."""
    cb = pq_codebooks()[m]
    args = []
    for c in range(PQ_K):
        d = " + ".join(
            f"(({w!r}) - CAST({col}[{m * PQ_SUB + i + 1}] AS DOUBLE))"
            f" * (({w!r}) - CAST({col}[{m * PQ_SUB + i + 1}] AS DOUBLE))"
            for i, w in enumerate(cb[c]))
        args.append(f"{{'nd': -({d}), 'nc': {-c}}}")
    return f"CAST(-(list_max([{', '.join(args)}]).nc) AS INT)"


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding: (vec_id, pq_code) with the PQ_M 4-bit codes
    packed into ONE int64 — the compressed representation the
    inverted lists store (one batched encode UDF; scales as a map)."""
    codes = _pq_codes_udf()(F.col("embedding"))
    packed = F.aggregate(
        F.transform(codes, lambda c, i: c.cast("long")
                    * F.pow(F.lit(2), i * F.lit(4)).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return _emb(spark, sf_dir).select("vec_id",
                                      packed.alias("pq_code"))


def pq_codes_sql() -> str:
    terms = " + ".join(
        f"CAST({_pq_sub_sql('embedding', m)} AS BIGINT) * {1 << (4 * m)}"
        for m in range(PQ_M))
    return f"SELECT vec_id, ({terms}) AS pq_code FROM embeddings"


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k — the production ANN shape: coarse
    IVF probe picks candidate cells, then candidates are ranked by
    ASYMMETRIC distance (per-query lookup table × stored 4-bit codes)
    WITHOUT touching the full database vectors. Scale shape: the
    query side (LUT included) broadcasts; the candidate scan reads
    (vec_id, ivf_cell, codes) — bytes per vector, not the embedding
    column. Output (query_id, vec_id, rnk) by (approx dist asc,
    vec_id)."""
    # db and q each get their OWN scan relation: deriving both sides
    # of the join from one DataFrame makes Catalyst deduplicate the
    # shared attributes and the pandas-UDF columns can then bind to
    # the wrong side at runtime (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    db = _emb(spark, sf_dir) \
        .select("vec_id",
                _ivf_cell_udf()(F.col("embedding")).alias("ivf_cell"),
                _pq_codes_udf()(F.col("embedding")).alias("codes"))
    q = _emb(spark, sf_dir).where(F.col("vec_id") < N_QUERIES)
    # per-query LUT[m][c] = ||sub_m(q) - cb[m][c]||² (batched numpy,
    # ordered folds — see _pq_dists_np)
    lut = _pq_lut_udf()(F.col("embedding"))
    probes = F.slice(F.reverse(F.array_sort(_ivf_dot_structs())),
                     1, IVF_NPROBE)
    q = q.select(F.col("vec_id").alias("query_id"),
                 lut.alias("lut"),
                 F.explode(probes).alias("p")) \
        .select("query_id", "lut", (-F.col("p.nc")).alias("probe"))
    d = db.join(F.broadcast(q),
                (F.col("ivf_cell") == F.col("probe"))
                & (F.col("vec_id") != F.col("query_id")))
    # ADC: left fold over m of LUT[m][code_m] — ordered, so the float
    # total is bit-identical to the oracle's l[1]+l[2]+...+l[M]
    adc = F.aggregate(
        F.zip_with(F.col("lut"), F.col("codes"),
                   lambda l, c: F.element_at(l, c + F.lit(1))),
        F.lit(0.0), lambda acc, v: acc + v)
    d = d.withColumn("adist", adc)
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    return d.withColumn("rnk", F.row_number().over(w)) \
        .where(F.col("rnk") <= TOP_K) \
        .select("query_id", "vec_id", F.col("rnk").cast("int").alias("rnk"))


def ann_ivfpq_sql() -> str:
    cbs = pq_codebooks()
    cents = ivf_centroids()
    # probe cells per query (same rule as ann_ivf_sql)
    dots = []
    for ci, c in enumerate(cents):
        d = " + ".join(f"({w!r}) * CAST(e.embedding[{i + 1}] AS DOUBLE)"
                       for i, w in enumerate(c))
        dots.append(f"SELECT e.vec_id AS query_id, {ci} AS c, ({d}) AS d "
                    f"FROM embeddings e WHERE e.vec_id < {N_QUERIES}")
    # per-candidate, per-subspace code (reuses the pq sub argmin)
    code_cols = ", ".join(f"{_pq_sub_sql('embedding', m)} AS c{m}"
                          for m in range(PQ_M))
    # per-query, per-subspace LUT entry selected by the candidate's
    # code: nested list literal indexed by code (1-based)
    lut_terms = []
    for m in range(PQ_M):
        rows = []
        for c in range(PQ_K):
            d = " + ".join(
                f"(({w!r}) - CAST(q.embedding[{m * PQ_SUB + i + 1}]"
                f" AS DOUBLE)) * (({w!r}) -"
                f" CAST(q.embedding[{m * PQ_SUB + i + 1}] AS DOUBLE))"
                for i, w in enumerate(cbs[m][c]))
            rows.append(f"({d})")
        lut_terms.append(f"([{', '.join(rows)}])[co.c{m} + 1]")
    # left-associated chain == Spark's ordered fold over m
    adc = " + ".join(lut_terms)
    return f"""
WITH b AS ({ivf_buckets_sql()}),
co AS (SELECT vec_id, {code_cols} FROM embeddings),
cd AS ({' UNION ALL '.join(dots)}),
pr AS (
  SELECT query_id, c AS probe
  FROM (SELECT query_id, c,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d DESC, c) AS rk
        FROM cd)
  WHERE rk <= {IVF_NPROBE}),
d AS (
  SELECT q.vec_id AS query_id, co.vec_id, ({adc}) AS adist
  FROM embeddings q
  JOIN pr ON pr.query_id = q.vec_id
  JOIN b ON b.ivf_cell = pr.probe
  JOIN co ON co.vec_id = b.vec_id AND co.vec_id != q.vec_id),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adist, vec_id) AS rnk
  FROM d)
SELECT query_id, vec_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= {TOP_K}
"""


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF approximate search vs the exact brute-force
    ranking — the evaluation op an ANN deployment ships with. Output
    (query_id, n_hits, recall_at_k); pure composition of the two
    already-oracled searches plus one equi-join and an agg."""
    return _recall_vs_bruteforce(spark, sf_dir, ann_ivf_topk(spark, sf_dir))


def _recall_vs_bruteforce(spark: SparkSession, sf_dir: str,
                          approx: DataFrame) -> DataFrame:
    exact = ann_bruteforce_topk(spark, sf_dir)
    hits = exact.join(approx, ["query_id", "vec_id"]) \
        .groupBy("query_id").agg(F.count("*").alias("n_hits"))
    q = exact.select("query_id").distinct()
    return q.join(hits, "query_id", "left") \
        .select("query_id",
                F.coalesce("n_hits", F.lit(0)).alias("n_hits")) \
        .withColumn("recall_at_k",
                    F.round(F.col("n_hits") / F.lit(float(TOP_K)), 6))


def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of IVF-PQ (quantization + probe loss together) vs the
    exact ranking — the end-to-end quality gate of the compressed
    index. Same composition shape as :func:`ann_ivf_recall`."""
    return _recall_vs_bruteforce(spark, sf_dir,
                                 ann_ivfpq_topk(spark, sf_dir))


def _recall_sql(approx_sql: str) -> str:
    return f"""
WITH exact AS ({ann_bruteforce_sql().strip()}),
approx AS ({approx_sql.strip()}),
hits AS (
  SELECT exact.query_id, count(*) AS n_hits
  FROM exact JOIN approx USING (query_id, vec_id)
  GROUP BY exact.query_id),
q AS (SELECT DISTINCT query_id FROM exact)
SELECT q.query_id, COALESCE(hits.n_hits, 0) AS n_hits,
       round(COALESCE(hits.n_hits, 0) / {float(TOP_K)!r}, 6) AS recall_at_k
FROM q LEFT JOIN hits ON q.query_id = hits.query_id
"""


def ann_ivfpq_recall_sql() -> str:
    return _recall_sql(ann_ivfpq_sql())


def ann_ivf_recall_sql() -> str:
    return _recall_sql(ann_ivf_sql())
