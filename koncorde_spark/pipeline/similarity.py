"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: dot products via Catalyst higher-order
  functions (zip_with + aggregate) — JVM-side, no UDF — then sort-limit.
  Correct baseline at any scale; O(N·d) scan.
- Random-hyperplane buckets come from ONE per-batch Arrow kernel,
  ``lsh_signatures``: frozen 6-decimal literal planes and a sequential
  float64 fold, bit-identical to the DuckDB twin ``_bucket_code_sql``.
  LSH ANN probes the query bucket and its Hamming-1 neighbours, then runs
  the exact cosine top-k on the candidates; embedding near-dup joins
  within buckets (``dedup.capped_bucket_pairs``).
- IVF ANN: coarse quantizer → probe the nearest lists → exact cosine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..rounding import round_away
from .dedup import capped_bucket_pairs


def _dot_expr(vec_col: str, q: list[float]):
    qarr = "array(" + ", ".join(f"cast({x!r} as double)" for x in q) + ")"
    return F.expr(
        f"aggregate(zip_with({vec_col}, {qarr}, (x, y) -> cast(x as double) * y),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm_expr(vec_col: str):
    return F.sqrt(
        F.expr(
            f"aggregate(transform({vec_col}, x -> cast(x as double) * cast(x as double)),"
            f" cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k (score desc, id asc)."""
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    scored = df.select(
        F.col(id_col),
        round_away(
            _dot_expr(vec_col, query_vec) / (_norm_expr(vec_col) * F.lit(qn)), 9
        ).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_topk_sql(
    table: str, query_vec: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> str:
    q = "[" + ", ".join(f"{x!r}::DOUBLE" for x in query_vec) + "]"
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    dot = (
        f"list_aggregate(list_transform(range(1, len({vec_col}) + 1),"
        f" i -> {vec_col}[i]::DOUBLE * ({q})[i]), 'sum')"
    )
    nrm = (
        f"sqrt(list_aggregate(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE), 'sum'))"
    )
    return f"""
    SELECT {id_col}, round({dot} / ({nrm} * {qn!r}), 9) AS cosine
    FROM {table}
    ORDER BY cosine DESC, {id_col} ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------


def _literal_planes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Seeded Gaussian hyperplanes rounded to 6 decimals → stable literals
    shared by the Arrow kernel and the DuckDB SQL twin."""
    planes = np.random.default_rng(seed).standard_normal((bits, dim))
    return [[float(x) for x in np.round(row, 6)] for row in planes]


def _bucket_codes(vecs: pd.Series, planes: np.ndarray) -> np.ndarray:
    """Sign-bit bucket per vector: bit b set iff the dot with plane b is
    > 0. Each dot is a sequential float64 fold over the dimensions — the
    summation order of DuckDB's list_aggregate, so buckets are
    bit-identical to ``_bucket_code_sql`` (a BLAS matmul may reorder the
    sum, depending on the batch shape, and flip the sign of a near-zero
    dot). A null vector gets bucket 0, as in the twin."""
    codes = np.zeros(len(vecs), dtype=np.int64)
    valid = vecs.notna().to_numpy()
    if not valid.any():
        return codes
    X = np.stack(vecs[valid].to_numpy()).astype(np.float64)
    acc = np.zeros((len(X), len(planes)))
    for j in range(X.shape[1]):
        acc = acc + X[:, j, None] * planes[:, j]
    codes[valid] = (acc > 0) @ (1 << np.arange(len(planes), dtype=np.int64))
    return codes


def lsh_signatures(
    df: DataFrame,
    dim: int,
    bits: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vec, bucket): hyperplane bucket per vector, one vectorized
    Arrow UDF call per batch (see ``_bucket_codes``)."""
    planes = np.asarray(_literal_planes(dim, bits, seed))

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        return pd.Series(_bucket_codes(vecs, planes))

    return df.select(F.col(id_col), F.col(vec_col), bucket(F.col(vec_col)).alias("bucket"))


def _probes_for(query_vec: list[float], planes: list[list[float]]) -> list[int]:
    """Query bucket + its Hamming-1 neighbours, sequential-sum signs
    (computed once driver-side; embedded as literals in both engines)."""
    qbucket = 0
    for b, plane in enumerate(planes):
        s = 0.0
        for x, y in zip(plane, query_vec):
            s += x * y
        if s > 0:
            qbucket |= 1 << b
    return [qbucket] + [qbucket ^ (1 << i) for i in range(len(planes))]


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: probe the query's bucket and its Hamming-1 neighbours,
    exact cosine within the candidates. Recall/latency knob = bits.
    Row-for-row equal to ``ann_topk_sql`` (same planes, same fold)."""
    dim = len(query_vec)
    probes = _probes_for(query_vec, _literal_planes(dim, bits, seed))
    sigs = lsh_signatures(df, dim, bits, seed, vec_col, id_col)
    cand = sigs.where(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def ann_topk_sql(
    table: str,
    query_vec: list[float],
    k: int = 10,
    bits: int = 6,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of ann_topk (same literals, same fold order)."""
    dim = len(query_vec)
    planes = _literal_planes(dim, bits, seed)
    probes = _probes_for(query_vec, planes)
    code = _bucket_code_sql(planes, vec_col)
    q = "[" + ", ".join(f"{x!r}::DOUBLE" for x in query_vec) + "]"
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    dot = (
        f"list_aggregate(list_transform(range(1, len({vec_col}) + 1),"
        f" i -> {vec_col}[i]::DOUBLE * ({q})[i]), 'sum')"
    )
    nrm = (
        f"sqrt(list_aggregate(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE), 'sum'))"
    )
    return f"""
    SELECT {id_col}, round({dot} / ({nrm} * {qn!r}), 9) AS cosine
    FROM (SELECT {id_col}, {vec_col}, ({code})::BIGINT AS bucket FROM {table})
    WHERE bucket IN ({", ".join(str(p) for p in probes)})
    ORDER BY cosine DESC, {id_col} ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate detection
# ---------------------------------------------------------------------------


def _plane_dot_sql(vec_col: str, plane: list[float]) -> str:
    p = "[" + ", ".join(f"{x!r}::DOUBLE" for x in plane) + "]"
    return (
        f"list_aggregate(list_transform(range(1, len({vec_col}) + 1),"
        f" i -> {vec_col}[i]::DOUBLE * ({p})[i]), 'sum')"
    )


def _bucket_code_sql(planes: list[list[float]], vec_col: str) -> str:
    """DuckDB twin of ``_bucket_codes`` (same literals, same fold)."""
    return " + ".join(
        f"(CASE WHEN {_plane_dot_sql(vec_col, plane)} > 0 THEN {1 << b} ELSE 0 END)"
        for b, plane in enumerate(planes)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int = 64,
    bits: int = 6,
    seed: int = 42,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = 256,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH bucket (``lsh_signatures``) →
    capped within-bucket join (``dedup.capped_bucket_pairs``: a corpus
    with millions of identical embeddings stays O(N) pairs per bucket, not
    O(N²)) → exact cosine ≥ threshold. The embedding-space sibling of
    MinHash near-dedup; candidate volume is pruned ~2^bits before any
    cosine is computed. Returns (id_a, id_b, cosine) with id_a < id_b,
    cosine rounded to 9 (cross-engine stable)."""
    e = lsh_signatures(df, dim, bits, seed, vec_col, id_col)
    pairs = capped_bucket_pairs(e, ["bucket"], id_col, [vec_col], bucket_cap)
    va, vb = f"{vec_col}_a", f"{vec_col}_b"
    dot = F.expr(
        f"aggregate(zip_with({va}, {vb}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    cos = round_away(dot / (_norm_expr(va) * _norm_expr(vb)), 9)
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_pairs_sql(
    table: str,
    dim: int = 64,
    bits: int = 6,
    seed: int = 42,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = 256,
) -> str:
    """DuckDB twin of embedding_near_dup_pairs (same literal planes, same
    fold order, same bucket cap + star pattern)."""
    planes = _literal_planes(dim, bits, seed)
    code = _bucket_code_sql(planes, vec_col)
    return f"""
    WITH e AS (
      SELECT {id_col}, {vec_col} AS v, ({code})::BIGINT AS bucket FROM {table}
    ),
    stats AS (
      SELECT {id_col}, v, bucket,
             count(*) OVER (PARTITION BY bucket) AS n,
             min({id_col}) OVER (PARTITION BY bucket) AS mid
      FROM e
    ),
    cand AS (
      SELECT l.{id_col} AS id_a, r.{id_col} AS id_b, l.v AS va, r.v AS vb
      FROM stats l JOIN stats r
        ON l.bucket = r.bucket AND l.{id_col} < r.{id_col}
      WHERE l.n <= {bucket_cap}
      UNION ALL
      SELECT l.{id_col}, r.{id_col}, l.v, r.v
      FROM stats l JOIN stats r
        ON l.bucket = r.bucket AND l.{id_col} = r.mid AND r.{id_col} <> r.mid
      WHERE l.n > {bucket_cap}
    )
    SELECT id_a, id_b,
           round(
             list_aggregate(list_transform(range(1, len(va) + 1),
               i -> va[i]::DOUBLE * vb[i]::DOUBLE), 'sum')
             / (sqrt(list_aggregate(list_transform(va, x -> x::DOUBLE * x::DOUBLE), 'sum'))
                * sqrt(list_aggregate(list_transform(vb, x -> x::DOUBLE * x::DOUBLE), 'sum'))),
             9) AS cosine
    FROM cand
    WHERE cosine >= {threshold!r}
    """


def embedding_near_dedup(
    df: DataFrame,
    dim: int = 64,
    bits: int = 6,
    seed: int = 42,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """End-to-end embedding near-dedup: pairs → connected components →
    survivors (smallest id per cluster), mirroring dedup.dedup_near."""
    from .dedup import cluster_pairs

    pairs = embedding_near_dup_pairs(
        df, dim=dim, bits=bits, seed=seed, threshold=threshold,
        vec_col=vec_col, id_col=id_col,
    )
    clusters = cluster_pairs(pairs.select("id_a", "id_b"))
    dupes = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dupes, id_col, "anti")


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer -> probe top lists -> exact rescore
# ---------------------------------------------------------------------------

IVF_DEFAULT_LISTS = 16


def ivf_random_centroids(dim: int, n_lists: int = IVF_DEFAULT_LISTS, seed: int = 42) -> list[list[float]]:
    """Seeded unit-norm random centroids (data-independent coarse
    quantizer). These make the full IVF machinery (assign → probe →
    exact rescore) deterministic and therefore DuckDB-oracle-checkable;
    ``ivf_train`` below produces better (data-adapted) centroids for the
    recall-tested path."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_lists, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in c]


def ivf_train(
    df: DataFrame,
    dim: int,
    n_lists: int = IVF_DEFAULT_LISTS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    iters: int = 10,
    sample_size: int = 10_000,
) -> list[list[float]]:
    """Lloyd's k-means on a DETERMINISTIC driver-side sample (ordered by
    id — `limit` without an order is partition-racy), spherical variant
    (centroids renormalized per iteration, assignment by max dot — the
    right geometry for cosine search). Empty clusters are reseeded
    deterministically from the farthest points. At 100 TB the sample stays
    driver-sized (the standard IVF recipe: train on ~10^5-10^6 vectors,
    assign the full corpus distributively)."""
    pdf = df.select(id_col, vec_col).orderBy(id_col).limit(sample_size).toPandas()
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=n_lists, replace=False)].copy()
    for _ in range(iters):
        sims = X @ cent.T
        assign = sims.argmax(axis=1)
        for j in range(n_lists):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                cent[j] = m / max(np.linalg.norm(m), 1e-12)
            else:  # reseed from the globally worst-covered point
                cent[j] = X[sims.max(axis=1).argmin()]
    return [[float(x) for x in row] for row in cent]


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vec, list_id): nearest-centroid assignment, pure Catalyst.

    The per-centroid dots are projected to a column FIRST (Catalyst does
    no CSE inside expressions — inlining the array twice for
    array_position/array_max would evaluate every dot twice); first-max
    tie-break matches DuckDB's list_position. list_id is 1-based."""
    dots = F.array(*[_dot_expr(vec_col, c) for c in centroids])
    return (
        df.select(F.col(id_col), F.col(vec_col), dots.alias("__dots"))
        .withColumn("list_id", F.expr("array_position(__dots, array_max(__dots))"))
        .drop("__dots")
    )


def ivf_probe_lists(query_vec: list[float], centroids: list[list[float]], nprobe: int) -> list[int]:
    """Top-nprobe centroid indexes (1-based, matching ivf_assign) for a
    query — driver-side, inlined as literals in BOTH engines."""
    q = np.asarray(query_vec, dtype=np.float64)
    sims = np.asarray(centroids, dtype=np.float64) @ q
    order = np.argsort(-sims, kind="stable")[:nprobe]
    return [int(i) + 1 for i in order]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN top-k: assign to coarse lists, probe the nprobe lists
    nearest the query, exact cosine only within them. Candidate volume
    drops ~n_lists/nprobe before any full-precision work — the standard
    billion-vector shape (train driver-side, assign distributively,
    bucket-prune the scan)."""
    if centroids is None:
        centroids = ivf_random_centroids(len(query_vec))
    probes = ivf_probe_lists(query_vec, centroids, nprobe)
    cand = ivf_assign(df, centroids, vec_col, id_col).where(
        F.col("list_id").isin(probes)
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def ivf_topk_sql(
    table: str,
    query_vec: list[float],
    k: int = 10,
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of ivf_topk: identical centroid literals, identical
    sequential-fold dots (bit-identical → identical argmax/first-max
    assignment), identical probe set, identical rounded cosine."""
    if centroids is None:
        centroids = ivf_random_centroids(len(query_vec))
    probes = ivf_probe_lists(query_vec, centroids, nprobe)
    dots = ", ".join(_plane_dot_sql(vec_col, c) for c in centroids)
    q = "[" + ", ".join(f"{x!r}::DOUBLE" for x in query_vec) + "]"
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    probe_lit = ", ".join(str(p) for p in probes)
    qdot = (
        f"list_aggregate(list_transform(range(1, len({vec_col}) + 1),"
        f" i -> {vec_col}[i]::DOUBLE * ({q})[i]), 'sum')"
    )
    nrm = (
        f"sqrt(list_aggregate(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE), 'sum'))"
    )
    return f"""
    WITH assigned AS (
      SELECT {id_col}, {vec_col}, [{dots}] AS dots FROM {table}
    ),
    cand AS (
      SELECT {id_col}, {vec_col}
      FROM assigned
      WHERE list_position(dots, list_max(dots)) IN ({probe_lit})
    )
    SELECT {id_col}, round({qdot} / ({nrm} * {qn!r}), 9) AS cosine
    FROM cand
    ORDER BY cosine DESC, {id_col} ASC
    LIMIT {k}
    """
